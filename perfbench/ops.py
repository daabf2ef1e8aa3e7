"""The catalog-onboarding workloads, driven through the engine's public
functions. Each operation is one user-visible unit of work: one menu, one
retailer catalog, or one batch of article-id lookups.

Every call into a layer sits in a span named ``<module>.<function>``; under
``Tracer`` the layer's output is also materialized at its boundary. The
untraced run executes the same calls with no spans and no extra actions.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from restaurant_etl_code_spark.enrichment import enrich
from restaurant_etl_code_spark.enrichment.backends import (
    ContentGenFallbackBackend,
    content_fallback_row,
)
from restaurant_etl_code_spark.functions import cleansing
from restaurant_etl_code_spark.multimodal.minipdf import mini_pdf_text
from restaurant_etl_code_spark.operators import chunking, similarity, stats
from restaurant_etl_code_spark.plans.pipeline import catalog_pipeline
from restaurant_etl_code_spark.sources import mdb, sinks
from restaurant_etl_code_spark.sources.readers import read_binary_assets

import gen

KEYS = ["article_id"]
MENU_SCORE_MIN = 0.955  # about half the unmatched dishes clear it
GROCERY_SCORE_MIN = 0.93
GROCERY_LSH_BITS = 8
ITEM_DDL = ("sku string, name string, category string, subcategory string, "
            "description string, price string")
LOOKUP_BATCH = 1000
LOOKUPS_PER_ROUND = 5
# (items, pages) of the menus in a round; each round ends with the faulty menu
MENU_SHAPES = [(96, 5)]
STORE_TYPES = {f.name: "double" if str(f.type) == "double" else "string" for f in gen.STORE_SCHEMA}


class FaultyMenu(Exception):
    """The known fault: ``cosine_topk`` on an empty query side."""


class Workload:
    """Shared set-up, lookups and the per-op record the checks read."""

    def __init__(self, spark, tracer, root: str, inputs):
        self.spark = spark
        self.t = tracer
        self.inputs = inputs
        self.store = os.path.join(root, "store")
        self.records: list[dict] = []
        self.lookup_rng = np.random.default_rng(len(inputs.truth.prices))
        self.absent = [f"ZZ{k:07d}" for k in range(200)]
        self.backend_acc = spark.sparkContext.accumulator(0) if tracer.enabled else None

    def seed_store(self, path: str) -> None:
        with self.t.span("sources.sinks.write_merge_target"):
            sinks.write_merge_target(self.spark.read.parquet(self.inputs.store_path), path, KEYS)

    def read_store(self):
        with self.t.span("sources.sinks.read_bucketed"):
            return sinks.read_bucketed(self.spark, self.store)

    def lookup(self, ids: list[str]) -> int:
        with self.t.span("sources.sinks.read_bucketed"):
            got = (
                sinks.read_bucketed(self.spark, self.store)
                .filter(F.col("article_id").isin(ids))
                .select("article_id", "price")
                .collect()
            )
        self.t.count("rows_returned", len(got))
        self.records.append({
            "kind": "lookup", "ids": ids, "expected": self.inputs.truth.expected(ids),
            "got": [(r[0], r[1]) for r in got],
        })
        return len(ids)

    def merge(self, name: str, call, delta_rows: int) -> None:
        """One sink merge. Traced, also count the bucket directories it
        rewrote and the bytes it wrote against the delta's share of the
        store's bytes (delta rows x store bytes per row)."""
        before = _bucket_files(self.store) if self.t.enabled else None
        with self.t.span(name):
            call()
        if before is None:
            return
        after = _bucket_files(self.store)
        store_bytes = sum(size for files in before.values() for _, size in files)
        self.t.count("buckets_rewritten", sum(before.get(b) != after.get(b) for b in set(before) | set(after)))
        self.t.count("written_bytes", sum(
            size for b, files in after.items() for _, size in files - before.get(b, frozenset())))
        self.t.count("delta_bytes", delta_rows * store_bytes / len(self.inputs.truth.prices))

    def enrich(self, df):
        t = self.t
        factory = ContentGenFallbackBackend if self.backend_acc is None else _counting(self.backend_acc)
        calls_before = self.backend_acc.value if self.backend_acc is not None else 0
        with t.span("enrichment.enrich"):
            out = enrich(
                df, factory, [T.StructField("gen_description", T.StringType(), True)],
                content_fallback_row,
            )
        out = t.boundary("enrichment.enrich", out)
        if self.backend_acc is not None:
            t.count("backend_calls", self.backend_acc.value - calls_before)
        return out.withColumn(
            "description",
            F.when(F.col("match_type") == "generated", F.col("gen_description"))
            .otherwise(F.col("description")),
        )

    def lookup_ops(self) -> list[tuple]:
        truth = self.inputs.truth
        return [
            ("lookup", self.lookup, truth.lookup_ids(self.lookup_rng, LOOKUP_BATCH, self.absent))
            for _ in range(LOOKUPS_PER_ROUND)
        ]


def store_frame(df):
    """Project an onboarded frame onto the store's flat columns."""
    cols = []
    for c, typ in STORE_TYPES.items():
        if c not in df.columns:
            cols.append(F.lit(None).cast(typ).alias(c))
        elif isinstance(df.schema[c].dataType, T.StructType):
            cols.append(F.col(f"{c}.name").alias(c))
        else:
            cols.append(F.col(c).cast(typ).alias(c))
    return df.select(*cols)


def _resolve(products, nn):
    """Rows left unmatched by the cascade take the vector top-1 when it
    clears the score floor."""
    hit = nn.select(F.col("query_id").alias("article_id"), "neighbor_id")
    out = products.join(hit, "article_id", "left")
    return out.withColumn(
        "match_type",
        F.when(F.col("neighbor_id").isNotNull(), F.lit("similarity")).otherwise(F.col("match_type")),
    )


def _bucket_files(store: str) -> dict[str, frozenset]:
    return {
        d: frozenset((f, os.path.getsize(os.path.join(store, d, f)))
                     for f in os.listdir(os.path.join(store, d)))
        for d in os.listdir(store) if d.startswith("__bucket=")
    }


def _counting(acc):
    """Backend factory that adds one to ``acc`` per backend call."""
    def factory():
        inner = ContentGenFallbackBackend()

        class Counting:
            def process_batch(self, rows):
                acc.add(1)
                return inner.process_batch(rows)

        return Counting()

    return factory


def _templates(t, store_df, business: str) -> list:
    with t.span("operators.chunking.group_and_chunk_templates"):
        rows = chunking.group_and_chunk_templates(
            store_df.filter(F.col("business_account_id") == business),
            id_col="article_id", category_col="category", order_col="article_id",
            business_col="business_account_id",
        ).select("template_name", F.col("items.productRetailerId").alias("ids")).collect()
    return [list(r["ids"]) for r in rows]


# --------------------------------------------------------------------------

class MenuOnboard(Workload):
    """RESTAURANT path, one small PDF menu per op."""

    def __init__(self, spark, tracer, root, inputs):
        super().__init__(spark, tracer, root, inputs)
        self.master = spark.read.parquet(inputs.master_path)
        self.business = spark.read.parquet(inputs.biz_path)
        self.biz_keys: dict[str, set] = {}
        self.committed: list[dict] = []
        for r in inputs.store_rows:
            self.biz_keys.setdefault(r["business_account_id"], set()).add(r["article_id"])
        self.absent += [f"K{k:05d}-{i:03d}" for k in range(1, 200) for i in range(3)]

    def warmup_ops(self) -> list[tuple]:
        # full-size, so that the first timed menu is no longer warming up
        return [("onboard", self.onboard, self.inputs.next_menu(*MENU_SHAPES[0]))]

    def round_ops(self) -> list[tuple]:
        menus = self.inputs.next_round(MENU_SHAPES)
        return [("onboard", self.onboard, m) for m in menus] + self.lookup_ops()

    def onboard(self, m: dict) -> int:
        t = self.t
        with t.span("sources.readers.read_binary_assets"):
            assets = read_binary_assets(self.spark, m["path"])
        with t.span("multimodal.minipdf.mini_pdf_text"):
            pages = mini_pdf_text(assets, id_col="asset_id", content_col="content")
        pages = t.boundary("multimodal.minipdf.mini_pdf_text", pages)
        with t.span("functions.cleansing.parse_llm_items"):
            items = pages.select(
                F.explode(cleansing.parse_llm_items(F.col("page_text"), ITEM_DDL)).alias("it")
            ).select("it.*")
        staged = items.select(
            F.col("sku").alias("article_id"),
            F.col("name").alias("product_name"),
            F.lit(None).cast("string").alias("brand"),
            "category", "subcategory", "description",
            cleansing.clean_price(F.col("price")).alias("price"),
            F.lit(True).alias("is_tax"),
            F.lit(m["biz"]).alias("business_account_id"),
        )
        existing = self.read_store()
        with t.span("plans.pipeline.catalog_pipeline"):
            out = catalog_pipeline(
                staged, existing, self.master, self.business,
                precheck_keys=KEYS, upc_col="article_id", name_col="product_name",
                master_cols={"brand": "master_brand", "description": "master_description"},
                coalesce_cols=["brand", "description"], business_key="id",
            )
        products = t.boundary("plans.pipeline.catalog_pipeline", out["products"])
        unmatched = products.filter(F.col("match_type") == "generated").select(
            F.col("article_id").alias("vec_id"), "embedding"
        )
        try:
            with t.span("operators.similarity.cosine_topk"):
                nn = similarity.cosine_topk(
                    unmatched, self.master.select("vec_id", "embedding"),
                    k=1, min_score=MENU_SCORE_MIN, exclude_self=False,
                )
        except np.exceptions.AxisError as exc:
            if m["known_only"]:
                raise FaultyMenu(str(exc)) from exc
            raise
        nn = t.boundary("operators.similarity.cosine_topk", nn)
        upd = store_frame(self.enrich(_resolve(products, nn)))
        self.merge("sources.sinks.merge_into_bucketed_parquet",
                   lambda: sinks.merge_into_bucketed_parquet(self.spark, self.store, upd, KEYS),
                   len(m["items"]))
        for it in m["items"]:
            self.inputs.truth.prices[it["sku"]] = float(it["price"][1:])
            self.biz_keys.setdefault(m["biz"], set()).add(it["sku"])
        self.committed.append(m)
        templates = _templates(t, self.read_store(), m["biz"])
        self.records.append({
            "kind": "menu", "tag": m["tag"], "biz": m["biz"], "templates": templates,
            "biz_keys": list(self.biz_keys[m["biz"]]),
        })
        return len(m["items"])


class GroceryBulk(Workload):
    """GROCERY path, one large retailer catalog in a fake-MDB file per op."""

    def __init__(self, spark, tracer, root, inputs):
        super().__init__(spark, tracer, root, inputs)
        self.master = spark.read.parquet(inputs.master_path)
        self.committed: list[dict] = []

    def warmup_ops(self) -> list[tuple]:
        # full-size, so that the first timed catalog is no longer warming up
        return [("onboard", self.onboard, self.next_catalog())]

    def round_ops(self) -> list[tuple]:
        return [("onboard", self.onboard, self.next_catalog())] + self.lookup_ops()

    def next_catalog(self) -> dict:
        c = self.inputs.next_catalog()
        c["existing_keys"] = dict(self.inputs.truth.prices)
        c["fresh"] = sum(r[0] not in c["existing_keys"] for r in c["rows"])
        return c

    def onboard(self, c: dict) -> int:
        t = self.t
        with t.span("sources.mdb.read_mdb_catalog"):
            raw = mdb.read_mdb_catalog(self.spark, c["path"])
        raw = t.boundary("sources.mdb.read_mdb_catalog", raw)
        staged = cleansing.industry_projection(raw, "grocery").select(
            "*",
            F.lit(None).cast("string").alias("brand"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("string").alias("category"),
            F.lit(c["tag"]).alias("business_account_id"),
        )
        existing = self.read_store()
        with t.span("plans.pipeline.catalog_pipeline"):
            out = catalog_pipeline(
                staged, existing, self.master,
                precheck_keys=KEYS, upc_col="article_id", name_col="product_name",
                master_cols={"brand": "master_brand", "description": "master_description",
                             "category": "master_category"},
                coalesce_cols=["brand", "description", "category"],
                name_dedup_order="master_key",
            )
        products = t.boundary("plans.pipeline.catalog_pipeline", out["products"])
        with t.span("plans.pipeline.catalog_pipeline:exec"):
            match_stats = {r[0]: r[1] for r in out["match_stats"].collect()}
        # the pipeline's change-detect output (matching.change_detect)
        with t.span("operators.matching.change_detect:exec"):
            n_updates = out["updates"].count()
        unmatched = products.filter(F.col("match_type") == "generated").select(
            F.col("article_id").alias("vec_id"), "embedding"
        )
        with t.span("operators.similarity.bucketed_cosine_topk"):
            nn = similarity.bucketed_cosine_topk(
                unmatched, self.master.select("vec_id", "embedding"),
                k=1, nbits=GROCERY_LSH_BITS, min_score=GROCERY_SCORE_MIN, exclude_self=False,
            )
        nn = t.boundary("operators.similarity.bucketed_cosine_topk", nn)
        upd = store_frame(self.enrich(_resolve(products, nn)))
        self.merge("sources.sinks.merge_into_bucketed_parquet",
                   lambda: sinks.merge_into_bucketed_parquet(self.spark, self.store, upd, KEYS),
                   c["fresh"])
        for code, _, _, _, cents in c["rows"]:
            self.inputs.truth.prices.setdefault(code, cents / 100)
        self.committed.append(c)
        mine = self.read_store().filter(F.col("business_account_id") == c["tag"])
        with t.span("operators.stats.batch_stats"):
            per_batch = stats.batch_stats(
                stats.with_batch_id(mine.withColumn("status", F.lit("success")), "article_id", 1000)
            ).collect()
        templates = _templates(t, mine, c["tag"])
        self.records.append({
            "kind": "catalog", "tag": c["tag"], "match_stats": match_stats,
            "updates": n_updates, "existing_keys": c["existing_keys"],
            "batch_totals": sorted((r["batch_id"], r["total"]) for r in per_batch),
            "templates": templates,
        })
        return len(c["rows"])
