"""Group-by-category + fixed-size chunking — the template query
(SURVEY.md §2.5 A2/A3/A4, §3.3; reference templatecreation.py:76-260).

Reference semantics re-expressed relationally:
- filter: active rows with a category and a product id; skipped rows are a
  *side output* with a reason, not silently dropped (A2's tracked skips);
- group key: category name, default 'Uncategorized';
- chunk: ceil(n/30) templates per category, products in input order;
- template name: the category itself when it fits in one template, else
  ``"{category} {i}"`` (1-based chunk index);
- texts: 13-entry header lookup (F4), body template (F5);
- dates: ISO8601-Z now / now + 1825 days (5×365, exactly as the reference
  computes it — F6).

Scale: one shuffle on the category key for the ranking window, then the
chunk grouping reuses the same partitioning (Catalyst collapses both into a
single exchange). Category skew (one giant category) is handled by AQE; the
per-group state is one row_number counter, never a collected list until the
final bounded ≤30-item array_agg.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from restaurant_etl_code_spark.functions import cleansing
from restaurant_etl_code_spark.operators._arrow import widen_for_codec as _widen
from restaurant_etl_code_spark.operators.dedup import (
    _drop_heavy_keys,
    _persist_intermediate,
    _py_norm_tokens,
)

__all__ = ["skipped_rows", "group_and_chunk_templates", "cdc_chunks", "cdc_containment_pairs"]


def skipped_rows(
    products: DataFrame,
    *,
    id_col: str,
    category_col: str,
    active_col: str | None = None,
) -> DataFrame:
    """A2's tracked-skip side output: rows excluded from templating, with the
    first applicable reason (inactive > no category > missing id, matching
    the reference's check order at templatecreation.py:96-130)."""
    inactive = (F.col(active_col) == False) if active_col else F.lit(False)  # noqa: E712
    no_cat = F.col(category_col).isNull() | (F.trim(F.col(category_col)) == "")
    no_id = F.col(id_col).isNull()
    return (
        products.withColumn(
            "skip_reason",
            F.when(inactive, "inactive").when(no_cat, "no_category").when(no_id, "no_product_id"),
        )
        .filter(F.col("skip_reason").isNotNull())
        .select(id_col, category_col, "skip_reason")
    )


def group_and_chunk_templates(
    products: DataFrame,
    *,
    id_col: str,
    category_col: str,
    order_col: str,
    business_col: str | None = None,
    active_col: str | None = None,
    max_products: int = 30,
    clock: str = "2026-01-01 00:00:00",
    category_filter: list[str] | None = None,
) -> DataFrame:
    """A2+A3+A4+F4/F5/F6 as one declarative plan → TEMPLATES-shaped rows.

    ``clock`` is the fixed test clock (FIXTURES.md §6): start_date formats it,
    end_date adds 1825 days. ``order_col`` makes "input order" explicit —
    distributed scans have no implicit order to preserve.
    """
    df = products
    if active_col:
        df = df.filter(F.col(active_col))
    df = df.filter(F.col(category_col).isNotNull() & (F.trim(F.col(category_col)) != ""))
    df = df.filter(F.col(id_col).isNotNull())
    if category_filter:
        df = df.filter(F.col(category_col).isin(*category_filter))

    group_keys = ([business_col] if business_col else []) + [category_col]
    w = Window.partitionBy(*group_keys).orderBy(order_col)
    df = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__chunk", F.floor((F.col("__rn") - 1) / max_products)
    )

    grouped = df.groupBy(*group_keys, "__chunk").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__rn"), F.col(id_col).alias("pid")))),
            lambda s: F.struct(s["pid"].cast("string").alias("productRetailerId")),
        ).alias("items"),
    )
    # chunks-per-category decides the naming scheme; a second window over the
    # aggregated (tiny) frame — same partitioning key, no extra exchange of
    # the wide data
    wc = Window.partitionBy(*group_keys)
    grouped = grouped.withColumn("__n_chunks", F.max("__chunk").over(wc) + 1)

    cat = F.col(category_col)
    clock_ts = F.to_timestamp(F.lit(clock))
    out = grouped.select(
        *( [F.col(business_col).alias("business_account_id")] if business_col else [] ),
        cat.alias("category"),
        F.when(F.col("__n_chunks") == 1, cat)
        .otherwise(F.concat_ws(" ", cat, (F.col("__chunk") + 1).cast("string")))
        .alias("template_name"),
        cleansing.header_text(cat).alias("header_text"),
        cleansing.body_text(cat).alias("body_text"),
        cleansing.iso8601_z(clock_ts).alias("start_date"),
        cleansing.iso8601_z(F.timestamp_add("DAY", F.lit(1825), clock_ts)).alias("end_date"),
        F.col("items"),
    )
    return out


def cdc_chunks(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    divisor: int = 16,
    boundary_hash: str = "md5",
) -> DataFrame:
    """CONTENT-DEFINED chunking (the rsync/LBFS trick at token level): a
    chunk boundary falls AFTER token i whenever the 52-bit md5 hash of
    the trailing ``window``-token context divides ``divisor`` — so
    boundaries are decided by CONTENT, not position. Insert a paragraph
    and every fixed-span chunk shifts, but all other CDC chunks' hashes
    survive: this is what makes sub-document dedup robust to shifted
    copies (span_dedup's fixed windows miss a near-dup that gained one
    leading sentence; CDC chunks re-align at the next boundary).
    Expected chunk length ≈ ``divisor`` tokens.

    Fully row-local codegen — no UDF, no shuffle, one projection per
    step: the boundary-position LIST is a filter over token positions
    (md5 of a ``window``-token slice each), and chunks are slices
    between consecutive boundaries — no per-token prefix sums, no
    quadratic accumulator. The md5-prefix 52-bit hash is the engines'
    shared parity idiom (the minhash oracle's).

    ``boundary_hash``: "md5" (default) is the engines' shared parity
    idiom so the DuckDB oracle reproduces boundaries exactly; it runs
    in an Arrow-batched Python stage (hashlib's C md5 per position)
    because md5-in-a-Catalyst-lambda is INTERPRETED per position
    (~5 s for 700k positions at sf0.1; the Arrow stage is the same
    trade ``shingle_rows``/``minhash_signatures`` already make — guide
    §4.2, hand batches to native code). "xxhash64" swaps the boundary
    decision to Spark's native codegen hash — equally deterministic,
    same expected chunk length, stays a pure-JVM plan, just not
    replayable by a non-Spark engine. chunk_hash stays md5 either way
    (one per CHUNK, and it is the cross-system dedup key).

    Returns (id_col, chunk_idx, n_tokens_chunk, chunk_hash); documents
    with zero tokens emit no rows.
    """
    from restaurant_etl_code_spark.functions import text as Ftext

    w, d = int(window), int(divisor)
    if w < 1 or d < 1:
        raise ValueError(f"window and divisor must be >= 1 (got {w}, {d})")
    if boundary_hash not in ("md5", "xxhash64"):
        raise ValueError(f"unknown boundary_hash {boundary_hash!r}")
    if boundary_hash == "md5":
        return _cdc_chunks_arrow(docs, id_col, text_col, w, d)
    toks = docs.select(
        F.col(id_col),
        F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "").alias("tk"),
    ).filter(F.size("tk") >= 1)
    ctx = f"array_join(slice(tk, i - {w} + 1, {w}), ' ')"
    hash52 = f"abs(xxhash64({ctx}))"
    # boundaries after positions w..n-1 whose context hash divides d,
    # plus n itself (the tail chunk); sequence(a, b) runs DESCENDING when
    # a > b, so the short-doc case must be guarded, not relied on
    bnd = (
        f"concat(if(size(tk) > {w}, "
        f"filter(sequence({w}, size(tk) - 1), i -> {hash52} % {d} = 0), "
        "array()), array(size(tk)))"
    )
    chunks = toks.withColumn("bnd", F.expr(bnd)).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(bnd)), j -> named_struct("
                "'chunk_idx', j - 1, "
                "'toks', slice(tk, "
                "if(j = 1, 0, element_at(bnd, j - 1)) + 1, "
                "element_at(bnd, j) - if(j = 1, 0, element_at(bnd, j - 1)))))"
            )
        ).alias("c"),
    )
    return chunks.select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.toks").cast("long").alias("n_tokens_chunk"),
        F.md5(F.concat_ws(" ", "c.toks")).alias("chunk_hash"),
    )


def _cdc_chunks_arrow(
    docs: DataFrame, id_col: str, text_col: str, w: int, d: int
) -> DataFrame:
    """The md5 boundary path of ``cdc_chunks`` as an Arrow-batched Python
    stage: one ``hashlib.md5`` per token position instead of one
    interpreted Catalyst-lambda md5 per position. Value-identical to the
    expression form (same ``_py_norm_tokens`` twin of
    ``functions.text.tokens``, same 52-bit md5-hex-prefix boundary test,
    same per-chunk md5) — the r17 A/B that motivated it: the boundary
    lambda dominated the cdc scans' executor compute."""
    id_field = docs.schema[id_col]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for pdf in batches:
            ids, idxs, lens, hashes = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in _py_norm_tokens(text) if t != ""]
                n = len(toks)
                if n < 1:
                    continue
                # boundaries after 1-based positions w..n-1 whose trailing
                # w-token context hash divides d, plus n (the tail chunk) —
                # the exact twin of the expression form's filter(sequence).
                # The 13-hex-char prefix IS the top 52 bits of the first 7
                # digest bytes (same identity as dedup._py_hash52), so the
                # divisibility test runs off the raw digest.
                bnd = [
                    i for i in range(w, n)
                    if (from_bytes(
                        md5(" ".join(toks[i - w:i]).encode()).digest()[:7],
                        "big") >> 4) % d == 0
                ] if n > w else []
                bnd.append(n)
                prev = 0
                for j, b in enumerate(bnd):
                    chunk = " ".join(toks[prev:b])
                    ids.append(doc_id)
                    idxs.append(j)
                    lens.append(b - prev)
                    hashes.append(md5(chunk.encode()).hexdigest())
                    prev = b
            if not ids:
                continue
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=object),
                "chunk_idx": pd.Series(idxs, dtype="int32"),
                "n_tokens_chunk": pd.Series(lens, dtype="int64"),
                "chunk_hash": pd.Series(hashes, dtype=object),
            })

    schema = T.StructType([
        id_field,
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("n_tokens_chunk", T.LongType(), False),
        T.StructField("chunk_hash", T.StringType(), False),
    ])
    return _widen(
        docs.select(id_col, text_col), id_col, per_row="light"
    ).mapInPandas(mapper, schema=schema)


def cdc_containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    divisor: int = 16,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Shift-robust near-dup pairs from CONTENT-DEFINED chunks: two
    documents pair when the fraction of shared chunk hashes (relative to
    the smaller document) clears ``threshold``. Closing the CDC loop —
    ``cdc_chunks`` makes chunk hashes survive insertions, so this finds
    the shifted copies fixed-span and whole-doc fingerprints miss, at
    ~1/``divisor`` the probe volume of shingle-level containment (one
    chunk per ~``divisor`` tokens instead of one shingle per token).

    Same inverted-index shape as ``ngram_jaccard_pairs``: distinct
    (doc, chunk_hash) rows self-join on the hash, pair counters reduce
    map-side, and ``max_df`` drops boilerplate chunks shared by more
    than ``max_df`` documents BEFORE the quadratic join (the Σdf² scale
    valve). The index carries ``xxhash64(chunk_hash)`` (8 bytes), not
    the 32-char md5 hex — the same narrow-shuffle-key trade
    ``ngram_jaccard_pairs`` documents: a false intersection needs a
    64-bit collision, far below any oracle's noticing at test scale and
    irrelevant next to the ``threshold`` cut. Returns (id_a, id_b,
    n_shared, containment) with id_a < id_b; containment =
    shared / min(chunk counts).
    """
    # persist-and-let-LRU-evict: the chunk projection (one md5 per token
    # position) feeds four consumers (sizes, the df valve, both join
    # sides) — without a cache it re-executes per consumer (measured 4x
    # the stage cost at sf0.1)
    ch = _persist_intermediate(
        cdc_chunks(
            docs, id_col=id_col, text_col=text_col, window=window,
            divisor=divisor,
        )
        .select(id_col, F.xxhash64("chunk_hash").alias("chunk_h"))
        .distinct()
    )
    sizes = ch.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    kept = ch if max_df is None else _drop_heavy_keys(ch, "chunk_h", max_df)
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, "chunk_h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_chunks").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_chunks").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b"), 6
            ),
        )
        .filter(F.col("containment") >= float(threshold))
        .select("id_a", "id_b", "n_shared", "containment")
    )
