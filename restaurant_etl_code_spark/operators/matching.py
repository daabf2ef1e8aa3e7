"""The match cascade — the heart of the reference pipeline (SURVEY.md §2.4).

Reference flow (batch_processor.py:281-365): precheck anti-join (J2) →
barcode validity split (J4) → UPC equi-join vs the master catalog (J5) →
similarity top-1 (J6) → LLM-generate fallback; matched rows merge master
fields with coalesce priority (J7); branches re-unite with ``unionByName``
(J10). Cheapest-match-first: each stage only sees the rows every cheaper
stage failed to claim.

Scale design:
- The master catalog side of the UPC/name joins is dimension-like →
  ``broadcast()`` hint; with AQE on, an over-threshold build side demotes
  to shuffle join automatically.
- The cascade is expressed as successive left joins + ``isNull`` filters on
  ONE staged scan — Catalyst pushes the staging filters into the scan and
  reuses the exchange across branches.
- Error-absorption semantics (a failed stage lets all its rows through as
  unmatched, reference batch_processor.py:533-555) become a *status column*,
  never an exception.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restaurant_etl_code_spark.functions import cleansing

__all__ = [
    "precheck_anti_join",
    "barcode_split",
    "match_cascade",
    "change_detect",
    "latest_op_per_key",
    "cdc_apply",
    "reconcile",
    "fuzzy_name_match",
]


def precheck_anti_join(staged: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """J2: drop staged rows whose key already exists (batch exists-check →
    ``existingArticleIds`` set-difference, reference batch_processor.py:367-404).
    ``left_anti`` lets Catalyst pick broadcast-anti when ``existing``'s key
    projection is small."""
    return staged.join(existing.select(*keys).distinct(), on=keys, how="left_anti")


def barcode_split(df: DataFrame, code_col: str) -> DataFrame:
    """J4: normalize the article code to digits and flag GTIN validity; the
    original value is preserved (reference variant
    beforeaddingtemplatecreation/services/batch_processor.py:477-497 nulls the
    invalid id but keeps ``original_article_id``)."""
    out = df.withColumn("original_code", F.col(code_col))
    out = out.withColumn("upc", cleansing.normalize_upc(F.col(code_col)))
    out = out.withColumn(
        "upc_valid",
        F.when(F.col("upc").isNull(), F.lit(False)).otherwise(cleansing.gtin_valid_expr("upc")),
    )
    return out.withColumn("upc", F.when(F.col("upc_valid"), F.col("upc")))


def match_cascade(
    staged: DataFrame,
    existing: DataFrame,
    master: DataFrame,
    *,
    precheck_keys: list[str],
    upc_col: str,
    name_col: str,
    master_upc: str = "upc_code",
    master_name: str = "name",
    master_cols: dict[str, str] | None = None,
    coalesce_cols: list[str] | None = None,
    name_dedup_order: str | None = None,
) -> DataFrame:
    """The full cheapest-first cascade on one staged scan:

    precheck anti-join → UPC broadcast join → exact-name join → 'generated'
    fallback. Output = staged columns + ``match_type`` ∈
    {upc, similarity, generated} with J7 coalesce-priority applied and the
    J10 union ordering (match priority) preserved as a plan of filters —
    no row is ever dropped, mirroring the reference's absorb-and-continue
    error model.
    """
    mcols = master_cols or {}
    ccols = coalesce_cols or list(mcols)

    fresh = precheck_anti_join(staged, existing, precheck_keys)
    fresh = barcode_split(fresh, upc_col)

    # Single-pass formulation: both master joins applied as left joins on
    # ONE flow, the branch logic expressed as conditional expressions. The
    # earlier filter-per-branch + unionByName version executed the staged
    # scan and anti-join once per branch (3×); this plan scans once. Rows
    # take exactly one branch (upc wins over name wins over generated), so
    # the output set is identical.
    mu = master.select(
        F.col(master_upc).alias("__u_key"),
        *[F.col(src).alias(f"__u_{dst}") for dst, src in mcols.items()],
    )
    mn = master.select(
        F.trim(F.col(master_name)).alias("__n_key"),
        *( [F.col(name_dedup_order).alias("__n_ord")] if name_dedup_order else [] ),
        *[F.col(src).alias(f"__n_{dst}") for dst, src in mcols.items()],
    )
    if name_dedup_order:
        from pyspark.sql import Window

        wd = Window.partitionBy("__n_key").orderBy("__n_ord")
        mn = (
            mn.withColumn("__n_rn", F.row_number().over(wd))
            .filter(F.col("__n_rn") == 1)
            .drop("__n_rn", "__n_ord")
        )
    else:
        mn = mn.dropDuplicates(["__n_key"])

    j = fresh.join(F.broadcast(mu), fresh["upc"] == mu["__u_key"], "left")
    j = j.join(F.broadcast(mn), F.trim(j[name_col]) == mn["__n_key"], "left")
    j = j.withColumn(
        "match_type",
        F.when(F.col("__u_key").isNotNull(), F.lit("upc"))
        .when(F.col("__n_key").isNotNull(), F.lit("similarity"))
        .otherwise(F.lit("generated")),
    )
    for c in ccols:
        j = j.withColumn(
            c,
            F.when(F.col("match_type") == "upc", F.coalesce(F.col(c), F.col(f"__u_{c}")))
            .when(F.col("match_type") == "similarity", F.coalesce(F.col(c), F.col(f"__n_{c}")))
            .otherwise(F.col(c)),
        )
    drop = ["__u_key", "__n_key"]
    drop += [f"__u_{c}" for c in mcols] + [f"__n_{c}" for c in mcols]
    return j.drop(*drop)


def change_detect(
    staged: DataFrame,
    existing: DataFrame,
    keys: list[str],
    staged_price: str = "price",
    existing_price: str = "price",
    staged_is_tax: str | None = None,
    existing_tax_pct: str | None = None,
) -> DataFrame:
    """J3: per-key upsert precheck — join staged↔existing on the business key
    and keep rows where price changed (F8 float-compare, null→no-change) or
    the tax flag flipped (F9: ``tax_percentage > 0`` vs ``is_tax``), projected
    to the K9 incremental-update shape (reference:
    batcprocessor-allworking…py:362-451; update contract api/api-client.py:270-368).
    """
    e = existing.select(
        *keys,
        F.col(existing_price).alias("__e_price"),
        *( [F.col(existing_tax_pct).alias("__e_tax_pct")] if existing_tax_pct else [] ),
    )
    joined = staged.join(e, on=keys, how="inner")
    price_chg = cleansing.price_changed(F.col("__e_price"), F.col(staged_price))
    if staged_is_tax and existing_tax_pct:
        tax_chg = cleansing.tax_bool_from_percentage(F.col("__e_tax_pct")) != F.coalesce(
            F.col(staged_is_tax), F.lit(False)
        )
    else:
        tax_chg = F.lit(False)
    return (
        joined.withColumn("price_changed", price_chg)
        .withColumn("tax_changed", tax_chg)
        .filter(F.col("price_changed") | F.col("tax_changed"))
        .select(
            *keys,
            F.col(staged_price).alias("new_price"),
            F.col("__e_price").alias("old_price"),
            "price_changed",
            "tax_changed",
        )
    )


def reconcile(
    staged: DataFrame,
    existing: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Catalog reconciliation — the J3 change-detect generalized to a full
    table diff: full-outer join on the business key, each row labeled
    ``added`` (staged only), ``removed`` (existing only), ``changed``
    (key matched, any compared column differs null-safely), or
    ``unchanged``. One shuffle on the key; drives incremental MERGE plans
    (apply added+changed, retire removed) without rewriting the table.
    """
    s = staged.select(
        *keys, *[F.col(c).alias(f"__s_{c}") for c in compare_cols],
        F.lit(True).alias("__in_s"),
    )
    e = existing.select(
        *keys, *[F.col(c).alias(f"__e_{c}") for c in compare_cols],
        F.lit(True).alias("__in_e"),
    )
    j = s.join(e, keys, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"__s_{c}").eqNullSafe(F.col(f"__e_{c}"))
    status = (
        F.when(F.col("__in_e").isNull(), F.lit("added"))
        .when(F.col("__in_s").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.withColumn("status", status).drop("__in_s", "__in_e")
    for c in compare_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__s_{c}"), F.col(f"__e_{c}"))).drop(
            f"__s_{c}", f"__e_{c}"
        )
    return out


def fuzzy_name_match(
    staged: DataFrame,
    master: DataFrame,
    staged_name: str,
    master_name: str,
    *,
    max_distance: int = 2,
    length_band: int = 2,
    staged_keep: list[str] | None = None,
) -> DataFrame:
    """Fuzzy (edit-distance) name match with blocking — the typo-tolerant
    middle ground between J5's exact join and J6's vector similarity.

    A naive levenshtein join is a cross product; blocking makes it an
    EQUI-join on the first character plus a length-band filter, cutting
    candidates ~26× before any distance is computed (standard record-
    linkage blocking). Recall contract: a typo in the blocking character
    itself is missed — documented, and exactly why J6 exists for the
    hard cases. Top-1 per staged row by (distance, master name).
    """
    keep = staged_keep or [staged_name]
    s = staged.select(
        *keep, F.substring(F.trim(F.col(staged_name)), 1, 1).alias("__blk"),
        F.length(F.trim(F.col(staged_name))).alias("__slen"),
    )
    m = master.select(
        F.col(master_name).alias("__m_name"),
        F.substring(F.trim(F.col(master_name)), 1, 1).alias("__blk"),
        F.length(F.trim(F.col(master_name))).alias("__mlen"),
    ).dropDuplicates(["__m_name"])
    cand = (
        s.join(m, "__blk")
        .filter(F.abs(F.col("__slen") - F.col("__mlen")) <= length_band)
        .withColumn(
            "distance", F.levenshtein(F.trim(F.col(staged_name)), F.col("__m_name"))
        )
        .filter(F.col("distance") <= max_distance)
    )
    from pyspark.sql import Window

    # partition by the staged row identity (keep cols), not the name —
    # distinct staged rows can share a name and each keeps its own top-1
    w = Window.partitionBy(*keep).orderBy("distance", "__m_name")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keep, F.col("__m_name").alias("matched_name"), "distance")
    )


def latest_op_per_key(
    ops: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Each key's latest row of a change log, by ``order_by`` descending
    (the caller's columns must totally order a key's ops — a change stream
    always carries (ts, lsn/seq)). One shuffle on the key; the rank-1
    filter rides Spark's WindowGroupLimit pushdown, so mappers forward one
    candidate row per key per partition, not the whole log."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        ops.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_apply(
    ops: DataFrame,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_value: str = "D",
) -> DataFrame:
    """CDC log compaction: reduce an insert/update/delete change stream to
    the CURRENT snapshot — the delete-aware generalization of the K9
    upsert path (a key whose LAST op is a delete must vanish, which no
    join-based upsert expresses). This is what "apply the CDC feed to the
    table" means in every lakehouse MERGE, stated as a pure relation.

    Keep each key's latest op (``latest_op_per_key``), then drop keys
    whose final op is ``delete_value``.
    """
    return latest_op_per_key(ops, keys, order_by).filter(
        F.col(op_col) != delete_value
    )
