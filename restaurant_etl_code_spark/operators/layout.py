"""Data-layout operators: Z-order clustering for multi-dimensional skipping.

At 100 TB the cheapest query is the one that never reads the data. Parquet
readers skip whole files and row groups using min/max statistics, but those
statistics only help if values are CLUSTERED: a table range-partitioned on
one column skips perfectly on that column and not at all on any other.
Z-ordering (Morton-interleaving the bits of several bin-normalized columns)
gives every listed column locality at once — each output file covers a
narrow value range in ALL dimensions, so point/range predicates on any of
them prune most files and row groups.

Scale shape: per-column (min, max) comes from ONE tiny aggregate (a scalar
row to the driver, like a Bloom bitmap); binning and bit-interleaving are
plain codegen arithmetic on the scan (``shiftleft``/``getbit`` with
expression operands via SQL lambdas — the PySpark wrappers insist on
literal shifts); then a single ``repartitionByRange`` on the Z-value (its
range sampler is the only extra pass) and a within-partition sort. No
global sort, no UDFs, no driver-side data beyond two numbers per column.
Equi-width bins trade skew-robustness for zero extra passes; a quantile
variant would swap ``_bounds`` for ``approxQuantile`` breakpoints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zorder_value",
    "zorder_layout",
    "quantile_bucket",
    "file_clustering_stats",
    "file_stats_catalog",
    "stats_pruned_read",
]

_BITS = 16  # bins per dimension = 2^16; 2 dims -> 32-bit Z-value


def _bin_col(col: str, lo: float | None, hi: float | None) -> Column:
    """Equi-width bin in [0, 2^_BITS): pure arithmetic, codegen-friendly.
    An empty or all-NULL column has no bounds and bins to 0."""
    if lo is None or hi is None:
        return F.lit(0).cast("long")
    width = (hi - lo) or 1.0
    raw = ((F.col(col).cast("double") - F.lit(lo)) / F.lit(width)) * (1 << _BITS)
    return F.least(
        F.greatest(raw.cast("long"), F.lit(0)), F.lit((1 << _BITS) - 1)
    )


def zorder_value(*bin_cols: Column) -> Column:
    """Morton code: interleave the low ``_BITS`` bits of each bin column
    (named ``__zr{d}`` by the caller). SQL aggregate over bit positions —
    expression-operand shifts are SQL-only."""
    n = len(bin_cols)
    total = None
    for d in range(n):
        part = F.expr(
            f"aggregate(sequence(0, {_BITS - 1}), 0L, "
            f"(acc, i) -> acc + shiftleft(cast(getbit(__zr{d}, i) as bigint), "
            f"i * {n} + {d}))"
        )
        total = part if total is None else total + part
    return total


def quantile_bucket(df: DataFrame, col: str, bins: int = 256) -> Column:
    """Skew-robust bin: rank against ``bins``-quantile breakpoints (one
    ``approxQuantile`` pass per column; a small array to the driver). Each
    bucket then holds ~1/bins of the ROWS regardless of the value
    distribution — equi-width binning collapses a skewed column into a few
    hot buckets and the Z-value loses that dimension's discrimination.
    The rank is a SQL aggregate over the breakpoint array (codegen-free
    HOF, paid once at layout-write time).

    ``bins`` is capped at 4096: the breakpoints are embedded as literals in
    one ``array()`` expression, and a 65k-literal expression tree is
    pathological for codegen while adding no file-level locality beyond
    ~8 bits of rank per dimension."""
    if bins > 4096:
        raise ValueError(
            f"bins={bins} embeds {bins - 1} literals into one expression; "
            "cap is 4096 (256 is plenty for file-level locality)"
        )
    probs = [i / bins for i in range(1, bins)]
    breaks = df.stat.approxQuantile(col, probs, 1.0 / (4 * bins))
    arr = "array(" + ",".join(repr(float(b)) for b in breaks) + ")"
    return F.expr(
        f"aggregate({arr}, 0L, (acc, b) -> "
        f"acc + if(cast({col} as double) > b, 1L, 0L))"
    )


def zorder_layout(
    df: DataFrame, cols: list[str], num_files: int, binning: str = "width"
) -> DataFrame:
    """Return ``df`` arranged for a Z-ordered write: range-partitioned and
    sorted by the Morton code of ``cols``. Write with
    ``.write.parquet(path)`` — each task produces one file whose min/max
    footer statistics are tight in every listed dimension.

    ``binning="width"`` (default): equi-width bins from one min/max agg —
    zero extra passes, right for roughly uniform columns.
    ``binning="quantile"``: 256-quantile bins per column (one
    ``approxQuantile`` pass each) — right when a column is skewed enough
    that equi-width bins would concentrate most rows in a few buckets.
    """
    ranked = df
    if binning == "quantile":
        qbins = 256  # 8 bits of rank per dim — plenty for file-level locality
        for d, c in enumerate(cols):
            scale = (1 << _BITS) // qbins
            ranked = ranked.withColumn(
                f"__zr{d}", quantile_bucket(df, c, qbins) * scale
            )
    else:
        bounds = df.agg(
            *[f for c in cols for f in (
                F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"hi_{c}"),
            )]
        ).collect()[0]
        for d, c in enumerate(cols):
            ranked = ranked.withColumn(
                f"__zr{d}", _bin_col(c, bounds[f"lo_{c}"], bounds[f"hi_{c}"])
            )
    ranked = ranked.withColumn(
        "__z", zorder_value(*[F.col(f"__zr{d}") for d in range(len(cols))])
    ).drop(*[f"__zr{d}" for d in range(len(cols))])
    return (
        ranked.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def file_clustering_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Clustering quality audit: per physical file, the fraction of each
    column's global range it spans. A Z-ordered layout shows mean spans
    ≪ 1 in every dimension (each file prunable by predicates on any of
    them); an unclustered layout shows spans ≈ 1."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    aggs, spans = [], []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    per_file = df.groupBy("__file").agg(*aggs)
    glob = df.agg(*aggs).collect()[0]
    for c in cols:
        lo, hi = glob[f"__min_{c}"], glob[f"__max_{c}"]
        width = (hi - lo) or 1.0
        spans.append(
            ((F.col(f"__max_{c}") - F.col(f"__min_{c}")) / F.lit(width))
            .cast("double")
            .alias(f"span_{c}")
        )
    return per_file.select("__file", *spans)


def file_stats_catalog(spark, path: str, cols: list[str]) -> DataFrame:
    """Delta/Iceberg-style data-skipping catalog: one row per physical file
    with (n_rows, min, max) for each listed column. Built with ONE
    counter-sized aggregate (shuffle payload = n_files × n_cols rows, KBs);
    at scale this is written ONCE per ingest batch and appended to a stats
    table, so query planning never re-reads the data.

    Complements ``zorder_layout``: Z-ordering makes per-file ranges tight;
    this catalog is what turns those tight ranges into skipped I/O."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
    )


def stats_pruned_read(
    spark, path: str, col: str, *, lo=None, hi=None,
    stats: DataFrame | None = None,
):
    """Read only the files whose [min, max] for ``col`` intersects
    [lo, hi] — manual min/max data skipping, the mechanism behind every
    lakehouse query planner. Returns ``(df, audit)`` where ``df`` is the
    pruned scan with the RESIDUAL predicate still applied (stats are
    file-granular, not row-granular) and ``audit`` = (files_kept,
    files_total).

    Driver safety: only the stats rows (one per file) are collected —
    bounded by file count, never data size. At 1000-executor scale the
    same intersect runs as a filter on the stats table feeding a file
    index; the data path is identical."""
    st = stats if stats is not None else file_stats_catalog(spark, path, [col])
    rows = st.select("file", f"min_{col}", f"max_{col}").collect()
    kept = [
        r["file"] for r in rows
        if (hi is None or r[f"min_{col}"] is None or r[f"min_{col}"] <= hi)
        and (lo is None or r[f"max_{col}"] is None or r[f"max_{col}"] >= lo)
    ]
    residual = F.lit(True)
    if lo is not None:
        residual = residual & (F.col(col) >= F.lit(lo))
    if hi is not None:
        residual = residual & (F.col(col) <= F.lit(hi))
    if not kept:
        return spark.read.parquet(path).filter(F.lit(False)), (0, len(rows))
    return spark.read.parquet(*kept).filter(residual), (len(kept), len(rows))
