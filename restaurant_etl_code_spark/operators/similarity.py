"""Similarity search over embedding columns (J6 generalized to ANN).

The reference's similarity stage is a service call: top-1 match of staged
product names against master-catalog embeddings with a minimum score
(batch_processor.py:477-556, client api/api-client.py:211-266). Spark-first
that becomes a family of vector top-k entries over one shared scoring core:

- **exact** (``cosine_topk``, ``l2_topk``, exact near-dup pairs): the
  dimension-sized side ships to every task (closure matrix or broadcast)
  and every pair is scored. O(|Q|·|C|) but embarrassingly parallel and
  shuffle-free until the final top-k (which AQE keeps tiny).
- **blocked** (``bucketed_cosine_topk``, ``ivf_topk``, LSH near-dup pairs):
  both sides are keyed by a sign-LSH bucket or an inverted list and only
  pairs sharing a key are scored — the 100 TB path; recall traded for a
  cut of the score space. (Spark ML's BucketedRandomProjectionLSH offers
  the same shape; we keep the expression version so the scoring function
  is explicit and oracle-checkable.)
- **quantized** (``pq_encode``, ``pq_adc_topk``, ``ivfpq_topk``): PQ codes
  from deterministic Lloyd codebooks; candidates rank by ADC table lookups.

Each step the entries share has one private helper: ``_collect_capped``
(the driver guard on a dimension-sized side), ``_ranked`` (the per-query
top-k window), ``_with_norm`` + ``_cosine_score`` / ``_d2_score`` (the
guarded flat-or-fold pair score), ``_pq_sub`` + ``_adc_tables`` (PQ width
check and lookup tables) and ``_kmeans_assign_arrow`` (the numpy
nearest-center loop, IVF routing included). ``kmeans_centers`` is the
module's one k-means.

Scores are rounded (cosine 6dp, squared distances 9dp) *before* ranking
with an id tie-break, so results are deterministic and engine-portable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from restaurant_etl_code_spark.functions import vectors as V
from restaurant_etl_code_spark.operators._arrow import widen_for_codec as _widen

__all__ = [
    "cosine_topk",
    "bucketed_cosine_topk",
    "embedding_near_dup_pairs",
    "centroids_by_id",
    "kmeans_lloyd",
    "kmeans_centers",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "l2_topk",
    "ivf_topk",
    "topk_recall",
]


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Width of the first non-null vector (one LIMIT-1 job, metadata-cheap
    at any scale) — the plan-time constant the flat codegen vector math
    needs. ``None`` (empty/all-null input) keeps callers on the fold
    path. Rows whose width differs from the probed value are handled by
    the per-row size guard inside every fast variant, so a ragged corpus
    stays bit-identical to the fold."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("__d"))
        .where(F.col(vec_col).isNotNull())
        .first()
    )
    return int(row["__d"]) if row is not None and row["__d"] is not None else None


def _auto_nbits(df: DataFrame, target_bucket: int) -> int:
    """Sign-LSH bit count sized to the corpus (one scalar count):
    clamp(4..24, ⌈log₂(n / target_bucket)⌉)."""
    n = df.count()
    return max(4, min(24, math.ceil(math.log2(max(n, 2) / target_bucket))))


def _collect_capped(df: DataFrame, max_rows: int, what: str, hint: str) -> list:
    """Collect a side that MUST be dimension-sized (it ships to the driver
    or to every task). A ``limit(max_rows+1)`` probe fails fast — one
    cheap job, no full count — when a caller passes a corpus-sized side."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"{what}; it has > {max_rows} rows. {hint}")
    return rows


def _unit_rows(M):
    """Rows of a float64 matrix scaled to unit L2 norm; zero-norm rows
    become NaN, so they score null against everything."""
    import numpy as np

    n = np.linalg.norm(M, axis=1)
    n[n == 0] = np.nan
    return (M.T / n).T


def _ranked(
    scored: DataFrame,
    k: int,
    min_score: float | None = None,
    max_score_exclusive: float | None = None,
    *,
    by: str = "score",
    desc: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """Per-query top-k window over ``scored`` (query_id, neighbor_id, ...,
    ``by``): rank by ``by`` (descending for similarities, ascending for
    distances) with a neighbor-id tie-break, keep rank ≤ k and append
    ``rank`` to the scored columns."""
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    if min_score is not None:
        scored = scored.filter(F.col(by) >= min_score)
    if max_score_exclusive is not None:
        scored = scored.filter(F.col(by) < max_score_exclusive)
    order = F.col(by).desc() if desc else F.col(by).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*scored.columns, "rank")
    )


def _with_norm(df: DataFrame, vec: str, norm: str, dim: int | None) -> DataFrame:
    """Add the per-row L2 norm ``norm`` of ``vec`` that ``_cosine_score``
    reads on the flat path (nothing when ``dim`` is unknown)."""
    return df.withColumn(norm, V.l2_norm_fast(vec, dim)) if dim else df


def _cosine_score(a: str, b: str, na: str, nb: str, dim: int | None):
    """6dp cosine of array columns ``a``/``b`` as ``score``: the guarded
    flat chain over precomputed norms when ``dim`` is known (per-side
    norms make the join projection compile instead of running the
    interpreted zip_with fold per pair), the fold otherwise — bit-identical
    either way (see vectors.cosine_fast_paired)."""
    s = (
        V.cosine_fast_paired(a, b, na, nb, dim)
        if dim
        else V.cosine(F.col(a), F.col(b))
    )
    return F.round(s, 6).alias("score")


def _d2_score(a: str, b: str, dim: int | None):
    """Unrounded squared L2 of array columns ``a``/``b``: the guarded flat
    codegen chain when ``dim`` is known (same accumulation order as the
    fold, so bit-identical; see vectors.d2_chain_sql), else the fold,
    which is CodegenFallback and runs interpreted per pair."""
    fold = F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if not dim:
        return fold
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim),
        F.expr(V.d2_chain_sql(f"`{a}`", f"`{b}`", dim)),
    ).otherwise(fold)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 3,
    min_score: float | None = None,
    max_score_exclusive: float | None = None,
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Brute-force cosine top-k: every query against every corpus vector.

    ``max_score_exclusive`` drops pairs scoring AT or ABOVE the bound
    BEFORE the per-batch prune (hard-negative mining: "most similar
    below the dup threshold") — the prune's containment argument holds
    because the filter is applied identically per batch and in the final
    ranking.

    Physical shape: the query side is dimension-sized and ships to every
    task as a dense float64 matrix inside the mapInPandas closure (a
    broadcast variable in cluster terms); the corpus streams through in
    Arrow batches and scores via one BLAS matmul per batch — measured ~10×
    faster than the expression-tree cosine (Spark evaluates higher-order
    array lambdas interpreted, per element, per pair). Each batch emits
    only its per-query top-k (map-side pruning: the global top-k is always
    contained in the union of per-batch top-ks), so the final ranking
    window sees ``tasks × |Q| × k`` rows, not ``|C| × |Q|``.

    Scores are rounded to 6dp BEFORE pruning/ranking with a neighbor-id
    tie-break — bit-stable across numpy/Spark/DuckDB summation orders.

    The query side MUST be dimension-sized: it is collected to the driver.
    A ``limit(max_query_rows+1)`` probe fails fast (one cheap job, no full
    count) before the collect if the caller passes a corpus-sized query
    side — the scale paths for that shape are ``bucketed_cosine_topk`` /
    ``ivf_topk``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = _collect_capped(
        queries.select(query_id, query_vec), max_query_rows,
        "cosine_topk collects the query side to the driver",
        "Use bucketed_cosine_topk or ivf_topk for corpus-sized query sides.",
    )
    id_field = corpus.schema[corpus_id]
    schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("neighbor_id", id_field.dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    if not q_rows:  # nothing to score: no job over the corpus
        return _ranked(
            corpus.sparkSession.createDataFrame([], schema),
            k, min_score, max_score_exclusive,
        )
    qids = [r[0] for r in q_rows]
    Qhat = _unit_rows(np.asarray([r[1] for r in q_rows], dtype=np.float64))

    def mapper(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids, S = _batch_scores(pdf, corpus_id, corpus_vec, Qhat)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                s = S[:, j]
                mask = ~np.isnan(s)
                if exclude_self:
                    mask &= cids != qid
                if min_score is not None:
                    mask &= s >= min_score
                if max_score_exclusive is not None:
                    mask &= s < max_score_exclusive
                idx = np.flatnonzero(mask)
                if not len(idx):
                    continue
                # top-k by (score desc, neighbor_id asc) — same total order
                # as the final ranking window, so pruning is lossless
                order = idx[np.lexsort((cids[idx], -s[idx]))][:k]
                out_q.extend([qid] * len(order))
                out_n.extend(cids[order])
                out_s.extend(s[order])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
                )

    scored = _widen(corpus.select(corpus_id, corpus_vec), corpus_id, per_row="light").mapInPandas(
        mapper, schema=schema
    )
    return _ranked(scored, k, min_score, max_score_exclusive)


def _batch_scores(pdf, id_col: str, vec_col: str, Qhat):
    """(ids, 6dp cosine matrix |batch| × |Q|) of one Arrow batch against
    the unit rows ``Qhat`` — one BLAS matmul per batch."""
    import numpy as np

    C = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
    return pdf[id_col].to_numpy(), np.round(_unit_rows(C) @ Qhat.T, 6)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k_neg: int = 3,
    dup_threshold: float = 0.95,
    min_score: float | None = None,
    **kwargs,
) -> DataFrame:
    """HARD-NEGATIVE mining for embedding-model training data: per
    anchor, the most-similar corpus vectors BELOW the near-duplicate
    threshold — similar enough to teach the margin, not so similar
    they're actually positives (the standard contrastive-training recipe;
    dedup-then-mine is why the threshold filter must run BEFORE ranking:
    an anchor with 20 duplicates would otherwise fill its whole top-k
    with positives). ``min_score`` optionally floors the negatives
    ("semi-hard": similar but not degenerate).

    Same physical shape as ``cosine_topk`` (driver-collected
    dimension-sized anchor side, BLAS batch scoring, lossless per-batch
    prune under the same filters). Returns (query_id, neighbor_id,
    score, rank).
    """
    return cosine_topk(
        queries,
        corpus,
        k=k_neg,
        min_score=min_score,
        max_score_exclusive=dup_threshold,
        **kwargs,
    )


def bucketed_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 3,
    nbits: int | str = 8,
    min_score: float | None = None,
    exclude_self: bool = True,
    probes: int = 1,
    target_bucket: int = 64,
) -> DataFrame:
    """LSH-bucketed ANN: score only pairs sharing a sign-LSH bucket. The join
    shuffles both sides on the bucket id — bounded partitions, no broadcast
    needed, scales to corpora the exact path cannot touch. Approximate:
    neighbors in other buckets are unseen (document the recall trade).

    ``nbits="auto"`` sizes the bucket count to the CORPUS (one scalar
    count): nbits = clamp(4..24, ⌈log₂(n / target_bucket)⌉). A fixed
    nbits is a quadratic trap for corpus-vs-corpus workloads (kNN graph):
    bucket population grows with n, so Σ|bucket|² pair work grows n² —
    the 10× probe measured 49× wall on the fixed-6-bit kNN graph, 2.4×
    after auto-sizing (same defect auto-nbits fixed for near-dup in r2).

    ``probes > 1`` enables multi-probe: each query also checks the buckets
    at Hamming distance 1 from its own (bit flips of the sign vector, up to
    ``probes-1`` of them) — near-boundary neighbors land exactly there.
    Recall rises at the cost of ``probes×`` the query-side join fan-out;
    the corpus side (the big one) is untouched. Tested to dominate
    single-probe recall in tests/test_dedup_similarity.py."""
    if nbits == "auto":
        nbits = _auto_nbits(corpus, target_bucket)
    dim = _probe_dim(corpus, corpus_vec)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        V.sign_lsh_bucket(F.col(query_vec), nbits).alias("__bkt"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        V.sign_lsh_bucket(F.col(corpus_vec), nbits).alias("__bkt"),
    )
    q = _with_norm(q, "__qv", "__qn", dim)
    c = _with_norm(c, "__cv", "__cn", dim)
    if probes > 1:
        flips = F.array(
            F.col("__bkt"),
            *[
                F.col("__bkt").bitwiseXOR(F.lit(1 << b))
                for b in range(min(probes - 1, nbits))
            ],
        )
        q = q.withColumn("__bkt", F.explode(flips))
    scored = q.join(c, on="__bkt").select(
        "query_id", "neighbor_id",
        _cosine_score("__qv", "__cv", "__qn", "__cn", dim),
    )
    return _ranked(scored, k, min_score, exclude_self=exclude_self)


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    nbits: int | str = 0,
    target_bucket: int = 256,
    exact_max_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).
    ``nbits=0`` → exact all-pairs (test scale); ``nbits>0`` → sign-LSH
    blocking (production scale); ``nbits="auto"`` sizes the bucket count to
    the corpus.

    Scale law: candidate pairs ≈ n²/2^nbits, so a FIXED nbits is quadratic
    in corpus size — a 10× probe with nbits=6 ran 38× slower (312M bucket
    pairs). The bucket count must track n: auto picks
    ``ceil(log2(n / target_bucket))`` (one driver-side count), keeping
    expected bucket size — and with it per-bucket pair work — constant as
    the corpus grows. Recall falls as nbits rises (true pairs split across
    buckets); hold it with multi-probe or a second hash family, or keep
    target_bucket generous and pay linear-in-n extra cosines."""
    if nbits == "auto":
        nbits = _auto_nbits(df, target_bucket)
    if nbits <= 0:
        return _all_pairs_near_dup_blas(
            df, id_col, vec_col, threshold, max_rows=exact_max_rows
        )
    dim = _probe_dim(df, vec_col)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    a = a.withColumn("__bkt", V.sign_lsh_bucket(F.col("__va"), nbits))
    b = b.withColumn("__bkt", V.sign_lsh_bucket(F.col("__vb"), nbits))
    a = _with_norm(a, "__va", "__na", dim)
    b = _with_norm(b, "__vb", "__nb", dim)
    return (
        a.join(b, on="__bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine_score("__va", "__vb", "__na", "__nb", dim))
        .filter(F.col("score") >= threshold)
    )


def _all_pairs_near_dup_blas(
    df: DataFrame, id_col: str, vec_col: str, threshold: float,
    max_rows: int = 200_000,
) -> DataFrame:
    """Exact all-pairs scorer for the ``nbits=0`` oracle/verification path.

    Same physical shape as ``cosine_topk``: the corpus ships to every task
    as one dense normalized float64 matrix (broadcast-variable scale: the
    exact path is only legal on corpora that fit it — enforced by a
    ``limit`` probe), batches stream through Arrow, and each batch scores
    against the matrix with one BLAS matmul — measured ~10× faster than the
    expression-tree cosine over an id<id join (interpreted higher-order
    lambdas, per element, per pair). Emits (id_a < id_b, score ≥ threshold)
    with the same 6dp pre-rounding as every other scorer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = _collect_capped(
        df.select(id_col, vec_col), max_rows,
        "exact all-pairs near-dup is quadratic and ships the corpus to "
        "every task",
        "Use nbits>0 (sign-LSH blocking) or nbits='auto' at scale — and for "
        "recall AUDITS (dedup_recall), sample the corpus first: recall "
        "estimated on a few hundred k sampled vectors is the standard "
        "practice.",
    )
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    if not rows:  # nothing to pair: no job over the corpus
        return df.sparkSession.createDataFrame([], schema)
    ids_arr = np.asarray([r[0] for r in rows])
    Mhat = _unit_rows(np.asarray([r[1] for r in rows], dtype=np.float64))

    def mapper(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cids, S = _batch_scores(pdf, id_col, vec_col, Mhat)
            with np.errstate(invalid="ignore"):
                keep = (cids[:, None] < ids_arr[None, :]) & (S >= threshold)
            bi, ci = np.nonzero(keep)
            if not len(bi):
                continue
            yield pd.DataFrame(
                {"id_a": cids[bi], "id_b": ids_arr[ci], "score": S[bi, ci]}
            )

    return _widen(df.select(id_col, vec_col), id_col, per_row="light").mapInPandas(
        mapper, schema=schema
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path besides LSH
# --------------------------------------------------------------------------

def centroids_by_id(corpus: DataFrame, *, n: int, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse quantizer for oracle-checked runs: the first
    ``n`` corpus vectors by id become the centroids. Quality is that of
    random selection (fine for plumbing correctness; recall is exact anyway
    whenever ``nprobe`` covers all lists).

    Physical shape: ``sort().limit(n)`` → Spark plans TakeOrderedAndProject
    (per-partition top-n, merge n·parts rows on the driver) — never a
    single-partition global Window sort, so this is safe on any corpus
    size even though it is the test-path quantizer. The centroid_id is
    ranked AFTER the take, over n rows only."""
    w = Window.orderBy(F.col(id_col))
    return (
        corpus.select(id_col, vec_col)
        .sort(F.col(id_col))
        .limit(n)
        .withColumn("__rn", F.row_number().over(w))
        .select((F.col("__rn") - 1).alias("centroid_id"), F.col(vec_col).alias("centroid"))
    )


def _assign_lists(df: DataFrame, centroids: DataFrame, *, id_alias: str,
                  vec_alias: str, nprobe: int, dim: int | None = None) -> DataFrame:
    """Nearest-``nprobe`` centroid ids per vector. Centroids are tiny and
    broadcast; ranking by (distance, centroid_id) keeps ties deterministic.
    Distance is squared L2 (monotone with L2 — no sqrt needed). With
    ``dim`` the distance is the guarded flat codegen chain (bit-identical
    to the fold; see vectors.d2_chain_sql)."""
    d = _d2_score(vec_alias, "centroid", dim)
    w = Window.partitionBy(id_alias).orderBy(F.round(d, 9).asc(), F.col("centroid_id"))
    return (
        df.join(F.broadcast(centroids), F.lit(True))
        .withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= nprobe)
        .drop("centroid", "__crank")
        .withColumnRenamed("centroid_id", "list_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 3,
    nprobe: int = 2,
    min_score: float | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN: corpus vectors are assigned to their nearest centroid
    (inverted lists); each query probes its ``nprobe`` nearest lists and
    scores only those. The scoring join is an EQUI-join on ``list_id`` —
    both sides shuffle on the list key, partitions are bounded by list
    size, nothing is broadcast but the centroid table.

    100 TB shape: corpus assignment is computed once and persisted
    partitioned by ``list_id`` (a write-time index); queries then touch
    ``nprobe/n_centroids`` of the data. With ``nprobe >= n_centroids`` the
    result is EXACT brute-force top-k (the oracle-checked configuration)."""
    dim = _probe_dim(corpus, corpus_vec)
    c = _assign_lists(
        corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(corpus_vec).alias("__cv")),
        centroids, id_alias="neighbor_id", vec_alias="__cv", nprobe=1,
        dim=dim,
    )
    q = _assign_lists(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("__qv")),
        centroids, id_alias="query_id", vec_alias="__qv", nprobe=nprobe,
        dim=dim,
    )
    c = _with_norm(c, "__cv", "__cn", dim)
    q = _with_norm(q, "__qv", "__qn", dim)
    scored = q.join(c, on="list_id").select(
        "query_id", "neighbor_id",
        _cosine_score("__qv", "__cv", "__qn", "__cn", dim),
    )
    return _ranked(scored, k, min_score, exclude_self=exclude_self)


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k audit: per query, the fraction of the EXACT top-k that the
    approximate index recovered — the number that justifies (or indicts)
    an ANN configuration. "Measure, don't guess": nbits / nprobe / band
    choices should be driven by this, not intuition.

    Physical shape: both inputs are ranking outputs (|queries| × k rows —
    tiny next to the corpus that produced them), so this is one equi-join
    on (query_id, neighbor_id) plus a per-query count. All-integer
    arithmetic until the final ratio, so the audit is engine-exact.
    """
    marked = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        marked.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(
                F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
            ).alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.col("n_exact"), 6))
    )


# --------------------------------------------------------------------------
# Semantic dedup — cluster-blocked embedding dedup (SemDeDup-style)
# --------------------------------------------------------------------------

def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int = 100_000,
    rows_per_block: int = 1024,
) -> DataFrame:
    """Nearest-centroid assignment at scale: the centroid table (bounded by
    ``max_centroids`` — a guarded driver collect, MBs at most) ships to
    every task as one dense float64 matrix, and each Arrow batch computes
    all |batch| × k squared-L2 distances with vectorized numpy instead of
    fanning out |corpus| × k rows through interpreted expressions (the
    ``_assign_lists`` BNLJ shape — right for IVF's k≈8, measured ~100×
    too slow once k tracks corpus size).

    Semantics parity with ``_assign_lists``/the SQL oracle: distance is
    the elementwise Σ(aᵢ−bᵢ)² rounded to 9dp; ties break to the smallest
    centroid_id (argmin returns the first minimum; centroid rows are
    ordered by id). ``rows_per_block`` caps the b × k × d intermediate.

    Returns (id_col, vec_col, list_id)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = sorted(
        _collect_capped(
            centroids, max_centroids,
            "assign_centroids collects the centroid table to the driver",
            "Coarsen the quantizer.",
        ),
        key=lambda r: r["centroid_id"],
    )
    C = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    cid = np.asarray([r["centroid_id"] for r in rows], dtype=np.int32)
    id_field = corpus.schema[id_col]

    def mapper(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            out = np.empty(len(pdf), dtype=np.int32)
            for s0 in range(0, len(pdf), rows_per_block):
                blk = M[s0:s0 + rows_per_block]
                D = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                out[s0:s0 + len(blk)] = np.round(D, 9).argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], "list_id": cid[out]}
            )

    schema = T.StructType([
        T.StructField(id_col, id_field.dataType),
        T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        T.StructField("list_id", T.IntegerType()),
    ])
    return _widen(
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)),
        id_col, per_row="light",
    ).mapInPandas(mapper, schema=schema)


def semantic_dedup(
    corpus: DataFrame,
    *,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    target_cluster: int = 256,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-blocked semantic deduplication: assign every embedding to its
    nearest coarse centroid, score cosine ONLY within a cluster, and drop
    any vector that has a smaller-id cluster-mate at ``>= threshold``.
    Returns the survivors as ``(id_col, cluster_id)``.

    This is the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
    the coarse quantizer turns the O(n²) semantic-similarity problem into
    per-cluster work, exactly like IVF does for search. Generalizes the
    reference's exact-key dedup (SURVEY J1, data2insert_rows.py drop-
    duplicates) to meaning-level duplicates.

    Scale law (measured, 10× probe): a FIXED cluster count is quadratic —
    per-cluster cardinality grows with the corpus and pair work is
    Σ|cluster|², the same defect as fixed-nbits LSH blocking (17.5 s →
    251 s at 10× with k=8). ``n_clusters="auto"`` sizes k = ⌈n /
    target_cluster⌉ from one driver-side count, holding per-cluster pair
    work constant per unit of data. Assignment is then n × k distances —
    kept cheap by BLAS batching (``assign_centroids``); at extreme scale
    swap in a two-level quantizer before assignment cost n²/c dominates.

    Physical shape / 100 TB: centroid table broadcast via closure (guarded
    collect); corpus shuffles ONCE on the cluster key; within-cluster
    scoring is an Arrow-batched per-group BLAS matmul (no join operator,
    no interpreted per-pair expressions); the drop rule is a left-anti
    join against the distinct losers. Keep-min-id is greedy — when
    transitive closure matters, feed pairs to
    ``dedup.connected_components`` instead (see dedup_clusters).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if n_clusters == "auto":
        n_clusters = max(1, math.ceil(corpus.count() / target_cluster))
    cents = centroids if centroids is not None else centroids_by_id(
        corpus, n=n_clusters, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_centroids(
        corpus, cents, id_col=id_col, vec_col=vec_col
    )
    id_field = assigned.schema[id_col]

    def losers(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        Mhat = _unit_rows(np.asarray(list(pdf[vec_col]), dtype=np.float64))
        dead = np.zeros(len(ids), dtype=bool)
        for s0 in range(0, len(ids), 1024):
            blk = slice(s0, min(s0 + 1024, len(ids)))
            S = np.round(Mhat[blk] @ Mhat.T, 6)
            # pair (i, j) with i < j positionally == id_i < id_j (sorted)
            with np.errstate(invalid="ignore"):
                hit = S >= threshold
            cols = np.arange(len(ids))[None, :]
            rows_ = np.arange(blk.start, blk.stop)[:, None]
            dead |= (hit & (cols > rows_)).any(axis=0)
        return pd.DataFrame({id_col: ids[dead]})

    loser_df = assigned.groupBy("list_id").applyInPandas(
        losers, schema=T.StructType([T.StructField(id_col, id_field.dataType)])
    )
    return (
        assigned.join(
            loser_df.withColumnRenamed(id_col, "__loser"),
            assigned[id_col] == F.col("__loser"),
            "left_anti",
        )
        .select(id_col, F.col("list_id").alias("cluster_id"))
    )


def kmeans_lloyd(
    corpus: DataFrame,
    *,
    n: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: bool = False,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column; the loop is
    ``kmeans_centers``, the module's one k-means (oracle-checkable, where
    a seeded Spark ML fit is not engine-portable). Seeding is
    ``centroids_by_id`` (first ``n`` vectors by id — reproducible
    anywhere); each of the
    fixed ``iterations`` rounds assigns every vector to its nearest
    centroid (squared L2 rounded to 9dp, ties to the smallest
    centroid_id) and recomputes centroids as the element-wise mean
    rounded to 6dp (the pre-rounding that keeps a different engine's
    summation order from moving the next assignment). An emptied
    centroid keeps its previous position. Fixed iterations + fixed
    tie-breaks = unrolled-SQL oracle, the same contract as ``pagerank``.

    Physical shape at 100 TB: exactly the textbook Spark k-means. Per
    round the n-row centroid table is COLLECTED to the driver (what
    Spark ML's KMeans does — the centers are counter-sized by
    construction) and the assignment becomes a LITERAL array expression
    in the corpus scan: argmin = ``array_min`` over n (dist, id) structs,
    codegen, ZERO shuffle — an earlier cut computed argmin as a
    cross-join + groupBy(doc) aggregate, which re-shuffled every corpus
    VECTOR each round (found in self-review); the update is a posexplode
    to (centroid, dim, value) and one partial-aggregatable avg — the
    only shuffle per round carries n·dim counters, never vectors. The
    corpus is scanned twice per round (update agg + next assignment),
    nothing quadratic anywhere. Rounds are eager (each collects n·dim
    doubles), so lineage never deepens; ``checkpoint`` is accepted for
    API stability but unnecessary.

    Returns (centroid_id, size, mean_d2): final cluster sizes and mean
    squared distance (6dp) — the inertia summary that verifies both the
    assignment and the update arithmetic.

    Numeric contract above 256 centers: assignment switches to the
    numpy/Arrow scorer (the literal plan stops compiling at that size),
    which computes d2 via the BLAS expansion |v|²−2v·Cᵀ+|c|² with
    numpy's round-half-even — for large-magnitude vectors the 9dp
    pre-round may not absorb the expansion's relative error, so argmin
    TIES can break differently than the ≤256-center literal fold.
    Oracle-pinned configurations stay below the threshold; parity on
    well-scaled data is regression-tested (test_round7_ops).
    """
    centers = kmeans_centers(
        corpus, n=n, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    vecs = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    final = _kmeans_assign(vecs, "__v", centers)
    return final.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("size"),
        F.round(F.avg("__d2"), 6).alias("mean_d2"),
    )


def _lit_d(x) -> str:
    """One float64 as a SQL double literal. Fails LOUD on non-finite
    values: ``repr`` of nan/inf ('nan'/'inf') is unparseable as a SQL
    literal, so a degenerate center (NaN from an all-zero residual
    update, inf from overflow) would surface as a cryptic parse
    exception deep in the plan build — where the F.lit path this
    replaced handled them silently via argmin. Name the problem at the
    boundary instead (r8 advisory; the band-geometry guard style)."""
    f = float(x)
    if not math.isfinite(f):
        raise ValueError(
            f"non-finite center component {f!r}: a centroid contains "
            "NaN/inf (degenerate input vectors?) — refusing to emit "
            "unparseable SQL"
        )
    return repr(f) + "D"


def _d2_sql(vec_sql: str, center) -> str:
    """9dp-rounded squared L2 of a vector SQL snippet against a LITERAL
    center, as ONE SQL string. Semantically identical to the Column-tree
    build it replaces (same zip_with/aggregate fold, same double casts,
    same 9dp round — `repr` round-trips every float64 exactly), but the
    string parses JVM-side in one py4j call: the tree version spent ~2 s
    of DRIVER time per 16-center×32-dim argmin just constructing py4j
    objects (measured; the dominant cost of the whole IVF-PQ stack at
    small SF).

    r18 note: this fold deliberately STAYS the interpreted
    zip_with/aggregate form. The flat get()-chain rewrite that sped up
    the cosine/l2 join projections 3-9x (vectors.dot_chain_sql) was
    measured 3.6x SLOWER here: every _d2_sql call site sits under
    array_min(array(named_struct(...))) — a CodegenFallback parent — so
    the chain runs interpreted node-by-node (~6 evals/dim) while the
    fold's aggregate loop is the faster interpreted shape
    (~2 evals/dim + one zip allocation)."""
    arr = "array(" + ",".join(_lit_d(x) for x in center) + ")"
    return (
        f"round(aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> (double(x) - y) * (double(x) - y)), 0.0D, "
        "(acc, x) -> acc + x), 9)"
    )


def _kmeans_best(vec_sql: str, centers: dict):
    """argmin struct over literal (dist, id) candidates — struct ordering
    is field-lexicographic, so array_min = (min dist, then min id).
    Takes the vector as a SQL snippet (e.g. ``"`embedding`"`` or
    ``"slice(`__rv`, 1, 32)"``) so the entire candidate array is a single
    ``F.expr`` — see ``_d2_sql`` for why."""
    cands = ",".join(
        f"named_struct('__d2', {_d2_sql(vec_sql, c)}, 'centroid_id', {cid})"
        for cid, c in sorted(centers.items())
    )
    return F.expr(f"array_min(array({cands}))")


# Above this center count the literal-argmin formulation stops being a
# plan: centers_arr + _kmeans_best compile ~n_lists·dim literals evaluated
# per row, which blows past codegen/analysis limits long before the √n
# auto-sizing heuristic's 65536 ceiling (found in review). Larger center
# sets route through the numpy/Arrow assigner below instead.
_LITERAL_ASSIGN_MAX_CENTERS = 256


def _vectors_matrix(pdf, vec_field: str, dim: int, id_field: str | None = None):
    """Dense (rows, dim) float64 matrix from an Arrow batch column, with
    FAIL-LOUD null/ragged handling: the raw ``np.asarray(tolist())``
    this replaces raised an opaque TypeError deep in numpy when a single
    vector was null or width-drifted (the literal path tolerated nulls
    by sorting them through array_min) — name the offending id instead,
    matching the band-geometry guard's style (round-7 advisory)."""
    import numpy as np

    vals = pdf[vec_field].tolist()
    for i, v in enumerate(vals):
        if v is None or (hasattr(v, "__len__") and len(v) != dim):
            bad = pdf[id_field].iloc[i] if id_field else f"<row {i}>"
            got = "NULL" if v is None else f"width {len(v)}"
            raise ValueError(
                f"kmeans/IVF arrow assigner: vector for id={bad!r} is "
                f"{got}, expected width {dim} — filter null/ragged "
                f"embeddings before clustering (the >"
                f"{_LITERAL_ASSIGN_MAX_CENTERS}-center path scores in "
                f"dense numpy batches and cannot skip rows silently)"
            )
    return np.asarray(vals, dtype=np.float64)


def _kmeans_assign_arrow(
    vecs: DataFrame, vec_field: str, centers: dict, residual: bool = False
) -> DataFrame:
    """numpy argmin assignment for LARGE center sets: centers ride the
    closure as one (L, dim) matrix, each Arrow batch scores via the BLAS
    expansion |v|² − 2v·Cᵀ + |c|² in row chunks (bounded memory), and ties
    break to the smallest centroid_id exactly like ``_kmeans_best`` (ids
    sorted ascending → argmin's first-occurrence rule). Pre-rounding float
    order differs from the codegen fold in the last ulp — oracle-pinned
    configurations stay on the literal path below the threshold.

    ``residual=True`` (IVF-PQ residual routing; ``vec_field`` must be
    ``array<double>``) replaces each vector by ``vec − center`` in the
    same numpy pass — the subtraction must not round-trip through a
    literal centers array (same blow-up as the assignment itself)."""
    from pyspark.sql import types as T

    lids = sorted(centers)
    cmat = [centers[cid] for cid in lids]
    in_schema = vecs.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField("__d2", T.DoubleType(), False),
        ]
    )

    def mapper(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)  # (L, dim)
        cn = (C * C).sum(axis=1)  # |c|²
        ids = np.asarray(lids, dtype=np.int64)
        # chunk rows so the (chunk, L) score matrix stays ~64 MB even at
        # L = 65536
        chunk = max(1, (8 << 20) // max(len(lids), 1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _vectors_matrix(
                pdf, vec_field, C.shape[1],
                next((c for c in pdf.columns if c != vec_field), None),
            )
            out_pos = np.empty(len(V), dtype=np.int64)
            out_d2 = np.empty(len(V), dtype=np.float64)
            for s in range(0, len(V), chunk):
                W = V[s : s + chunk]
                d2 = ((W * W).sum(axis=1)[:, None] - 2.0 * (W @ C.T)) + cn[None, :]
                d2 = d2.round(9)
                pos = d2.argmin(axis=1)
                out_pos[s : s + len(W)] = pos
                out_d2[s : s + len(W)] = d2[np.arange(len(W)), pos]
            res = pd.DataFrame(pdf)
            if residual:
                res[vec_field] = pd.Series((V - C[out_pos]).tolist(), dtype=object)
            res["centroid_id"] = ids[out_pos]
            res["__d2"] = np.maximum(out_d2, 0.0)  # expansion can dip −ε
            yield res

    return vecs.mapInPandas(mapper, schema=out_schema)


def _kmeans_assign(vecs: DataFrame, vec_field: str, centers: dict) -> DataFrame:
    if len(centers) > _LITERAL_ASSIGN_MAX_CENTERS:
        return _kmeans_assign_arrow(vecs, vec_field, centers)
    best = _kmeans_best(f"`{vec_field}`", centers)
    return vecs.select(
        *vecs.columns,
        best["centroid_id"].alias("centroid_id"),
        best["__d2"].alias("__d2"),
    )


def kmeans_centers(
    corpus: DataFrame,
    *,
    n: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The Lloyd loop behind ``kmeans_lloyd`` / ``pq_encode``, returning
    the final centers as a plain ``{centroid_id: [floats]}`` dict (n·dim
    doubles — counter-sized, the same thing Spark ML holds on the
    driver). Same determinism contract: first-n-by-id seeding, 9dp
    argmin, 6dp mean pre-rounding, empty clusters keep position."""
    vecs = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    centers = {
        int(r["centroid_id"]): [float(x) for x in r["centroid"]]
        for r in centroids_by_id(
            corpus, n=n, id_col=id_col, vec_col=vec_col
        ).collect()
    }
    if not centers:
        raise ValueError("kmeans_centers: empty corpus (no seed vectors)")
    for _ in range(iterations):
        a = _kmeans_assign(vecs, "__v", centers)
        upd_rows = (
            a.select("centroid_id", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("centroid_id", "__p")
            .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("__m"))
            .collect()
        )  # n*dim counter rows — the volume Spark ML collects per round
        means: dict = {}
        for r in upd_rows:
            means.setdefault(int(r["centroid_id"]), {})[int(r["__p"])] = r["__m"]
        centers = _lloyd_update(centers, means)
    return centers


def _lloyd_update(centers: dict, means: dict) -> dict:
    """Next Lloyd centers from ``{centroid_id: {dim: mean}}``; an emptied
    centroid keeps its position."""
    return {
        cid: [means[cid][p] for p in sorted(means[cid])] if cid in means else old
        for cid, old in centers.items()
    }


def _pq_train_books(
    enc_src: DataFrame,
    id_col: str,
    *,
    m: int,
    sub: int,
    k_centers: int,
    iterations: int,
    vec_col: str = "__rv",
) -> list:
    """Train all ``m`` PQ codebooks in ONE pass per Lloyd round instead
    of ``m`` independent loops. Numerically identical to calling
    ``kmeans_centers`` per sliced subspace (same first-k-by-id seeds,
    same 9dp argmin, same 6dp mean pre-rounding, empty clusters keep
    position) — the seeds of every subspace are slices of the SAME first
    k rows, so one TakeOrdered collect seeds all books, and each Lloyd
    round runs all m argmins in one projection feeding one
    (subspace, code, dim) mean agg. Job count per round: 1 instead of m;
    corpus scans per round: 1 instead of m — at 100 TB this is the
    difference between one pass and eight per PQ iteration
    (production m is 8-64).

    Falls back to per-book ``kmeans_centers`` above the literal-argmin
    center ceiling (PQ codebooks are ≤ 256 centers in every standard
    configuration, so the fallback is theoretical).
    """
    if k_centers > _LITERAL_ASSIGN_MAX_CENTERS:
        books = []
        for j in range(m):
            sliced = enc_src.select(
                F.col(id_col),
                F.slice(F.col(vec_col), j * sub + 1, sub).alias("__sv"),
            )
            books.append(
                kmeans_centers(
                    sliced, n=k_centers, iterations=iterations,
                    id_col=id_col, vec_col="__sv",
                )
            )
        return books

    seed_rows = enc_src.select(id_col, vec_col).sort(F.col(id_col)).limit(
        k_centers
    ).collect()
    if not seed_rows:
        raise ValueError("pq codebooks: empty corpus (no seed vectors)")
    books = [
        {
            i: [float(x) for x in r[vec_col][j * sub : (j + 1) * sub]]
            for i, r in enumerate(seed_rows)
        }
        for j in range(m)
    ]
    for _ in range(iterations):
        structs = [
            F.struct(
                F.lit(j).alias("__j"),
                best["centroid_id"].alias("__cid"),
                F.slice(F.col(vec_col), j * sub + 1, sub).alias("__sv"),
            )
            for j, best in enumerate(_sub_best(vec_col, books, sub))
        ]
        upd = (
            enc_src.select(F.explode(F.array(*structs)).alias("__e"))
            .select(
                F.col("__e.__j").alias("__j"),
                F.col("__e.__cid").alias("__cid"),
                F.posexplode("__e.__sv").alias("__p", "__x"),
            )
            .groupBy("__j", "__cid", "__p")
            .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("__m"))
            .collect()
        )  # m·k·sub counter rows — the same volume m separate loops ship
        means: dict = {}
        for r in upd:
            means.setdefault(int(r["__j"]), {}).setdefault(
                int(r["__cid"]), {}
            )[int(r["__p"])] = r["__m"]
        books = [_lloyd_update(book, means.get(j, {})) for j, book in enumerate(books)]
    return books


def _pq_sub(corpus: DataFrame, vec_col: str, m: int) -> int:
    """Subspace width ``dim // m`` from the first non-null vector; fails on
    an empty corpus or a width that ``m`` does not divide."""
    head = corpus.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if head is None:
        raise ValueError("empty corpus (no non-null vectors)")
    dim = len(head[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    return dim // m


def _sub_best(vec_col: str, books: list, sub: int) -> list:
    """Per-subspace literal argmin structs (``_kmeans_best``) of
    ``vec_col`` against each codebook."""
    return [
        _kmeans_best(f"slice(`{vec_col}`, {j * sub + 1}, {sub})", book)
        for j, book in enumerate(books)
    ]


def _pq_codes(vec_col: str, books: list, sub: int) -> list:
    """The PQ code columns ``__code_0..__code_{m-1}`` of ``vec_col``."""
    return [
        best["centroid_id"].alias(f"__code_{j}")
        for j, best in enumerate(_sub_best(vec_col, books, sub))
    ]


def _sq_dist(a, b) -> float:
    """9dp squared L2 of two float sequences, summed left to right — the
    driver-side twin of ``_d2_sql``."""
    return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 9)


def _adc_tables(vec, books: list, sub: int) -> list:
    """One query vector's ADC lookup tables: entry ``c`` of table ``j`` is
    the squared distance of the vector's ``j``-th slice to center ``c``
    of codebook ``j``."""
    return [
        [_sq_dist(vec[j * sub : (j + 1) * sub], book[c]) for c in sorted(book)]
        for j, book in enumerate(books)
    ]


def _adc_ranked(pairs: DataFrame, m: int, k: int, exclude_self: bool,
                keep: tuple = ()) -> DataFrame:
    """ADC top-k over (corpus codes × query tables) pairs: a pair's
    approximate squared distance is the 9dp sum of its ``m`` table
    lookups ``__lut_j[__code_j]``, ranked ascending."""
    total = F.lit(0.0)
    for j in range(m):
        total = total + F.element_at(
            F.col(f"__lut_{j}"), F.col(f"__code_{j}") + 1
        )
    scored = pairs.select(
        "query_id", "neighbor_id", *keep, F.round(total, 9).alias("adc")
    )
    return _ranked(scored, k, by="adc", desc=False, exclude_self=exclude_self)


def _query_lut_frame(
    queries: DataFrame, query_id: str, rows: list, m: int, *, with_list_id: bool
) -> DataFrame:
    """The per-query ADC tables as an Arrow-backed local relation
    ``(query_id[, list_id], __lut_0..__lut_{m-1})`` for broadcast — the
    join-based replacement for compiling every query's tables into the
    plan as literals. Row count is |Q| (plain ADC) or |Q|·nprobe (IVF-PQ:
    one row per probed list, which is also exactly the residual-mode
    table granularity)."""
    import pandas as pd
    from pyspark.sql import types as T

    qid_field = queries.select(query_id).schema.fields[0]
    fields = [T.StructField("query_id", qid_field.dataType, True)]
    cols = ["query_id"]
    if with_list_id:
        fields.append(T.StructField("list_id", T.LongType(), False))
        cols.append("list_id")
    for j in range(m):
        fields.append(
            T.StructField(f"__lut_{j}", T.ArrayType(T.DoubleType()), False)
        )
        cols.append(f"__lut_{j}")
    pdf = pd.DataFrame(rows, columns=cols)
    return queries.sparkSession.createDataFrame(
        pdf, schema=T.StructType(fields)
    )


def pq_encode(
    corpus: DataFrame,
    *,
    m: int = 2,
    k: int = 4,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the compression half of
    IVF-PQ, the production ANN memory format: the ``dim`` dimensions
    split into ``m`` equal subspaces, each subspace trains its own
    ``k``-center codebook (the deterministic Lloyd loop above), and every
    vector is encoded as its per-subspace nearest-center code — ``m``
    small integers instead of ``dim`` floats (here 2×2 bits replacing
    64×4 bytes; production uses m=8..64, k=256 for ~100× compression).
    Per-subspace squared quantization error is reported per row — the
    number that picks m/k.

    Physical shape at 100 TB: codebook training is ``m`` short Lloyd
    loops over SLICED vectors (each round: literal-argmin scan + an
    (center, dim) counter agg — no corpus shuffle, see
    ``kmeans_centers``); encoding is ONE pass with all ``m`` argmins as
    literal expressions in the same codegen projection — zero shuffle,
    zero joins. Deterministic end to end ⇒ unrolled-SQL oracle.

    Returns (id_col, code_0..code_{m-1}, err_0..err_{m-1}) with codes in
    [0, k) and 9dp-rounded per-subspace squared errors.
    """
    sub = _pq_sub(corpus, vec_col, m)
    books = _pq_train_books(
        corpus, id_col, m=m, sub=sub, k_centers=k, iterations=iterations,
        vec_col=vec_col,
    )
    cols = [F.col(id_col)]
    for j, best in enumerate(_sub_best(vec_col, books, sub)):
        cols.append(best["centroid_id"].alias(f"code_{j}"))
        cols.append(best["__d2"].alias(f"err_{j}"))
    return corpus.select(*cols)


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    m: int = 2,
    k_centers: int = 4,
    iterations: int = 1,
    k: int = 3,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Asymmetric distance computation (ADC) over PQ codes — the search
    half of IVF-PQ (Jégou et al. 2011 §IV): per query, a (m × k_centers)
    table of exact query-slice→center distances is precomputed, and every
    corpus vector's approximate distance is just the SUM of m table
    lookups indexed by its codes — k·m adds per pair instead of ``dim``
    multiply-adds, the arithmetic that makes billion-vector search fit a
    memory budget.

    Physical shape at 100 TB: codebooks train as in ``pq_encode`` (no
    corpus shuffle); the query side is dimension-sized and COLLECTS (the
    ``cosine_topk`` contract, fail-fast capped); corpus codes and all
    per-query ADC sums evaluate as literal expressions in ONE codegen
    projection over the corpus scan; the only shuffle is the final
    per-query top-k window on |corpus|·|Q| scored rows — the same output
    shape as brute force, reached without touching the vectors a second
    time. Deterministic (9dp distances, id tie-breaks) ⇒ SQL oracle.

    Returns (query_id, neighbor_id, adc, rank) — rank ≤ k by ascending
    approximate squared distance.
    """
    sub = _pq_sub(corpus, corpus_vec, m)
    books = _pq_train_books(
        corpus, corpus_id, m=m, sub=sub, k_centers=k_centers,
        iterations=iterations, vec_col=corpus_vec,
    )
    q_rows = _collect_capped(
        queries.select(query_id, query_vec), max_query_rows,
        "pq_adc_topk collects the query side to the driver",
        "Shard the query side or use ivf_topk for corpus-sized query sides.",
    )
    # per-query ADC tables shipped as a BROADCAST relation of (query_id,
    # lut_0..lut_{m-1}) rows rather than per-query literal expressions —
    # the scoring expression is m element_at lookups regardless of |Q|,
    # where the literal formulation compiled |Q|·m·k_centers constants into
    # the plan (codegen time grew with the query batch; found while
    # profiling ivfpq_recall)
    tables = [
        (qid, *_adc_tables([float(x) for x in qvec], books, sub))
        for qid, qvec in q_rows
    ]
    coded = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), *_pq_codes(corpus_vec, books, sub)
    )
    qplan = _query_lut_frame(queries, query_id, tables, m, with_list_id=False)
    return _adc_ranked(coded.crossJoin(F.broadcast(qplan)), m, k, exclude_self)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    n_lists: int | str = 8,
    nprobe: int = 2,
    m: int = 2,
    k_centers: int = 4,
    pq_iterations: int = 1,
    coarse_iterations: int = 0,
    k: int = 3,
    residual: bool = False,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ — the combined production ANN index (Jégou et al. 2011):
    a coarse quantizer routes every corpus vector into one of ``n_lists``
    inverted lists; each query probes only its ``nprobe`` nearest lists
    and ranks candidates by ADC table lookups over their PQ codes. This
    is the scale answer to plain ADC's |corpus|·|queries| pair growth:
    the probed fraction cuts the candidate set by ``nprobe / n_lists``
    BEFORE any per-pair arithmetic, and the per-pair arithmetic is m
    lookups. By default codes quantize the RAW vectors; pass
    ``residual=True`` for genuine residual encoding — codebooks train on
    ``vec − coarse_center[list]`` and each query's ADC tables are built
    per probed list from its OWN residual, which recovers recall when
    the lists capture most of the variance. The oracle-checked
    configuration stays ``residual=False``; the residual path is
    unit-tested to dominate it on clustered data.

    ``coarse_iterations=0`` keeps the coarse quantizer at its
    deterministic first-n-by-id seeds (the ``centroids_by_id`` oracle
    contract); production passes >0 for trained lists — same machinery.
    Above 256 lists, routing switches to the numpy/Arrow assigner; see
    ``kmeans_lloyd`` for the numeric contract of that switch (BLAS
    expansion + round-half-even may break argmin ties differently than
    the literal fold on large-magnitude vectors).

    Physical shape at 100 TB: list routing + codes + every per-query
    (probe-gate, ADC) pair are literal expressions in ONE codegen
    projection over the corpus scan; non-probed pairs are filtered IN
    the scan stage before the only shuffle (the per-query top-k window,
    now over the probed fraction instead of everything).

    Returns (query_id, neighbor_id, list_id, adc, rank).
    """
    sub = _pq_sub(corpus, corpus_vec, m)
    if n_lists == "auto":
        # the fixed-list-count trap is the nbits/n_buckets trap again:
        # probed candidate work is n·nprobe/n_lists, so a constant
        # n_lists loses its cut as the corpus grows. The standard
        # heuristic n_lists ≈ √n keeps probed work ∝ √n per query.
        n_lists = max(8, min(1 << 16, math.isqrt(max(corpus.count(), 1))))
    coarse = kmeans_centers(
        corpus, n=n_lists, iterations=coarse_iterations,
        id_col=corpus_id, vec_col=corpus_vec,
    )
    # Above the literal threshold, routing (and the residual subtraction)
    # runs in the numpy/Arrow assigner — the literal centers_arr +
    # _kmeans_best formulation compiles ~n_lists·dim literals per row and
    # stops being a compilable plan at the √n scale 'auto' targets
    # (found in review). Both branches stage (id, list_id, vector).
    if len(coarse) > _LITERAL_ASSIGN_MAX_CENTERS:
        # persisted: the full-corpus numpy routing pass feeds codebook
        # seeding, every Lloyd round, AND the final encode — without the
        # persist it would re-execute per consumer, and a
        # non-deterministic source could route training and encoding
        # differently (round-7 advisory). Same persist-and-let-LRU-evict
        # pattern as lsh_candidate_pairs' banded stage.
        routed = _kmeans_assign_arrow(
            corpus.select(
                corpus_id, F.col(corpus_vec).cast("array<double>").alias("__vv")
            ),
            "__vv", coarse, residual=residual,
        ).persist()
        enc_src = routed.select(F.col(corpus_id), F.col("__vv").alias("__rv"))
        staged = routed.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col("centroid_id").alias("list_id"),
            "__vv",
        )
    else:
        # SQL-string build (one py4j call) — n_lists·dim F.lit calls cost
        # ~1 s of driver time at 8×64; see _d2_sql. Centroid ids are the
        # dense 0..n-1 of the centroids_by_id seeds, so id + 1 indexes it.
        centers_arr = F.expr(
            "array(" + ",".join(
                "array(" + ",".join(_lit_d(x) for x in coarse[cid]) + ")"
                for cid in sorted(coarse)
            ) + ")"
        )
        list_col = _kmeans_best(f"`{corpus_vec}`", coarse)["centroid_id"]
        rv = F.col(corpus_vec).cast("array<double>")
        if residual:
            rv = F.zip_with(
                F.col(corpus_vec), F.element_at(centers_arr, list_col + 1),
                lambda x, y: x.cast("double") - y,
            )
        enc_src = corpus.select(F.col(corpus_id), rv.alias("__rv"))
        staged = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            list_col.alias("list_id"),
            F.col(corpus_vec).cast("array<double>").alias("__vv"),
        )
        if residual:
            ctr = F.element_at(centers_arr, F.col("list_id") + 1)
            staged = staged.withColumn(
                "__vv", F.zip_with(F.col("__vv"), ctr, lambda x, y: x - y)
            )
    books = _pq_train_books(
        enc_src, corpus_id, m=m, sub=sub, k_centers=k_centers,
        iterations=pq_iterations, vec_col="__rv",
    )
    q_rows = _collect_capped(
        queries.select(query_id, query_vec), max_query_rows,
        "ivfpq_topk collects the query side to the driver",
        "Shard the query batch.",
    )
    # one (query_id, list_id, luts) row per PROBED list — the probe gate
    # becomes the broadcast equi-join below, and residual mode (where the
    # tables genuinely differ per probed list: the query's residual vs
    # that list's center feeds the lookups) is the SAME row shape
    lut_rows = []
    for qid, qvec in q_rows:
        qd = [float(x) for x in qvec]
        dists = sorted((_sq_dist(qd, c), cid) for cid, c in coarse.items())
        luts = None if residual else _adc_tables(qd, books, sub)
        for lid in sorted(cid for _, cid in dists[:nprobe]):
            if residual:
                resid = [a - b for a, b in zip(qd, coarse[lid])]
                luts = _adc_tables(resid, books, sub)
            lut_rows.append((qid, lid, *luts))
    coded = staged.select("neighbor_id", "list_id", *_pq_codes("__vv", books, sub))
    qplan = _query_lut_frame(queries, query_id, lut_rows, m, with_list_id=True)
    # the broadcast equi-join on list_id IS the probe gate: a corpus row
    # pairs with exactly the queries that probed its list, and the ADC
    # expression stays m lookups regardless of |Q| (the literal-per-query
    # formulation compiled |Q|·m·k_centers constants — codegen time grew
    # with the query batch)
    return _adc_ranked(
        coded.join(F.broadcast(qplan), "list_id"), m, k, exclude_self,
        keep=("list_id",),
    )


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 3,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact brute-force squared-L2 top-k — the ground truth the PQ/ADC
    family approximates (cosine_topk's metric twin; same fail-fast query
    cap). Distances round to 9dp with neighbor-id tie-breaks, so the
    ranking is engine-exact.

    Physical shape: the query side BROADCASTS into a nested-loop join and
    d2 is a codegen ``zip_with``+``aggregate`` fold over the two array
    COLUMNS — the plan is O(1) in the number of queries. (The original
    formulation exploded a literal struct per collected query; at ~40
    queries × 64 dims the plan's analysis/codegen alone cost more than
    the 80k-pair scan it produced — measured 4.8 s warm vs 0.4 s for
    this join, identical results.) The |Q|·|C| pair stream is the point
    of exact ground truth; cap the query side or sample it for audits.

    Returns (query_id, neighbor_id, d2, rank)."""
    probe = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    _collect_capped(
        probe.select("query_id"), max_query_rows,
        "l2_topk broadcasts the query side",
        "Shard the query side or sample it for audits.",
    )
    dim = _probe_dim(corpus, corpus_vec)
    scored = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec))
        .join(
            F.broadcast(probe),
            F.lit(True) if not exclude_self
            else F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id", "neighbor_id",
            F.round(_d2_score(corpus_vec, "__qv", dim), 9).alias("d2"),
        )
    )
    return _ranked(scored, k, by="d2", desc=False)
