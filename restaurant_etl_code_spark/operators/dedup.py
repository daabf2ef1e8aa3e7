"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

Generalizes the reference's dedup surface (J1 ``drop_duplicates`` at
extract_menu_with_gemini_op.py:115, J2 precheck anti-join at
batch_processor.py:367-404) into the full dedup toolbox a training-data
pipeline needs: hash-groupBy exact dedup, MinHash+LSH, SimHash, and n-gram
Jaccard near-dup.

Scale notes (the design constraint for every function here):

- **Signature computation is an Arrow-batched ``mapInPandas`` stage** —
  embarrassingly parallel, zero-shuffle. A pure array-lambda-expression
  version was tried first and benchmarked 6× slower at sf0.1: Spark's
  interpreted higher-order functions re-evaluate captured subexpressions
  (the tokenize tree) once per array element, making shingling O(tokens²)
  per document, and CollapseProject folds staged projections back together
  so intermediate materialization cannot help. hashlib.md5 over Arrow
  batches is the measured-faster, still fully deterministic path.
- **Only candidate generation shuffles**, on band-hash / shingle keys whose
  cardinality grows with data, so partitions stay bounded at any scale.
- **All hash functions are md5-derived** (hex prefix → int). md5 is
  identical across Python, Spark, DuckDB, and any other engine, which makes
  every operator here exactly oracle-checkable — and reproducible across
  reruns of a 100 TB job, unlike JVM-seeded ``xxhash64`` defaults.

Each step the entries share has ONE private helper:

- ``_text_stage`` (with its memoized n-gram hasher ``_ngram_hashes``) is
  the Arrow text stage behind ``minhash_signatures``, ``simhash``,
  ``shingle_rows`` and ``winnow_fingerprints``;
- ``_band_self_join`` is the persisted, co-partitioned LSH band self-join
  behind ``lsh_candidate_pairs``, ``minhash_estimate_pairs`` and
  ``incremental_lsh_pairs`` (``_est_jaccard`` is the signature agreement
  fold it and ``minhash_fuzzy_join`` score with);
- ``_drop_heavy_keys`` is the heavy-key valve of every inverted index
  (n-gram, winnow, fuzzy-join bands, CDC chunks), and ``_pair_counts``
  the shared-key pair count of the n-gram and winnow indexes.
"""

from __future__ import annotations

import hashlib
import re
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from restaurant_etl_code_spark.operators._arrow import widen_for_codec as _widen
from restaurant_etl_code_spark.functions import text as Ftext

__all__ = [
    "dedup_keep_first",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "incremental_lsh_pairs",
    "minhash_estimate_pairs",
    "minhash_fuzzy_join",
    "simhash",
    "simhash_banded_pairs",
    "shingle_rows",
    "hamming_distance",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "connected_components",
    "canonical_by_quality",
    "winnow_fingerprints",
    "winnow_pairs",
    "cluster_size_histogram",
    "lsh_geometry_plan",
    "choose_band_geometry",
    "release_persisted_intermediates",
]


# ---------------------------------------------------------------------------
# Persisted-intermediate lifetime contract (r17 verdict order 7)
#
# Several operators below persist a corpus-sized intermediate (the banded
# LSH rows, the shingle inverted index) because two or more branches of
# the SAME query plan read it — without the cache each branch re-runs the
# Arrow shingling/signature stage. The persist is intentionally NOT
# unpersisted inside the operator: the returned DataFrame is lazy, so the
# blocks must survive until the caller's action has run. The contract:
#
# - WITHIN one query execution the persist is load-bearing (one Arrow
#   pass feeds all branches) and Spark's LRU eviction bounds it.
# - ACROSS queries in a long-lived session the blocks accumulate
#   (MEMORY_AND_DISK, corpus-sized): call
#   ``release_persisted_intermediates()`` after consuming each dedup
#   query's result, or ``spark.catalog.clearCache()`` for session-wide
#   hygiene (what bench.py does per row).
_PERSISTED_INTERMEDIATES: list[DataFrame] = []


def _persist_intermediate(df: DataFrame) -> DataFrame:
    """``persist()`` + registration, so sessions composing several dedup
    queries can release the corpus-sized blocks between queries (see the
    lifetime contract above)."""
    out = df.persist()
    _PERSISTED_INTERMEDIATES.append(out)
    return out


def release_persisted_intermediates() -> int:
    """Unpersist every intermediate a dedup operator persisted in this
    process. Safe at any time — an unpersisted plan recomputes; call it
    once the query's result has been materialized. Returns the number of
    frames released."""
    released = 0
    while _PERSISTED_INTERMEDIATES:
        df = _PERSISTED_INTERMEDIATES.pop()
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass  # session already stopped — nothing left to hold blocks
    return released


def dedup_keep_first(df: DataFrame, subset: list[str], order_by: list[str]) -> DataFrame:
    """J1 with deterministic "first": pandas ``drop_duplicates(keep='first')``
    depends on physical row order, which a distributed scan does not have.
    We make the order explicit: keep the row ranking first by ``order_by``
    within each ``subset`` group (reference: extract_menu_with_gemini_op.py:115).
    """
    w = Window.partitionBy(*subset).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate grouping by content fingerprint (md5 of normalized
    text). Returns one row per distinct content: canonical (min) id + dup
    count. Hash-groupBy shuffles 32-byte digests, not document bodies — the
    only scalable way to exact-dedup 100 TB of text."""
    return (
        df.select(Ftext.fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# Odd multiplier for the affine MinHash family (Knuth's 2^32 golden ratio)
MINHASH_SALT = 2654435761
# Mersenne prime 2^31-1: the modulus that makes the family a REAL
# universal-hash MinHash family — h_i(s) = (a_i·(h mod p) + b_i) mod p
# with salt-derived a_i ∈ [1, p−1], b_i ∈ [0, p−1] (Broder 1997; Carter
# & Wegman). The previous family h_i = (2i+1)·h + b_i was strictly
# MONOTONE in h (the products never exceeded int64, nothing wrapped),
# so min over shingles selected the SAME argmin shingle for every i —
# all num_hashes components were affine images of ONE minhash,
# component agreement was all-or-nothing, and LSH banding degenerated
# to a single-minhash Bernoulli(j) test for EVERY geometry (measured
# r17: 4x4 and 8x2 produced byte-identical candidate sets, recall
# 0.9117 = mean jaccard of the true pairs — the minhash_recall audit
# caught it). The mod-p reduction wraps the ordering differently per
# i. Exactness bounds: a_i·h' + b_i < (2^31)² + 2^31 < 2^63, so
# numpy/DuckDB/Spark int64 arithmetic agrees bit-for-bit, no overflow
# on any engine, for any num_hashes.
MINHASH_PRIME = 2147483647


def _py_norm_tokens(text: str) -> list[str]:
    """Python twin of functions.text.tokens (normalize → whitespace split)."""
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


# Python twin of functions.text.INVISIBLE_PATTERN, translated from the
# shared \x{...} constant at import time so the two cannot drift.
_INVISIBLE_PY_RE = re.compile(
    re.sub(
        r"\\x\{([0-9A-Fa-f]+)\}",
        lambda m: "\\u%04x" % int(m.group(1), 16),
        Ftext.INVISIBLE_PATTERN,
    )
)


def _py_normalize_scrub(text: str) -> str:
    """Python twin of scrub_invisible ∘ unicode_normalize(NFC) — the
    dedup_normalized pre-pass, applied inside the Arrow signature stage
    so NEAR-dup (not just exact dup) is normalization-robust: a
    decomposed-accent or ZWSP-injected clone shingles to the same
    k-grams as its original instead of missing every shingle that
    straddles the injected byte."""
    import unicodedata

    return _INVISIBLE_PY_RE.sub("", unicodedata.normalize("NFC", text))


def _py_hash52(s: str) -> int:
    """Python twin of the engines' md5-hex-prefix 52-bit hash; the
    MinHash family reduces it mod MINHASH_PRIME before the affine
    reshuffle (see the constant's comment for the exactness bounds).

    Computed off the raw digest: the first 13 hex chars of the md5 are
    exactly the top 52 bits of the first 7 digest bytes, so
    ``int.from_bytes(digest[:7]) >> 4`` is bit-identical to
    ``int(hexdigest[:13], 16)`` while skipping the hex render + parse
    (~3.5x faster per call — this is the innermost loop of every
    shingle-hashing Arrow stage)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:7], "big") >> 4


# Per-Arrow-batch hash-memo entry cap (r17 ADVICE): the memo trades one
# md5 per occurrence for one per *distinct* string, but a mostly-unique
# batch (the opposite of the near-dup corpora measured at ~10% distinct)
# would otherwise grow the dict to the batch's full text volume plus
# ~100 B/entry dict overhead. Past the cap, misses simply recompute the
# hash — correctness is unaffected, worst-case memory is bounded
# independent of maxRecordsPerBatch. 1M entries ≈ tens of MB of keys for
# typical shingle lengths, far above the distinct count any measured
# batch reaches, so the hit rate at the measured workloads is unchanged.
_MEMO_MAX_ENTRIES = 1 << 20


def _ngram_hashes(
    toks: list[str], n: int, memo: dict[str, int], memo_max: int
) -> list[int]:
    """``_py_hash52`` of every token ``n``-gram (``n=1``: every token)
    through the Arrow batch's ``memo``: near-dup corpora repeat most
    n-grams across documents (measured ~10% unique at sf0.1), so one md5
    per *distinct* n-gram replaces one per occurrence. The memo stops
    growing at ``memo_max`` entries; later misses just recompute."""
    grams = toks if n == 1 else [
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    ]
    memo_get = memo.get
    out = []
    for s in grams:
        v = memo_get(s)
        if v is None:
            v = _py_hash52(s)
            if len(memo) < memo_max:
                memo[s] = v
        out.append(v)
    return out


def _text_stage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fields: list[T.StructField],
    per_doc: Callable,
    *,
    normalize: bool = False,
    null_row: bool = False,
) -> DataFrame:
    """The ONE Arrow text stage: a row-local, zero-shuffle ``mapInPandas``
    over (id, text). For each document, ``per_doc(tokens, hashes)`` returns
    one list of values per ``fields`` entry, all of one length: the rows
    the document emits behind its id (None or empty: none). Tokens are
    ``_py_norm_tokens`` of the text, after the NFC + invisible scrub when
    ``normalize``; ``hashes(tokens, n)`` is ``_ngram_hashes`` over a
    per-batch memo. NULL text is skipped, or emits one all-NULL row when
    ``null_row``. A batch with no output yields nothing: empty
    object-dtype frames break Arrow list conversion.

    The memo cap is read here, while the plan is built, and ships inside
    the closure."""
    names = [id_col] + [f.name for f in fields]
    null_out = [[None]] * len(fields) if null_row else None
    memo_max = _MEMO_MAX_ENTRIES

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            memo: dict[str, int] = {}

            def hashes(toks: list[str], n: int) -> list[int]:
                return _ngram_hashes(toks, n, memo, memo_max)

            cols: list[list] = [[] for _ in names]  # ids first
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    out = null_out
                else:
                    if normalize:
                        text = _py_normalize_scrub(text)
                    out = per_doc(_py_norm_tokens(text), hashes)
                if not out:
                    continue
                cols[0].extend([doc_id] * len(out[0]))
                for col, values in zip(cols[1:], out):
                    col.extend(values)
            if not cols[0]:
                continue
            yield pd.DataFrame({
                name: pd.Series(col, dtype=object)
                for name, col in zip(names, cols)
            })

    schema = T.StructType([df.schema[id_col], *fields])
    return _widen(df.select(id_col, text_col), id_col, per_row="light").mapInPandas(
        mapper, schema=schema
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16,
    shingle_n: int = 3, normalize: bool = False,
) -> DataFrame:
    """(id, signature) for every shingle-able document. Zero shuffle.

    Cost model: ONE md5 per shingle, then ``num_hashes`` multiply-add-mods
    per shingle — the classic universal-hash MinHash family
    ``h_i(s) = (a_i·(md5_52(s) mod p) + b_i) mod p`` over the Mersenne
    prime p = 2^31−1 with salt-derived ``a_i``/``b_i`` — in an
    Arrow-batched Python stage (see module docstring for why this beats
    the array-lambda plan). The mod-p wrap is LOAD-BEARING: a monotone
    affine map (the pre-r17 family) makes every component pick the same
    argmin shingle (see ``MINHASH_PRIME``) — the r17 ``minhash_recall``
    audit measured that degenerate family giving geometry-independent
    Bernoulli(j) banding.

    ``normalize=True`` applies the NFC + invisible-scrub pre-pass
    (the ``dedup_normalized`` composition) before shingling, so near-dup
    detection is robust to decomposed accents and zero-width injection —
    without it, ONE injected ZWSP perturbs every shingle crossing it and
    a byte-identical-after-normalization clone can miss every band.
    Cost is row-local (one C-loop NFC + one regex sub per doc) inside
    the same Arrow stage; the shuffle shape is unchanged.
    """
    # universal family as int64 vectors: a_i·h' + b_i < 2^63 for
    # h' < p = 2^31−1, so numpy arithmetic is exact
    p = MINHASH_PRIME
    coeff_a = np.array(
        [(i * MINHASH_SALT) % (p - 1) + 1 for i in range(num_hashes)],
        dtype=np.int64,
    )
    coeff_b = np.array(
        [(i * MINHASH_SALT) % p for i in range(num_hashes)], dtype=np.int64
    )

    def signature(toks, hashes):
        if len(toks) < shingle_n:
            return None
        hs = np.array(hashes(toks, shingle_n), dtype=np.int64)
        # (|shingles| × num_hashes) multiply-add-mod + column-min in C
        return [[(((hs[:, None] % p) * coeff_a + coeff_b) % p)
                 .min(axis=0).tolist()]]

    return _text_stage(
        df, id_col, text_col,
        [T.StructField("signature", T.ArrayType(T.LongType()), False)],
        signature, normalize=normalize,
    )


def _check_band_geometry(num_hashes: int, bands: int, rows_per_band: int) -> None:
    """bands·rows_per_band must fit the signature: an oversized geometry
    slices past the signature's end, every such band hashes the EMPTY
    array to one identical band_hash, and the band equi-join degenerates
    into an all-pairs cross product with no error (found in review)."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"band geometry {bands}x{rows_per_band} exceeds the "
            f"{num_hashes}-hash signature — bands*rows_per_band must be "
            f"<= num_hashes (empty band slices would collide everything)"
        )


def _banded_rows(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    *,
    id_alias: str | None = None,
    keep_signature: bool = False,
    sig_alias: str = "signature",
) -> DataFrame:
    """The ONE definition of LSH banding (explode band_idx → slice → md5 of
    the comma-joined band) shared by the self-join candidate generator, the
    signature-estimate scorer, and the two-table fuzzy join — the banding
    recipe is load-bearing for oracle parity, so it must not fork.

    Geometry is verified against the DATA, per row: a signature narrower
    than bands×rows_per_band would slice past its end, every such band
    would hash the empty array to ONE shared band_hash, and the band
    equi-join would silently degenerate into an all-pairs cross product —
    a caller-supplied width parameter can't be trusted to match prebuilt
    signatures (found in review), so the check rides the band_hash
    expression itself (it can't be pruned away) and raises at execution.
    """
    need = bands * rows_per_band
    out_id = id_alias or id_col
    band_hash = F.when(
        F.size(F.col("signature")) >= F.lit(need),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col("signature"),
                        F.col("band_idx") * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"band geometry {bands}x{rows_per_band} exceeds this "
                    "signature's width "
                ),
                F.size(F.col("signature")).cast("string"),
                F.lit(
                    " — empty band slices would collide everything; "
                    "lower bands*rows_per_band or rebuild signatures wider"
                ),
            )
        )
    )
    cols = [
        F.col(id_col).alias(out_id),
        F.col("band_idx"),
        band_hash.alias("band_hash"),
    ]
    if keep_signature:
        cols.append(F.col("signature").alias(sig_alias))
    return signatures.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
        F.col("signature"),
    ).select(*cols)


def _pair_ids(id_col: str) -> list[Column]:
    """(id_a, id_b) out of a self-join aliased ``a``/``b``."""
    return [F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")]


def _band_self_join(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    num_hashes: int | None,
    *,
    keep_signature: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The ONE LSH band self-join: returns the banded rows, repartitioned
    on the bucket key and PERSISTED (both join sides, and any other
    consumer, read one Arrow signature pass from a co-partitioned cache),
    and their self-join aliased ``a``/``b`` on (band_idx, band_hash) with
    ``a.id < b.id`` — one row per colliding band, so callers ``distinct``.
    ``num_hashes`` is the optional plan-time geometry check; the per-row
    check rides ``_banded_rows``. With ``keep_signature`` both sides carry
    full signatures, so the join is hinted to sort-merge: a broadcast
    build (AQE's pick at test scale) would OOM at corpus scale."""
    if num_hashes is not None:
        _check_band_geometry(num_hashes, bands, rows_per_band)
    banded = _persist_intermediate(
        _banded_rows(
            signatures, id_col, bands, rows_per_band,
            keep_signature=keep_signature,
        ).repartition("band_idx", "band_hash")
    )
    right = banded.alias("b")
    if keep_signature:
        right = right.hint("merge")
    pairs = banded.alias("a").join(right, ["band_idx", "band_hash"]).filter(
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    return banded, pairs


def _est_jaccard(sig_a: Column, sig_b: Column, width: Column) -> Column:
    """Signature-estimated Jaccard, 6dp: the number of agreeing MinHash
    components (a codegen ``zip_with`` + ``aggregate`` fold, no join back
    to the signatures) over ``width``."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.round(agree.cast("double") / width, 6).alias("est_jaccard")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 2,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` hashes, hash each band, and emit candidate pairs that
    collide in ≥1 band (id_a < id_b, distinct).

    Physical shape: a self-equi-join of the banded rows on
    (band_idx, band_hash) — a high-cardinality key, so co-partitioning
    holds at any scale. The banded stage is repartitioned on the bucket key
    and PERSISTED before the self-join: the Arrow signature pipeline runs
    once and both branches read the co-partitioned cache. (The earlier
    pinned-Exchange/ReusedExchange formulation rotted — AQE's
    broadcast-join conversion bypasses the exchange and re-ran the
    signature stage per branch; the cache holds under any join strategy.)
    Quadratic pair *output* for a hot bucket (boilerplate docs) is inherent
    to LSH, but it streams through the join's spillable buffer — an earlier
    formulation that collected each bucket into an array and expanded pairs
    with nested ``transform``/``slice`` materialized all O(B²) structs of a
    bucket in ONE row and OOM'd the executor on a 10× blow-up probe; never
    build per-row quadratic arrays.

    Geometry is verified against the signatures' ACTUAL width per row
    inside the banding stage (see ``_banded_rows``) — an oversized
    bands×rows_per_band slicing past the signature end would hash every
    empty band slice to one shared band_hash and degenerate the equi-join
    into an all-pairs cross product. ``num_hashes`` is an optional
    plan-time hint: pass it to ALSO fail fast before any job runs.

    The default geometry is the planner's choice for a 16-hash
    signature at the t=0.8 dedup threshold with a 95% recall target:
    8x2 per :func:`choose_band_geometry` (recall 0.99972; the legacy
    4x4 default recalled only 0.8785 — silent corpus dupes — for
    ~16.5x less candidate noise). For other signature widths or
    thresholds, size the geometry with :func:`lsh_geometry_plan` /
    :func:`choose_band_geometry` rather than guessing.
    """
    _, pairs = _band_self_join(
        signatures, id_col, bands, rows_per_band, num_hashes)
    return pairs.select(*_pair_ids(id_col)).distinct()


def lsh_component_edges(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 2,
    num_hashes: int | None = None,
) -> DataFrame:
    """Celebrity-cluster-proof edge set for COMPONENT consumers of LSH:
    connected components over this edge set are PROVABLY identical to
    components over ``lsh_candidate_pairs``, but a hot near-dup cluster
    costs linear edges instead of a quadratic pair bucket.

    Why it is exact: docs with identical signatures hash to identical
    band buckets, so (a) all of them band-collide pairwise (the star
    below spans them) and (b) any band collision of a member is also a
    collision of its representative (edge (rep, x) stands in for every
    (member, x)). Union of the star and rep-level pairs therefore has
    the same transitive closure as the full pair set — no approximation,
    the DuckDB all-pairs oracle stays hash-identical.

    Why it matters at 100 TB: LSH's worst case is one boilerplate /
    celebrity cluster of B near-identical docs — ``lsh_candidate_pairs``
    MUST emit the O(B²) pair rows (pair semantics), but a consumer that
    only resolves clusters (leakage-safe split, cluster audits,
    curation canonicalization) never needed the pairs. Collapsing by
    exact signature first bounds the blow-up at B·bands band rows and
    B-1 star edges; only DISTINCT signatures reach the band self-join
    (the r9 skew probe's 2.84× hot-cluster ratio is this wired in as
    the default — VERDICT r9 task 3).

    Use ``lsh_candidate_pairs`` when the pairs themselves are the
    product; use this whenever the next step is
    ``connected_components``.

    Returns (id_a, id_b) with id_a < id_b (the star's rep is the group
    min, so the invariant holds on both branches).
    """
    sigs = signatures.select(id_col, "signature")
    # one shuffle on the signature key; grouping on the full array is
    # EXACT (a hashed key could collide two distinct signatures and
    # silently merge unrelated components)
    rep_w = Window.partitionBy("signature")
    # persisted: the star and rep branches below both read this frame,
    # and without the cache each re-runs the upstream Arrow signature
    # stage (the lsh_candidate_pairs banded-persist rationale)
    tagged = _persist_intermediate(
        sigs.withColumn("__rep", F.min(id_col).over(rep_w)))
    star = tagged.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    rep_sigs = tagged.filter(F.col(id_col) == F.col("__rep")).select(
        id_col, "signature"
    )
    pairs = lsh_candidate_pairs(
        rep_sigs, id_col, bands=bands, rows_per_band=rows_per_band,
        num_hashes=num_hashes,
    )
    return pairs.unionByName(star)


def minhash_estimate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 2,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH candidates SCORED from the signatures already in hand: the
    fraction of agreeing MinHash components is an unbiased estimator of
    Jaccard similarity, so candidate pairs get a similarity score without a
    second shingling pass and without the shingle-index intersection join —
    at 100 TB that is the difference between re-reading the corpus and a
    signature-table self-join. Exact Jaccard (``ngram_jaccard_pairs``) then
    runs only on pairs the estimate clears, as post-verification.

    Physical shape: the SAME single banding self-join as
    ``lsh_candidate_pairs`` — but the signature column rides the banded
    rows through the join, so scoring needs no joins back to the signature
    table (an earlier formulation re-joined twice and, with the banding
    branches, re-ran the Arrow signature stage four times). The banded
    stage is persisted like the candidate generator's (one Arrow pass,
    both branches read co-partitioned cache), one distinct dedupes pairs
    colliding in several bands, and the agreement fold is a codegen
    ``zip_with`` + ``aggregate`` over the signature's elements per pair
    (the denominator is ``size(signature)``, the data's actual width).
    Geometry is verified per row against the actual signature width in
    ``_banded_rows``; ``num_hashes`` is an optional plan-time hint.
    """
    _, pairs = _band_self_join(
        signatures, id_col, bands, rows_per_band, num_hashes,
        keep_signature=True,
    )
    sig_a = F.col("a.signature")
    return pairs.select(
        *_pair_ids(id_col),
        _est_jaccard(sig_a, F.col("b.signature"), F.size(sig_a)),
    ).distinct()


def minhash_fuzzy_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    k: int = 1,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Two-TABLE fuzzy text match: each query document's top-``k`` corpus
    matches by signature-estimated Jaccard among LSH band collisions — the
    reference's similarity top-1 join (SURVEY J6, embeddings over names)
    re-expressed for raw TEXT at corpus-vs-corpus scale, and the batch
    building block for entity resolution / record linkage pipelines.

    Physical shape (all corpus-safe): both sides shingle+sign in one Arrow
    pass each (zero shuffle), band rows equi-join on (band_idx, band_hash)
    — high-cardinality key, co-partitioned shuffle, NO broadcast of either
    corpus — signatures ride the banded rows so scoring is a codegen
    zip_with fold with no join back, one distinct collapses multi-band
    collisions, and top-k per query is a WindowGroupLimit (per-partition
    heap). A query whose true match shares no band is missed — the
    standard LSH recall trade; raise bands or lower rows_per_band to
    trade candidate volume for recall.

    ``max_band_freq`` is the hot-cluster valve (the df-cap pattern from
    the Jaccard index): a band key shared by a giant near-dup CLUSTER
    inflates its join partition by |cluster_c|·|cluster_q| — quadratic in
    cluster size. With the valve set, corpus band keys held by more than
    ``max_band_freq`` corpus rows are dropped from BOTH sides before the
    join (``_drop_heavy_keys``: one counter agg + an anti-join). The trade is
    explicit: queries matching only into a mega-cluster lose those
    candidates — exactly the boilerplate cluster a curation pipeline
    dedups separately. Default None (off) preserves exact semantics.

    Returns (query_id, match_id, est_jaccard, rank), rank ≤ k, ties
    broken by match_id.
    """
    _check_band_geometry(num_hashes, bands, rows_per_band)
    sig_q = minhash_signatures(queries, id_col, text_col, num_hashes, shingle_n)
    sig_c = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_n)

    def banded(sig_df: DataFrame, side: str) -> DataFrame:
        return _banded_rows(
            sig_df, id_col, bands, rows_per_band,
            id_alias=f"{side}_id", keep_signature=True, sig_alias=f"{side}_sig",
        )

    q = banded(sig_q, "query")
    # merge hint: both sides carry full corpus-scale signature payloads; a
    # broadcast build (AQE's pick at test scale) would OOM at corpus scale
    c = banded(sig_c, "match").hint("merge")
    if max_band_freq is not None:
        # keys hot in the CORPUS leave both sides, so the mega-cluster
        # never reaches the join
        keys = ["band_idx", "band_hash"]
        q = _drop_heavy_keys(q, keys, max_band_freq, counted=c)
        c = _drop_heavy_keys(c, keys, max_band_freq)
    scored = (
        q.join(c, ["band_idx", "band_hash"])
        .select(
            "query_id",
            "match_id",
            _est_jaccard(
                F.col("query_sig"), F.col("match_sig"),
                F.lit(float(num_hashes)),
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_jaccard").desc(), F.col("match_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash: per token, a 52-bit md5 hash; bit *b* of the fingerprint is
    set when the signed sum over tokens of (bit b set ? +1 : −1) is positive.
    Arrow-batched Python stage, one md5 per token, numpy for the bit votes —
    zero shuffle."""
    bit_idx = np.arange(bits, dtype=np.int64)
    weights = np.int64(1) << bit_idx

    def fingerprint(toks, hashes):
        hs = np.array(hashes(toks, 1), dtype=np.int64)
        votes = (((hs[:, None] >> bit_idx) & 1) * 2 - 1).sum(axis=0)
        return [[int(weights[votes > 0].sum())]]

    return _text_stage(
        df, id_col, text_col, [T.StructField("simhash", T.LongType(), True)],
        fingerprint, null_row=True,
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3,
    emit_set_size: bool = False,
) -> DataFrame:
    """(id, shingle) rows, one per *distinct* shingle per document — the
    inverted-index input for Jaccard joins. Arrow-batched Python stage for
    the same O(tokens²)-in-interpreted-lambdas reason as the signatures.

    ``emit_set_size=True`` adds the document's distinct-shingle count as a
    ``set_size`` column — known row-locally inside the mapper for free,
    where computing it downstream costs a full shuffle+sort (a window
    partitioned on the id). Only valid when no shingle is dropped between
    here and the consumer (the ``max_df`` cap recomputes sizes after
    capping, so the capped path must NOT use this)."""
    def shingles(toks, hashes):
        distinct = list({
            " ".join(toks[i : i + shingle_n])
            for i in range(len(toks) - shingle_n + 1)
        })
        if emit_set_size:
            return [distinct, [len(distinct)] * len(distinct)]
        return [distinct]

    fields = [T.StructField("shingle", T.StringType(), False)]
    if emit_set_size:
        fields.append(T.StructField("set_size", T.LongType(), False))
    return _text_stage(df, id_col, text_col, fields, shingles)


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — pair filter for SimHash near-dup."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_banded_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    *,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs WITHOUT the all-pairs join — the scale path
    the quadratic Hamming filter cannot provide at 100 TB.

    Pigeonhole blocking, and it is EXACT, not approximate: split the
    ``bits``-bit fingerprint into ``max_hamming + 1`` disjoint blocks; a
    pair within Hamming distance ``max_hamming`` has at most that many
    differing bits, so at least one block carries zero of them and matches
    EXACTLY. Candidates therefore come from a self-equi-join on
    ``(block_idx, block_bits)`` — same physical shape as MinHash LSH
    banding (``lsh_candidate_pairs`` above) — followed by the exact
    popcount verify. Identical result set to the all-pairs filter, but the
    shuffle key is an 8-ish-bit block value + index, and pair work is
    bounded by bucket sizes instead of n².

    Skew note: near-constant fingerprints (e.g. boilerplate-heavy corpora)
    can pile into one block bucket; the mitigation is wider blocks (raise
    ``bits``) or pre-splitting hot buckets by a salt of the OTHER blocks —
    the same valve as ngram_jaccard's ``max_df``.
    """
    n_blocks = max_hamming + 1
    width = -(-bits // n_blocks)
    mask = (1 << width) - 1

    def _block(col: str, j: int):
        return F.shiftrightunsigned(F.col(col), j * width).bitwiseAND(F.lit(mask))

    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_idx"),
                _block(sim_col, i).alias("block_bits"),
            )
            for i in range(n_blocks)
        ]
    )
    banded = sims.select(
        F.col(id_col), F.col(sim_col), F.explode(blocks).alias("b")
    ).select(id_col, sim_col, "b.block_idx", "b.block_bits")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sim_col).alias("__sim_a"),
        "block_idx", "block_bits",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sim_col).alias("__sim_b"),
        "block_idx", "block_bits",
    )
    # A pair agreeing on several blocks would emit once per agreeing block;
    # instead of a distinct() (a full extra shuffle of the pair set), keep a
    # candidate only in its FIRST matching block: every block before
    # block_idx must differ. Pure codegen comparisons on columns the rows
    # already carry — zero extra exchanges.
    first_match = F.lit(True)
    for j in range(n_blocks):
        first_match = first_match & (
            (F.col("block_idx") <= j) | (_block("__sim_a", j) != _block("__sim_b", j))
        )
    return (
        a.join(b, ["block_idx", "block_bits"])
        .filter((F.col("id_a") < F.col("id_b")) & first_match)
        .select(
            "id_a",
            "id_b",
            hamming_distance(F.col("__sim_a"), F.col("__sim_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: explode *distinct* shingles,
    self-join on shingle (the inverted-index join — shuffles on shingle
    text, high cardinality), count intersections, compute
    |A∩B| / (|A|+|B|−|A∩B|), keep pairs ≥ threshold.

    This is the exact counterpart MinHash+LSH approximates; at 100 TB run
    LSH first and this only on the candidate pairs.

    ``max_df`` is the scale valve: a shingle appearing in d documents emits
    d² intersection rows, so one boilerplate shingle shared by 1M docs is
    1e12 rows — unrunnable no matter the plan (a 10× probe of the uncapped
    join filled 80 GB of shuffle spill). Capping drops shingles with
    document frequency > max_df from the index before the join; pairs whose
    overlap is only boilerplate vanish (their true jaccard is what exact
    dedup / LSH already handles). None = exact, for oracle comparison at
    test scale.

    Physical notes: the shingling stage (Arrow mapInPandas) feeds three
    consumers (sizes + both self-join sides) — persist so it runs once.
    The inverted-index join shuffles ``xxhash64(shingle)`` (8 bytes)
    instead of the shingle text; a false intersection needs a 64-bit
    collision (~1e-10 at 1e5 distinct shingles — below any oracle's
    noticing, and irrelevant next to LSH's by-design approximation).
    """
    inter = _shingle_intersections(df, id_col, text_col, shingle_n, max_df)
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_intersections(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, max_df: int | None
) -> DataFrame:
    """Shared inverted-index intersection stage: (id_a < id_b, n_inter,
    size_a, size_b) per document pair sharing ≥1 (capped) shingle."""
    # uncapped, no shingle is ever dropped, so the Arrow stage emits each
    # document's size row-locally — no id-partitioned window (a full
    # shuffle+sort of the inverted index) and no join-back
    shingled = _persist_intermediate(
        shingle_rows(
            df, id_col, text_col, shingle_n, emit_set_size=max_df is None
        )
        .withColumn("__sh", F.xxhash64("shingle"))
        .drop("shingle")
    )
    if max_df is not None:
        # set_size is counted after the cap: overlap scores are then exact
        # over the capped shingle universe (boilerplate excluded from
        # numerator AND denominator), not a biased estimate of the
        # uncapped value
        shingled = _persist_intermediate(
            _with_set_size(_drop_heavy_keys(shingled, "__sh", max_df), id_col)
        )
    # merge hint: both sides of the inverted-index join are corpus-sized, so
    # it must never broadcast — the static size estimate of a persisted
    # relation undercounts and a broadcast build of the whole index OOMs
    return _pair_counts(shingled.hint("merge"), id_col, "__sh")


def _drop_heavy_keys(
    rows: DataFrame,
    keys: str | list[str],
    cap: int,
    *,
    counted: DataFrame | None = None,
) -> DataFrame:
    """The ONE heavy-key valve of every inverted index here: drop from
    ``rows`` each key held by more than ``cap`` rows of ``counted``
    (default ``rows``) — a key shared by d rows emits d² join rows, so one
    boilerplate key is unrunnable at corpus scale. The removal is a
    ``left_anti`` join against the HEAVY set: that set is the boilerplate
    tail (far smaller than the index), the count is a map-side-combined
    hash aggregate (skew-safe on exactly those keys), and AQE broadcasts
    the anti side at runtime, so the corpus-sized index never shuffles for
    the valve."""
    heavy = (
        (rows if counted is None else counted)
        .groupBy(keys)
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > int(cap))
        .select(keys)
    )
    return rows.join(heavy, keys, "left_anti")


def _with_set_size(rows: DataFrame, id_col: str) -> DataFrame:
    """``rows`` plus each document's row count as ``set_size``: a
    counter-sized aggregate joined back (AQE broadcasts the per-doc counts
    when they fit) instead of an id-partitioned window over the index."""
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    return rows.join(sizes, id_col)


def _pair_counts(index: DataFrame, id_col: str, key: str) -> DataFrame:
    """(id_a < id_b, n_inter, size_a, size_b) for every document pair that
    shares ≥1 ``key`` in the (id, key, set_size) inverted ``index``: a
    self-join on the key whose pair aggregate carries counters, not text."""
    a, b = index.alias("a"), index.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(*_pair_ids(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first(F.col("a.set_size")).alias("size_a"),
            F.first(F.col("b.set_size")).alias("size_b"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(A→B) = |A∩B| / |A|. The measure
    for quote/boilerplate/subset detection — a short document wholly copied
    into a long one has containment ≈ 1 while Jaccard stays near zero (the
    long side dilutes the union), so Jaccard-threshold dedup never sees it.

    Emits one row per unordered pair with BOTH directions
    (containment_a = |A∩B|/|A|, containment_b = |A∩B|/|B|), kept when
    either direction clears ``threshold``. Same inverted-index join and
    ``max_df`` scale valve as ``ngram_jaccard_pairs`` (one shared stage);
    at 100 TB run it over LSH candidates, not the raw corpus.
    """
    inter = _shingle_intersections(df, id_col, text_col, shingle_n, max_df)
    return (
        inter.withColumn(
            "containment_a",
            F.round(F.col("n_inter").cast("double") / F.col("size_a"), 6),
        )
        .withColumn(
            "containment_b",
            F.round(F.col("n_inter").cast("double") / F.col("size_b"), 6),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= threshold
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Resolve near-dup candidate pairs into duplicate CLUSTERS — the step
    between "LSH emitted pairs" and "keep one document per group" that every
    dedup pipeline needs (pairs (a,b),(b,c) must collapse to ONE survivor,
    which per-pair logic cannot see).

    Returns ``(node, component_id)`` for every node appearing in an edge,
    where ``component_id`` is the minimum node id in its connected
    component — i.e. the canonical survivor under keep-smallest-id.

    Physical shape (iterative, converges in O(log diameter) rounds):
    each round does (1) *neighbor-min propagation* — a shuffle on node id
    joining labels to the undirected edge list — and (2) *pointer jumping*
    (``label ← label(label)``, path-halving) so labels race down long
    chains geometrically instead of one hop per round. Lineage is truncated
    every round with ``localCheckpoint`` (swap for reliable ``checkpoint``
    on a cluster) — without it the plan doubles per iteration and Catalyst
    analysis time, not the data, becomes the bottleneck. Near-dup clusters
    are shallow (star-ish), so 2-4 rounds is typical; ``max_iter`` bounds
    pathological chains. Fully deterministic (min-based), hence
    oracle-checkable against a recursive-CTE transitive closure.

    Small-graph shortcut (the heavy_hitters exact-sketch pattern, r9):
    when the undirected edge list is at most ``driver_max_edges`` rows —
    a count the function already takes for shuffle sizing — the
    iteration is replaced by ONE Arrow fetch + driver-side union-find
    with path halving. Rationale: candidate-pair graphs are orders of
    magnitude smaller than the corpora that produce them (2,286 edges
    at sf0.1), yet each distributed round costs several scheduler
    round-trips; on the measured sf0.1 graph the iteration spent ~8 s
    across ~25 driver-scheduled jobs computing what union-find does in
    milliseconds. The fetch rides ``toPandas`` (Arrow: two int64
    columns ≈ 16 B/row, so 1M rows ≈ 16 MB — a ``collect()`` of Row
    objects would cost 10-30x that, the review finding that also set
    the conservative default; the union-find ``parent`` dict adds
    ~100-200 MB at the limit, still driver-safe, and the parameter is
    there for constrained drivers). A genuinely large graph (the
    100 TB case) takes the iterative path
    unchanged, with convergence now CHECKED EVERY OTHER ROUND (the
    check is a full join + count action; near-dup graphs converge in
    2-4 rounds, so per-round checking doubled the action count to save
    at most one cheap extra round). Identical output either way:
    component_id = min node id, both paths deterministic.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # materialize once: every round joins against the edge list, and
    # without this the (possibly expensive) upstream pair-generation plan
    # re-executes per iteration
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Size the iteration's shuffles from the GRAPH, not the session: the
    # label/edge tables are usually orders of magnitude smaller than the
    # corpus that produced the pairs, and each round runs several joins —
    # with corpus-sized partition counts the rounds drown in empty-task
    # overhead (measured 15.9 s → 5.3 s on a 3k-edge graph at 32 → few
    # partitions). Clamped to the session value so a genuinely large graph
    # keeps full parallelism. Sizing is applied with per-plan
    # ``repartition(iter_parts, key)`` on every join/agg input — NOT a
    # session-conf flip, which is racy when another query plans concurrently
    # on the same shared session. Each join sees one side already hash-
    # partitioned on its key at iter_parts, so EnsureRequirements shuffles
    # the other side to match instead of the session default.
    spark = edges.sparkSession
    session_parts_raw = spark.conf.get("spark.sql.shuffle.partitions")
    session_parts = (
        int(session_parts_raw) if str(session_parts_raw).isdigit() else 200
    )
    n_edges = und.count()

    if n_edges <= driver_max_edges:
        # driver union-find, union-by-min-root with path halving: each
        # tree's root is by induction its minimum member, so find(n) IS
        # the keep-smallest-id component label — no relabel pass.
        node_type = und.schema["u"].dataType
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        pdf = und.toPandas()
        for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = _find(u), _find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        schema = T.StructType([
            T.StructField("node", node_type, False),
            T.StructField("component_id", node_type, False),
        ])
        return spark.createDataFrame(
            [(n, _find(n)) for n in parent], schema
        )

    iter_parts = max(1, min(session_parts, -(-n_edges // 1_000_000)))

    def part(df: DataFrame, key: str) -> DataFrame:
        return df.repartition(iter_parts, key)

    und = part(und, "v").localCheckpoint(eager=False)
    labels = part(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "node",
    ).localCheckpoint(eager=False)
    for it in range(max_iter):
        nbr = (
            und.join(part(labels.select(F.col("node").alias("v"), "label"), "v"), "v")
            .select(F.col("u").alias("node"), "label")
        )
        nbr = (
            part(nbr, "node")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = part(labels, "node").join(nbr, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        jumped = (
            part(stepped, "label")
            .join(
                part(
                    stepped.select(
                        F.col("node").alias("label"), F.col("label").alias("jump")
                    ),
                    "label",
                ),
                "label",
                "left",
            )
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce("jump", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        prev = labels
        labels = jumped
        # converged ⇔ the LAST round changed nothing; checking every
        # other round halves the action count (the check is a full
        # join + count) at the cost of at most one extra cheap round
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                part(jumped, "node")
                .join(
                    part(prev.select("node", F.col("label").alias("__old")), "node"),
                    "node",
                )
                .filter(F.col("label") != F.col("__old"))
                .limit(1)
                .count()
            )
            if changed == 0:
                converged = True
                break
    else:  # pragma: no cover - requires diameter ~2**max_iter
        converged = False
    if not converged:
        # fail loud, never silently: unconverged labels SPLIT components,
        # and a split component feeding split_leakage_guard silently
        # un-guards the exact train/test leakage it exists to prevent.
        # Pointer jumping halves the label-tree height per round, so
        # max_iter rounds cover diameter ~2**max_iter — hitting this
        # means the graph is adversarial or max_iter was hand-lowered.
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({n_edges} edges); labels would be WRONG (split "
            "components). Raise max_iter — pointer jumping converges in "
            "O(log diameter) rounds."
        )
    return labels.select("node", F.col("label").alias("component_id"))

def incremental_lsh_pairs(
    index_signatures: DataFrame,
    delta_signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 2,
    num_hashes: int | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup candidate generation: band the new batch
    (``delta_signatures``) and pair it against the standing corpus index
    (``index_signatures``) and against itself — WITHOUT ever re-pairing
    index x index. This is the delta algebra of ``incremental_join``
    (ΔA⋈B ∪ ΔA⋈ΔA) applied to LSH dedup: a daily-ingest pipeline pays
    |delta| + matching-bucket cost per day, not a corpus² re-pair.

    Ids must be DISJOINT across the two tables (re-ingests of an
    existing id should be upserted first — the precheck_antijoin flow);
    a shared id would mislabel its pairs' kind rather than fail.

    Physical shape at 100 TB: the delta's banded rows are computed once
    and persisted (they feed both joins — the ``lsh_candidate_pairs``
    persist rationale); both joins key on the high-cardinality
    (band_idx, band_hash), and the index side is far larger than the
    delta, so AQE broadcast-converts the delta probe. Store the index's
    banded rows as a table bucketed by band_hash (the crash-safe merge
    sink's layout) and the index scan prunes to the delta's buckets —
    the banding recipe here is byte-identical to ``lsh_candidate_pairs``
    (shared ``_banded_rows``), so a pre-materialized index stays valid.
    Band geometry is data-verified per row on BOTH sides (the
    ``_banded_rows`` raise_error guard).

    Returns (id_a, id_b, pair_kind) with id_a < id_b, distinct;
    pair_kind in {'delta_index', 'delta_delta'}.
    """
    banded_d, within = _band_self_join(
        delta_signatures, id_col, bands, rows_per_band, num_hashes)
    banded_i = _banded_rows(index_signatures, id_col, bands, rows_per_band)
    d, i = banded_d.alias("d"), banded_i.alias("i")
    cross = (
        d.join(i, ["band_idx", "band_hash"])
        # defensive: a shared id (contract violation) must not emit a
        # self-pair that downstream drop rules would act on
        .filter(F.col(f"d.{id_col}") != F.col(f"i.{id_col}"))
        .select(
            F.least(F.col(f"d.{id_col}"), F.col(f"i.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"d.{id_col}"), F.col(f"i.{id_col}")).alias("id_b"),
            F.lit("delta_index").alias("pair_kind"),
        )
    )
    within = within.select(
        *_pair_ids(id_col), F.lit("delta_delta").alias("pair_kind"))
    return cross.unionByName(within).distinct()

def canonical_by_quality(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection: resolve near-dup candidate
    ``pairs`` into clusters (``connected_components``) and keep the
    HIGHEST-``quality_col`` member of each cluster (ties → smallest id);
    documents in no pair keep themselves. The production upgrade of
    keep-min-id curation — near-dup groups usually contain one clean
    copy and N mangled ones, and min-id keeps whichever crawled first.

    Physical shape at 100 TB: the winner per cluster is ONE
    ``min(struct(-quality, id))`` aggregate — partial-aggregatable
    map-side, so a celebrity cluster (boilerplate duplicated millions of
    times) reduces to per-partition argmax counters, never a per-cluster
    sort (the LPA argmax idiom). Singletons are a left-anti join that
    never touches the cluster machinery. ``quality_col`` must be
    numeric (it is negated for the struct ordering). NULL quality sorts
    LAST (a null-quality member can never beat a scored one — the r8
    advisory's null-wins hole; an all-null cluster falls back to
    smallest id).

    Returns ``docs``' rows for every survivor + (component_id,
    n_members); singletons carry component_id NULL, n_members 1.
    """
    comp = connected_components(pairs, src="id_a", dst="id_b")
    members = comp.join(
        docs, comp["node"] == docs[id_col], "inner"
    ).select(docs["*"], comp["component_id"])
    winners = (
        members.groupBy("component_id")
        .agg(
            F.min(
                F.struct(
                    F.col(quality_col).isNull().alias("__qnull"),
                    (-F.col(quality_col)).alias("__nq"),
                    F.col(id_col).alias("__i"),
                )
            ).alias("__w"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            F.col("__w.__i").alias(id_col), "component_id", "n_members"
        )
    )
    id_type = docs.schema[id_col].dataType
    singles = (
        docs.join(comp.select(F.col("node").alias(id_col)), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit(None).cast(id_type).alias("component_id"),
            F.lit(1).cast("long").alias("n_members"),
        )
    )
    keep = winners.unionByName(singles)
    return docs.join(keep, id_col)

def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    normalize: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    token k-gram, slide a window of ``window`` consecutive hashes, and
    select each window's MINIMUM; the document's fingerprint set is the
    DISTINCT selected values. The winnowing guarantee: any shared token
    run of length >= k + window - 1 between two documents selects at
    least one COMMON fingerprint, while only ~2/(window+1) of the
    k-gram hashes are kept — position-robust partial-overlap detection
    (quotes, mirrored sections) at a fraction of full-shingle storage,
    the gap between MinHash (whole-document similarity) and CDC
    chunking (byte-aligned blocks).

    Note the classic algorithm records (hash, position) with a
    rightmost-min tie rule; the tie rule only changes which POSITION is
    credited, never the selected value, so the distinct-value set needs
    no tie handling — which is also what makes the operator exactly
    SQL-mirrorable for the oracle.

    Documents with >= 1 but < ``window`` k-grams contribute one
    fingerprint (the global min); documents with < k tokens are
    dropped (unshinglable). Zero shuffle: one Arrow-batched pass, one
    md5 per k-gram plus a C-speed sliding-window min (the
    ``minhash_signatures`` cost model).

    Returns (id_col, fingerprints array<long>, n_grams).
    """
    if k < 1 or window < 1:
        raise ValueError(f"k={k} and window={window} must be >= 1")

    def fingerprints(toks, hashes):
        n = len(toks) - k + 1
        if n < 1:
            return None
        hs = np.array(hashes(toks, k), dtype=np.int64)
        # fewer k-grams than the window: one window, the global min
        sel = np.lib.stride_tricks.sliding_window_view(
            hs, min(window, n)).min(axis=1)
        return [[np.unique(sel).tolist()], [n]]

    return _text_stage(
        df, id_col, text_col,
        [
            T.StructField("fingerprints", T.ArrayType(T.LongType()), False),
            T.StructField("n_grams", T.LongType(), False),
        ],
        fingerprints, normalize=normalize,
    )

def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    min_shared: int = 2,
    max_df: int | None = 64,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS: the
    inverted-index join of ``winnow_fingerprints`` — explode each
    document's fingerprint set, drop fingerprints appearing in more
    than ``max_df`` documents (the boilerplate valve every inverted
    index here carries: a header fingerprint shared by everything
    would otherwise emit a quadratic bucket), join on fingerprint, and
    keep pairs sharing >= ``min_shared`` values.

    ``max_df`` defaults ON (64) because the valve is the operator's
    scale guarantee, not an option — a corpus-wide boilerplate
    fingerprint makes the join quadratic with the valve off (advisor
    finding r9). Pass ``max_df=None`` ONLY for bounded corpora or
    audits that must see the unvalved fingerprint space (e.g. the
    ``winnow_recall`` query measures the raw winnowing guarantee).

    Physical shape at 100 TB: the join keys on a 52-bit hash with
    ~2/(window+1) of the corpus' k-grams as rows — orders of magnitude
    fewer than a full shingle join — and the pair agg carries counters,
    not text. Exactly the ``ngram_jaccard_pairs`` shape on a winnowed,
    df-valved key space. Two round-14 cost fixes, measured at sf0.1:

    - the per-doc fingerprint ARRAYS are persisted once (the compact
      projection — one row per doc, no text), because the valve agg,
      the size agg, and both self-join sides each re-execute the
      tokenize+hash+window-minima subtree otherwise (ReusedExchange
      dedupes only identical exchanges, not the agg side); measured
      4.6 s -> 2.1 s warm, cheaper than even the UNVALVED r09 plan.
    - the valve is expressed as an ANTI-join against the HEAVY
      fingerprint set (df > max_df) instead of a semi-join against the
      ok set: the heavy set is small by construction (boilerplate
      fingerprints are the exception), so AQE can broadcast it and the
      corpus-sized probe side never shuffles for the valve; the ok-set
      formulation forced a full inverted-index shuffle. The df count
      itself stays a hash aggregate (map-side partial agg — skew-safe
      on exactly the boilerplate keys the valve exists for).

    Returns (id_a, id_b, n_shared, overlap) with id_a < id_b; overlap
    is the Jaccard of the two documents' VALVED fingerprint sets, 6dp
    — set sizes are counted AFTER the ``max_df`` valve so numerator
    and denominator describe the same universe (pre-valve sizes would
    systematically deflate boilerplate-heavy near-dups: the n_shared
    the valve removed would still sit in the denominator — review
    finding).

    Cache lifetime contract: the persisted fingerprint projection is
    deliberately NOT unpersisted here — the returned DataFrame is
    lazy, and the cache must survive until the caller materializes it
    (the persist-once benefit IS the reuse across the valve agg, the
    size agg, and both self-join sides of that one materialization).
    Sessions that run many queries (bench.py, long services) release
    it with ``spark.catalog.clearCache()`` after materializing, or
    cached blocks accumulate across queries and evict each other —
    bench.py clears per row (r15 ADVICE closure).
    """
    fps = _persist_intermediate(
        winnow_fingerprints(df, id_col, text_col, k=k, window=window))
    inv = fps.select(id_col, F.explode("fingerprints").alias("fp"))
    if max_df is not None:
        inv = _drop_heavy_keys(inv, "fp", max_df)
    n = F.col("n_inter")
    return (
        _pair_counts(_with_set_size(inv, id_col), id_col, "fp")
        .filter(n >= min_shared)
        .select(
            "id_a",
            "id_b",
            n.alias("n_shared"),
            F.round(n / (F.col("size_a") + F.col("size_b") - n), 6)
            .alias("overlap"),
        )
    )

def cluster_size_histogram(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Duplicate-cluster size distribution: resolve candidate ``pairs``
    into components and histogram the component sizes — the audit that
    tells a curation run whether its duplication is a long tail of
    pairs or a handful of celebrity clusters (the two need different
    remediation: pair-dedup vs boilerplate valves). Counter-sized
    end-to-end: components -> (component, size) -> (size, n_clusters).

    Returns (cluster_size, n_clusters, n_docs) with n_docs =
    cluster_size * n_clusters, sorted by cluster_size.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def choose_band_geometry(
    num_hashes: int = 16,
    threshold: float = 0.8,
    noise_sim: float = 0.3,
    target_recall: float = 0.95,
) -> tuple:
    """Planner-backed band-geometry chooser (r16 verdict order 2): the
    driver-side closed form of :func:`lsh_geometry_plan`, returning the
    ``(bands, rows_per_band)`` the planner would pick — among the
    factorizations of ``num_hashes`` whose S-curve recall at
    ``threshold`` clears ``target_recall``, the one with the LOWEST
    candidate noise at ``noise_sim`` (recall you cannot recover, noise
    you merely pay for); if no factorization clears the target, the
    max-recall geometry (least-bad). Recall is rounded to 6 dp before
    the comparison — the same convention ``lsh_geometry_plan`` uses for
    ``meets_target``, so the chooser and the audit table always agree.

    This is how the planner's first finding became configuration: the
    legacy 16-hash 4x4 default is a ~0.707-midpoint geometry recalling
    only 0.8785 at the t=0.8 dedup threshold; this chooser returns
    (8, 2) — recall 0.99972 for ~16.5x the candidate noise (0.5297 vs
    0.0320 at s=0.3) — and the banding defaults across the dedup
    operators now follow it. Pure arithmetic: usable at plan-authoring
    time, in tests, and as the documented sizing step before a 100 TB
    dedup commits a cluster week."""
    cands = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        recall = round(1 - (1 - threshold ** r) ** b, 6)
        noise = 1 - (1 - noise_sim ** r) ** b
        cands.append((b, r, recall, noise))
    meeting = [c for c in cands if c[2] >= target_recall]
    if meeting:
        b, r, _, _ = min(meeting, key=lambda c: (c[3], c[0]))
    else:
        b, r, _, _ = max(cands, key=lambda c: (c[2], -c[3]))
    return b, r


def lsh_geometry_plan(
    spark,
    num_hashes: int = 16,
    threshold: float = 0.8,
    noise_sim: float = 0.3,
    target_recall: float = 0.95,
) -> DataFrame:
    """Band-geometry planner for MinHash LSH — the sizing step that
    runs BEFORE a 100 TB dedup, not after it disappoints: for every
    ``(bands, rows_per_band)`` factorization of the signature width,
    the closed-form S-curve collision probability
    ``P(s) = 1 − (1 − s^rows)^bands`` gives

    - ``recall_at_t``: probability a TRUE pair at the dedup threshold
      lands in ≥1 shared bucket (missed pairs are silent corpus dupes);
    - ``noise_at_s``: probability an UNRELATED pair at ``noise_sim``
      becomes a candidate (candidate volume is the shuffle+verify
      bill — at corpus scale the noise rate, times n², is the cost);
    - ``s_mid``: the curve's midpoint ``(1/bands)^(1/rows)`` — where
      collision probability crosses 1/2, the geometry's effective
      operating threshold.

    ``meets_target`` marks geometries whose recall clears
    ``target_recall``; among those, the LOWEST noise_at_s is the right
    choice (recall you cannot recover, noise you merely pay for). The
    planner's first real finding is about the repo's own default
    16-hash/4x4 geometry: at t=0.8 it reads recall 0.8785 / noise
    0.0320 — its midpoint is (1/4)^(1/4) ≈ 0.707, so it is an
    ~0.7-threshold geometry that UNDERSHOOTS a 95% recall target at
    0.8 (8x2 clears it at 0.99972 recall for ~16.5x the candidate
    noise). Exactly the trade to inspect before committing a cluster
    week. Driver-free arithmetic over a
    num_hashes-row range: runs anywhere, costs nothing, and the same
    closed form is oracle-checkable in SQL. Probabilities are rounded
    to 6 dp (engine-exact under the repo's double conventions)."""
    b = F.col("id").cast("int")
    r = (F.lit(num_hashes) / b).cast("int")
    recall = 1 - F.pow(1 - F.pow(F.lit(threshold), r), b)
    noise = 1 - F.pow(1 - F.pow(F.lit(noise_sim), r), b)
    s_mid = F.pow(1.0 / b, 1.0 / r)
    return (
        spark.range(1, num_hashes + 1)
        .filter(F.lit(num_hashes) % b == 0)
        .select(
            b.alias("bands"),
            r.alias("rows_per_band"),
            F.round(recall, 6).alias("recall_at_t"),
            F.round(noise, 6).alias("noise_at_s"),
            F.round(s_mid, 4).alias("s_mid"),
            (F.round(recall, 6) >= F.lit(target_recall))
            .alias("meets_target"),
        )
    )
