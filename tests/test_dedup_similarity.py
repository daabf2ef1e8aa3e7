"""Near-dup and similarity operators: do they actually find the dups?

The oracle queries prove Spark↔DuckDB parity; these prove the operators
detect what they claim to detect (recall on known duplicates)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from restaurant_etl_code_spark.operators import chunking, dedup, similarity
from tests.conftest import SF0001


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog near the river bank today extra"),  # near dup
        (4, "completely different text about database engines and query optimization plans"),
        (5, "ab"),  # too short to shingle
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_groups(spark):
    out = {r["canonical_id"]: r["n_dups"] for r in dedup.exact_dedup(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1


def test_minhash_finds_exact_and_near(spark):
    sigs = dedup.minhash_signatures(_docs(spark), "doc_id", "text", num_hashes=16, shingle_n=3)
    assert sigs.filter(F.col("doc_id") == 5).count() == 0  # unshingle-able dropped
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs  # identical signature → all bands collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares most shingles
    assert not any(4 in p for p in pairs)


def test_simhash_hamming(spark):
    sims = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark), "doc_id", "text").collect()}
    assert sims[1] == sims[2]
    h13 = bin(sims[1] ^ sims[3]).count("1")
    h14 = bin(sims[1] ^ sims[4]).count("1")
    assert h13 < h14  # near-dup closer than unrelated


def test_jaccard_exact_pair_is_1(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_jaccard_max_df_drops_boilerplate_shingles(spark):
    # every shingle of docs 1-3 appears in ≥2 docs except doc 3's "extra"
    # tail; max_df=1 leaves no shared shingles, so no pairs survive
    capped = dedup.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", threshold=0.1, max_df=1
    )
    assert capped.count() == 0
    # a cap above every shingle's document frequency reproduces the exact
    # result (set sizes recomputed over the same uncapped universe)
    exact = dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.3)
    wide = dedup.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", threshold=0.3, max_df=10_000
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, wide.collect()))


def test_cosine_topk_ranks_identical_first(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=3, embedding=[0.9, 0.1, 0.0]),
            Row(vec_id=4, embedding=[0.0, 1.0, 0.0]),
        ]
    )
    out = similarity.cosine_topk(emb.filter(F.col("vec_id") == 1), emb, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.collect()]
    assert got == [(2, 1), (3, 2)]


def test_bucketed_ann_recall_tradeoff(spark):
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 1.0]),
            Row(vec_id=2, embedding=[1.0, 0.9]),
            Row(vec_id=3, embedding=[-1.0, -1.0]),  # other bucket, never scored
        ]
    )
    out = similarity.bucketed_cosine_topk(
        emb.filter(F.col("vec_id") == 1), emb, k=3, nbits=2
    )
    got = {r["neighbor_id"] for r in out.collect()}
    assert got == {2}


def test_ivf_full_probe_equals_exact(spark):
    """nprobe covering every list ⇒ IVF must reproduce brute-force top-k."""
    from restaurant_etl_code_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.centroids_by_id(emb, n=4)
    ivf = similarity.ivf_topk(queries, emb, cents, k=3, nprobe=4)
    exact = similarity.cosine_topk(queries, emb, k=3)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["score"])  # noqa: E731
    assert sorted(map(key, ivf.collect())) == sorted(map(key, exact.collect()))


def test_ivf_kmeans_partial_probe(spark):
    """Production shape: trained Lloyd k-means centroids, nprobe < n_lists.
    Results are a per-query top-k over a restricted candidate set — ≤ k
    rows per query, all drawn from the corpus, ranks contiguous from 1."""
    from restaurant_etl_code_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centers = similarity.kmeans_centers(emb, n=4, iterations=10)
    cents = spark.createDataFrame(
        sorted(centers.items()), "centroid_id int, centroid array<double>"
    )
    out = similarity.ivf_topk(queries, emb, cents, k=3, nprobe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_lsh_recall_against_exact_jaccard(spark):
    """Quantified approximation contract: every exact near-dup pair at
    Jaccard >= 0.7 must surface as an LSH candidate with the default 4x4
    banding (P[candidate] = 1-(1-s^4)^4 is ~0.97 at s=0.9 and the testdata
    near-dups cluster above that; measured recall at sf0.001 is 1.0).
    Guards against banding/signature regressions silently dropping dups."""
    from restaurant_etl_code_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    truth = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    assert truth, "fixture should contain near-dup pairs"
    missed = truth - cand
    assert not missed, f"LSH missed {len(missed)}/{len(truth)} true pairs: {sorted(missed)[:5]}"


def test_multiprobe_lsh_dominates_single_probe(spark):
    """Multi-probe checks the query's bucket plus Hamming-1 neighbors, so
    its candidate set is a superset of single-probe's. Recall is measured
    on GENUINELY near pairs (cosine >= 0.9 true near-dups) — that is the
    population LSH theory speaks about; arbitrary top-3 of random vectors
    (cosine ~0.3) legitimately scatters across buckets."""
    from restaurant_etl_code_spark.plans.testdata_queries import _augmented_embeddings

    # raw embeddings are random (max pairwise cosine ~0.48); the augmented
    # fixture injects scaled/shifted near-duplicates — the actual near-dup
    # population
    emb = _augmented_embeddings(spark, "/root/testdata/sf0.001")
    truth = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert truth, "fixture should contain true near-dup pairs"

    def found(probes):
        got = similarity.bucketed_cosine_topk(
            emb, emb, k=5, nbits=6, min_score=0.9, probes=probes
        ).collect()
        pairs = set()
        for r in got:
            a, b = sorted((r["query_id"], r["neighbor_id"]))
            pairs.add((a, b))
        return pairs

    single, multi = found(1), found(4)
    assert truth & multi >= truth & single          # domination
    assert len(truth & multi) / len(truth) >= 0.5   # most true near-dups surface


def test_connected_components_resolves_clusters(spark):
    """(a,b)+(b,c) must collapse to one cluster; a 9-node chain exercises
    pointer jumping (converges well under the naive 8-round bound); nodes
    without edges stay out (operator contract: edge-list domain)."""
    edges = spark.createDataFrame(
        # triangle {1,2,3}, chain 10-11-...-18, pair {20,21}
        [(1, 2), (2, 3), (1, 3)]
        + [(i, i + 1) for i in range(10, 18)]
        + [(20, 21)],
        "id_a int, id_b int",
    )
    got = {r["node"]: r["component_id"] for r in dedup.connected_components(edges).collect()}
    assert {got[n] for n in (1, 2, 3)} == {1}
    assert {got[n] for n in range(10, 19)} == {10}
    assert {got[n] for n in (20, 21)} == {20}
    assert set(got) == {1, 2, 3, *range(10, 19), 20, 21}


def test_connected_components_direction_and_dup_invariant(spark):
    """Reversed/duplicated edges and self-loops must not change the result."""
    base = [(5, 4), (4, 5), (5, 4), (6, 5), (6, 6)]
    got = {r["node"]: r["component_id"] for r in dedup.connected_components(
        spark.createDataFrame(base, "id_a int, id_b int")).collect()}
    assert got == {4: 4, 5: 4, 6: 4}


def test_near_dup_auto_nbits_scales_buckets_with_corpus(spark):
    """nbits='auto' keeps expected bucket size constant: identical vectors
    share all sign bits, so exact dups survive ANY nbits, while the bucket
    count (and with it the n²/2^nbits candidate work) tracks corpus size."""
    from restaurant_etl_code_spark.plans.testdata_queries import _augmented_embeddings

    emb = _augmented_embeddings(spark, "/root/testdata/sf0.001")
    auto = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.999, nbits="auto", target_bucket=8
        ).collect()
    }
    # scaled copies (vec_id + 100000) are cosine-identical to their source
    # and sign-identical, so auto blocking must keep every one of them
    base_scaled = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.999, nbits=0
        ).collect()
        if r["id_b"] - r["id_a"] == 100000
    }
    assert base_scaled and base_scaled <= auto


def _sig(d):
    return dedup.minhash_signatures(d, "doc_id", "text")


# Every entry that runs through the shared Arrow text stage, band join,
# heavy-key valve or pair count, plus the exact (nbits=0) near-dup path.
_EMPTY_IN_CASES = {
    "minhash_signatures": _sig,
    "simhash": lambda d: dedup.simhash(d, "doc_id", "text"),
    "shingle_rows": lambda d: dedup.shingle_rows(d, "doc_id", "text"),
    "winnow_fingerprints": lambda d: dedup.winnow_fingerprints(d),
    "lsh_candidate_pairs": lambda d: dedup.lsh_candidate_pairs(_sig(d)),
    "minhash_estimate_pairs": lambda d: dedup.minhash_estimate_pairs(_sig(d)),
    "incremental_lsh_pairs": lambda d: dedup.incremental_lsh_pairs(
        _sig(d), _sig(d.withColumn("doc_id", F.col("doc_id") + 10))),
    "minhash_fuzzy_join": lambda d: dedup.minhash_fuzzy_join(
        d, d, max_band_freq=1),
    "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(
        d, "doc_id", "text"),
    "containment_pairs": lambda d: dedup.containment_pairs(
        d, "doc_id", "text", max_df=1),
    "winnow_pairs": lambda d: dedup.winnow_pairs(d, min_shared=1, max_df=1),
    "cdc_containment_pairs": lambda d: chunking.cdc_containment_pairs(
        d, max_df=1),
    "embedding_near_dup_pairs_nbits0": lambda d: (
        similarity.embedding_near_dup_pairs(
            d.select(
                F.col("doc_id").alias("vec_id"),
                F.array(F.length("text").cast("double"), F.lit(1.0))
                .alias("embedding"),
            ),
            threshold=0.5, nbits=0,
        )
    ),
}


@pytest.mark.parametrize("entry", sorted(_EMPTY_IN_CASES))
def test_entry_on_empty_input_returns_typed_empty_frame(spark, entry):
    """Empty in, typed empty out: every Arrow batch of a ``limit(0)`` input
    is empty, so the shared stage must skip it, and nothing downstream may
    raise (the exact near-dup path used to hit numpy ``AxisError``)."""
    docs = _docs(spark)
    build = _EMPTY_IN_CASES[entry]
    empty = build(docs.limit(0))
    assert empty.schema == build(docs).schema
    assert empty.collect() == []


# The queries that crashed or disagreed with DuckDB on all-empty tables,
# with the sf0.001 tables they read.
_EMPTY_TABLE_QUERIES = {
    "dedup_clusters": ("embeddings",),
    "dedup_recall": ("embeddings",),
    "embedding_near_dup": ("embeddings",),
    "minhash_recall": ("documents",),
    "streaming_neardup": ("documents",),
    "zorder_scan": ("events",),
}


@pytest.mark.parametrize("name", sorted(_EMPTY_TABLE_QUERIES))
def test_query_on_empty_tables_matches_oracle(spark, tmp_path, name):
    """A registered query over schema-only copies of its tables must give
    the DuckDB oracle's answer (compared as the driver hash check
    canonicalizes), not a crash."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "driver_hash_check",
        Path(__file__).resolve().parents[1] / "tools" / "driver_hash_check.py",
    )
    hash_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(hash_check)

    con = duckdb.connect()
    for t in _EMPTY_TABLE_QUERIES[name]:
        path = tmp_path / f"{t}.parquet"
        pq.write_table(pq.read_schema(f"{SF0001}/{t}.parquet").empty_table(), path)
        con.execute(f"create view {t} as select * from read_parquet('{path}')")
    try:
        got = entry.queries()[name](spark, str(tmp_path)).toPandas()
    finally:
        spark.catalog.clearCache()
    want = con.execute(entry.oracle_sql()[name]).df()
    assert hash_check.canon(got) == hash_check.canon(want)
