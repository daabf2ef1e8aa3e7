"""Tests for operators/sampling.py (hash splits) and operators/corpus.py
(TF-IDF). The portable-hash oracle parity is covered by the driver gate
(`stratified_split`, `tfidf_top_terms` in tools/driver_hash_check.py); these
tests cover the production xxhash64 path and the scale levers that have no
SQL twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from restaurant_etl_code_spark.operators import corpus, sampling
from tests.conftest import SF0001


def _docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


def test_xxhash_split_is_deterministic_and_proportional(spark):
    docs = _docs(spark)
    spec = sampling.SplitSpec(train=0.8, val=0.1, test=0.1)
    a = sampling.assign_split(docs, "doc_id", spec, seed=1)
    b = sampling.assign_split(docs.repartition(7), "doc_id", spec, seed=1)

    # Determinism: identical assignment regardless of partitioning.
    diff = (
        a.select("doc_id", "split")
        .join(b.select("doc_id", F.col("split").alias("split_b")), "doc_id")
        .where(F.col("split") != F.col("split_b"))
        .count()
    )
    assert diff == 0

    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    # xxhash64 is uniform: 80/10/10 within a loose tolerance at ~500 docs.
    assert 0.6 < counts["train"] / total < 0.95
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_split_changes_with_seed_but_not_rerun(spark):
    docs = _docs(spark)
    spec = sampling.SplitSpec(train=0.5, holdout=0.5)
    s1 = sampling.assign_split(docs, "doc_id", spec, seed=1)
    s2 = sampling.assign_split(docs, "doc_id", spec, seed=2)
    moved = (
        s1.select("doc_id", "split")
        .join(s2.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .where(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0  # different seed reshuffles membership


def test_split_is_pure_projection_no_shuffle(spark):
    docs = _docs(spark)
    spec = sampling.SplitSpec(train=0.9, test=0.1)
    plan = (
        sampling.assign_split(docs, "doc_id", spec)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_decontaminate_removes_exactly_the_flagged_docs(spark):
    docs = _docs(spark)
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corp = docs.where(F.col("doc_id") % 19 != 0)
    hits = corpus.contaminated_ids(corp, bench, n=5)
    clean = corpus.decontaminate(corp, bench, n=5)
    assert clean.count() == corp.count() - hits.count()
    assert clean.join(hits, "doc_id", "inner").count() == 0
    # A benchmark document verbatim in the corpus must always be flagged.
    planted = corp.limit(0).unionByName(bench.limit(1))
    assert corpus.contaminated_ids(corp.unionByName(planted), bench, n=5).count() >= hits.count()


def test_contamination_probe_is_broadcast_semi_join(spark):
    docs = _docs(spark)
    bench = docs.where(F.col("doc_id") % 19 == 0)
    corp = docs.where(F.col("doc_id") % 19 != 0)
    plan = (
        corpus.contaminated_ids(corp, bench, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus-side probe must be a broadcast semi-join, never a shuffle
    # of the corpus shingles
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_tfidf_df_cap_drops_ubiquitous_terms(spark):
    docs = _docs(spark)
    full = corpus.tfidf_top_terms(docs, k=3)
    capped = corpus.tfidf_top_terms(docs, k=3, df_cap=0.5)
    n = docs.count()
    # Capped output must contain no term appearing in >50% of documents.
    assert capped.where(F.col("df") > int(0.5 * n)).count() == 0
    # The cap only removes high-df terms; low-df scores are unchanged.
    joined = (
        full.where(F.col("df") <= int(0.5 * n))
        .select("doc_id", "term", F.col("score").alias("s_full"))
        .join(capped.select("doc_id", "term", "score"), ["doc_id", "term"])
    )
    assert joined.where(F.abs(F.col("s_full") - F.col("score")) > 1e-9).count() == 0


def test_chunk_documents_reassembles_and_overlaps(spark):
    text = " ".join(f"t{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, None)], "doc_id int, text string"
    )
    out = corpus.chunk_documents(docs, "doc_id", "text", chunk_tokens=10, overlap=2)
    rows = {
        (r["doc_id"], r["chunk_idx"]): r for r in out.collect()
    }
    # doc 1: 25 tokens, stride 8 -> starts 1,9,17,25 -> 4 chunks
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2, 3]
    # full budget except the tail chunks
    assert rows[(1, 0)]["n_tokens"] == 10 and rows[(1, 3)]["n_tokens"] == 1
    # consecutive chunks overlap by exactly `overlap` tokens
    c0 = rows[(1, 0)]["chunk_text"].split(" ")
    c1 = rows[(1, 1)]["chunk_text"].split(" ")
    assert c0[-2:] == c1[:2]
    # every token position is covered in order when overlap is stripped
    rebuilt = c0 + [t for i in range(1, 4)
                    for t in rows[(1, i)]["chunk_text"].split(" ")[2:]]
    assert rebuilt == [f"t{i}" for i in range(25)]
    # short doc -> single whole-doc chunk; null text -> no rows
    assert rows[(2, 0)]["chunk_text"] == "a b c" and rows[(2, 0)]["n_tokens"] == 3
    assert not any(k[0] == 3 for k in rows)
