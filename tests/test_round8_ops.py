# Round-8 regression tests: heavy_hitters exact-sketch shortcut, boundary
# semantics, and the overflow fallback staying engaged.
import pyspark.sql.functions as F
import pytest


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_heavy_hitters_exact_shortcut_skips_recount(spark):
    # 40 distinct keys << k=4096: no partition can overflow, so the result
    # must come straight from the collected sketch (a local relation), not
    # a second scan of the input.
    rows = [(k % 40,) for k in range(4000)]
    df = spark.createDataFrame(rows, "k bigint").repartition(4)
    out = stats_mod().heavy_hitters(df, "k", min_count=99)
    exact = {
        (r["k"], r["n"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 99).collect()
    }
    assert {(r["k"], r["n"]) for r in out.collect()} == exact
    assert len(exact) == 40  # every key has count 100 > 99
    plan = _plan(out)
    # shortcut plan: local/arrow-backed scan only — no parquet/exchange of
    # the input, no join
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_heavy_hitters_boundary_count_excluded_on_shortcut_path(spark):
    rows = [("hot",)] * 150 + [("edge",)] * 100 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string").repartition(3)
    got = {r["k"] for r in stats_mod().heavy_hitters(df, "k", min_count=100).collect()}
    assert got == {"hot"}  # strictly greater: count==100 excluded


def test_heavy_hitters_min_share_shortcut_share_column(spark):
    rows = [("a",)] * 600 + [("b",)] * 300 + [("c",)] * 100
    df = spark.createDataFrame(rows, "k string").repartition(2)
    out = {r["k"]: (r["n"], r["share"]) for r in
           stats_mod().heavy_hitters(df, "k", min_share=0.25).collect()}
    assert out == {"a": (600, 0.6), "b": (300, 0.3)}


def test_heavy_hitters_overflow_falls_back_to_recount(spark):
    # one dominant key drowned in a wide unique tail with a tiny sketch:
    # every partition overflows, so the recount path must engage and still
    # return the exact answer.
    import random

    rng = random.Random(3)
    rows = [("dom",)] * 3000 + [(f"u{rng.randrange(10**9)}",) for _ in range(8000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string").repartition(8)
    out = stats_mod().heavy_hitters(df, "k", min_share=0.2, summary_size=8)
    rows_out = out.collect()
    assert {r["k"] for r in rows_out} == {"dom"}
    assert rows_out[0]["n"] == 3000
    # fallback plan really rescans the input: the aggregate sits over a
    # join/filter of the source relation, not a LocalTableScan of driver
    # rows
    plan = _plan(out)
    assert "HashAggregate" in plan and "Exchange" in plan
    assert "LocalTableScan" not in plan


def test_heavy_hitters_null_keys_count_toward_total_never_match(spark):
    rows = [("a",)] * 50 + [(None,)] * 50
    df = spark.createDataFrame(rows, "k string").repartition(2)
    out = {r["k"]: (r["n"], r["share"]) for r in
           stats_mod().heavy_hitters(df, "k", min_share=0.4).collect()}
    # N = 100 (nulls counted), a has share 0.5; null key never returned
    assert out == {"a": (50, 0.5)}


def stats_mod():
    from restaurant_etl_code_spark.operators import stats

    return stats


# ---------------------------------------------------------------------------
# bpe_train: greedy N-round merge trainer — later rounds must see (and be
# able to merge) tokens produced by earlier rounds, with left-to-right
# non-overlapping apply semantics
# ---------------------------------------------------------------------------

def test_bpe_train_merges_compose_across_rounds(spark):
    from restaurant_etl_code_spark.operators import corpus

    # "x y z" dominates: round 1 merges (x, y) -> x_y, round 2 must then
    # merge (x_y, z) — the composed token — not a raw-text pair
    docs = spark.createDataFrame(
        [("x y z q",)] * 10 + [("p q",)] * 4, "text string"
    )
    out = [tuple(r) for r in corpus.bpe_train(docs, n_merges=2).collect()]
    assert out[0] == (1, "x", "y", 10)
    assert out[1] == (2, "x_y", "z", 10)


def test_bpe_train_left_to_right_non_overlapping(spark):
    from restaurant_etl_code_spark.operators import corpus

    # "a a a" in one doc: (a, a) merges left-to-right -> "a_a a", so the
    # winning pair count is 1 per doc, not 2
    docs = spark.createDataFrame([("a a a",)] * 5, "text string")
    out = [tuple(r) for r in corpus.bpe_train(docs, n_merges=1).collect()]
    assert out == [(1, "a", "a", 10)]  # 2 adjacent pairs counted per doc
    # after the merge, each doc is [a_a, a]: round 2 pairs (a_a, a)
    out2 = [tuple(r) for r in corpus.bpe_train(docs, n_merges=2).collect()]
    assert out2[1] == (2, "a_a", "a", 5)


def test_bpe_train_stops_when_corpus_runs_dry(spark):
    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame([("a b",)], "text string")
    out = [tuple(r) for r in corpus.bpe_train(docs, n_merges=5).collect()]
    # round 1 merges the only pair; round 2 finds no adjacent bigrams and
    # the loop stops early instead of raising
    assert out == [(1, "a", "b", 1)]


# ---------------------------------------------------------------------------
# round-8 IVF-PQ refactor: one-pass multi-book training must equal the m
# independent Lloyd loops it replaces, and the arrow assigner must fail
# loud (naming the id) on null/ragged vectors instead of a numpy stack
# trace (round-7 advisory)
# ---------------------------------------------------------------------------

def test_pq_train_books_matches_per_book_kmeans(spark):
    import random

    from restaurant_etl_code_spark.operators import similarity as S

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [round(rng.uniform(-1, 1), 6) for _ in range(8)]) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    )
    enc = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("__rv"))
    combined = S._pq_train_books(
        enc, "vec_id", m=2, sub=4, k_centers=6, iterations=2, vec_col="__rv"
    )
    separate = []
    for j in range(2):
        sliced = enc.select(
            "vec_id", F.slice(F.col("__rv"), j * 4 + 1, 4).alias("__sv")
        )
        separate.append(
            S.kmeans_centers(
                sliced, n=6, iterations=2, id_col="vec_id", vec_col="__sv"
            )
        )
    assert combined == separate


def test_arrow_assigner_names_offending_null_vector(spark):
    import pytest as _pytest

    from restaurant_etl_code_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    centers = {i: [float(i), float(i)] for i in range(2)}
    with _pytest.raises(Exception, match="id=2.*NULL|NULL.*id=2"):
        S._kmeans_assign_arrow(emb, "embedding", centers).collect()


# ---------------------------------------------------------------------------
# driver_hash_check._cell maps every tz-naive midnight timestamp to its
# date — deliberate (DuckDB DATE arrives as midnight datetime64 while
# Spark DATE collects as datetime.date; the driver hashed them equal,
# cohort_retention r5). Pin that claim so a driver-side tightening is
# caught locally instead of as a surprise gate failure (round-7 advisory).
# ---------------------------------------------------------------------------

def test_hash_check_date_equals_midnight_timestamp():
    import datetime
    import importlib.util
    import os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "driver_hash_check",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "driver_hash_check.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    as_date = pd.DataFrame({"d": [datetime.date(2024, 2, 29)]})
    as_midnight = pd.DataFrame({"d": [pd.Timestamp("2024-02-29 00:00:00")]})
    assert m.canon(as_date) == m.canon(as_midnight)
    # a NON-midnight timestamp must NOT collapse to the date
    as_noon = pd.DataFrame({"d": [pd.Timestamp("2024-02-29 12:00:00")]})
    assert m.canon(as_date) != m.canon(as_noon)
    # tz-AWARE midnight keeps its timestamp form (only naive collapses)
    as_tz = pd.DataFrame(
        {"d": [pd.Timestamp("2024-02-29 00:00:00", tz="UTC")]}
    )
    assert m.canon(as_date) != m.canon(as_tz)


def test_arrow_assigner_names_ragged_vector(spark):
    import pytest as _pytest

    from restaurant_etl_code_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (7, [1.0, 2.0, 3.0])],
        "vec_id bigint, embedding array<double>",
    )
    centers = {i: [float(i), float(i)] for i in range(2)}
    with _pytest.raises(Exception, match="id=7.*width 3"):
        S._kmeans_assign_arrow(emb, "embedding", centers).collect()


def test_bpe_apply_replays_merges_in_order(spark):
    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c c"), (3, "")],
        "doc_id bigint, text string",
    )
    # merge 1: (a, b) -> a_b ; merge 2 uses merge-1 output: (a_b, c) -> a_b_c
    out = {
        r["doc_id"]: list(r["tk"])
        for r in corpus.bpe_apply(docs, [("a", "b"), ("a_b", "c")]).collect()
    }
    assert out == {1: ["a_b", "a_b_c"], 2: ["a_b_c", "c"]}  # doc 3 dropped


def test_bigram_logprob_separates_fluent_from_shuffled(spark):
    from restaurant_etl_code_spark.operators import corpus

    fluent = "the cat sat on the mat and the cat sat on the mat"
    shuffled = "mat the on sat cat the and mat on the sat cat the"
    filler = [(10 + i, fluent) for i in range(8)]
    docs = spark.createDataFrame(
        [(1, fluent), (2, shuffled), (3, "solo")] + filler,
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in corpus.bigram_logprob(docs, vocab_size=50).collect()}
    assert 3 not in rows  # < 2 tokens -> dropped
    assert rows[1]["avg_neg_logp"] < rows[2]["avg_neg_logp"]
    assert rows[1]["n_bigrams"] == len(fluent.split()) - 1


def test_bigram_logprob_unk_path_bounds_vocab(spark):
    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a a a a rare1"), (2, "a a a a rare2")],
        "doc_id bigint, text string",
    )
    # vocab_size=1 keeps only "a"; rare1/rare2 collapse to the same <unk>
    rows = {r["doc_id"]: r for r in corpus.bigram_logprob(docs, vocab_size=1).collect()}
    assert rows[1]["avg_neg_logp"] == rows[2]["avg_neg_logp"]


def test_token_budget_select_boundary_and_part_parity(spark):
    from restaurant_etl_code_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, float(100 - i), 10) for i in range(1, 11)],
        "doc_id bigint, score double, n_tokens bigint",
    )
    # budget 35: docs 1,2,3 fit (cum 0,10,20); doc 4 straddles (30+10>35)
    got = sorted(
        r["doc_id"]
        for r in sampling.token_budget_select(
            docs, score_col="score", cost_col="n_tokens", budget=35
        ).collect()
    )
    assert got == [1, 2, 3]
    # exactness is independent of the range split
    a = sampling.token_budget_select(
        docs, score_col="score", cost_col="n_tokens", budget=55, n_parts=1
    ).collect()
    b = sampling.token_budget_select(
        docs, score_col="score", cost_col="n_tokens", budget=55, n_parts=7
    ).collect()
    assert sorted((r["doc_id"], r["cum_before"]) for r in a) == sorted(
        (r["doc_id"], r["cum_before"]) for r in b
    )


def test_token_budget_select_tie_break_by_id(spark):
    from restaurant_etl_code_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, 1.0, 10) for i in (5, 3, 9, 1)],
        "doc_id bigint, score double, n_tokens bigint",
    )
    got = sorted(
        r["doc_id"]
        for r in sampling.token_budget_select(
            docs, score_col="score", cost_col="n_tokens", budget=20
        ).collect()
    )
    assert got == [1, 3]  # all scores tie -> lowest ids win


def test_incremental_lsh_pairs_delta_algebra(spark):
    from restaurant_etl_code_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, "completely different text with nothing shared here at all ok"),
            (101, base + " tail"), (102, base + " tail two")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    sig = lambda d: dedup.minhash_signatures(d, "doc_id", "text", num_hashes=16)
    index = sig(df.filter("doc_id < 100"))
    delta = sig(df.filter("doc_id >= 100"))
    got = {
        (r["id_a"], r["id_b"]): r["pair_kind"]
        for r in dedup.incremental_lsh_pairs(
            index, delta, bands=4, rows_per_band=4, num_hashes=16
        ).collect()
    }
    # full self-join pairs restricted to delta-touching ones
    full = dedup.lsh_candidate_pairs(sig(df), bands=4, rows_per_band=4)
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] >= 100 or r["id_b"] >= 100
    }
    assert set(got) == want and want  # same candidates, none from index x index
    for (a, b), kind in got.items():
        assert kind == ("delta_delta" if a >= 100 and b >= 100 else "delta_index")


def test_logreg_train_learns_separable_labels(spark):
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.operators import corpus

    pos = [(i, "good fine nice") for i in range(10)]
    neg = [(100 + i, "bad awful junk") for i in range(10)]
    docs = spark.createDataFrame(pos + neg, "doc_id bigint, text string")
    w = corpus.logreg_train_hashed(
        docs, F.col("doc_id") < 100, n_buckets=8, lr=2.0, n_rounds=10
    )
    # score every doc with the learned table: margin sign must separate
    slot = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("bigint") % 8
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    scored = (
        toks.select("doc_id", slot.alias("slot"))
        .join(w, "slot")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("margin"))
    )
    rows = scored.collect()
    assert all(
        (r["margin"] > 0) == (r["doc_id"] < 100) for r in rows
    ), rows


def test_logreg_train_zero_rounds_returns_zeros(spark):
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    w = corpus.logreg_train_hashed(docs, F.lit(True), n_buckets=4, n_rounds=0)
    assert [r["w"] for r in w.collect()] == [0.0] * 4


def test_curate_stream_near_dup_two_batches(spark, tmp_path):
    import os

    from restaurant_etl_code_spark.sources.sinks import read_bucketed
    from restaurant_etl_code_spark.streaming import curate_stream_near_dup

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    b1 = [(1, base), (2, base + " tail"), (3, other)]       # 2 near-dups 1
    b2 = [(11, base + " tail2"),                             # near-dup of 1
          (12, " ".join(f"new{i}" for i in range(40))),      # novel
          (13, "short doc")]                                 # gated out
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in enumerate([b1, b2]):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(landing, f"b-{i:03d}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    schema = "doc_id bigint, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    target = str(tmp_path / "t")
    curate_stream_near_dup(
        stream, target, str(tmp_path / "ckpt"), min_tokens=30,
        num_hashes=16, shingle_n=3, bands=4, rows_per_band=4, n_buckets=4,
    )
    got = sorted(r["doc_id"] for r in read_bucketed(spark, target).collect())
    # batch1: 1 survives, 2 dropped (near-dup of 1), 3 survives
    # batch2: 11 dropped (collides with indexed 1), 12 novel, 13 gated out
    assert got == [1, 3, 12]


def test_bpe_apply_arrow_matches_fold(spark):
    from restaurant_etl_code_spark.operators import corpus

    rows = [
        (1, "a b a b c d e"),
        (2, "a b c c a b a"),
        (3, "x y x y x y"),
        (4, "lone"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    merges = [("a", "b"), ("a_b", "c"), ("x", "y"), ("x_y", "x_y")]
    fold = {r["doc_id"]: list(r["tk"])
            for r in corpus.bpe_apply(docs, merges, engine="fold").collect()}
    arrow = {r["doc_id"]: list(r["tk"])
             for r in corpus.bpe_apply(docs, merges, engine="arrow").collect()}
    assert fold == arrow
    assert fold[3] == ["x_y_x_y", "x_y"]  # chained + self-merge replay


def test_canonical_by_quality_argmax_and_singletons(spark):
    from restaurant_etl_code_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (9, 0.1)],
        "doc_id bigint, quality double",
    )
    # cluster {1,2,3} via pairs (1,2),(2,3); {4} paired with nothing in docs? use (4,?) none -> singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
    )
    got = {r["doc_id"]: r for r in dedup.canonical_by_quality(
        pairs, docs, "doc_id", "quality").collect()}
    # winner of {1,2,3}: quality 0.9 tie between 2 and 3 -> min id 2
    assert set(got) == {2, 4, 9}
    assert got[2]["n_members"] == 3 and got[2]["component_id"] == 1
    assert got[4]["component_id"] is None and got[4]["n_members"] == 1


def test_hard_negatives_excludes_positives_before_ranking(spark):
    from restaurant_etl_code_spark.operators import similarity

    # anchor 1; 2,3 near-dups (cos ~1); 4,5 hard negatives; 6 orthogonal
    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.999, 0.01]),
        (4, [0.7, 0.7]), (5, [0.6, 0.75]), (6, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = similarity.hard_negatives(
        emb.filter("vec_id = 1"), emb, k_neg=2, dup_threshold=0.95,
        min_score=0.05,
    ).collect()
    ids = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    # dups 2,3 excluded even though they out-score everything; 6 floored out
    assert ids == [4, 5]


def test_random_projection_preserves_relative_distances(spark):
    from restaurant_etl_code_spark.operators import embeddings as E

    import numpy as np

    rng = [[float(((i * 31 + j * 17) % 19) - 9) for j in range(32)]
           for i in range(6)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id bigint, embedding array<double>"
    )
    out = {r["vec_id"]: list(r["proj"])
           for r in E.random_projection(df, in_dim=32, out_dim=8).collect()}
    assert all(len(v) == 8 for v in out.values())
    # deterministic: same seed, same values on re-run
    out2 = {r["vec_id"]: list(r["proj"])
            for r in E.random_projection(df, in_dim=32, out_dim=8).collect()}
    assert out == out2
    # distances contract/expand within a loose JL band on average
    a, b = np.array(rng[0]), np.array(rng[1])
    pa, pb = np.array(out[0]), np.array(out[1])
    r = np.linalg.norm(pa - pb) / np.linalg.norm(a - b)
    assert 0.2 < r < 2.5, r


def test_curate_stream_near_dup_replay_ignores_ghost_bands(spark, tmp_path):
    import os
    import shutil

    from restaurant_etl_code_spark.sources.sinks import read_bucketed
    from restaurant_etl_code_spark.streaming import curate_stream_near_dup

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(1, base), (2, base + " tail"), (3, " ".join(f"q{i}" for i in range(40)))]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(landing, "b-000.parquet"))

    def run(ck):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(landing)
        curate_stream_near_dup(
            stream, str(tmp_path / "t"), str(tmp_path / ck), min_tokens=30,
            num_hashes=16, shingle_n=3, bands=4, rows_per_band=4, n_buckets=4,
        )
        return sorted(r["doc_id"] for r in read_bucketed(spark, str(tmp_path / "t")).collect())

    first = run("ck1")
    assert first == [1, 3]  # 2 dropped as near-dup of 1
    # simulate a crash AFTER the band append but BEFORE the merge commit:
    # bands of the batch exist, the merged target does not
    shutil.rmtree(str(tmp_path / "t"))
    replay = run("ck2")  # fresh checkpoint -> batch reprocessed
    # without the ghost guard, 1 and 3 would collide with their own stale
    # band rows (and 1/2 would BOTH drop); with it the outcome is identical
    assert replay == first


def test_cdc_chunks_survive_prefix_shift(spark):
    from restaurant_etl_code_spark.operators.chunking import cdc_chunks

    base = " ".join(f"t{i % 7}x{i % 13}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, "zzz aaa bbb " + base), (3, "a b")],
        "doc_id bigint, text string",
    )
    rows = cdc_chunks(docs, window=4, divisor=8).collect()
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
    # a 3-token prefix insertion must leave most chunk hashes intact
    assert len(h1 & h2) >= len(h1) - 2 and len(h1) >= 4
    # chunk token counts partition the document exactly
    import collections
    sums = collections.Counter()
    for r in rows:
        sums[r["doc_id"]] += r["n_tokens_chunk"]
    assert sums == {1: 60, 2: 63, 3: 2}
    # chunk_idx is dense per doc starting at 0
    idx1 = sorted(r["chunk_idx"] for r in rows if r["doc_id"] == 1)
    assert idx1 == list(range(len(idx1)))


def test_cdc_containment_finds_shifted_copy(spark):
    from restaurant_etl_code_spark.operators.chunking import (
        cdc_containment_pairs,
    )

    base = " ".join(f"w{i % 11}y{i % 5}" for i in range(80))
    docs = spark.createDataFrame(
        [(1, base), (2, "intro words here " + base),
         (3, " ".join(f"z{i}" for i in range(80)))],
        "doc_id bigint, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in cdc_containment_pairs(
               docs, window=4, divisor=8, threshold=0.5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.5   # shifted copy found
    assert all(3 not in p for p in got)           # unrelated doc clean


def test_cdc_chunks_xxhash_fast_path(spark):
    from restaurant_etl_code_spark.operators.chunking import cdc_chunks

    base = " ".join(f"w{i % 9}q{i % 4}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, base), (2, "pre fix " + base)], "doc_id bigint, text string"
    )
    fast = cdc_chunks(docs, window=4, divisor=8, boundary_hash="xxhash64")
    rows = fast.collect()
    rows2 = cdc_chunks(docs, window=4, divisor=8, boundary_hash="xxhash64").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))  # deterministic
    # shift robustness holds under the fast hash too
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in rows if r["doc_id"] == 2}
    assert len(h1 & h2) >= len(h1) - 2 and len(h1) >= 3
    import pytest as _pytest
    with _pytest.raises(ValueError, match="boundary_hash"):
        cdc_chunks(docs, boundary_hash="sha1")


def test_curate_stream_near_dup_geometry_guard(spark, tmp_path):
    import os

    import pytest as _pytest

    from restaurant_etl_code_spark.streaming import curate_stream_near_dup

    base = " ".join(f"tok{i}" for i in range(40))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    df = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(landing, "b-000.parquet"))

    def run(ck, nb):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(landing)
        curate_stream_near_dup(
            stream, str(tmp_path / "t"), str(tmp_path / ck),
            min_tokens=30, n_buckets=nb,
        )

    run("ck1", 4)
    with _pytest.raises(Exception, match="geometry mismatch"):
        run("ck2", 8)  # different bucket count against the same index
