"""Round-18 optimization pins.

Each test pins an internals contract introduced by a round-18
optimization, per the round rule that an optimization changing an
operator's internals gets a focused test.
"""
import inspect
import re

import pytest


def test_bench_warmup_take_is_followed_by_clearcache():
    # r17 verdict order 1: the untimed warm-up take must not leave
    # persisted blocks for the timed take to read (CacheManager matches
    # canonicalized plans, so a .persist()-bearing row's timed take
    # would otherwise be cache-subsidized). Pin: in `_take`, which both
    # the main pass and the retake pass call, the WARMUP_ROWS count() is
    # followed by a clearCache() BEFORE the timed-take clock starts.
    import bench

    src = inspect.getsource(bench._take)
    warm_blocks = re.findall(
        r"if name in WARMUP_ROWS:\n(.*?)t0 = time\.time\(\)", src, re.S)
    assert len(warm_blocks) == 1
    block = warm_blocks[0]
    assert ".count()" in block
    assert "clearCache()" in block
    # the clear comes after the warm-up action, before the clock
    assert block.index(".count()") < block.index("clearCache()")
    main_src = inspect.getsource(bench.main)
    assert main_src.count("_take(spark, name, sf_dir)") == 2, \
        "main pass + retake pass"


def test_shingle_hash_memo_cap_preserves_results(spark, monkeypatch):
    # r17 ADVICE: the per-batch hash memo is entry-capped so a
    # mostly-unique batch cannot grow it unboundedly. Correctness must
    # not depend on the cap — a miss past the cap just recomputes.
    from restaurant_etl_code_spark.operators import dedup as D

    rows = [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
            for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sigs():
        return {r["doc_id"]: list(r["signature"])
                for r in D.minhash_signatures(
                    df, "doc_id", "text", num_hashes=4).collect()}

    def fps():
        return {r["doc_id"]: list(r["fingerprints"])
                for r in D.winnow_fingerprints(
                    df, "doc_id", "text", k=3, window=2).collect()}

    def sims():
        return {r["doc_id"]: r["simhash"]
                for r in D.simhash(df, "doc_id", "text").collect()}

    base = (sigs(), fps(), sims())
    monkeypatch.setattr(D, "_MEMO_MAX_ENTRIES", 0)  # every lookup misses
    assert (sigs(), fps(), sims()) == base
    monkeypatch.setattr(D, "_MEMO_MAX_ENTRIES", 3)  # cap mid-batch
    assert (sigs(), fps(), sims()) == base


def test_fast_vector_math_matches_fold_exactly(spark):
    # r18: the flat codegen chains (dot_chain_sql / l2_norm_fast /
    # cosine_fast_paired / d2_chain_sql) must be bit-identical to the
    # interpreted zip_with/aggregate folds for EVERY input shape: the
    # per-row size guard routes ragged/mismatched/null rows through the
    # fold, and dim-wide rows evaluate the same doubles in the same
    # left-to-right order.
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.functions import vectors as V

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero-norm -> null cosine
        (3, None, [1.0, 2.0, 3.0]),              # null vector
        (4, [1.0, 2.0], [3.0, 4.0, 5.0]),        # ragged: fold fallback
        (5, [1.0, None, 3.0], [1.0, 2.0, 3.0]),  # null element
        (6, [1.5, 2.5, 3.5], [1.5, 2.5, 3.5]),
        (7, [0.1, -0.2, 0.3, 0.4], [0.1, -0.2, 0.3, 0.4]),  # wider than dim
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    dim = 3
    got = (
        df.withColumn("__na", V.l2_norm_fast("a", dim))
        .withColumn("__nb", V.l2_norm_fast("b", dim))
        .select(
            "id",
            V.cosine(F.col("a"), F.col("b")).alias("cos_fold"),
            V.cosine_fast_paired("a", "b", "__na", "__nb", dim).alias("cos_fast"),
            V.l2_norm(F.col("a")).alias("n_fold"),
            F.col("__na").alias("n_fast"),
            F.aggregate(
                F.zip_with(F.col("a"), F.col("b"),
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d2_fold"),
            F.when(
                (F.size("a") == dim) & (F.size("b") == dim),
                F.expr(V.d2_chain_sql("`a`", "`b`", dim)),
            ).otherwise(
                F.aggregate(
                    F.zip_with(F.col("a"), F.col("b"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
            ).alias("d2_fast"),
        )
        .collect()
    )
    for r in got:
        assert r["cos_fold"] == r["cos_fast"] or (
            r["cos_fold"] is None and r["cos_fast"] is None), r
        assert r["n_fold"] == r["n_fast"] or (
            r["n_fold"] is None and r["n_fast"] is None), r
        assert r["d2_fold"] == r["d2_fast"] or (
            r["d2_fold"] is None and r["d2_fast"] is None), r


def test_d2_sql_literal_path_keeps_the_fold():
    # r18 measured finding: _d2_sql call sites sit under
    # array_min(array(named_struct(...))) — a CodegenFallback parent —
    # where the flat get()-chain runs interpreted and is ~3.6x SLOWER
    # than the fold. Pin the fold shape so a future "optimization"
    # doesn't reintroduce the regression without re-measuring.
    from restaurant_etl_code_spark.operators.similarity import _d2_sql

    sql = _d2_sql("`v`", [1.0, 2.0])
    assert "aggregate(zip_with(" in sql
    assert "get(" not in sql


def test_bpe_train_return_state_matches_bpe_apply(spark):
    # r18: bpe_train(return_state=True) hands back its final token frame
    # so train-then-encode consumers skip the encode scan. The returned
    # state must equal bpe_apply(docs, learned_merges) exactly —
    # including carry columns and the pre-merge n_words.
    from restaurant_etl_code_spark.operators import corpus

    rows = [
        (1, "en", "the cat sat on the mat the cat sat"),
        (2, "fr", "the cat ran off the mat the cat ran"),
        (3, "en", "a b"),
        (4, "en", ""),  # gated out (no tokens)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    table, state = corpus.bpe_train(
        docs, n_merges=3, carry=("doc_id", "lang"), emit_n_words=True,
        return_state=True,
    )
    merges = [(r["a"], r["b"])
              for r in table.sort("merge_round").collect()]
    applied = corpus.bpe_apply(
        docs, merges, carry=("lang",), emit_n_words=True, engine="fold")
    got = {r["doc_id"]: (r["lang"], r["n_words"], list(r["tk"]))
           for r in state.collect()}
    want = {r["doc_id"]: (r["lang"], r["n_words"], list(r["tk"]))
            for r in applied.collect()}
    assert got == want
    assert 4 not in got  # empty doc gated in both
    # plain call shape unchanged
    table2 = corpus.bpe_train(docs, n_merges=3)
    assert [tuple(r) for r in table2.sort("merge_round").collect()] == [
        tuple(r) for r in table.sort("merge_round").collect()]


def test_release_persisted_intermediates_frees_dedup_caches(spark):
    # r17 verdict order 7: two dedup queries composed in one session must
    # not permanently double-hold corpus-sized persisted blocks — the
    # release hook unpersists every registered intermediate.
    from restaurant_etl_code_spark.operators import dedup as D

    D.release_persisted_intermediates()  # start clean
    jsc = spark.sparkContext._jsc.sc()
    # other tests in the shared session may hold localCheckpoint RDD
    # caches that catalog.clearCache() does not touch — assert on the
    # DELTA, not global emptiness
    before = {i.id() for i in jsc.getRDDStorageInfo() if i.isCached()}
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # two inverted-index queries in sequence: each persists intermediates
    # (capped path: shingle rows + capped+sized index)
    D.ngram_jaccard_pairs(df, "doc_id", "text", max_df=10).count()
    D.containment_pairs(df, "doc_id", "text", max_df=10).count()
    released = D.release_persisted_intermediates()
    assert released >= 2
    # nothing NEW left holding blocks after the release
    after = {i.id() for i in jsc.getRDDStorageInfo() if i.isCached()}
    assert after - before == set()
    # idempotent
    assert D.release_persisted_intermediates() == 0
