"""Round-17 tests: line-key collision hardening, LSH geometry wiring,
calibration summary scalars, BPE-unit vocab coverage.

Reference parity notes live in the operator docstrings; these tests
pin the r16 verdict orders 1-4/6-7 and the r17 ADVICE items.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------- line-key collision guard (r16 verdict order 3)

def test_line_strip_collision_guard_length_leg(spark, monkeypatch):
    from restaurant_etl_code_spark.operators import corpus
    from pyspark.sql import functions as F
    # force TOTAL hash collisions: every normalized line keys to 0 on
    # the hash leg, so only the length leg separates distinct lines —
    # the exact failure a bare 64-bit key suffers at 10^11+ lines
    monkeypatch.setattr(corpus, "_line_hash", lambda norm: F.lit(0))
    boiler = "cookie banner here"         # length 18, df 5: boilerplate
    prose = "a unique prose ln"           # length 17, df 1: must survive
    # per-doc body lines get DISTINCT lengths — under a forced total
    # hash collision only the length leg separates them
    rows = [(i, "g", boiler + "\nbody " + "x" * (i + 1)) for i in range(5)]
    rows.append((5, "g", prose + "\nbody-five-unique-tail"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in corpus.line_boilerplate_strip(
        df, "doc_id", "text", "source", min_df=3).collect()}
    # the colliding-hash unique line is NOT merged into the banner's df
    assert out[5]["text"] == prose + "\nbody-five-unique-tail"
    assert out[5]["n_stripped"] == 0
    # and the real boilerplate is still stripped under the forced hash
    assert out[0]["text"] == "body x" and out[0]["n_stripped"] == 1


def test_line_strip_same_length_distinct_lines_unmerged(spark):
    from restaurant_etl_code_spark.operators import corpus
    # production hash path: two distinct SAME-LENGTH lines must keep
    # separate df counts (their xxhash64 values differ)
    a, b = "alpha line xx", "bravo line yy"
    assert len(a) == len(b)
    rows = [(i, "g", a + f"\nbody {i}") for i in range(5)]
    rows.append((9, "g", b + "\nbody 9"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in corpus.line_boilerplate_strip(
        df, "doc_id", "text", "source", min_df=3).collect()}
    assert out[9]["text"] == b + "\nbody 9" and out[9]["n_stripped"] == 0
    assert out[0]["n_stripped"] == 1


# ---------------- planner-wired band geometry (r16 verdict order 2)

def test_choose_band_geometry_planner_choice():
    from restaurant_etl_code_spark.operators import dedup
    # the repo's headline case: 16 hashes, t=0.8, 95% target -> 8x2
    assert dedup.choose_band_geometry(16, 0.8) == (8, 2)
    # minimal-noise among meeting: 16x1 also clears 0.95 but at far
    # higher noise (1-(0.7)^16 ≈ 0.9967 vs 8x2's 0.5297)
    # unreachable target -> max-recall geometry (16x1 for 16 hashes)
    assert dedup.choose_band_geometry(16, 0.8, target_recall=1.0) == (16, 1)
    # an easy target is met by a low-noise geometry: t=0.9 at 50%
    # target -> the lowest-noise geometry that clears it
    b, r = dedup.choose_band_geometry(16, 0.9, target_recall=0.5)
    recall = 1 - (1 - 0.9 ** r) ** b
    assert recall >= 0.5
    for b2 in (1, 2, 4, 8, 16):
        r2 = 16 // b2
        rec2 = round(1 - (1 - 0.9 ** r2) ** b2, 6)
        noise2 = 1 - (1 - 0.3 ** r2) ** b2
        if rec2 >= 0.5:
            assert noise2 >= 1 - (1 - 0.3 ** r) ** b - 1e-12


def test_choose_band_geometry_agrees_with_plan_table(spark):
    from restaurant_etl_code_spark.operators import dedup
    rows = {(r["bands"], r["rows_per_band"]): r
            for r in dedup.lsh_geometry_plan(spark, 16, 0.8).collect()}
    chosen = dedup.choose_band_geometry(16, 0.8)
    assert rows[chosen]["meets_target"] is True
    # chosen = minimal noise among meets_target rows
    noise = {g: rows[g]["noise_at_s"] for g in rows
             if rows[g]["meets_target"]}
    assert chosen == min(noise, key=lambda g: (noise[g], g[0]))


# ---------------- MinHash family non-degeneracy (r17 finding)

def test_minhash_family_is_not_rank_degenerate(spark):
    from restaurant_etl_code_spark.operators import dedup
    # the pre-r17 monotone-affine family made ALL components select the
    # same argmin shingle: component agreement between any two docs was
    # 0/16 or 16/16, and banding collapsed to a Bernoulli(j) test for
    # every geometry (minhash_recall measured 4x4 == 8x2 byte-identical).
    # A real universal family must show FRACTIONAL agreement on near-dup
    # pairs: two docs sharing most-but-not-all shingles agree on some
    # components and differ on others.
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " with a different tail entirely here"
    df = spark.createDataFrame(
        [(1, base), (2, near)], "doc_id long, text string")
    sigs = {r["doc_id"]: r["signature"]
            for r in dedup.minhash_signatures(
                df, "doc_id", "text", num_hashes=16).collect()}
    agree = sum(1 for a, b in zip(sigs[1], sigs[2]) if a == b)
    assert 0 < agree < 16, (
        f"agreement {agree}/16 is all-or-nothing: the family is "
        "rank-degenerate (every component picks the same argmin)")
    # and every signature component stays inside the field
    for s in sigs.values():
        assert all(0 <= x < dedup.MINHASH_PRIME for x in s)


# ---------------- calibration summary scalars (r16 verdict order 6)

def test_calibration_summary_perfect_ranking(spark):
    from restaurant_etl_code_spark.operators import corpus
    # scores 0..19, positive iff score >= 10: monotone table, zero
    # inversions; ECE vs the 50% base rate is 5000 bp (every bin is
    # all-0 or all-10000 against base 5000)
    rows = [(i, i, i >= 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, s long, label boolean")
    rel = corpus.score_bin_reliability(df, "s", "label", n_bins=4)
    out = corpus.calibration_summary(rel).collect()[0]
    assert out["n_bins_used"] == 4
    assert out["n_docs"] == 20
    assert out["base_rate_bp"] == 5000
    assert out["n_inversions"] == 0
    assert out["ece_bp"] == 5000


def test_calibration_summary_inverted_bins(spark):
    from restaurant_etl_code_spark.operators import corpus
    # an ANTI-ranked classifier: positive iff score < 10 — every
    # adjacent nonempty bin pair with differing rates inverts
    rows = [(i, i, i < 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, s long, label boolean")
    rel = corpus.score_bin_reliability(df, "s", "label", n_bins=4)
    out = corpus.calibration_summary(rel).collect()[0]
    # bins: [0-4]=100%, [5-9]=100%, [10-14]=0%, [15-19]=0% -> exactly
    # one strict decrease (bin1 -> bin2)
    assert out["n_inversions"] == 1
    assert out["ece_bp"] == 5000
    assert out["base_rate_bp"] == 5000


def test_calibration_summary_plateau_not_inversion(spark):
    from restaurant_etl_code_spark.operators import corpus
    # equal exact rates across every bin: no inversion, zero ECE (a
    # plateau is NOT mis-ranking; the cross-multiplication compares
    # exact counts, so equal rates never count as a decrease)
    rows = [(i, i // 5, (i % 5) % 2 == 0) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, s long, label boolean")
    rel = corpus.score_bin_reliability(df, "s", "label", n_bins=4)
    out = corpus.calibration_summary(rel).collect()[0]
    assert out["base_rate_bp"] == 6000  # 3/5 positive in every bin
    assert out["n_inversions"] == 0     # flat 60% everywhere
    assert out["ece_bp"] == 0           # no deviation from base rate


# ---------------- vocab coverage in BPE units (r16 verdict order 7)

def test_vocab_coverage_tokens_col(spark):
    from restaurant_etl_code_spark.operators import corpus
    # pre-tokenized arrays: the curve must read the arrays verbatim,
    # not re-tokenize text
    rows = [(1, ["a_b", "a_b", "c"]), (2, ["a_b", "d", ""])]
    df = spark.createDataFrame(rows, "doc_id long, tk array<string>")
    out = {r["k"]: r for r in corpus.vocab_coverage(
        df, ks=(1, 2), tokens_col="tk").collect()}
    # mass: a_b x3, c x1, d x1 (empty token dropped) -> total 5
    assert out[1]["n_types"] == 1 and out[1]["covered_bp"] == 6000
    assert out[2]["n_types"] == 2 and out[2]["covered_bp"] == 8000


# ---------------- PSL text-path construction (r17 optimization round)

def test_psl_sql_text_path_matches_column_path(spark):
    # registrable_domain_psl builds its predicate via the SQL parser when
    # the host is a plain column reference (one py4j call instead of one
    # per rule literal). The two construction paths must stay
    # value-identical — including empty/NULL hosts, FQDN dots, IP
    # literals, wildcard/exception rules, and a quote-containing host
    # (the literal escaper's adversarial case).
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.functions import urls as U

    hosts = [
        "a.b.co.uk", "co.uk", "", None, "1.2.3.4", "[::1]x",
        "example.com.", "plain", "a.b.c.d.e.f", "it's.odd'host.com",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    fast = [
        r.d for r in df.select(
            U.registrable_domain_psl(F.col("host")).alias("d")).collect()
    ]
    ref = [
        r.d for r in df.select(
            U._registrable_domain_psl_columns(F.col("host")).alias("d")
        ).collect()
    ]
    assert fast == ref
    # composed host expressions must take the Column fallback (display
    # SQL of arbitrary expressions is not guaranteed parser-faithful)
    comp = U.registrable_domain_psl(F.lower(F.col("host")))
    ref2 = U._registrable_domain_psl_columns(F.lower(F.col("host")))
    got = [r.d for r in df.select(comp.alias("d")).collect()]
    want = [r.d for r in df.select(ref2.alias("d")).collect()]
    assert got == want


# ---------------- CDC Arrow stage: parity with the Catalyst expression twin

def test_cdc_chunks_arrow_matches_expression_twin(spark):
    """The md5 boundary path now runs in an Arrow stage; pin it
    byte-for-byte against the former Catalyst expression form (rebuilt
    inline here), including short docs (n <= window), empty/null text,
    and multi-chunk docs."""
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.operators.chunking import cdc_chunks

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"),
        (2, "one two three"),          # n <= window: single tail chunk
        (3, ""),                       # no tokens: no rows
        (4, None),                     # null text: no rows
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (6, "  Mixed   CASE    words\tand\nwhitespace   runs here ok "
            "yes more tokens to cross the window boundary for sure"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w, d = 4, 8
    got = {
        (r.doc_id, r.chunk_idx): (r.n_tokens_chunk, r.chunk_hash)
        for r in cdc_chunks(docs, window=w, divisor=d).collect()
    }
    # the pre-r17 expression form, verbatim
    from restaurant_etl_code_spark.functions import text as Ftext

    toks = docs.select(
        F.col("doc_id"),
        F.filter(Ftext.tokens(F.col("text")), lambda t: t != "").alias("tk"),
    ).filter(F.size("tk") >= 1)
    ctx = f"array_join(slice(tk, i - {w} + 1, {w}), ' ')"
    hash52 = f"cast(conv(substring(md5({ctx}), 1, 13), 16, 10) as bigint)"
    bnd = (
        f"concat(if(size(tk) > {w}, "
        f"filter(sequence({w}, size(tk) - 1), i -> {hash52} % {d} = 0), "
        "array()), array(size(tk)))"
    )
    chunks = toks.withColumn("bnd", F.expr(bnd)).select(
        F.col("doc_id"),
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
    want = {
        (r.doc_id, r.chunk_idx): (r.n, r.h)
        for r in chunks.select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.toks").cast("long").alias("n"),
            F.md5(F.concat_ws(" ", "c.toks")).alias("h"),
        ).collect()
    }
    assert got == want
    assert any(k[0] == 1 for k in got)          # multi-token doc chunked
    assert not any(k[0] in (3, 4) for k in got)  # empty/null emit nothing


def test_cdc_chunks_xxhash_path_stays_jvm(spark):
    """The xxhash64 fast path must keep the pure-JVM codegen plan (no
    Python node) while md5 takes the Arrow stage."""
    from restaurant_etl_code_spark.operators.chunking import cdc_chunks
    from tools.explain_audit import plan_failures

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string")
    md5_plan = cdc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in md5_plan
    xx = cdc_chunks(docs, boundary_hash="xxhash64")
    assert plan_failures("cdc_chunks_xxhash64", xx, {}) == []


# ---------------- bpe_apply carry= / emit_n_words= (fold and arrow engines)

def test_bpe_apply_carry_and_n_words_parity(spark):
    from pyspark.sql import functions as F

    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (1, "en", "a b a b a b c"),
            (2, "fr", "x y x y"),
            (3, "en", "a"),
            (4, "de", ""),           # dropped: zero tokens
        ],
        "doc_id long, lang string, text string",
    )
    merges = [("a", "b"), ("a_b", "c")]
    for eng in ("fold", "arrow"):
        out = corpus.bpe_apply(
            docs, merges, engine=eng, carry=("lang",), emit_n_words=True
        ).collect()
        rows = {r.doc_id: r for r in out}
        assert set(rows) == {1, 2, 3}
        assert [f.name for f in corpus.bpe_apply(
            docs, merges, engine=eng, carry=("lang",), emit_n_words=True
        ).schema.fields] == ["doc_id", "lang", "n_words", "tk"]
        # carry rides through unchanged; n_words is the PRE-merge count
        assert rows[1].lang == "en" and rows[1].n_words == 7
        assert rows[2].lang == "fr" and rows[2].n_words == 4
        assert rows[3].lang == "en" and rows[3].n_words == 1
        # tk identical to the no-params call
        base = {
            r.doc_id: list(r.tk)
            for r in corpus.bpe_apply(docs, merges, engine=eng).collect()
        }
        for k, r in rows.items():
            assert list(r.tk) == base[k]
        # later merge fired on the earlier merge's output token
        assert list(rows[1].tk) == ["a_b", "a_b", "a_b_c"]


# ---------------- row-derived state partitions for Python-state streams

def test_stream_state_partitions_rows_mode(spark):
    from restaurant_etl_code_spark.plans.testdata_queries import (
        _stream_state_partitions,
    )

    sf = "/root/testdata/sf0.001"
    import pyarrow.parquet as pq

    n_rows = pq.read_metadata(f"{sf}/events.parquet").num_rows
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = _stream_state_partitions(spark, sf, per_partition_rows=100)
    want = max(2, min(session_parts, -(-n_rows // 100)))
    assert got == want
    # floor of 2 even for tiny sources / huge divisors
    assert _stream_state_partitions(
        spark, sf, per_partition_rows=10**9) == 2
    # missing table falls back to the floor, never raises
    assert _stream_state_partitions(
        spark, sf, table="no_such_table", per_partition_rows=100) == 2


# ---------------- digest-based hash52 + per-batch shingle memo (r17 opt)

def test_py_hash52_digest_identity():
    # the digest-slice form must be bit-identical to the 13-hex-char
    # parse it replaced (the oracle CTEs pin the hex form)
    import hashlib

    from restaurant_etl_code_spark.operators.dedup import _py_hash52

    for s in ["", "a", "the quick brown fox", "naïve café ​",
              "0" * 200, "日本語 テスト 한글"]:
        assert _py_hash52(s) == int(
            hashlib.md5(s.encode()).hexdigest()[:13], 16)


def test_minhash_signatures_memo_matches_direct(spark):
    # duplicate-heavy frame exercises the per-batch shingle-hash memo:
    # signatures must equal the unmemoized definition (min over
    # per-shingle universal-family hashes), clones must agree, and a
    # NULL doc must still be dropped
    import hashlib

    from restaurant_etl_code_spark.operators import dedup as D

    rows = [(1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact clone: memo hits
            (3, "alpha beta gamma delta zeta"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: list(r["signature"])
           for r in D.minhash_signatures(
               df, "doc_id", "text", num_hashes=4).collect()}
    p = D.MINHASH_PRIME

    def direct(text):
        toks = text.split(" ")
        hs = [int(hashlib.md5(
            " ".join(toks[i:i + 3]).encode()).hexdigest()[:13], 16)
            for i in range(len(toks) - 2)]
        return [min(((h % p) * ((i * D.MINHASH_SALT) % (p - 1) + 1)
                     + (i * D.MINHASH_SALT) % p) % p for h in hs)
                for i in range(4)]

    assert got[1] == direct("alpha beta gamma delta epsilon")
    assert got[1] == got[2]
    assert got[3] == direct("alpha beta gamma delta zeta")
    assert 4 not in got


def test_r17_ramp_audited_warmup_rows():
    # BASELINE.md "Round-17 ramp audits": committed rows >=1.7x their
    # quiet steady state joined WARMUP_ROWS; basket_triple_rules was
    # audited at 1.5x and deliberately left out
    import bench

    assert "pagerank" in bench.WARMUP_ROWS
    assert "basket_triples" in bench.WARMUP_ROWS
    assert "basket_rules" in bench.WARMUP_ROWS
    assert "basket_triple_rules" not in bench.WARMUP_ROWS
    # the r15/r16 members stay
    assert "containment_pairs" in bench.WARMUP_ROWS


def test_unigram_logprob_half_tie_rounds_up(spark):
    # sf0.001 doc 202: ten 6dp logprobs sum to EXACTLY 48.8965, so the
    # 4dp mean is a half-way tie. The float-avg form let each engine
    # pick its own side (Spark 4.8897 via shortest-repr HALF_UP, DuckDB
    # 4.8896 off the below-tie binary double); the exact-integer mean
    # makes both engines see the same tie and round HALF_UP.
    from restaurant_etl_code_spark.operators import corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in corpus.unigram_logprob(docs, vocab_size=2000, floor=1e-9)
        .filter("doc_id in (202, 3)")
        .collect()
    }
    assert out[202]["n_tokens"] == 10
    assert out[202]["avg_neg_logp"] == 4.8897  # half-up, both engines
    # a non-tie row is untouched by the rewrite
    assert out[3]["avg_neg_logp"] == 4.9105
