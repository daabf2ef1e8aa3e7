"""Round-4 surfaces: MDB extractor contract (S6), paged-PDF byte decode
(U1/S1), banded SimHash pairing, and the scale guards added this round
(ANN driver-collect cap, Misra-Gries summary clamp, quantile-bucket cap)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from restaurant_etl_code_spark.multimodal import binary as mm
from restaurant_etl_code_spark.operators import dedup, similarity, stats
from restaurant_etl_code_spark.sources import mdb


# ---------------------------------------------------------------- S6: MDB

CSV_ARTICLES = (
    "Article,Description,QteMain,Taxe2,PrixVente\n"
    "A1,apple,2.0,True,1.5\n"
    "A2,bread,,False,2.25\n"     # QteMain empty -> NaN -> filled to 0
    "A3,cheese,5.0,True,9.99\n"
)


def test_fake_mdb_container_roundtrip(tmp_path):
    p = str(tmp_path / "cat.mdb")
    mdb.write_fake_mdb(p, {"Articles": CSV_ARTICLES, "Empty": "X\n"})
    with open(p, "rb") as f:
        raw = f.read()
    ex = mdb.FakeMdbExtractor()
    assert ex(raw, "Articles") == CSV_ARTICLES
    assert ex(raw, "Empty") == "X\n"
    with pytest.raises(KeyError):
        ex(raw, "Missing")
    with pytest.raises(ValueError):
        ex(b"not-a-container", "Articles")


def test_mdb_export_tool_requires_binary():
    # mdbtools is absent from this container: the real-tool extractor must
    # fail fast at construction, not at first use on an executor
    with pytest.raises(FileNotFoundError):
        mdb.MdbExportTool(binary="mdb-export")
    assert isinstance(mdb.default_extractor(), mdb.FakeMdbExtractor)


def test_read_mdb_catalog_fills_quantity(spark, tmp_path):
    p = str(tmp_path / "cat.mdb")
    mdb.write_fake_mdb(p, {"Articles": CSV_ARTICLES})
    df = mdb.read_mdb_catalog(spark, p, "Articles")
    rows = {r["Article"]: r for r in df.collect()}
    assert set(rows) == {"A1", "A2", "A3"}
    assert rows["A2"]["QteMain"] == 0.0        # ingest default applied
    assert rows["A3"]["PrixVente"] == 9.99
    assert rows["A1"]["Taxe2"] is True


def test_read_mdb_catalog_leaves_no_staging_dir(spark, tmp_path, monkeypatch):
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    p = str(tmp_path / "cat.mdb")
    mdb.write_fake_mdb(p, {"Articles": CSV_ARTICLES})
    assert mdb.read_mdb_catalog(spark, p, "Articles").count() == 3
    assert not list(tmp.glob("mdb_staging_*"))


def test_mdb_readers_keep_leading_zero_codes(spark, tmp_path):
    # all-digit barcodes: both readers parse them as strings, zeros intact,
    # and agree row for row
    csv = (
        "Article,Description,QteMain,Taxe2,PrixVente\n"
        "0012345678905,milk,1.0,True,0.99\n"
        "0098765432109,eggs,,False,2.49\n"
    )
    d = tmp_path / "storeA"
    d.mkdir()
    p = str(d / "cat.mdb")
    mdb.write_fake_mdb(p, {"Articles": csv})
    single = mdb.read_mdb_catalog(spark, p, "Articles")
    fanout = mdb.read_mdb_catalog_distributed(spark, p, "Articles")
    assert sorted(r["Article"] for r in single.collect()) == [
        "0012345678905", "0098765432109"
    ]
    assert sorted(map(tuple, fanout.drop("container_name").collect())) == sorted(
        map(tuple, single.collect())
    )
    assert {r["container_name"] for r in fanout.collect()} == {"storeA"}


def test_read_mdb_catalog_distributed(spark, tmp_path):
    # two containers in differently-named parent dirs -> container_name
    for store in ("storeA", "storeB"):
        d = tmp_path / store
        d.mkdir()
        mdb.write_fake_mdb(str(d / "cat.mdb"), {"Articles": CSV_ARTICLES})
    df = mdb.read_mdb_catalog_distributed(
        spark, os.path.join(str(tmp_path), "*", "*.mdb"), "Articles"
    )
    out = df.collect()
    assert len(out) == 6
    assert {r["container_name"] for r in out} == {"storeA", "storeB"}
    assert all(r["QteMain"] is not None for r in out)


# ------------------------------------------------------- U1: paged PDF

def test_paged_pdf_container_roundtrip():
    pages = ["first page", "második oldal", ""]
    blob = mm.encode_paged_pdf(pages)
    assert blob[:8] == mm.PAGED_PDF_MAGIC
    decoded = mm.PagedPdfDecoder().decode("pdf", blob)
    assert [u["unit_index"] for u in decoded] == [0, 1, 2]
    assert decoded[1]["n_bytes"] == len(pages[1].encode("utf-8"))
    assert decoded[0]["width"] == 612 and decoded[0]["height"] == 792


def test_paged_pdf_text_executor_decode(spark):
    df = spark.createDataFrame(
        [(1, ["p0", "p1"]), (2, ["solo"])], "asset_id long, pages array<string>"
    )
    assets = mm.pack_paged_pdf(df, id_col="asset_id", pages_col="pages")
    out = mm.paged_pdf_text(assets).collect()
    got = {(r["asset_id"], r["page_index"]): r["page_text"] for r in out}
    assert got == {(1, 0): "p0", (1, 1): "p1", (2, 0): "solo"}
    assert all(r["decode_error"] is None for r in out)


def test_paged_pdf_text_absorbs_garbage(spark):
    assets = spark.createDataFrame(
        [(1, bytearray(b"garbage-bytes"))], "asset_id long, content binary"
    )
    out = mm.paged_pdf_text(assets).collect()
    assert len(out) == 1
    assert out[0]["page_text"] is None
    assert "paged-PDF" in out[0]["decode_error"]


# ------------------------------------------- SimHash pigeonhole banding

def test_simhash_banded_equals_all_pairs(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox leaps over the lazy dog"),
        (5, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sims = dedup.simhash(df, "doc_id", "text", bits=32)
    all_pairs = (
        sims.alias("a")
        .join(sims.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.hamming_distance(
                F.col("a.simhash"), F.col("b.simhash")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    banded = dedup.simhash_banded_pairs(
        sims, "doc_id", "simhash", bits=32, max_hamming=3
    )
    assert sorted(map(tuple, banded.collect())) == sorted(
        map(tuple, all_pairs.collect())
    )


def test_simhash_banded_wide_hamming_still_exact(spark):
    # larger budget -> more blocks; pigeonhole argument must still hold
    df = spark.createDataFrame(
        [(i, f"shared prefix words here variant {i % 4}") for i in range(12)],
        "doc_id long, text string",
    )
    sims = dedup.simhash(df, "doc_id", "text", bits=32)
    all_pairs = (
        sims.alias("a")
        .join(sims.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.hamming_distance(
                F.col("a.simhash"), F.col("b.simhash")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
    )
    banded = dedup.simhash_banded_pairs(
        sims, "doc_id", "simhash", bits=32, max_hamming=7
    )
    assert sorted(map(tuple, banded.collect())) == sorted(
        map(tuple, all_pairs.collect())
    )


# ---------------------------------------------------------- scale guards

# entry -> (call with query side, corpus and cap; what its refusal names)
_GUARDED_ENTRIES = {
    "cosine_topk": (lambda q, c, cap: similarity.cosine_topk(
        q, c, k=2, max_query_rows=cap), "bucketed_cosine_topk or ivf_topk"),
    "pq_adc_topk": (lambda q, c, cap: similarity.pq_adc_topk(
        q, c, m=2, k_centers=2, k=2, max_query_rows=cap), "use ivf_topk"),
    "ivfpq_topk": (lambda q, c, cap: similarity.ivfpq_topk(
        q, c, n_lists=2, nprobe=2, m=2, k_centers=2, k=2,
        max_query_rows=cap), "Shard the query batch"),
    "l2_topk": (lambda q, c, cap: similarity.l2_topk(
        q, c, k=2, max_query_rows=cap), "sample it for audits"),
    # the exact near-dup path has no separate query side: its whole input
    # ships to every task, so the cap applies to it
    "embedding_near_dup_pairs": (lambda q, c, cap: (
        similarity.embedding_near_dup_pairs(
            q, threshold=0.0, nbits=0, exact_max_rows=cap)),
        "sample the corpus"),
}


@pytest.mark.parametrize("entry", sorted(_GUARDED_ENTRIES))
def test_exact_entries_guard_large_query_side(spark, entry):
    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    run, names = _GUARDED_ENTRIES[entry]
    with pytest.raises(ValueError, match=f"> 10 rows.*{names}"):
        run(emb, emb, 10)
    # under the cap the exact path still runs: 3 queries x 2 neighbors, or
    # the 3 pairs of 3 vectors
    out = run(emb.limit(3), emb, 10)
    assert out.count() == (3 if entry == "embedding_near_dup_pairs" else 6)


def test_cosine_topk_empty_query_side_is_typed_empty(spark):
    # every staged row matched upstream leaves no query: an empty, typed
    # result, and no job over the corpus (its UDF would raise if scanned)
    emb = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )

    @F.udf("array<double>")
    def boom(v):
        raise RuntimeError("corpus scanned")

    corpus = emb.select("vec_id", boom("embedding").alias("embedding"))
    out = similarity.cosine_topk(emb.limit(0), corpus, k=2)
    assert out.collect() == []
    assert out.schema == similarity.cosine_topk(emb.limit(1), emb, k=2).schema
    assert out.columns == ["query_id", "neighbor_id", "score", "rank"]


def test_heavy_hitters_clamps_undersized_summary(spark):
    # 400 'hot' rows + 200 singletons; threshold 100 -> k floor = 6.
    # summary_size=1 would break the Misra-Gries superset guarantee when the
    # hot keys arrive first; the clamp must keep the result exact anyway.
    rows = [("hot%d" % (i % 2),) for i in range(400)] + [
        ("cold%d" % i,) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string").repartition(2)
    out = stats.heavy_hitters(df, "k", min_count=100, summary_size=1)
    assert {r["k"] for r in out.collect()} == {"hot0", "hot1"}


def test_quantile_bucket_rejects_pathological_bins(spark):
    from restaurant_etl_code_spark.operators.layout import quantile_bucket

    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="4096"):
        quantile_bucket(df, "v", bins=1 << 16)


# ------------------------------------------------- plan-shape regression

def test_plan_audit_round4_surfaces(spark):
    """The physical plans this round touched must stay the designed plans:
    TakeOrdered quantizer (no global window), banded equi-join (no all-pairs),
    executor-side byte decode, in-memory MDB CSV parse."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import explain_audit

    failures = explain_audit.audit(
        ["ann_ivf_topk", "mdb_scan_agg", "simhash_pairs_banded",
         "pdf_menu_extract", "bloom_prune_join", "zorder_scan",
         "sliding_window", "heavy_hitters", "weighted_sample"],
        spark,
    )
    assert not failures, failures


# -------------------------------------------- shared-session conf safety

def test_connected_components_leaves_session_conf_alone(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["node"]: r["component_id"]
           for r in dedup.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_run_stream_pins_state_partitions_on_clone_only(spark, tmp_path):
    from restaurant_etl_code_spark.plans.testdata_queries import _run_stream

    src = str(tmp_path / "landing")
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, k long"
    ).write.parquet(src)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def build(s):
        # the builder must receive the CLONE: its conf pin is visible here
        assert s is not spark
        assert s.conf.get("spark.sql.shuffle.partitions") == "2"
        stream = s.readStream.schema("id long, k long").parquet(src)
        return stream.groupBy("k").count()

    out = _run_stream(spark, build, "complete", state_partitions=2)
    assert out.count() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ------------------------------- mixture sampling + contamination scoring

def test_mixture_sample_temperature_rebalances(spark):
    from restaurant_etl_code_spark.operators import sampling

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # τ=1: proportional — expected take ~ (180, 20); τ=0: per-source equal
    prop = sampling.mixture_sample(df, "doc_id", "source", 200, temperature=1.0)
    flat = sampling.mixture_sample(df, "doc_id", "source", 200, temperature=0.0)
    by_src = lambda d: {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    p, f = by_src(prop), by_src(flat)
    assert p["big"] > 6 * p["small"]            # ~9:1 split survives τ=1
    assert abs(f["big"] - f["small"]) < 40      # τ=0 pulls sources even
    # deterministic: same call, same rows
    again = sampling.mixture_sample(df, "doc_id", "source", 200, temperature=1.0)
    assert sorted(r["doc_id"] for r in prop.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_contamination_score_fraction(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corp = spark.createDataFrame(
        [
            # shares 'alpha..epsilon' (1 of its 2 distinct 5-grams)
            (1, "alpha beta gamma delta epsilon other"),
            # no overlap
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus_ops.contamination_score(corp, bench).collect()}
    assert out[1]["n_shingles"] == 2 and out[1]["n_hits"] == 1
    assert out[1]["contamination"] == 0.5
    assert out[2]["n_hits"] == 0 and out[2]["contamination"] == 0.0


# --------------------------------- containment pairs + unigram logprob

def test_containment_catches_subset_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = dedup.containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert len(cont) == 1
    row = cont[0]
    assert row["containment_a"] == 1.0          # short fully inside long
    assert row["containment_b"] < 0.1
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8)
    assert jac.count() == 0                     # jaccard is diluted away


def test_unigram_logprob_orders_common_vs_rare(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    common = "the cat sat on the mat " * 10
    rows = [(i, common) for i in range(9)] + [(9, "zyzzyva qwfp jkl xyzzy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus_ops.unigram_logprob(df).collect()}
    # corpus-typical text scores far lower cross-entropy than rare-token soup
    assert out[0]["avg_neg_logp"] < out[9]["avg_neg_logp"] - 2
    # OOV floor engages under a capped vocabulary
    capped = {
        r["doc_id"]: r
        for r in corpus_ops.unigram_logprob(df, vocab_size=3).collect()
    }
    assert capped[9]["avg_neg_logp"] == round(-__import__("math").log2(1e-9), 4)


def test_bpe_token_count_vs_whitespace(spark):
    from restaurant_etl_code_spark.functions import text as Ftext

    df = spark.createDataFrame(
        [
            (1, "hello world"),                  # 2 ws, 2 bpe
            (2, "don't stop-me now!!!"),         # 3 ws; do|n't|stop|-|me|now|!!! = 7 bpe
            (3, "v1.2.3"),                       # 1 ws; v|1|.|2|.|3 = 6 bpe
            (4, ""),                             # 0 / 0
            (5, None),                           # 0 / 0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            Ftext.token_count(F.col("text")).alias("ws"),
            Ftext.bpe_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert (out[1]["ws"], out[1]["bpe"]) == (2, 2)
    assert out[2]["bpe"] == 7 and out[2]["ws"] == 3
    assert out[3]["bpe"] == 6 and out[3]["ws"] == 1
    assert out[4]["bpe"] == 0 and out[5]["bpe"] is None


def test_minhash_estimate_tracks_exact_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " ok"),                      # near-dup of 1
        (3, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, "doc_id", "text", num_hashes=16)
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_estimate_pairs(sigs, "doc_id").collect()
    }
    assert (1, 2) in est
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0).collect()
    }
    # 16-hash estimator: within ~2/16 of the exact value on the near-dup pair
    assert abs(est[(1, 2)] - exact[(1, 2)]) <= 0.15


def test_bm25_ranks_term_dense_docs_first(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    rows = [
        (1, "spark spark spark engine"),        # dense in 'spark'
        (2, "spark engine room filler words here and more filler"),
        (3, "nothing relevant at all in this document"),
        (4, "spark"),                           # short doc, high tf ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_ops.bm25_topk(df, "spark", k=3).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids                         # no query term, no score
    assert ids[0] in (1, 4)                     # dense/short docs outrank
    assert out[0]["bm25"] >= out[-1]["bm25"]
    with pytest.raises(ValueError):
        corpus_ops.bm25_topk(df, "   ")


def test_boilerplate_ngrams_finds_repeated_template(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    template = "click here to subscribe"
    rows = [(i, f"{template} unique words {i} alpha beta") for i in range(10)]
    rows += [(100, "entirely different text with no template at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = corpus_ops.boilerplate_ngrams(df, n=3, k=3).collect()
    assert top[0]["gram"] in ("click here to", "here to subscribe")
    assert top[0]["df"] == 10


def test_char_entropy_separates_garbage_from_repetition(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaa"),            # degenerate: ~0 bits
        (2, "abcdefghijklmnopqrst"),            # 20 distinct chars: log2(20)
        (3, "the cat sat on the mat"),          # natural text: in between
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["entropy_bits"] for r in corpus_ops.char_entropy(df).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - 4.3219) < 0.001         # log2(20)
    assert 0.0 < out[3] < out[2]


def test_cdc_apply_latest_op_wins_and_deletes_vanish(spark):
    from restaurant_etl_code_spark.operators import matching

    ops = spark.createDataFrame(
        [
            (1, 1, "I", 10.0),
            (1, 2, "U", 11.0),   # latest for key 1 -> survives with value 11
            (2, 1, "I", 20.0),
            (2, 2, "D", None),   # key 2 deleted -> vanishes
            (3, 1, "D", None),
            (3, 2, "I", 30.0),   # delete then re-insert -> survives
        ],
        "k long, seq long, op string, value double",
    )
    out = {r["k"]: r for r in matching.cdc_apply(
        ops, keys=["k"], order_by=["seq"]
    ).collect()}
    assert set(out) == {1, 3}
    assert out[1]["value"] == 11.0 and out[1]["op"] == "U"
    assert out[3]["value"] == 30.0


def test_streaming_cdc_apply_converges_to_batch_snapshot(spark, tmp_path):
    """A CDC op log split across micro-batches and applied via the
    delete-aware foreachBatch merge must converge to exactly the batch
    cdc_apply snapshot over the whole log."""
    import os as _os

    from restaurant_etl_code_spark.operators import matching
    from restaurant_etl_code_spark.sources.sinks import read_bucketed
    from restaurant_etl_code_spark.streaming import foreach_batch_cdc_apply

    log = [
        # (k, seq, op, value) — keys exercise update, delete, re-insert,
        # and cross-batch delete-after-update
        (1, 1, "I", 10.0), (2, 2, "I", 20.0), (3, 3, "I", 30.0),
        (1, 4, "U", 11.0), (3, 5, "D", None),
        # second file/micro-batch
        (2, 6, "D", None), (3, 7, "I", 31.0), (4, 8, "I", 40.0),
        (1, 9, "U", 12.0),
    ]
    schema = "k long, seq long, op string, value double"
    landing = str(tmp_path / "landing")
    _os.makedirs(landing)
    spark.createDataFrame(log[:5], schema).coalesce(1).write.parquet(
        _os.path.join(landing, "batch0.parquet")
    )
    spark.createDataFrame(log[5:], schema).coalesce(1).write.parquet(
        _os.path.join(landing, "batch1.parquet")
    )

    streamed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)        # force multiple micro-batches
        .parquet(landing + "/*")
    )
    target = str(tmp_path / "snapshot")
    foreach_batch_cdc_apply(
        streamed, target, keys=["k"], order_by=["seq"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    got = {
        r["k"]: (r["op"], r["value"])
        for r in read_bucketed(spark, target).collect()
    }
    batch = {
        r["k"]: (r["op"], r["value"])
        for r in matching.cdc_apply(
            spark.createDataFrame(log, schema), keys=["k"], order_by=["seq"]
        ).collect()
    }
    assert got == batch == {
        1: ("U", 12.0), 3: ("I", 31.0), 4: ("I", 40.0),
    }


# ------------------------------------- code-review regression coverage

def test_truncated_containers_raise_not_corrupt(spark):
    """Truncated byte containers must surface as decode errors, never as
    silently shortened payloads (corpus poisoning / silent row loss)."""
    blob = mm.encode_paged_pdf(["hello world", "page two"])
    out = mm.paged_pdf_text(
        spark.createDataFrame(
            [(1, bytearray(blob[:-4]))], "asset_id long, content binary"
        )
    ).collect()
    assert out[0]["page_text"] is None
    assert "truncated" in out[0]["decode_error"]

    import pytest as _pytest

    csv = "A,B\n1,2\n"
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".mdb", delete=False) as f:
        mdb.write_fake_mdb(f.name, {"T": csv})
        path = f.name
    with open(path, "rb") as fh:
        raw = fh.read()
    with _pytest.raises(ValueError, match="truncated"):
        mdb.FakeMdbExtractor()(raw[:-3], "T")


def test_bm25_empty_corpus_returns_empty(spark):
    from restaurant_etl_code_spark.operators import corpus as corpus_ops

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = corpus_ops.bm25_topk(empty, "anything", k=5)
    assert out.count() == 0
    assert out.columns == ["doc_id", "bm25"]


def test_negative_nbits_is_exact_path(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    neg = similarity.embedding_near_dup_pairs(emb, threshold=0.9, nbits=-1)
    zero = similarity.embedding_near_dup_pairs(emb, threshold=0.9, nbits=0)
    assert sorted(map(tuple, neg.collect())) == sorted(map(tuple, zero.collect()))
    assert neg.count() == 1


def test_topk_recall_multiprobe_dominates_single(spark):
    """The recall audit must show multi-probe LSH recovering at least as
    much of the exact top-k as single-probe — measured, not assumed."""
    import math

    rows = [
        (
            i,
            [math.cos(i * 0.37 + d) for d in range(8)],
        )
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(q, emb, k=3)
    single = similarity.bucketed_cosine_topk(q, emb, k=3, nbits=4, probes=1)
    multi = similarity.bucketed_cosine_topk(q, emb, k=3, nbits=4, probes=3)
    r1 = {r["query_id"]: r["recall"]
          for r in similarity.topk_recall(single, exact).collect()}
    r3 = {r["query_id"]: r["recall"]
          for r in similarity.topk_recall(multi, exact).collect()}
    assert all(r3[q_] >= r1[q_] for q_ in r1)
    assert all(0.0 <= v <= 1.0 for v in list(r1.values()) + list(r3.values()))


# ------------------------------------------------- file-stats data skipping

def test_stats_pruned_read_skips_files(spark, tmp_path):
    path = str(tmp_path / "ranged")
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 100).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    (df.repartitionByRange(8, "id").sortWithinPartitions("id")
       .write.mode("overwrite").parquet(path))
    from restaurant_etl_code_spark.operators import layout

    pruned, (kept, total) = layout.stats_pruned_read(
        spark, path, "id", lo=1000, hi=1500
    )
    assert total == 8
    assert kept < total            # the catalog actually skipped files
    rows = pruned.count()
    assert rows == 501             # residual filter is row-exact
    # disjoint predicate -> zero files, empty result, same schema
    empty, (k0, _) = layout.stats_pruned_read(spark, path, "id", lo=10**9)
    assert k0 == 0 and empty.count() == 0
    assert empty.schema == pruned.schema


def test_file_stats_catalog_shape(spark, tmp_path):
    path = str(tmp_path / "cat")
    spark.range(0, 100).select(F.col("id"), (F.col("id") % 3).alias("g")) \
        .repartition(4).write.mode("overwrite").parquet(path)
    from restaurant_etl_code_spark.operators import layout

    st = layout.file_stats_catalog(spark, path, ["id", "g"]).collect()
    assert len(st) == 4
    assert sum(r["n_rows"] for r in st) == 100
    for r in st:
        assert r["min_id"] <= r["max_id"] and 0 <= r["min_g"] <= r["max_g"] <= 2


# ------------------------------------------------------------ semantic dedup

def test_semantic_dedup_drops_injected_near_dups(spark):
    # 8 mutually orthogonal originals (cos = 0 pairwise, all kept) plus a
    # scaled copy of each (same direction -> cos = 1 with its base; the
    # scaled copy assigns to the same centroid as its base, so every copy
    # is in-cluster with a smaller-id near-dup and must be dropped)
    base = [(i, [1.0 if d == i else 0.0 for d in range(8)]) for i in range(8)]
    dups = [(1000 + i, [x * 1.001 for x in v]) for i, v in base]
    df = spark.createDataFrame(base + dups, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(df, n_clusters=4, threshold=0.95)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {i for i, _ in base}
    assert set(out.columns) == {"vec_id", "cluster_id"}


def test_semantic_dedup_keeps_all_below_threshold(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.semantic_dedup(df, n_clusters=2, threshold=0.99)
    assert out.count() == 3


# --------------------------------------------------- hashed linear classifier

def test_hashed_linear_score_engine_exact_and_total(spark):
    from restaurant_etl_code_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "  Alpha   BETA  "), (3, ""),
         (4, None), (5, "zzz")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in corpus.hashed_linear_score(docs).collect()}
    assert set(out) == {1, 2, 5}                 # empty/null docs dropped
    assert out[2]["n_tokens"] == 2               # normalization collapses runs
    # score is mean weight; w_sum is exact int
    r = out[1]
    assert r["score"] == round(r["w_sum"] / (r["n_tokens"] * 1_000_003.0), 6)
    assert isinstance(r["w_sum"], int)
    # same tokens, case-insensitive -> same per-token weights
    a3 = out[1]["w_sum"]
    docs2 = spark.createDataFrame([(9, "ALPHA beta GaMmA")], "doc_id long, text string")
    assert corpus.hashed_linear_score(docs2).collect()[0]["w_sum"] == a3


# ------------------------------------------- mergeable quantile state

def test_quantile_state_merge_equals_direct(spark):
    from restaurant_etl_code_spark.operators import incremental

    breaks = [0.0, 10.0, 20.0, 30.0, 40.0]
    df = spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 37).cast("double").alias("v"),
    )
    halves = [df.filter(F.col("id") % 2 == i) for i in (0, 1)]
    merged = incremental.merge_quantile_states(
        *[incremental.partial_quantile_state(h, ["g"], "v", breaks)
          for h in halves]
    )
    direct = incremental.partial_quantile_state(df, ["g"], "v", breaks)
    m = {(r["g"], r["bin"]): r["cnt"] for r in merged.collect()}
    d = {(r["g"], r["bin"]): r["cnt"] for r in direct.collect()}
    assert m == d                          # state algebra is exact
    est = {r["g"]: r for r in
           incremental.quantile_from_state(merged, [0.5], breaks).collect()}
    for g, r in est.items():
        assert r["n"] == sum(c for (gg, _), c in d.items() if gg == g)
        # p50 lies inside the histogram's support
        assert breaks[0] <= r["p50"] <= breaks[-1]


def test_quantile_state_overflow_underflow_clamp(spark):
    from restaurant_etl_code_spark.operators import incremental

    breaks = [10.0, 20.0]
    df = spark.createDataFrame(
        [("a", -5.0)] * 10 + [("a", 99.0)] * 10, "g string, v double"
    )
    st = incremental.partial_quantile_state(df, ["g"], "v", breaks)
    out = incremental.quantile_from_state(st, [0.25, 0.75], breaks).collect()[0]
    assert out["p25"] == 10.0 and out["p75"] == 20.0   # clamped to support


# ----------------------------------------------------- embedding moments/PCA

def test_pca_projection_variance_matches_eigenvalues(spark):
    import numpy as np
    from restaurant_etl_code_spark.operators import embeddings as E

    rng = np.random.RandomState(7)
    # anisotropic cloud: dim 0 has 5x the spread
    M = rng.randn(300, 6) * np.array([5.0, 2.0, 1.0, 0.5, 0.25, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in M[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    mean, comps, ev = E.pca_fit(df, dim=6, k=3)
    assert ev[0] > ev[1] > ev[2] > 0
    P = np.array([r["pca"] for r in
                  E.pca_project(df, mean, comps).select("pca").collect()])
    got = P.var(axis=0, ddof=0)
    assert np.allclose(got, ev[:3], rtol=1e-3)
    # components are unit-norm and orthogonal
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-9)


def test_embedding_moments_exact_vs_numpy(spark):
    import numpy as np
    from restaurant_etl_code_spark.operators import embeddings as E

    rng = np.random.RandomState(1)
    M = rng.randn(100, 4).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in M[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    Q = np.floor(M.astype(np.float64) * 1e6 + 0.5)
    Cnp = np.cov(Q.T, bias=True) / 1e12
    for r in E.embedding_moments(df, dim=4).collect():
        assert abs(r["cov"] - Cnp[r["i"], r["j"]]) < 2e-6


# ----------------------------------------------------- one-call ingest sink

def test_ingest_table_stats_and_pruning(spark, tmp_path):
    from restaurant_etl_code_spark.operators import layout
    from restaurant_etl_code_spark.sources import sinks

    path = str(tmp_path / "tbl")
    df = spark.range(0, 8000).select(
        F.col("id"),
        (F.col("id") % 4).alias("part"),
        (F.col("id") % 997).alias("x"),
        ((F.col("id") * 7) % 1009).alias("y"),
    )
    stats = sinks.ingest_table(
        df, path, partition_by=["part"], cluster_by=["x", "y"],
        stats_cols=["x"], files_per_partition=8,
    )
    # the stats catalog is written under the hidden _stats dir and re-readable
    assert stats is not None and "min_x" in stats.columns
    assert sum(r["n_rows"] for r in stats.collect()) == 8000
    # the table read is unpolluted by the catalog and partition-prunes
    back = spark.read.parquet(path)
    assert back.count() == 8000
    plan = back.filter(F.col("part") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "part" in plan
    assert back.filter(F.col("part") == 2).count() == 2000
    # z-ordered layout -> the stats admit only a subset for a narrow x range
    pruned, (kept, total) = layout.stats_pruned_read(
        spark, path, "x", lo=10, hi=30, stats=stats
    )
    assert kept < total
    assert pruned.count() == df.filter(F.col("x").between(10, 30)).count()


def test_ingest_table_plain_write_no_stats(spark, tmp_path):
    from restaurant_etl_code_spark.sources import sinks

    path = str(tmp_path / "plain")
    assert sinks.ingest_table(spark.range(5).toDF("id"), path) is None
    assert spark.read.parquet(path).count() == 5


# --------------------------------- streaming continuous-aggregate maintenance

def test_streaming_state_maintenance_equals_direct(spark, tmp_path):
    """State maintained across micro-batches must finalize to exactly the
    direct aggregate over all rows — and a REPLAYED epoch must not
    double-merge its delta (epoch-versioned idempotence)."""
    import os as _os

    from restaurant_etl_code_spark.operators import incremental
    from restaurant_etl_code_spark.streaming.jobs import (
        foreach_batch_state_maintenance, read_latest_state,
    )

    rows = [(f"t{i % 3}", float(i % 50), i % 17) for i in range(600)]
    schema = "event_type string, value double, user_id long"
    landing = str(tmp_path / "landing")
    _os.makedirs(landing)
    spark.createDataFrame(rows[:200], schema).coalesce(1).write.parquet(
        _os.path.join(landing, "f0.parquet"))
    spark.createDataFrame(rows[200:450], schema).coalesce(1).write.parquet(
        _os.path.join(landing, "f1.parquet"))
    spark.createDataFrame(rows[450:], schema).coalesce(1).write.parquet(
        _os.path.join(landing, "f2.parquet"))

    streamed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing + "/*")
    )
    state = str(tmp_path / "state")
    foreach_batch_state_maintenance(
        streamed, state, ["event_type"], "value", "user_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    final = incremental.finalize_aggs(read_latest_state(spark, state))
    direct = incremental.finalize_aggs(
        incremental.partial_aggs(
            spark.createDataFrame(rows, schema),
            ["event_type"], "value", "user_id",
        )
    )
    key = lambda r: r["event_type"]
    got = sorted(final.collect(), key=key)
    want = sorted(direct.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # replay the LAST epoch with the same inputs: state must be unchanged
    # (epoch N recomputes from epoch N-1, never merges twice)
    from restaurant_etl_code_spark.streaming.jobs import _latest_epoch

    last = _latest_epoch(state)
    replay_delta = spark.createDataFrame(rows[450:], schema)

    # simulate the sink call for the same epoch id
    states = [incremental.partial_aggs(replay_delta, ["event_type"],
                                       "value", "user_id")]
    prev = _latest_epoch(state, below=last)
    states.append(spark.read.parquet(f"{state}/epoch={prev}"))
    remerged = incremental.merge_partial_aggs(*states)
    re_final = sorted(
        incremental.finalize_aggs(remerged).collect(), key=key)
    assert [tuple(r) for r in re_final] == [tuple(r) for r in want]
