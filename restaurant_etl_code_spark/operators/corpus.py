"""Corpus-level term statistics: TF-IDF scoring and top-term extraction.

The missing piece between per-document text features (functions/text.py:
quality, lang-id, fingerprints — all row-local) and pair-level dedup
(operators/dedup.py): *corpus-relative* term weighting, the workhorse for
keyword extraction, topic labelling, and lexical retrieval over a training
corpus.

Scale design (the plan at 100 TB, not just at test SF):

- tokenize + explode is a flat map on the scan — no shuffle, and the
  per-(doc, term) count aggregation that follows it gets a map-side
  partial-aggregate, so the shuffle carries (doc_id, term, count) partials,
  not raw token streams;
- document frequency is a second aggregation keyed on term alone — its
  input is the already-collapsed (doc, term) pairs, never the token stream;
- the idf join is an equi-join on ``term``. Vocabulary is Zipf-distributed
  (a few stop-terms appear in most documents) — exactly the skew profile
  AQE's skew-join splitting handles, and why ``df_cap`` exists: terms in
  more than ``df_cap`` of documents carry ~zero idf and can be dropped
  *before* the join, removing the heaviest keys instead of salting them;
- top-k per document is a ``row_number`` window with a k-limit predicate,
  which Spark ≥3.5 executes as WindowGroupLimit (per-partition heap, no
  full sort of the exploded space).

Uses the reference's normalization chain (SURVEY F1-F3 →
functions/text.normalize_text) so scores are stable under whitespace/case
noise, and smooth idf ``ln((N+1)/(df+1)) + 1`` so unseen/every-doc terms
stay finite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from restaurant_etl_code_spark.functions import text as Ftext

__all__ = [
    "tfidf_top_terms",
    "contaminated_ids",
    "contamination_score",
    "decontaminate",
    "repetition_signals",
    "unigram_logprob",
    "bm25_topk",
    "boilerplate_ngrams",
    "corpus_profile",
    "char_entropy",
    "chunk_documents",
    "importance_resample",
    "span_dedup",
    "bpe_pair_stats",
    "pmi_collocations",
    "merge_adjacent_pair",
    "phrase_merge_step",
    "bpe_train",
    "bpe_apply",
    "bigram_logprob",
    "logreg_train_hashed",
    "gopher_flags",
    "GOPHER_STOPWORD_PROBE",
    "line_boilerplate_strip",
    "score_bin_reliability",
    "calibration_summary",
    "vocab_coverage",
]


def contaminated_ids(
    corpus_docs: DataFrame,
    benchmark_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Corpus documents sharing any word ``n``-gram with a benchmark set.

    The standard pre-training decontamination check (drop training documents
    that overlap evaluation data). Shape at 100 TB: the benchmark side is
    tiny relative to the corpus — its distinct shingle set is built once and
    BROADCAST, so the corpus side is a map-side semi-join on its own scan:
    no corpus shuffle at all. Shingles are deduped per document
    (``array_distinct``) before exploding so the probe volume is bounded by
    distinct n-grams, not token count, and both sides join on the 64-bit
    ``xxhash64`` of the shingle rather than the string — an 8-byte fixed key
    instead of ~(6·n)-byte grams, shrinking the broadcast table and probe.
    A 64-bit collision falsely flags a clean document (never the reverse);
    at 2^32 benchmark shingles the expected extra drop is ~1 document —
    noise against the corpus, and conservative in the safe direction.
    """
    bench_shingles = (
        benchmark_docs.select(
            F.explode(
                F.array_distinct(Ftext.word_shingles(F.col(text_col), n))
            ).alias("shingle")
        )
        .select(F.xxhash64("shingle").alias("shingle_h"))
        .distinct()
    )
    probe = corpus_docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(Ftext.word_shingles(F.col(text_col), n))).alias(
            "shingle"
        ),
    ).select(id_col, F.xxhash64("shingle").alias("shingle_h"))
    return (
        probe.join(F.broadcast(bench_shingles), "shingle_h", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus_docs: DataFrame,
    benchmark_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Corpus minus contaminated documents (left-anti on the hit set)."""
    hits = contaminated_ids(corpus_docs, benchmark_docs, id_col, text_col, n)
    return corpus_docs.join(hits, id_col, "left_anti")


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    df_cap: float | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    Returns (doc_id, term, tf, df, score, rank) with a deterministic
    tie-break (score desc, term asc). ``df_cap`` (fraction of N) drops
    ultra-common terms before the idf join — the scale lever for Zipf skew.
    """
    n_docs = docs.select(id_col).distinct().count()

    toks = docs.select(
        F.col(id_col),
        F.explode(Ftext.tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term") != "")

    # (doc, term) counts and per-doc lengths in one pass over the exploded
    # stream: count per (doc, term), then a window-free rejoin via a second
    # grouped sum — both aggregations share the doc_id-keyed shuffle.
    term_counts = toks.groupBy(id_col, "term").agg(F.count("*").alias("cnt"))
    doc_lens = term_counts.groupBy(id_col).agg(F.sum("cnt").alias("doc_len"))

    doc_freq = term_counts.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    if df_cap is not None:
        doc_freq = doc_freq.where(F.col("df") <= int(df_cap * n_docs))

    scored = (
        term_counts.join(doc_lens, id_col)
        .join(doc_freq, "term")
        .withColumn("tf", F.col("cnt") / F.col("doc_len"))
        .withColumn(
            "idf",
            F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0))) + F.lit(1.0),
        )
        .withColumn("score", F.round(F.col("tf") * F.col("idf"), 6))
    )

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "cnt", "df", "score", "rank")
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition/quality signals per document.

    Returns one row per doc with:
      - ``n_tokens``        total tokens
      - ``n_distinct``      distinct tokens
      - ``distinct_ratio``  n_distinct / n_tokens (low ⇒ repetitive boilerplate)
      - ``top_token_cnt``   occurrences of the single most frequent token
      - ``top_token_frac``  top_token_cnt / n_tokens (Gopher gates at ~0.2
                            for unigram repetition)

    Plan shape: explode → groupBy(doc, term) shuffle (map-side combine means
    only per-(doc,term) counters travel, not raw tokens) → a second, far
    narrower groupBy(doc) shuffle of per-doc partial aggregates. Shuffling
    pre-aggregated counters twice beats one shuffle of the raw exploded
    token stream by the corpus's tokens-per-doc factor.
    The downstream quality gate is a plain filter on the returned columns,
    composable with text.quality_score. Extends the reference's completeness
    predicate (SURVEY P10, batch_processor.py:572-595) into the corpus-
    statistics regime."""
    toks = docs.select(
        F.col(id_col),
        F.explode(Ftext.tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term") != "")
    term_counts = toks.groupBy(id_col, "term").agg(F.count("*").alias("cnt"))
    return term_counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*") / F.sum("cnt"), 6).alias("distinct_ratio"),
        F.max("cnt").alias("top_token_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_token_frac"),
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with overlap — the
    prep step between cleaning and sequence packing when documents exceed
    the training context window (packing.contiguous_pack then packs the
    chunks). Stride is ``chunk_tokens - overlap``; the final chunk keeps
    the tail even when shorter, and a chunk is emitted only when it starts
    inside the document, so no empty chunks.

    Returns (id, chunk_idx, chunk_text, n_tokens) — chunk_idx is 0-based
    in document order, n_tokens the actual (≤ chunk_tokens) length.

    Plan shape: a per-row ``sequence``/``explode`` flat map on the scan —
    zero shuffle, work linear in corpus tokens × (1 + overlap/stride).
    Documents never compare with each other, so this scales embarrassingly;
    the only knob is output inflation (overlap/stride), which is visible in
    the returned n_tokens sum."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = Ftext.tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("__n"), F.lit(1)), F.lit(stride)
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size(F.col("__toks")) - F.col("__start") + 1,
            ).alias("n_tokens"),
        )
    )


def contamination_score(
    corpus_docs: DataFrame,
    benchmark_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document contamination FRACTION: the share of a document's
    distinct word ``n``-grams that appear in the benchmark set — the graded
    sibling of ``contaminated_ids`` (any-hit boolean). Real curation
    pipelines threshold on this (e.g. drop >80% overlap, flag >20%) instead
    of dropping on a single shared shingle.

    Shape at 100 TB, same as decontaminate: the benchmark shingle-hash set
    broadcasts; the corpus probe is a map-side broadcast LEFT join on its
    own scan, and the per-document aggregation's partial combine collapses
    each document's probe rows before the only (doc-keyed) shuffle. Returns
    (id, n_shingles, n_hits, contamination) for every shingle-able doc.
    """
    from restaurant_etl_code_spark.operators import dedup

    # Arrow-batched shingling on BOTH sides (dedup.shingle_rows) — the
    # interpreted transform/slice lambda path re-evaluates captured
    # subexpressions per gram and costs ~2× more wall on the same corpus.
    bench_shingles = (
        dedup.shingle_rows(benchmark_docs, id_col, text_col, shingle_n=n)
        .select(F.xxhash64("shingle").alias("shingle_h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    probe = dedup.shingle_rows(corpus_docs, id_col, text_col, shingle_n=n).select(
        id_col, F.xxhash64("shingle").alias("shingle_h")
    )
    return (
        probe.join(F.broadcast(bench_shingles), "shingle_h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_hits") / F.col("n_shingles"), 6),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int | None = 100_000,
    floor: float = 1e-9,
) -> DataFrame:
    """CCNet-style corpus-relative quality signal: per-document mean
    negative log2 unigram probability (a unigram cross-entropy — low for
    text made of common corpus tokens, high for noise/rare-token soup).
    The classic cheap proxy for "LM perplexity" filtering when no external
    LM is available, and the standard second gate after rule-based quality
    scores in web-corpus curation.

    Shape at 100 TB: token counts aggregate with map-side combine (the
    shuffle carries (term, count) partials, never the token stream); the
    vocabulary is capped to the ``vocab_size`` most frequent terms (a
    TakeOrdered, driver-merge of per-partition heads) and BROADCAST, so
    the per-document scoring join is map-side on the corpus scan; terms
    outside the vocabulary score at the ``floor`` probability. Per-token
    logprobs are rounded to 6dp before the per-doc mean (rounded 4dp) so
    engines agree despite libm differences.

    The per-doc mean itself is EXACT-INTEGER arithmetic, not a float
    ``avg``: the 6dp logprobs are microunit bigints, summed exactly, and
    the 4dp half-up rounding is one integer div — ``(2·S + 100·n) div
    (200·n) / 1e4``. A float sum leaves the tie behavior to each
    engine's accumulation order and round() convention: found live at
    sf0.001, where one 10-token document's 6dp values sum to exactly
    48.8965 and the 4dp mean is a half-way tie — Spark's HALF_UP on the
    shortest decimal repr said 4.8897 while DuckDB's rounding of the
    slightly-below-tie binary double said 4.8896. Exact integer math
    gives both engines the same tie and the same HALF_UP answer.

    ``vocab_size`` defaults to 100k BECAUSE the vocabulary broadcasts: an
    uncapped vocabulary (``vocab_size=None``) grows with the corpus and
    would OOM the broadcast at exactly the scale the operator targets —
    only pass None on corpora whose full vocabulary is known-small.

    Returns (id, n_tokens, avg_neg_logp).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(Ftext.tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term") != "")

    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    vocab = counts
    if vocab_size is not None:
        vocab = counts.sort(F.col("cnt").desc(), F.col("term")).limit(vocab_size)
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(-F.log2(F.col("cnt") / F.col("__total")), 6).alias("__neg_logp"),
    )
    floor_neg_logp = F.round(-F.log2(F.lit(float(floor))), 6)
    # 6dp logprob -> exact microunit integer (the double is the nearest
    # representable to the 6dp decimal; *1e6 + round recovers the int)
    nl_micro = F.round(
        F.coalesce(F.col("__neg_logp"), floor_neg_logp) * F.lit(1000000.0), 0
    ).cast("long")
    return (
        toks.join(F.broadcast(probs), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(nl_micro).alias("__s_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            # round_half_up(S/(100 n)) / 1e4, all-integer: see docstring
            (
                F.expr("(2 * __s_micro + 100 * n_tokens) div (200 * n_tokens)")
                .cast("double")
                / F.lit(10000.0)
            ).alias("avg_neg_logp"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Sparse lexical retrieval: BM25 top-``k`` documents for a query — the
    classic counterpart of the dense-ANN stack (operators/similarity.py);
    production retrieval runs both and fuses. Standard Robertson/Sparck-
    Jones BM25 with idf = ln((N − df + 0.5)/(df + 0.5) + 1).

    Shape at 100 TB: the query's term set is a LITERAL pushed into the
    token-explode filter, so the only per-term state that ever shuffles is
    postings for the handful of query terms (tf groupBy with map-side
    combine); document lengths are a scan-side expression (no explode);
    N and avgdl are two scalars (one 1-row aggregate to the driver); idf
    is a |Q|-row broadcast; the final ranking is ``sort().limit(k)`` —
    TakeOrdered, never a global sort. Scores round to 4dp with a doc-id
    tie-break so rankings are bit-stable across engines.
    """
    q_terms = sorted(
        {t for t in query.lower().split() if t}
    )
    if not q_terms:
        raise ValueError("query has no terms")

    lens = docs.select(
        F.col(id_col), Ftext.token_count(F.col(text_col)).alias("dl")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ).collect()[0]
    n_docs = stats["n_docs"]
    if n_docs == 0:
        # empty corpus: a legitimate intermediate state in curation flows —
        # return an empty ranking, not a TypeError on the null avgdl
        spark = docs.sparkSession
        id_type = docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame([], f"{id_col} {id_type}, bm25 double")
    avgdl = float(stats["avgdl"])

    tf = (
        docs.select(
            F.col(id_col),
            F.explode(Ftext.tokens(F.col(text_col))).alias("term"),
        )
        .where(F.col("term").isin(q_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("term").agg(
        F.log(
            (F.lit(n_docs) - F.count(F.lit(1)) + 0.5)
            / (F.count(F.lit(1)) + 0.5)
            + 1.0
        ).alias("idf")
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(lens, id_col)
        .withColumn(
            "__s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 4).alias("bm25"))
    )
    return (
        scored.sort(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    topk: int = 20,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    fused(d) = Σ over rankings of 1 / (k + rank_d) — the standard way to
    combine lexical (BM25) and dense (cosine) retrieval without score
    calibration, since only RANKS cross the boundary and the two score
    scales are incomparable by construction. k=60 is the paper's
    constant.

    Shape at 100 TB: each input ranking is already a top-k relation
    (TakeOrdered output — k rows per query, never corpus-sized), so the
    fusion is a union of counter-sized frames + one tiny agg; nothing
    here ever touches the corpus. Deterministic: rank ties were already
    broken by id upstream, the fused score is a ≤|rankings|-term float
    sum rounded to 6dp (2-term sums are exactly commutative), and the
    final ranking tie-breaks on id.

    Pass ``group_cols`` (e.g. ``["query_id"]``) when the rankings hold
    MANY queries — fusion then runs per group and ``topk`` applies per
    group via a WindowGroupLimit, never a global sort. Without it the
    rankings are treated as ONE list each (a multi-query frame would
    silently fuse across queries — review finding; the parameter exists
    so the per-query case is expressible at all).

    Returns (group_cols…, id_col, rrf, n_lists) — n_lists says how many
    rankings the document appeared in (agreement is itself a useful
    signal).
    """
    if not rankings:
        raise ValueError("at least one ranking required")
    from functools import reduce

    gcols = list(group_cols or [])
    tagged = [
        r.select(
            *[F.col(g) for g in gcols],
            F.col(id_col),
            F.col(rank_col).cast("long").alias("__rank"),
        )
        for r in rankings
    ]
    allr = reduce(lambda a, b: a.unionByName(b), tagged)
    fused = allr.groupBy(*gcols, id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(k_rrf) + F.col("__rank"))), 6
        ).alias("rrf"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    if gcols:
        w = Window.partitionBy(*gcols).orderBy(
            F.col("rrf").desc(), F.col(id_col)
        )
        return (
            fused.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= topk)
            .drop("__rn")
        )
    return fused.sort(F.col("rrf").desc(), F.col(id_col)).limit(topk)


def boilerplate_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Boilerplate mining: the ``k`` word n-grams with the highest document
    frequency — headers, footers, license blurbs, navigation chrome. This
    is how the ``max_df`` caps on the pair generators get CHOSEN in
    practice (inspect the df distribution's head before setting the valve),
    and the candidate list for template-strip cleaning.

    Shape: distinct shingles per doc stream from an Arrow-batched
    ``mapInPandas`` stage (dedup.shingle_rows — the interpreted
    transform/slice lambda path costs ~2× more wall on the same corpus);
    df is one count aggregation keyed by the gram with map-side combine
    (the gram text is the output, so it is the key — at petabyte vocab
    sizes run the hashed heavy-hitters sketch first and recount only
    candidates). Final ranking is TakeOrdered — never a global sort.
    """
    from restaurant_etl_code_spark.operators import dedup

    grams = dedup.shingle_rows(docs, id_col, text_col, shingle_n=n).select(
        F.col("shingle").alias("gram")
    )
    return (
        grams.groupBy("gram")
        # grams are already distinct per doc (array_distinct before the
        # explode), so count(*) IS the document frequency — a countDistinct
        # here would plan a second expand+shuffle for zero semantic gain
        .agg(F.count(F.lit(1)).alias("df"))
        .sort(F.col("df").desc(), F.col("gram"))
        .limit(k)
    )


def corpus_profile(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice corpus profile: the one-screen report a curation run
    starts from — document counts, token/char volume, mean quality
    signals. One aggregation keyed by the (low-cardinality) slice column;
    every signal is a scan-side expression, so the shuffle carries a few
    counters per slice per mapper.
    """
    t = F.col(text_col)
    return (
        docs.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(Ftext.token_count(t)).alias("total_tokens"),
            F.sum(F.length(t)).alias("total_chars"),
            F.round(F.avg(Ftext.token_count(t)), 4).alias("avg_tokens"),
            F.round(
                F.avg(F.length(t) / F.greatest(Ftext.token_count(t), F.lit(1))), 4
            ).alias("avg_token_len"),
        )
    )


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (bits):
    the cheap detector for compressed/encrypted garbage (entropy ≈ 8 per
    byte-char) and degenerate repetition (entropy near 0) that survives
    token-level gates. Standard early filter in web-corpus pipelines.

    Shape: characters explode from the scan (no shuffle), per-(doc, char)
    counts combine map-side, and the per-doc fold over ≤ |alphabet| rows
    happens in the doc-keyed aggregation. Entropy rounds to 4dp (sum
    order across ~dozens of terms differs between engines only in last
    ulps).
    """
    chars = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).where(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy(id_col).agg(F.sum("cnt").alias("n_chars"))
    return (
        counts.join(totals, id_col)
        .groupBy(id_col)
        .agg(
            F.first("n_chars").alias("n_chars"),
            F.round(
                -F.sum(
                    (F.col("cnt") / F.col("n_chars"))
                    * F.log2(F.col("cnt") / F.col("n_chars"))
                ),
                4,
            ).alias("entropy_bits"),
        )
    )


def hashed_linear_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 20,
    modulus: int = 1_000_003,
    carry: "dict[str, Column] | None" = None,
) -> DataFrame:
    """Fasttext-style hashed-feature linear quality scorer: each token maps
    to one of ``n_buckets`` weight slots via the hashing trick (Weinberger
    et al. 2009), and a document's score is the mean slot weight. The
    reference gates rows with hand-written pandas predicates
    (data2batches.py quality filters); this is the learned-classifier
    generalization every corpus pipeline ends up needing.

    The weight table here is hash-SYNTHESIZED (slot → deterministic
    pseudo-weight), standing in for trained coefficients; production swaps
    in a real vector via a broadcast join on the slot id without touching
    the plan shape.

    Engine-exactness: weights are INTEGERS in [-modulus//2, modulus//2], so
    the per-document reduction is an int64 sum — associative, commutative,
    and therefore independent of Spark's partition/merge order; the one
    float op (the final divide) is an exact-int IEEE division both engines
    agree on bit-for-bit. No float accumulation anywhere.

    Physical shape: per-document ``aggregate`` over the token array — a
    scan-side codegen projection with ZERO shuffle. The explode→groupBy
    alternative shuffles one row per corpus token (~20× the document
    count); this form ships nothing. Token hash is the first 8 hex chars
    of md5 — portable across Spark (``conv(...,16,10)``) and any SQL
    engine with md5.

    Returns (id_col, n_tokens, w_sum, score, keep); documents with no
    tokens (null/empty text) are dropped, mirroring a GROUP BY over an
    exploded token stream.

    ``carry`` maps extra output names to Column expressions evaluated
    against the INPUT row in the same scan-side projection (e.g. a
    rule label for calibration audits) — one corpus pass instead of a
    score pass + a label pass + a join back on the id.
    """
    toks = F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "")

    def weight(t):
        h = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        return ((h % n_buckets) * F.lit(2654435761)) % modulus - (modulus // 2)

    carry = carry or {}
    scored = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda acc, t: acc + weight(t)).alias("w_sum"),
        *[expr.alias(name) for name, expr in carry.items()],
    ).filter(F.col("n_tokens") > 0)
    return scored.select(
        id_col,
        "n_tokens",
        "w_sum",
        F.round(F.col("w_sum") / (F.col("n_tokens") * F.lit(float(modulus))), 6)
            .alias("score"),
        (F.col("w_sum") >= 0).alias("keep"),
        *carry,
    )


def _importance_resample_plan(
    docs: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
    n_buckets: int = 1024,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """The LAZY plan behind ``importance_resample``: returns (topk, the
    persisted (doc, bucket) histogram). Split out so tests can audit the
    physical plan (broadcast log-ratio join, TakeOrdered selection) — the
    public function executes it eagerly to release the cache."""
    return _importance_resample_build(
        docs, target, id_col=id_col, text_col=text_col, k=k,
        n_buckets=n_buckets, seed=seed,
    )


def importance_resample(
    docs: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
    n_buckets: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023, arXiv:2302.03169): score every corpus document by how much its
    hashed unigram features look like a TARGET sample (e.g. wiki-quality
    text) rather than the raw corpus, then draw ``k`` documents by Gumbel
    top-k — sampling ∝ importance weight instead of hard top-k, which
    preserves tail diversity. The standard pretraining-mix upgrade over
    per-source temperature mixing (``sampling.mixture_sample``): it selects
    by CONTENT, not provenance.

    Math: token t hashes to bucket b(t) ∈ [0, n_buckets) (first 8 md5 hex
    chars — portable across engines). With add-1-smoothed bucket unigram
    models p̂_tgt and p̂_raw, a document's log importance weight is
    Σ_t [ln p̂_tgt(b(t)) − ln p̂_raw(b(t))], and selection takes the k
    largest round(log_w + Gumbel(u_doc), 6) where u_doc derives from the
    portable integer hash (deterministic, reproducible across engines and
    reruns — no RNG state).

    Physical shape at 100 TB: ONE tokenize pass. The corpus explodes once
    into a per-(doc, bucket) counter frame (map-side combine collapses the
    token stream to ≤ n_buckets counters per doc before the shuffle),
    which is persisted (MEMORY_AND_DISK — it is the pre-aggregated
    histogram, orders of magnitude smaller than the token stream) and
    feeds BOTH the raw bucket model (≤ n_buckets rows after a second
    counter-only agg) and the scoring join — the tokenizer never runs
    twice over the corpus. The per-bucket log-ratio table BROADCASTS
    (n_buckets rows by construction — the hashing trick's entire point),
    scoring is a broadcast-join + per-doc counter sum, and the top-k is a
    sort+limit materialized to k rows (the cached histogram is unpersisted
    once the k rows are taken). Engine-exactness: log-ratios are
    pre-rounded to 6dp and per-doc sums run in decimal(28,6) (counter ×
    decimal — exact, identical to per-token decimal addition), so
    partition order cannot move a score.

    Returns (id_col, n_tokens, log_w, score), the ``k`` selected rows.
    """
    topk, doc_b = _importance_resample_build(
        docs, target, id_col=id_col, text_col=text_col, k=k,
        n_buckets=n_buckets, seed=seed,
    )
    # Materialize the k selected rows (bounded by k — the sort+limit is
    # TakeOrderedAndProject, per-partition heads merged on the driver
    # regardless) so the cached histogram can be released here instead of
    # leaking executor cache for the caller's session lifetime. Both hops
    # ride Arrow (toPandas / pandas createDataFrame): the Row-list
    # round-trip this replaces cost ~0.6-1.3 s of the 3.6 s r6/r7 driver
    # row — the eager wrapper, not the scoring plan, was the r5→r6
    # regression (lazy plan warm A/B: 1.6 s, unchanged across rounds).
    pdf = topk.toPandas()
    doc_b.unpersist()
    return docs.sparkSession.createDataFrame(pdf, schema=topk.schema)


def _importance_resample_build(
    docs: DataFrame,
    target: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    n_buckets: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    B = float(n_buckets)

    def buckets(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col), F.explode(Ftext.tokens(F.col(text_col))).alias("term")
        ).where(F.col("term") != "")
        return toks.select(
            id_col,
            (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint")
             % n_buckets).alias("__bkt"),
        )

    # One tokenize pass: pre-aggregate to (doc, bucket, count) and persist
    # THAT (the histogram, not the token stream) — it feeds both the raw
    # bucket model and the scoring join below, so without the persist the
    # explode/tokenize lineage would execute twice over the corpus.
    doc_b = (
        buckets(docs)
        .groupBy(id_col, "__bkt")
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    raw = doc_b.groupBy("__bkt").agg(F.sum("__c").alias("__rc"))
    tgt = buckets(target).groupBy("__bkt").agg(F.count(F.lit(1)).alias("__tc"))
    totals = raw.agg(F.sum("__rc").alias("__R")).crossJoin(
        tgt.agg(F.sum("__tc").alias("__T"))
    )
    lr = (
        raw.join(tgt, "__bkt", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__bkt",
            F.round(
                F.log((F.coalesce(F.col("__tc"), F.lit(0)) + 1) / (F.col("__T") + B))
                - F.log((F.col("__rc") + 1) / (F.col("__R") + B)),
                6,
            ).alias("__lr"),
        )
    )
    weights = (
        doc_b.join(F.broadcast(lr), "__bkt")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            # counter × 6dp-decimal is exact decimal arithmetic, identical
            # to summing the per-token decimal __lr c times
            F.round(
                F.sum(F.col("__lr").cast("decimal(28,6)") * F.col("__c")), 6
            )
            .cast("double")
            .alias("log_w"),
        )
    )
    # deterministic Gumbel key from the portable md5 hash of the STRING
    # form of the id — integer arithmetic on id_col would null out for
    # non-numeric ids and NaN for negative ones, silently degenerating the
    # draw to "k smallest ids" (found in review); md5 works for any type
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"_{seed}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    gumbel = F.round(-F.log((-F.log((u + 0.5) / 10000.0))), 6)
    scored = weights.withColumn("score", F.round(F.col("log_w") + gumbel, 6))
    topk = scored.sort(F.col("score").desc(), F.col(id_col)).limit(k)
    return topk, doc_b


def span_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
) -> DataFrame:
    """C4-style SPAN-level deduplication (Raffel et al. 2020 removed
    repeated three-sentence spans; RefinedWeb/Dolma do the token-window
    variant): the corpus is cut into non-overlapping ``span_tokens``-token
    windows, and every occurrence of a span already seen earlier in the
    corpus (global (doc_id, span_idx) order) is REMOVED — the
    sub-document twin of exact_dedup, which catches boilerplate
    headers/footers/licenses that whole-document hashing cannot.

    Plan shape at 100 TB: spans explode from the scan (flat map). The
    keep-first rule is NOT a window — a boilerplate span present in most
    documents would put one row per document into a single window
    partition, and row_number has no map-side partial step, so that
    partition is one straggler task (exactly the data shape this operator
    exists to catch). Instead keep-first = the global MINIMUM
    (id, span_idx) per span hash: ``groupBy(md5(span)).agg(min(struct))``
    partial-aggregates map-side (a span in 50% of the corpus collapses to
    one candidate per map task before the shuffle), then keepers are
    marked by an equi-join back on the FULL (span_hash, id, span_idx)
    triple — unique per row, so the join key is uniform even when the
    span hash is degenerate. Reassembly is a final shuffle keyed by doc.
    Nothing broadcasts, nothing collects, no pairwise work at all.

    Returns (id_col, n_spans, n_kept, text_dedup) — documents whose every
    span was seen earlier collapse to an empty string (the curation gate
    usually drops rows below a kept-fraction threshold downstream).
    """
    toks = F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = (
        docs.select(F.col(id_col), toks.alias("__tk"), n_spans.alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias("span_idx"),
            F.col("__tk"),
        )
        .select(
            id_col,
            "span_idx",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__tk"),
                    F.col("span_idx") * span_tokens + 1,
                    span_tokens,
                ),
            ).alias("span_text"),
        )
    )
    spans_h = spans.withColumn("__h", F.md5("span_text"))
    # keep-first ≡ global min under the (id, span_idx) lexicographic order;
    # struct comparison is field-lexicographic, so min(struct(id, idx))
    # reproduces row_number(orderBy(id, idx)) == 1 exactly — but with a
    # map-side combiner that absorbs hot (boilerplate) spans.
    keepers = (
        spans_h.groupBy("__h")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("kid"), F.col("span_idx").alias("kidx")
                )
            ).alias("__k")
        )
        .select(
            "__h",
            F.col("__k.kid").alias(id_col),
            F.col("__k.kidx").alias("span_idx"),
            F.lit(1).alias("__keep"),
        )
    )
    kept = spans_h.join(keepers, ["__h", id_col, "span_idx"], "left")
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("__keep"), F.lit(0))).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep") == 1,
                            F.struct("span_idx", "span_text"),
                        )
                    )
                ),
                lambda x: x["span_text"],
            ),
        ).alias("text_dedup"),
    )
    return per_doc


def bpe_pair_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 30,
) -> DataFrame:
    """BPE merge-candidate mining (Sennrich et al. 2016): count adjacent
    CHARACTER pairs within words across the whole corpus and return the
    top-``k`` — exactly the statistic the first byte-pair-encoding merge
    step maximizes. Training a full BPE vocabulary iterates this count
    after each merge; the per-iteration workhorse is this one corpus-wide
    pair count, so it is the piece that must scale.

    Physical shape at 100 TB: tokenize + per-word pair expansion are flat
    maps on the scan (``transform(sequence(...))`` — codegen, no Python);
    the count is one partial-aggregatable groupBy keyed by the pair (≤
    |charset|² distinct keys — the shuffle carries counters, never the
    corpus); top-k is sort+limit = TakeOrderedAndProject. Nothing
    broadcasts, nothing collects beyond k rows.

    Returns (pair, n) — ties broken by pair text for determinism.
    """
    words = (
        docs.select(F.explode(Ftext.tokens(F.col(text_col))).alias("w"))
        # length-1 words have no adjacent pair; filtering them also keeps
        # sequence(1, length-1) ascending (sequence(1, 0) would DESCEND)
        .where(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .sort(F.col("n").desc(), F.col("pair"))
        .limit(k)
    )


def pmi_collocations(
    docs: DataFrame,
    *,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Collocation mining via pointwise mutual information (Church &
    Hanks 1990): count unordered token pairs co-occurring within a
    ``window``-token forward window, score each pair
    ``pmi = ln(n_ab · T / (n_a · n_b))`` against the unigram margins, and
    return the top-``k`` by PMI among pairs seen ≥ ``min_count`` times —
    the classic corpus statistic behind phrase detection (word2vec's
    phrase pass), multi-word-expression extraction, and tokenizer
    vocabulary seeding.

    Physical shape at 100 TB: pair expansion is a codegen flat map on the
    scan (per position, a slice of the next ``window`` tokens — ×window
    amplification, linear); the pair count is one partial-aggregatable
    groupBy keyed by the canonicalized (a, b) pair, so hot stop-word
    pairs collapse map-side; unigram margins are a vocabulary-sized
    counter agg joined back on the token key — a high-cardinality
    equi-join that co-partitions at any scale. The margin join is NOT
    hint-forced to broadcast: a 100 TB corpus's vocabulary is itself too
    large to broadcast; AQE converts to broadcast automatically whenever
    the vocabulary is actually small (the test-scale plan). Top-k is
    TakeOrderedAndProject. No self-joins, no windows, no Python
    anywhere.

    Returns (a, b, n_ab, pmi) with deterministic (pmi desc, a, b) order.
    """
    toks = docs.select(
        F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "").alias("tk")
    ).filter(F.size("tk") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, size(tk) - 1), i -> "
                f"transform(slice(tk, i + 1, least({int(window)}, size(tk) - i)), "
                f"t2 -> struct(least(element_at(tk, i), t2) as a, "
                f"greatest(element_at(tk, i), t2) as b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pair_counts = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_count))
    )
    uni = (
        docs.select(F.explode(Ftext.tokens(F.col(text_col))).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = uni.agg(F.sum("n").alias("T"))
    scored = (
        pair_counts.join(
            uni.select(F.col("t").alias("a"), F.col("n").alias("n_a")), "a"
        )
        .join(uni.select(F.col("t").alias("b"), F.col("n").alias("n_b")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("T").cast("double")
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.sort(F.col("pmi").desc(), "a", "b").limit(k)


def merge_adjacent_pair(
    docs: DataFrame,
    a: str,
    b: str,
    *,
    text_col: str = "text",
    joiner: str = "_",
) -> DataFrame:
    """Merge every adjacent occurrence of token pair (``a``, ``b``) into
    one ``a_b`` token, corpus-wide, left-to-right non-overlapping — the
    apply half of a phrase-detection / BPE-style merge step. The fold is
    a codegen ``aggregate`` over each document's token array into a
    \\x01-delimited string (the delimiter makes the suffix test exact:
    ``acc`` ends with ``\\x01a`` only when the LAST TOKEN is exactly
    ``a``, never a token merely ending in ``a``), then one split back.
    Left-to-right semantics: in ``a a b`` only the second-third tokens
    merge; in ``a b a b`` both pairs merge.

    Row-local (flat map on the scan, no shuffle at all) — returns
    (tokens) with the merged ``array<string>`` per document plus the
    original columns.
    """
    return docs.withColumn(
        "tokens",
        _merge_fold(
            F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != ""),
            a, b, joiner,
        ),
    )


def _merge_fold(tokens_expr, a: str, b: str, joiner: str = "_"):
    """The left-to-right non-overlapping (a, b) → a_b merge as a codegen
    fold over a TOKEN-ARRAY expression — the shared core of
    ``merge_adjacent_pair`` (which tokenizes text first) and
    ``bpe_train`` (which re-merges its own token arrays each round)."""
    if not a or not b or "\x01" in a + b:
        raise ValueError(f"invalid merge pair ({a!r}, {b!r})")
    d = "\x01"
    la, lb = F.lit(d + a), F.lit(d + b)
    merged = F.aggregate(
        F.transform(tokens_expr, lambda t: F.concat(F.lit(d), t)),
        F.lit(""),
        lambda acc, x: F.when(
            F.endswith(acc, la) & (x == lb),
            F.concat(
                F.substring(acc, 1, F.length(acc) - F.length(la)),
                F.lit(d + a + joiner + b),
            ),
        ).otherwise(F.concat(acc, x)),
    )
    return F.filter(F.split(merged, d), lambda t: t != "")


def phrase_merge_step(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """One phrase-detection training step (the word-level analog of a BPE
    merge iteration; word2vec's phrase pass applies this greedily): find
    the most frequent ADJACENT token bigram in the corpus (ties → lexical
    smallest), merge every left-to-right occurrence into one ``a_b``
    token via ``merge_adjacent_pair``, and return the top-``k`` token
    counts of the re-tokenized corpus — the merged phrase surfaces as a
    first-class token with its own count.

    Physical shape at 100 TB: the bigram count is a flat-map + one
    partial-aggregatable counter groupBy; the winning pair is a 1-row
    TakeOrdered collect (counter-sized, the same driver touch every BPE
    trainer makes per merge); the apply is row-local codegen; the final
    count is another counter-only agg + TakeOrdered. Two corpus scans
    total, no joins, no Python.
    """
    tk = F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "")
    bigrams = (
        docs.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), i -> "
                    "struct(element_at(tk, i) as a, element_at(tk, i + 1) as b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    top = (
        bigrams.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .sort(F.col("n").desc(), "a", "b")
        .limit(1)
        .collect()
    )
    if not top:
        raise ValueError("phrase_merge_step: corpus has no adjacent bigrams")
    a, b = top[0]["a"], top[0]["b"]
    retok = merge_adjacent_pair(docs, a, b, text_col=text_col)
    return (
        retok.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .sort(F.col("n").desc(), "token")
        .limit(k)
    )

def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 4,
    joiner: str = "_",
    carry: tuple = (),
    emit_n_words: bool = False,
    return_state: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Greedy merge TRAINER: ``n_merges`` rounds of find-the-most-frequent
    adjacent token pair → merge every left-to-right occurrence — the loop
    that ``bpe_pair_stats`` (the per-round statistic) and
    ``phrase_merge_step`` (one round) are pieces of (Sennrich et al. 2016
    at the word level; word2vec's phrase pass run to a fixed depth).
    Returns the learned MERGE TABLE (merge_round, a, b, n) — the ranked
    merge list IS the trained vocabulary, and later rounds merge tokens
    produced by earlier ones (``a_b`` can win round 3).

    Physical shape at 100 TB, per round: one partial-aggregatable bigram
    counter groupBy (the shuffle carries (a, b, count) counters, never
    the corpus) + a 1-row TakeOrdered collect (the driver touch every
    BPE trainer makes per merge) + a row-local codegen re-merge fold on
    the token arrays. The token frame is lazily ``localCheckpoint``ed
    each round (the pagerank/label_propagation pattern) so round r's
    count doesn't re-execute rounds 1..r-1's folds and lineage stays
    flat. Deterministic (count desc, then lexical pair) ⇒ the oracle
    unrolls the same N rounds in SQL with ``replace`` on a
    \\x01-delimited token string — equivalent to the fold because both
    scan left-to-right non-overlapping and the delimiter makes token
    boundaries exact.

    r18 additions, all for the train-then-encode consumers that used to
    pay the ENCODE corpus scan on top of training:

    - ``return_state=True`` returns ``(merge_table, toks)`` where
      ``toks`` is the trainer's FINAL token frame — the corpus with all
      ``n_merges`` merges applied, exactly what ``bpe_apply`` with the
      learned table recomputes from scratch (same tokenize expression,
      same ``_merge_fold`` sequence in the same order, same
      ``size >= 1`` gate — the encode scan becomes free).
    - ``carry`` / ``emit_n_words`` ride extra columns (and the PRE-merge
      token count) through the folds, mirroring ``bpe_apply``'s params,
      so id-keyed consumers can use the returned state directly. The
      per-round pair count projects only the pair structs, so carried
      columns cost the counting loop nothing (column pruning).
    - The token frame is WIDENED round-robin to the session parallelism
      when the scan arrives narrower: every trainer round re-executes
      tokenize + folds + explode over the corpus, and a small parquet
      landing otherwise serializes all rounds on one core (measured 3×
      0.4-0.7 s single-task count jobs at sf0.1; at production scale
      the scan is already wide and only the partition-count check runs).
    """
    from restaurant_etl_code_spark.operators._arrow import (
        widen_for_codec as _widen,
    )

    toks = docs.select(
        *[F.col(c) for c in carry],
        F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "").alias("tk"),
    ).filter(F.size("tk") >= 1)
    if emit_n_words:
        toks = toks.select(
            *carry, F.size("tk").cast("long").alias("n_words"), "tk"
        )
    toks = _widen(toks, None, per_row="heavy")
    history: list = []
    for r in range(n_merges):
        top = (
            toks.filter(F.size("tk") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), i -> "
                        "struct(element_at(tk, i) as a, "
                        "element_at(tk, i + 1) as b))"
                    )
                ).alias("p")
            )
            .select("p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .sort(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break  # corpus ran out of adjacent pairs
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        history.append((r + 1, a, b, n))
        toks = toks.withColumn(
            "tk", _merge_fold(F.col("tk"), a, b, joiner)
        ).localCheckpoint(eager=False)
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    merge_table = docs.sparkSession.createDataFrame(
        pd.DataFrame(history, columns=["merge_round", "a", "b", "n"]),
        schema=StructType(
            [
                StructField("merge_round", IntegerType(), False),
                StructField("a", StringType(), False),
                StructField("b", StringType(), False),
                StructField("n", LongType(), False),
            ]
        ),
    )
    if return_state:
        return merge_table, toks
    return merge_table

def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    joiner: str = "_",
    inline_batch: int = 8,
    engine: str = "auto",
    carry: tuple = (),
    emit_n_words: bool = False,
) -> DataFrame:
    """ENCODE with a learned merge table: apply ``merges`` in training
    order to every document — the deploy half of ``bpe_train`` (Sennrich
    et al. 2016 §3: encoding replays the merge list in learned priority
    order). Together they complete the tokenizer-training loop the
    reference's pandas pipelines never reach (its data2batches.py stops
    at whitespace tokens): train the table once on the corpus, then
    encode any corpus with it.

    Two engines, one contract (sequential left-to-right non-overlapping
    replay; parity pinned by test):

    - ``fold``: each merge is the trainer's codegen fold
      (``_merge_fold``) — zero shuffle, zero Python, the oracle-parity
      path. But a fold REBUILDS the token string per merge, so encode
      cost is O(n_merges · corpus); measured sf0.1: 8 merges 0.6 s,
      40 → 7.3 s, 100 → 20 s — fine for phrase tables, wrong for
      tokenizer vocabularies.
    - ``arrow``: one ``mapInPandas`` pass applying the whole table
      in-process per document — still row-local and shuffle-free, one
      corpus scan total. Per-document cost is independent of TABLE
      size, not just flat per merge: merges are indexed by half-token
      once per partition, each document seeds a min-priority heap with
      only the merges whose halves its own vocabulary contains, and a
      fired merge's new token enables exactly the LATER merges keyed on
      it (``j > idx`` — an earlier merge's turn has passed, preserving
      the sequential replay contract bit-for-bit; parity pinned by the
      arrow-vs-fold test). The r9 probe that forced this shape: a
      30,000-merge table over sf0.1 cost 18.3 s with the previous
      per-doc linear screen (+8 s of pure miss probes vs the 931
      applicable merges) and ~10 s with the heap — miss merges now cost
      ZERO per document instead of two set probes each. measured sf0.1:
      100 merges 1.1 s, 400 merges 1.2 s, 30k merges ≈ the applicable
      subset's cost. This is the 30k-merge production path.

    ``auto`` picks fold at <= 16 merges (whole-stage codegen, no Python
    worker) and arrow above. The merge table is driver-resident by
    definition (vocab-sized, not corpus-sized).

    ``carry`` lists extra ``docs`` columns to ride along unchanged, and
    ``emit_n_words=True`` adds the PRE-merge token count as ``n_words``
    (long) — known row-locally before the folds, where recomputing it
    downstream costs a second tokenize pass plus an id equi-join back
    (the fertility/compression consumers measured ~25% of their wall in
    that join shape; same carry= rationale as the calibration scorer).

    Returns (id_col, *carry, [n_words,] tk) with tk the encoded token
    array.
    """
    if engine not in ("auto", "fold", "arrow"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "auto":
        engine = "fold" if len(merges) <= 16 else "arrow"
    out = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "").alias("tk"),
    ).filter(F.size("tk") >= 1)
    if emit_n_words:
        out = out.select(
            id_col, *carry, F.size("tk").cast("long").alias("n_words"), "tk"
        )
    if engine == "fold":
        for i in range(0, len(merges), inline_batch):
            expr = F.col("tk")
            for a, b in merges[i : i + inline_batch]:
                expr = _merge_fold(expr, a, b, joiner)
            out = out.withColumn("tk", expr)
            if i + inline_batch < len(merges):
                out = out.localCheckpoint(eager=False)
        return out

    import pandas as pd

    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    table = [(a, b, a + joiner + b) for a, b in merges]

    def mapper(batches):
        import heapq

        # half-token -> merge indices, built once per partition: a doc
        # only ever touches the merges its own (growing) vocabulary can
        # feed, so table size stops mattering per document.
        by_half: dict = {}
        for idx, (a, b, _ab) in enumerate(table):
            by_half.setdefault(a, []).append(idx)
            if b != a:
                by_half.setdefault(b, []).append(idx)

        for pdf in batches:
            if not len(pdf):
                continue
            enc = []
            for tk in pdf["tk"]:
                toks = list(tk)
                # conservative membership set (grows only; every token
                # in toks is original-or-created, hence always in s, so
                # a merge with a half outside s can never fire)
                s = set(toks)
                pushed = set()
                heap: list = []
                for t in s:
                    for idx in by_half.get(t, ()):
                        if idx not in pushed:
                            a, b, _ab = table[idx]
                            if a in s and b in s:
                                pushed.add(idx)
                                heapq.heappush(heap, idx)
                while heap:
                    # ascending-idx pops replay the merge list in
                    # training order; a token created by merge idx may
                    # only enable merges with j > idx (merge j's turn
                    # at j < idx already passed with the half absent —
                    # the sequential engine skipped it, so must we)
                    idx = heapq.heappop(heap)
                    a, b, ab = table[idx]
                    res = []
                    i = 0
                    n = len(toks)
                    fired = False
                    while i < n:
                        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
                            res.append(ab)
                            fired = True
                            i += 2
                        else:
                            res.append(toks[i])
                            i += 1
                    toks = res
                    if fired and ab not in s:
                        s.add(ab)
                        for j in by_half.get(ab, ()):
                            if j > idx and j not in pushed:
                                a2, b2, _ab2 = table[j]
                                if a2 in s and b2 in s:
                                    pushed.add(j)
                                    heapq.heappush(heap, j)
                enc.append(toks)
            data = {id_col: pdf[id_col]}
            for c in passthrough:
                data[c] = pdf[c]
            data["tk"] = pd.Series(enc, dtype=object)
            yield pd.DataFrame(data)

    passthrough = list(carry) + (["n_words"] if emit_n_words else [])
    schema = T.StructType(
        [id_field]
        + [out.schema[c] for c in passthrough]
        + [T.StructField("tk", T.ArrayType(T.StringType()), False)]
    )
    return out.mapInPandas(mapper, schema=schema)

def bigram_logprob(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 50_000,
    alpha: float = 0.1,
    unk: str = "\x02unk\x02",
) -> DataFrame:
    """Per-document mean negative log2 ADD-ALPHA BIGRAM probability — the
    conditional-LM upgrade of ``unigram_logprob`` and the standard
    "perplexity filter" gate of web-corpus curation (CCNet trains a
    KenLM; an in-corpus smoothed bigram model is the engine-native,
    dependency-free equivalent): fluent text made of common
    CONTINUATIONS scores low, shuffled-word soup scores high even when
    every unigram is frequent — exactly the failure mode a unigram gate
    cannot see.

    Model: tokens outside the ``vocab_size`` most-frequent terms map to
    ``unk`` (a control-char sentinel no whitespace tokenizer emits — the
    normalizer only collapses whitespace, so a printable sentinel could
    collide with corpus text); P(b|a) = (c(a,b) + alpha) /
    (c(a) + alpha·V) with c(a) the LEFT-context count and V the distinct
    unk-mapped vocabulary — so probabilities sum to 1 per context and
    unseen continuations are finite. Documents need >= 2 tokens (>= 1
    bigram); shorter ones drop, mirroring a GROUP BY over the pair
    stream.

    Physical shape at 100 TB: pairs are built ROW-LOCALLY from each
    token array (transform over sequence — no window over the token
    stream, no self-join) and explode into one stream that is persisted
    (MEMORY_AND_DISK; it feeds the two counter aggs and the scoring
    join). Both count tables aggregate with map-side combine and are
    vocab²-BOUNDED, not corpus-bound; the vocabulary itself broadcasts
    (that is WHY ``vocab_size`` exists — an uncapped vocab would grow
    with the corpus). The scoring join keys on the bigram; hot bigrams
    ("of the") are exactly the AQE skew-join case, and the count tables
    are far smaller than the stream so AQE broadcasts them when they
    fit. Per-token logprobs round to 6dp, the per-doc mean to 4dp (the
    unigram_logprob engine-parity contract).

    Returns (id_col, n_bigrams, avg_neg_logp).
    """
    toks = docs.select(
        F.col(id_col),
        F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "").alias("tk"),
    )
    uni = toks.select(F.explode("tk").alias("t"))
    vocab = (
        uni.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
        .sort(F.col("n").desc(), "t").limit(vocab_size)
        .select(F.col("t").alias("term"), F.lit(1).alias("__in"))
    )
    pairs0 = (
        toks.filter(F.size("tk") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), i -> "
                    "struct(element_at(tk, i) as a0, "
                    "element_at(tk, i + 1) as b0))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.a0", "p.b0")
    )
    # persist-and-let-LRU-evict: the pair stream feeds three consumers
    # (bigram counts, context counts, scoring); re-execution would
    # triple the corpus scan.
    pairs = (
        pairs0
        .join(F.broadcast(vocab.withColumnRenamed("term", "a0")
                          .withColumnRenamed("__in", "__ina")), "a0", "left")
        .join(F.broadcast(vocab.withColumnRenamed("term", "b0")
                          .withColumnRenamed("__in", "__inb")), "b0", "left")
        .select(
            F.col(id_col),
            F.when(F.col("__ina").isNotNull(), F.col("a0"))
            .otherwise(F.lit(unk)).alias("a"),
            F.when(F.col("__inb").isNotNull(), F.col("b0"))
            .otherwise(F.lit(unk)).alias("b"),
        )
        .persist()
    )
    vsz = (
        uni.join(F.broadcast(vocab.withColumnRenamed("term", "t")), "t", "left")
        .select(
            F.when(F.col("__in").isNotNull(), F.col("t"))
            .otherwise(F.lit(unk)).alias("t_m")
        )
        .agg(F.countDistinct("t_m").alias("__v"))
    )
    bc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    cc = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    nlp = F.round(
        -F.log2(
            (F.col("n_ab") + F.lit(float(alpha)))
            / (F.col("n_a") + F.lit(float(alpha)) * F.col("__v"))
        ),
        6,
    )
    return (
        pairs.join(bc, ["a", "b"]).join(cc, ["a"])
        .crossJoin(F.broadcast(vsz))
        .select(F.col(id_col), nlp.alias("__nlp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__nlp"), 4).alias("avg_neg_logp"),
        )
    )

def logreg_train_hashed(
    docs: DataFrame,
    label: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    lr: float = 0.5,
    n_rounds: int = 2,
) -> DataFrame:
    """TRAIN the hashed-feature quality classifier — full-batch logistic
    regression by gradient descent, the learning half of
    ``hashed_linear_score`` (which scores with a fixed weight table;
    fasttext-style curation classifiers are exactly this pair). ``label``
    is any deterministic 0/1 Column over ``docs`` (e.g. a rule-based
    quality gate whose judgment the classifier generalizes).

    Fully RELATIONAL training — no driver-side numerics: each round is
      margin_d = Σ_slot cnt·w       (per-doc agg)
      resid_d  = y_d − σ(margin_d)  (projection)
      grad_s   = Σ_docs resid·cnt   (per-slot agg)
      w'       = w + lr·grad/n      (counter-sized map-side update)
    so the whole N-round trainer is one lazy plan and the oracle unrolls
    the SAME algebra in SQL (the kmeans/LPA fixed-iteration pattern).

    Engine parity: the two order-dependent float sums ride exact
    DECIMAL(38,12) accumulators (cnt is integer, w/resid are 12dp-rounded
    decimals — products and sums are exact, so partition order cannot
    change a bit); σ/margins/grads round to 6dp, weights to 9dp. Feature
    counts, not ratios, are the features — no decimal division anywhere
    (engines disagree on quotient scale rules).

    Physical shape at 100 TB: the feature table (id, slot, cnt) — at most
    one row per (doc, distinct-slot), bounded by the token stream — is
    built ONCE, repartitioned by doc id and persisted: the per-round
    margin agg reuses that partitioning shuffle-free, the resid join is
    co-partitioned, and only the counter-sized (n_buckets) gradient agg
    shuffles per round. The weight table never exceeds ``n_buckets``
    rows; it broadcasts into the margin join. Per-round lazy
    localCheckpoint flattens the weight lineage.

    Returns (slot, w) — the trained table, pluggable into a broadcast
    join wherever ``hashed_linear_score``'s synthetic weights stand in.
    """
    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col),
        F.explode(Ftext.tokens(F.col(text_col))).alias("t"),
    ).where(F.col("t") != "")
    slot = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast(
        "bigint"
    ) % n_buckets
    feats = (
        toks.groupBy(F.col(id_col), slot.alias("slot"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition(F.col(id_col))
        .persist()
    )
    # labels come from the DOC row, never the exploded token stream: a
    # projection after explode evaluates the (typically re-tokenizing)
    # label expression once PER TOKEN — measured 18.5 s vs 0.3 s on
    # sf0.1 for a stopword-ratio label. The filter mirrors feats'
    # membership (>= 1 non-empty token).
    labels = (
        docs.select(F.col(id_col), label.cast("double").alias("y"))
        .filter(
            F.size(F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != ""))
            > 0
        )
        .repartition(F.col(id_col))
        .persist()
    )
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError(
            "logreg_train_hashed: no trainable documents (every row has "
            "null/empty text) — the gradient denominator would be zero"
        )
    w = spark.range(n_buckets).select(
        F.col("id").alias("slot"), F.lit(0.0).alias("w")
    )
    for _ in range(n_rounds):
        margins = (
            feats.join(F.broadcast(w), "slot")
            .groupBy(id_col)
            .agg(
                F.round(
                    F.sum(
                        F.col("cnt") * F.col("w").cast("decimal(20,12)")
                    ).cast("double"),
                    6,
                ).alias("margin")
            )
        )
        resid = labels.join(margins, id_col).select(
            F.col(id_col),
            F.round(
                F.col("y") - F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6),
                6,
            )
            .cast("decimal(20,12)")
            .alias("resid"),
        )
        grad = (
            feats.join(resid, id_col)
            .groupBy("slot")
            .agg(F.round(F.sum(F.col("cnt") * F.col("resid")).cast("double"), 6).alias("g"))
        )
        w = (
            w.join(grad, "slot", "left")
            .select(
                "slot",
                F.round(
                    F.col("w")
                    + (F.lit(float(lr)) * F.coalesce(F.col("g"), F.lit(0.0)))
                    / F.lit(n_docs),
                    9,
                ).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    return w


# ---------------------------------------------------------------------------
# Gopher quality-filter battery (Rae et al. 2021, arXiv:2112.11446 App. A)
# as a reusable operator at the PUBLISHED defaults. The fixture-scaled
# word-count floor lives in the bench query's explicit call, never here —
# a deployment that imports the operator gets the paper's constants.
# ---------------------------------------------------------------------------

GOPHER_STOPWORD_PROBE = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags(
    text: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORD_PROBE,
) -> dict[str, Column]:
    """Per-document Gopher quality-rule booleans (Rae et al. 2021,
    Appendix A), keyword-only thresholds defaulting to the PUBLISHED
    constants: word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio ('#' + ellipsis) < 0.1, < 90% of lines
    bullet-started, < 30% of lines ellipsis-ended, >= 80% of words
    containing an alphabetic character, >= 2 distinct stopword-probe
    hits. Returns ``{rule_name: Column}`` plus ``pass_all`` — every rule
    a codegen array fold over token/line splits, zero Python, zero
    shuffle: compose into any projection. Scale defaults down (e.g.
    ``min_words=10`` for short synthetic fixtures) ONLY at the call
    site, where the deviation is visible."""
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0).cast("long"),
                          lambda a, w: a + F.length(w))
    mean_len = sum_len / n_words
    n_hash = F.size(F.regexp_extract_all(text, F.lit("#"), 0))
    n_ellipsis = F.size(
        F.regexp_extract_all(text, F.lit(r"(\.\.\.|…)"), 0)
    )
    lines = F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("*")
        | F.trim(l).startswith("•")))
    ellipsis_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    lower_words = F.transform(words, F.lower)
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(sw) for sw in stopwords]),
        lambda sw: F.array_contains(lower_words, sw)))
    flags = {
        "r_wordcount": (n_words >= min_words) & (n_words <= max_words),
        "r_meanlen": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "r_symbols": ((n_hash + n_ellipsis) / n_words) < max_symbol_ratio,
        "r_bullets": (bullet_lines / n_lines) < max_bullet_line_ratio,
        "r_ellipsis": (ellipsis_lines / n_lines) < max_ellipsis_line_ratio,
        "r_alpha": (alpha_words / n_words) >= min_alpha_word_ratio,
        "r_stopwords": stop_hits >= min_stopword_hits,
    }
    pass_all = F.lit(True)
    for c in flags.values():
        pass_all = pass_all & c
    return {**flags, "pass_all": pass_all}


def _line_hash(norm_col):
    """Line-key hash leg — module-level seam so the collision-guard
    unit test can force total hash collisions (``F.lit(0)``) and prove
    the length leg keeps distinct lines' df counts apart. Production
    path is always ``xxhash64`` of the normalized line."""
    return F.xxhash64(norm_col)


def line_boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    min_df: int = 3,
) -> DataFrame:
    """Line-level cross-document boilerplate removal — the CCNet/
    RefinedWeb dedup stage that per-document filters cannot express: a
    NORMALIZED line (lowercased, trimmed) occurring in more than
    ``min_df`` distinct documents of the same ``group_col`` cohort
    (domain, source) is boilerplate — nav menus, cookie banners,
    footers — and is dropped from EVERY document that carries it,
    while each document's unique prose survives untouched. Blank lines
    are structure, not content: never counted toward document
    frequency, always preserved.

    Returns one row per input document: ``(id, group, text)`` with the
    cleaned text rebuilt in original line order, plus ``n_lines``
    (original) and ``n_stripped``. Documents whose every non-blank
    line was boilerplate come back with the blank skeleton (possibly
    ``''``) — the downstream min-length gate drops them, which is the
    correct pipeline division of labor. Rows with NULL text are
    dropped (posexplode of a null array) — filter or coalesce upstream
    if they must survive.

    Physical shape at 100 TB: posexplode is a flat map on the scan;
    document frequency is one hash-groupBy on ``(group, line-key)``
    where the line key is ``(xxhash64(norm), length(norm))`` — a
    12-byte key, never line text; the verdict joins back on the same
    key (co-shuffled equi-join — Zipf-heavy boilerplate keys are
    exactly AQE skew-join territory); the rebuild is one groupBy on
    the document id with an order-restoring ``array_sort`` over
    (pos, line) structs — per-document payload, bounded by document
    size. collect_list drops the NULLs the keep-predicate injects, so
    stripped lines never cross the final shuffle.

    Collision guard (r16 verdict order 3): a bare 64-bit hash key at
    the operator's own design point (100 TB ⇒ 10^11-10^12 distinct
    lines per cohort) EXPECTS birthday collisions in aggregate, and a
    unique prose line colliding with a high-df boilerplate line would
    be silently stripped from every document carrying it. Pairing the
    hash with the normalized line's exact character length keeps the
    shuffle key fixed-width (12 bytes) and plan shape identical while
    restricting residual risk to same-hash same-length pairs — the
    birthday population is partitioned per length class. The test
    seam ``_line_hash`` lets the unit force total hash collisions and
    pin that the length leg alone keeps distinct lines' df counts
    unmerged."""
    line_ = F.col("__line")
    trimmed = F.trim(line_)
    norm = F.lower(trimmed)
    lines = df.select(
        id_col, group_col,
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__pos", "__line"),
    ).withColumn("__lk", _line_hash(norm)).withColumn("__ll", F.length(norm))
    dfreq = (
        lines.filter(trimmed != "")
        .groupBy(group_col, "__lk", "__ll")
        .agg(F.countDistinct(id_col).alias("__df"))
    )
    joined = lines.join(dfreq, [group_col, "__lk", "__ll"], "left")
    drop = (trimmed != "") & (F.col("__df") > min_df)
    kept_struct = F.when(~drop, F.struct("__pos", "__line"))
    return (
        joined.groupBy(id_col, group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(drop.cast("int")).cast("long").alias("n_stripped"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["__line"],
                ),
            ).alias(text_col),
        )
        .select(id_col, group_col, text_col, "n_lines", "n_stripped")
    )


def score_bin_reliability(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a quality-classifier score — the
    calibration audit that must run before a score THRESHOLD becomes a
    corpus filter (FineWeb-edu/DataComp-style classifier gates keep
    the top-scoring mass; if observed quality is not monotone in the
    score, the threshold keeps the wrong documents and no downstream
    stage can tell). Buckets the integer-valued ``score_col`` into
    ``n_bins`` fixed-width bins over the OBSERVED [min, max] range and
    reports, per bin: document count, the score bounds actually seen,
    and the observed positive-label rate in floored basis points —
    read up the table and the rate should climb; plateaus locate
    wasted threshold resolution, inversions locate mis-ranked mass.

    ``score_col`` must be integer-valued (scale rationals first, e.g.
    ``floor(w_sum * 1000 / n_tokens)``): binning is then exact integer
    arithmetic + one IEEE divide-and-floor both engines agree on, so
    the table is oracle-checkable bit-for-bit. NULL scores would bin
    NULL — filter upstream.

    Physical shape at 100 TB: ONE counter-sized min/max aggregate
    attached as a broadcast scalar (the weighted_sample pattern — the
    scan itself never shuffles for it), then one hash-groupBy on the
    bin id with map-side partials. Two scans of the input; persist
    upstream if it is expensive."""
    s = F.col(score_col).cast("long")
    mm = df.agg(F.min(s).alias("__mn"), F.max(s).alias("__mx"))
    binned = df.crossJoin(F.broadcast(mm)).withColumn(
        "bin",
        F.floor((s - F.col("__mn")) * F.lit(n_bins)
                / (F.col("__mx") - F.col("__mn") + 1)).cast("long"),
    )
    pos = F.sum(F.col(label_col).cast("int"))
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(s).alias("lo_score"),
        F.max(s).alias("hi_score"),
        pos.cast("long").alias("n_pos"),
        F.floor(pos * F.lit(10000) / F.count(F.lit(1))).cast("long")
        .alias("pos_rate_bp"),
    )


def calibration_summary(rel: DataFrame) -> DataFrame:
    """One-row gate-setting summary over a :func:`score_bin_reliability`
    table (r16 verdict order 6) — the two numbers a threshold-setting
    run actually consumes, instead of eyeballing the bin table:

    - ``n_inversions``: adjacent-bin monotonicity violations — bin
      pairs (ordered by bin id) where the observed positive rate
      strictly DECREASES. Compared exact-integer via cross-
      multiplication (``n_pos[i]·n_docs[i-1] < n_pos[i-1]·n_docs[i]``),
      not on the floored-bp column, so two bins inside the same bp
      plateau never count and a true inversion below bp resolution
      still does. Each inversion is mis-ranked mass: a higher-score
      bin with observably worse quality.
    - ``ece_bp``: expected calibration error against the corpus base
      rate, floored basis points —
      ``floor(Σ_b n_docs_b·|pos_rate_bp_b − base_rate_bp| / N)``.
      Zero means the score carries no information at bin resolution;
      large means the bins genuinely separate quality (the number to
      weigh against the threshold's retention cost). Exact integer
      arithmetic end-to-end (the per-bin rates are already floored
      bp), so both engines agree bit-for-bit.

    Also carries ``n_bins_used``, ``n_docs`` and ``base_rate_bp`` for
    context. Physical shape: the input is the already counter-sized
    bin table (``n_bins`` rows), so the unpartitioned lag window and
    the final fold are driver-trivial at ANY corpus scale — all the
    heavy lifting happened in ``score_bin_reliability``'s one
    hash-groupBy."""
    w = Window.orderBy("bin")
    lagged = rel.select(
        "bin", "n_docs", "n_pos", "pos_rate_bp",
        F.lag("n_pos").over(w).alias("__prev_pos"),
        F.lag("n_docs").over(w).alias("__prev_docs"),
    )
    totals = rel.agg(
        F.sum("n_docs").alias("__nd"), F.sum("n_pos").alias("__np")
    )
    base_bp = F.floor(F.col("__np") * F.lit(10000) / F.col("__nd"))
    return (
        lagged.crossJoin(F.broadcast(totals))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins_used"),
            F.first(F.col("__nd")).cast("long").alias("n_docs"),
            F.first(base_bp).cast("long").alias("base_rate_bp"),
            F.sum(
                F.when(
                    F.col("__prev_pos").isNotNull()
                    & (F.col("n_pos") * F.col("__prev_docs")
                       < F.col("__prev_pos") * F.col("n_docs")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_inversions"),
            F.floor(
                F.sum(F.col("n_docs")
                      * F.abs(F.col("pos_rate_bp") - base_bp))
                / F.first(F.col("__nd"))
            ).cast("long").alias("ece_bp"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    ks: "tuple[int, ...]" = (100, 500, 1000, 2000),
    tokens_col: "str | None" = None,
) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing tool: for each
    candidate vocabulary size ``k``, the fraction of the corpus's token
    MASS covered by its top-``k`` types (floored basis points). The
    curve is what a BPE/vocab budget is read off (every token outside
    the chosen vocab pays the OOV/byte-fallback tax at training time);
    its knee says when growing the vocabulary stops buying coverage —
    computed BEFORE committing a tokenizer run, the lsh_geometry_plan
    convention.

    Returns one row per ``k``: ``(k, n_types, covered_bp)`` —
    ``n_types`` = min(k, |vocab|) actually available, coverage of a
    k beyond the vocabulary saturates at the full mass.

    Physical shape at 100 TB: type counts are one hash-groupBy with
    map-side partials (the shuffle carries (term, count) partials,
    never the token stream); the total is a counter-sized scalar; the
    top-``max(ks)`` table comes off a global sort-limit — Catalyst
    executes it as TakeOrderedAndProject, a distributed per-partition
    top-k merge, never a full sort — and every later step (rank,
    running mass, the per-k rollup) runs over that table, whose size
    is bounded by the PARAMETER, not the vocabulary. Ranking ties
    break by term text, so the curve is deterministic on any engine.

    ``tokens_col`` reads the curve over a PRE-TOKENIZED array column
    instead of whitespace-tokenizing ``text_col`` — the r16 verdict
    order 7 path: the budget decision this curve feeds is about the
    TOKENIZER's unit, so run it over ``bpe_apply``'s output (``tk``)
    and the knee is read in the same unit the vocab budget is spent
    in. Same plan shape: the explode source changes, nothing after
    the type-count groupBy does.
    """
    if not ks:
        raise ValueError("ks must be non-empty")
    max_k = max(ks)
    source = (F.col(tokens_col) if tokens_col is not None
              else Ftext.tokens(F.col(text_col)))
    toks = F.filter(source, lambda t: t != "")
    counts = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("__total"))
    topn = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(max_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = topn.select(
        "cnt",
        F.row_number().over(w).alias("__rn"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__cum"),
    )
    ks_arr = F.array(*[F.lit(int(k)) for k in sorted(set(ks))])
    per_k = (
        ranked.select(F.explode(ks_arr).alias("k"), "__rn", "__cum")
        .filter(F.col("__rn") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.max("__cum").alias("__mass"),
        )
    )
    return per_k.crossJoin(F.broadcast(total)).select(
        "k",
        "n_types",
        F.floor(F.col("__mass") * F.lit(10000) / F.col("__total"))
        .cast("long").alias("covered_bp"),
    )
