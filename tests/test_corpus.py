"""operators/corpus.py on empty and degenerate document frames."""

import pytest
from pyspark.sql import functions as F

from restaurant_etl_code_spark.operators import corpus

_MERGES = [("the", "cat"), ("the_cat", "sat")]

# entry -> call on a document frame (two-frame entries get it twice)
_ENTRIES = {
    "tfidf_top_terms": lambda d: corpus.tfidf_top_terms(d),
    "contaminated_ids": lambda d: corpus.contaminated_ids(d, d),
    "decontaminate": lambda d: corpus.decontaminate(d, d),
    "contamination_score": lambda d: corpus.contamination_score(d, d),
    "repetition_signals": lambda d: corpus.repetition_signals(d),
    "chunk_documents": lambda d: corpus.chunk_documents(d, chunk_tokens=4, overlap=1),
    "unigram_logprob": lambda d: corpus.unigram_logprob(d),
    "bm25_topk": lambda d: corpus.bm25_topk(d, "cat sat"),
    "boilerplate_ngrams": lambda d: corpus.boilerplate_ngrams(d),
    "corpus_profile": lambda d: corpus.corpus_profile(d),
    "char_entropy": lambda d: corpus.char_entropy(d),
    "hashed_linear_score": lambda d: corpus.hashed_linear_score(d),
    "importance_resample": lambda d: corpus.importance_resample(d, d, k=3),
    "span_dedup": lambda d: corpus.span_dedup(d, span_tokens=3),
    "bpe_pair_stats": lambda d: corpus.bpe_pair_stats(d),
    "pmi_collocations": lambda d: corpus.pmi_collocations(d, min_count=1),
    "merge_adjacent_pair": lambda d: corpus.merge_adjacent_pair(d, "the", "cat"),
    "phrase_merge_step": lambda d: corpus.phrase_merge_step(d),
    "bpe_train": lambda d: corpus.bpe_train(d, n_merges=2),
    "bpe_apply_fold": lambda d: corpus.bpe_apply(d, _MERGES, engine="fold"),
    "bpe_apply_arrow": lambda d: corpus.bpe_apply(d, _MERGES, engine="arrow"),
    "bigram_logprob": lambda d: corpus.bigram_logprob(d),
    "line_boilerplate_strip": lambda d: corpus.line_boilerplate_strip(
        d, "doc_id", "text", "source", min_df=1),
    "vocab_coverage": lambda d: corpus.vocab_coverage(d, ks=(2, 4)),
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "web", "the cat sat on the mat"),
            (2, "web", "the cat sat\non the mat again"),
            (3, "books", "a dog ran far"),
        ],
        "doc_id bigint, source string, text string",
    )


@pytest.mark.parametrize("entry", sorted(_ENTRIES))
def test_entry_on_empty_input_returns_typed_empty_frame(docs, entry):
    call = _ENTRIES[entry]
    empty = call(docs.limit(0))
    assert empty.collect() == []
    assert empty.dtypes == call(docs).dtypes


def test_phrase_merge_step_without_adjacent_bigram_is_empty(spark, docs):
    # no document has two tokens, so no pair wins and nothing is merged:
    # the oracle's top-pair CTE is empty and so is its answer
    single = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    out = corpus.phrase_merge_step(single)
    assert out.collect() == []
    assert out.dtypes == corpus.phrase_merge_step(docs).dtypes


def test_logreg_train_hashed_refuses_empty_input(docs):
    # the gradient step divides by the trainable document count
    with pytest.raises(ValueError, match="no trainable documents"):
        corpus.logreg_train_hashed(docs.limit(0), F.col("doc_id") % 2 == 0)
