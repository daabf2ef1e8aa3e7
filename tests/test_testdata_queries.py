"""plans/testdata_queries.py: what the catalog's queries leave on disk."""

import os

import pyarrow.parquet as pq
import pytest

from restaurant_etl_code_spark.operators import embeddings as E
from restaurant_etl_code_spark.plans import QUERIES
from restaurant_etl_code_spark.plans import testdata_queries as T

SF0001 = "/root/testdata/sf0.001"


def test_roundtrip_queries_write_under_process_temp_dirs(spark, tmp_path, monkeypatch):
    # a write-then-read query stages its files in a fresh per-process temp
    # directory, so two processes at one scale never share a path and
    # nothing is left in the checkout's .scratch
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(T, "_SCRATCH_DIR", str(scratch))
    for name in ("csv_scan_agg", "merge_pruned"):
        assert QUERIES[name].spark(spark, SF0001).collect()
    assert os.listdir(scratch) == []


def test_empty_tables_answer_as_the_oracle(spark, tmp_path):
    # zero-row part and embeddings with the sf0.001 schemas: string_agg over
    # no rows is NULL, and the grouped moments have no rows to report
    for table in ("part", "embeddings"):
        schema = pq.read_schema(os.path.join(SF0001, f"{table}.parquet"))
        pq.write_table(schema.empty_table(), str(tmp_path / f"{table}.parquet"))
    sf = str(tmp_path)
    got = QUERIES["distinct_categories"].spark(spark, sf).collect()
    assert [tuple(r) for r in got] == [(None, 0)]
    assert QUERIES["embedding_covariance"].spark(spark, sf).collect() == []
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="empty input"):
        E.pca_fit(emb, dim=4, k=2)
