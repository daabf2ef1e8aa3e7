"""plans/testdata_queries.py: what the catalog's queries leave on disk."""

import os

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
