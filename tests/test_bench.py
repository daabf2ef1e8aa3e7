"""bench.py end to end: one small run through ``main``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF0001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_main_end_to_end(tmp_path):
    import bench

    rows = ["basket_rules", "streaming_window"]  # a warm-up row, a stream
    assert rows[0] in bench.WARMUP_ROWS
    out_path = tmp_path / "record.json"
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_SF_DIR": SF0001,
           "SPARK_GRAFT_BENCH_OUT": str(out_path),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    code = ("import sys, bench\n"
            "bench.BENCH_QUERIES = sys.argv[1:]\n"
            "raise SystemExit(bench.main())\n")
    before = sorted(os.listdir(REPO))
    proc = subprocess.run([sys.executable, "-c", code, *rows], cwd=tmp_path,
                          env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert sorted(os.listdir(REPO)) == before

    record = json.loads(proc.stdout.strip().splitlines()[-1])
    assert record["n_rows"] == 2
    assert set(record["queries"]) == set(rows)
    assert record["warmup_rows"] == ["basket_rules"]
    full = json.loads(out_path.read_text())
    detail = full.pop("detail")
    assert full == record
    assert detail["basket_rules"]["warmed_up"] is True
    assert detail["streaming_window"]["warmed_up"] is False
    for row in detail.values():
        assert "kept_bracket_ms" in row and "quiet_row" in row
    keys = set(record) | {k for row in detail.values() for k in row}
    assert not [k for k in keys
                if k.startswith("streaming_") or k.endswith("_legacy")]
