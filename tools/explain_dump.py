#!/usr/bin/env python
"""Dump .explain("formatted") for named queries into <dir>/<q>_<tag>.txt.

The directory defaults to the untracked .scratch/plans; override it with
SPARK_GRAFT_PLANS_DIR. Diff two tags' dumps to compare a change's plans.

Usage: [SPARK_GRAFT_PLANS_DIR=<dir>] python tools/explain_dump.py <tag> <query> [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from restaurant_etl_code_spark import get_spark
from restaurant_etl_code_spark.plans import QUERIES


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "SPARK_GRAFT_PLANS_DIR",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".scratch", "plans"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-dump",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for name in names:
        df = QUERIES[name].spark(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
