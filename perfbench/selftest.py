"""Check the checks: each workload's verifier must accept a correct store and
reject four deliberately corrupted ones.

    python3 perfbench/selftest.py

No Spark runs here. A small seeded store is written as the engine lays it
out (``__bucket=K/*.parquet``) straight from the generated rows, one lookup
record is made from the same rows, and then one row is dropped, one price
changed, one key duplicated, or one id deleted from the expected state while
the store (and a lookup) still returns it. Exit status 0 means every
corruption was rejected and the clean store was accepted.
"""

from __future__ import annotations

import contextlib
import copy
import os
import shutil
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402

N_BUCKETS = 4


class Fixture:
    """Stands in for a finished workload: its inputs and op records."""

    def __init__(self, inputs):
        self.inputs = inputs
        self.committed: list = []
        ids = sorted(inputs.truth.prices)[:50]
        self.records = [{"kind": "lookup", "ids": ids, "expected": inputs.truth.expected(ids),
                         "got": [(k, inputs.truth.prices[k]) for k in ids]}]


def write_store(path: str, rows: list[dict]) -> None:
    shutil.rmtree(path, ignore_errors=True)
    for b in range(N_BUCKETS):
        part = [r for i, r in enumerate(rows) if i % N_BUCKETS == b]
        os.makedirs(os.path.join(path, f"__bucket={b}"))
        pq.write_table(gen.store_table(part), os.path.join(path, f"__bucket={b}", "part-0.parquet"))


def corruptions(rows: list[dict]):
    """(name, store rows, change to the fixture) per corruption."""
    victim = rows[7]["article_id"]

    def no_change(fx):
        pass

    def delete_victim(fx):
        del fx.inputs.truth.prices[victim]
        fx.records[0]["expected"].pop(victim, None)

    wrong = [dict(r) for r in rows]
    wrong[7]["price"] = wrong[7]["price"] + 0.01
    return [
        ("dropped row", rows[:7] + rows[8:], no_change),
        ("wrong price", wrong, no_change),
        ("duplicated key", rows + [dict(rows[7])], no_change),
        ("deleted id still readable", rows, delete_victim),
    ]


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_runs", f"selftest-{os.getpid()}")
    os.makedirs(work)
    failures = 0
    try:
        for name, make in [
            ("menu_onboard", lambda d: gen.MenuInputs(d, 7, master_rows=1_000, store_rows=400)),
            ("grocery_bulk", lambda d: gen.GroceryInputs(d, 7, master_rows=1_000, store_rows=400,
                                                         catalog_rows=100)),
        ]:
            inputs_dir = os.path.join(work, name)
            os.makedirs(inputs_dir)
            clean = Fixture(make(inputs_dir))
            store = os.path.join(work, name, "store")
            rows = clean.inputs.store_rows
            write_store(store, rows)
            errs = check.CHECKS[name](store, clean)
            print(f"{name:14s} clean store: {'accepted' if not errs else 'REJECTED ' + str(errs)}")
            failures += bool(errs)
            for label, bad_rows, change in corruptions(rows):
                fx = copy.deepcopy(clean)
                change(fx)
                write_store(store, bad_rows)
                errs = check.CHECKS[name](store, fx)
                print(f"{name:14s} {label}: {'rejected' if errs else 'MISSED'}"
                      + (f" ({errs[0][:100]})" if errs else ""))
                failures += not errs
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no run is using it
    print("selftest:", "ok" if not failures else f"{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
