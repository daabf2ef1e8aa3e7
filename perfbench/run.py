"""Catalog-onboarding benchmark: one closed-loop client, ``local[nproc]``.

    python3 perfbench/run.py --workload menu_onboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` before
any clock starts; set-up (session start, store seeding, warm-up operations)
is timed as ``setup_s``; the timed window then runs whole rounds of
operations until ``--seconds`` have passed; outputs are checked apart from
the engine. The last stdout line is the result object; the line before it
carries the CPU canary and load average read around the timed window (and,
with ``--trace 1``, the span file's path).
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import glob
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CANARY_LOOP = 2_000_000
HEAP = "2g"  # fixed driver heap: local mode runs every task inside it

SIZES = {  # input make-up; README.md records why these sizes
    "menu_onboard": {"master_rows": 10_000, "store_rows": 20_000},
    "grocery_bulk": {"master_rows": 20_000, "store_rows": 20_000, "catalog_rows": 3_000},
}


CANARY_CHILD = f"""
import sys, time
print("ready", flush=True)
sys.stdin.readline()
x = 0
for i in range({CANARY_LOOP}):
    x += i
"""


def _loop(n: int) -> None:
    x = 0
    for i in range(n):
        x += i


def canary() -> dict:
    """Seconds for a fixed pure-Python loop, run alone and then once per CPU
    at the same time. The parallel reading rises when other tenants share
    the host's cores, which the single one barely shows."""
    t0 = time.perf_counter()
    _loop(CANARY_LOOP)
    single = time.perf_counter() - t0
    n = len(os.sched_getaffinity(0))
    procs = []
    try:
        for _ in range(n):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", CANARY_CHILD],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        for p in procs:  # every interpreter is up before the clock starts
            p.stdout.readline()
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        for p in procs:
            p.wait()
        parallel = time.perf_counter() - t0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdin.close()
            p.stdout.close()
    return {"single_s": single, "parallel_s": parallel}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def stop_spark(spark) -> None:
    """Stop the session, if one was made, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        with contextlib.suppress(Exception):  # the JVM is shut down below anyway
            spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Become the parent of every process our children leave behind (the
    JVM's Python workers), so that ``reap_all`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def reap_all(grace_s: float = 30.0) -> None:
    """Wait until no child or adopted orphan is left; kill what outlives
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(kid, signal.SIGKILL)
        time.sleep(0.05)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    adopt_orphans()
    signal.signal(signal.SIGTERM, _raise_exit)  # so every cleanup below runs

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "data", "tmp", "jvmtmp", "local", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the package and the benchmark's modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    try:
        return run(args, run_dir, dirs)
    finally:
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only when no other run is using it


def run(args, run_dir: str, dirs: dict) -> int:
    sys.path.insert(0, ROOT)
    import check
    import gen
    import ops
    import spans as tr
    from restaurant_etl_code_spark import get_spark

    make_inputs, workload_cls = {
        "menu_onboard": (gen.MenuInputs, ops.MenuOnboard),
        "grocery_bulk": (gen.GroceryInputs, ops.GroceryBulk),
    }[args.workload]
    inputs = make_inputs(dirs["inputs"], args.seed, **SIZES[args.workload])

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData",
    }
    if args.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["events"]
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"

    # ---- set-up: session start + store seeding + warm-up operations ----
    spark = None
    try:
        t0 = time.time()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        start_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tr.Tracer(spark.sparkContext) if args.trace else tr.NoTrace()
        setup_spans = [{"name": "session.get_spark", "op_id": 0, "parent": None,
                        "start": t0, "end": t0 + start_s}]
        wl = workload_cls(spark, tracer, dirs["data"], inputs)
        t1 = time.perf_counter()
        wl.seed_store(wl.store)
        seed_s = time.perf_counter() - t1
        unexpected: list[str] = []
        t1 = time.perf_counter()
        for kind, fn, arg in wl.warmup_ops():
            try:
                fn(arg)
            except Exception:  # noqa: BLE001 — reported through the check
                unexpected.append("warm-up: " + traceback.format_exc(limit=3))
            tracer.release()
        warm_s = time.perf_counter() - t1
        setup_s = start_s + seed_s + warm_s

        # ---- timed window: whole rounds until --seconds have passed ----
        context = {"canary_before": canary(), "loadavg_before": loadavg()}
        log: list[dict] = []
        t_win = time.perf_counter()
        while True:
            for kind, fn, arg in wl.round_ops():
                err = None
                with tracer.op(f"op.{kind}"):
                    t1 = time.perf_counter()
                    try:
                        rows = fn(arg)
                    except ops.FaultyMenu:
                        err, rows = "fault", 0
                    except Exception:  # noqa: BLE001 — reported through the check
                        err, rows = traceback.format_exc(limit=3), 0
                        unexpected.append(err)
                    dt = time.perf_counter() - t1
                tracer.release()
                log.append({"kind": kind, "s": dt, "rows": rows, "err": err,
                            "op_id": getattr(tracer, "op_id", None)})
            if time.perf_counter() - t_win >= args.seconds:
                break
        context.update(window_s=time.perf_counter() - t_win, canary_after=canary(),
                       loadavg_after=loadavg())

        errors = [f"operation failed: {e}" for e in unexpected]
        errors += check.CHECKS[args.workload](wl.store, wl)
        store_rows = len(inputs.truth.prices)
        disk = tree_bytes(wl.store) + tree_bytes(dirs["tmp"])
        layer_inputs = _layer_inputs(wl, dirs) if args.trace else None
    finally:
        stop_spark(spark)

    done = [o for o in log if o["kind"] == "onboard" and o["err"] is None]
    looks = [o for o in log if o["kind"] == "lookup" and o["err"] is None]
    if args.trace:
        spans = setup_spans + tracer.spans
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
        with open(span_file, "w") as fh:
            json.dump(spans, fh)
        context["span_file"] = os.path.relpath(span_file, ROOT)
        metrics = tr.per_layer(spans, tr.read_event_log(dirs["events"]), log, layer_inputs)
        context["op_p50_s_traced"] = statistics.median(o["s"] for o in done) if done else None
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "onboard_p50_s": {"value": statistics.median(o["s"] for o in done), "unit": "s"},
            "rows_per_s": {"value": sum(o["rows"] for o in done) / sum(o["s"] for o in done),
                           "unit": "rows/s"},
            "lookup_p50_s": {"value": statistics.median(o["s"] for o in looks), "unit": "s"},
            "driver_rss_mb": {
                "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "unit": "MB"},
            "disk_bytes_per_row": {"value": disk / store_rows, "unit": "B/row"},
        }
    context.update(
        workload=args.workload, seed=args.seed,
        op_s=[[o["kind"], round(o["s"], 3)] for o in log],
        setup={"start_s": start_s, "seed_s": seed_s, "warm_s": warm_s},
        errors=errors[:10],
    )
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not errors,
        "attempted": len(log),
        "failed": sum(o["err"] is not None for o in log),
        "metrics": metrics,
    }))
    return 0


def _layer_inputs(wl, dirs: dict) -> dict:
    """Filesystem-side figures the traced run reads before the session stops."""
    buckets = glob.glob(os.path.join(wl.store, "__bucket=*"))
    files = glob.glob(os.path.join(wl.store, "__bucket=*", "*.parquet"))
    staging = glob.glob(os.path.join(dirs["tmp"], "mdb_staging_*"))
    return {
        "files_per_bucket": len(files) / max(1, len(buckets)),
        "staging_bytes": sum(tree_bytes(d) for d in staging),
        "counts": wl.t.counts,
    }


if __name__ == "__main__":
    sys.exit(main())
