"""Spans around the benchmark's calls into the engine, and the Spark event
log read back into per-op scheduler figures.

The untraced run uses ``NoTrace``: no job descriptions, no boundary
materialization, no event log. ``Tracer`` records one span per call into a
layer's public function (name, start, end, parent, op id), labels the Spark
jobs the call starts with the span name, and materializes the layer's output
once at its boundary (child span ``<name>:exec``) so each layer's execution
lands in its own span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class NoTrace:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def op(self, name: str):
        return self.span(name)

    def boundary(self, name: str, df):
        return df

    def release(self) -> None:
        pass

    def count(self, name: str, value: float) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list = []
        self.op_id = 0
        self.counts: dict[int, dict[str, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op_id": self.op_id,
               "parent": parent["name"] if parent else None, "start": time.time()}
        self._stack.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent["name"] if parent else None)
            self.spans.append(rec)

    def op(self, name: str):
        """Root span of one operation; layer spans inside share its id."""
        self.op_id += 1
        return self.span(name)

    def boundary(self, name: str, df):
        with self.span(f"{name}:exec"):
            df = df.persist()
            df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to the current operation's counter ``name``."""
        op = self.counts.setdefault(self.op_id, {})
        op[name] = op.get(name, 0) + value


def self_times(spans: list[dict]) -> list[dict]:
    """Each span's duration minus the part of it its child spans cover
    (children of one span never overlap: the benchmark calls layers one
    after another)."""
    by_parent: dict[tuple, float] = {}
    for s in spans:
        if s["parent"] is not None:
            key = (s["op_id"], s["parent"])
            by_parent[key] = by_parent.get(key, 0.0) + s["end"] - s["start"]
    return [
        dict(s, self_s=s["end"] - s["start"] - by_parent.get((s["op_id"], s["name"]), 0.0))
        for s in spans
    ]


def read_event_log(log_dir: str) -> dict:
    """Jobs (description, start, end, stage ids), stages (duration, whether
    a Python worker ran in them) and per-stage task sums from the JSON event
    log Spark wrote to ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {"desc": None, "stages": []})
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    accs = [a.get("Name") or "" for a in info.get("Accumulables", [])]
                    st = stages.setdefault(info["Stage ID"], _blank_stage())
                    st["run"] = True
                    st["dur"] = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000.0
                    st["python"] = any("Python" in a for a in accs)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _blank_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    st["shuffle_rows"].append(
                        (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0))
    return {"jobs": jobs, "stages": stages}


def _blank_stage() -> dict:
    return {"run": False, "dur": 0.0, "python": False, "tasks": 0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write": 0, "spill": 0, "records_read": 0, "shuffle_rows": []}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# --------------------------------------------------------------------------
# Per-layer metrics of the timed window
# --------------------------------------------------------------------------

SPAN_METRICS = {  # metric -> span names whose self time it sums, per op using them
    "sources.mdb.read_s": ["sources.mdb.read_mdb_catalog", "sources.mdb.read_mdb_catalog:exec"],
    "sources.sinks.merge_s": ["sources.sinks.merge_into_bucketed_parquet"],
    "multimodal.minipdf.extract_s": ["multimodal.minipdf.mini_pdf_text",
                                     "multimodal.minipdf.mini_pdf_text:exec"],
    "plans.pipeline.build_s": ["plans.pipeline.catalog_pipeline"],
    "plans.pipeline.exec_s": ["plans.pipeline.catalog_pipeline:exec"],
    "operators.matching.change_detect_s": ["operators.matching.change_detect:exec"],
    "operators.similarity.call_s": ["operators.similarity.cosine_topk",
                                    "operators.similarity.bucketed_cosine_topk"],
    "operators.similarity.exec_s": ["operators.similarity.cosine_topk:exec",
                                    "operators.similarity.bucketed_cosine_topk:exec"],
    "enrichment.enrich_s": ["enrichment.enrich", "enrichment.enrich:exec"],
    "operators.chunking.templates_s": ["operators.chunking.group_and_chunk_templates"],
    "operators.stats.batch_stats_s": ["operators.stats.batch_stats"],
}

UNITS = {
    "session.start_s": "s", "sources.mdb.staging_bytes_left": "B/op",
    "sources.sinks.buckets_rewritten": "count/op", "sources.sinks.written_bytes_per_delta_byte": "B/B",
    "sources.sinks.files_per_bucket": "count", "sources.sinks.rows_scanned_per_row_returned": "rows/row",
    "operators.similarity.eager_jobs": "count/op", "enrichment.backend_calls": "count/op",
    "operators.stats.max_task_row_share": "fraction", "spark.jobs": "count/op",
    "spark.stages": "count/op", "spark.tasks": "count/op", "spark.driver_gap_s": "s/op",
    "spark.executor_cpu_s": "s/op", "spark.python_stage_s": "s/op",
    "spark.shuffle_write_bytes": "B/op", "spark.spill_bytes": "B/op", "spark.gc_s": "s/op",
}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(spans: list[dict], events: dict, log: list[dict], fs: dict) -> dict:
    """Per-layer figures of the timed window, averaged over the operations
    that used the layer. Spark figures are per completed onboarding op."""
    timed = {o["op_id"] for o in log}
    st = [s for s in self_times(spans) if s["op_id"] in timed]
    out: dict[str, float] = {}
    for metric, names in SPAN_METRICS.items():
        per_op: dict[int, float] = {}
        for s in st:
            if s["name"] in names:
                per_op[s["op_id"]] = per_op.get(s["op_id"], 0.0) + s["self_s"]
        out[metric] = _mean(list(per_op.values()))
    out["session.start_s"] = next(s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark")

    roots = {s["op_id"]: s for s in st if s["parent"] is None}
    jobs_of: dict[int, list[dict]] = {i: [] for i in roots}
    for job in events["jobs"].values():
        for i, root in roots.items():
            if "start" in job and root["start"] <= job["start"] <= root["end"]:
                jobs_of[i].append(job)
                break
    stages = events["stages"]

    def ran(job):
        return [stages[s] for s in job["stages"] if s in stages and stages[s]["run"]]

    onboard = [o["op_id"] for o in log if o["kind"] == "onboard" and o["err"] is None]
    spark_rows = {k: [] for k in ("jobs", "stages", "tasks", "driver_gap_s", "executor_cpu_s",
                                  "python_stage_s", "shuffle_write_bytes", "spill_bytes", "gc_s")}
    for i in onboard:
        js, root = jobs_of[i], roots[i]
        sts = [x for j in js for x in ran(j)]
        spark_rows["jobs"].append(len(js))
        spark_rows["stages"].append(len(sts))
        spark_rows["tasks"].append(sum(x["tasks"] for x in sts))
        spark_rows["driver_gap_s"].append(
            root["end"] - root["start"]
            - covered([(j["start"], j.get("end", root["end"])) for j in js], root["start"], root["end"]))
        spark_rows["executor_cpu_s"].append(sum(x["cpu_s"] for x in sts))
        spark_rows["python_stage_s"].append(sum(x["dur"] for x in sts if x["python"]))
        spark_rows["shuffle_write_bytes"].append(sum(x["shuffle_write"] for x in sts))
        spark_rows["spill_bytes"].append(sum(x["spill"] for x in sts))
        spark_rows["gc_s"].append(sum(x["gc_s"] for x in sts))
    for k, xs in spark_rows.items():
        out[f"spark.{k}"] = _mean(xs)

    sim_calls = set(SPAN_METRICS["operators.similarity.call_s"])
    sim_ops = {s["op_id"] for s in st if s["name"] in sim_calls}
    out["operators.similarity.eager_jobs"] = _mean(
        [sum(j["desc"] in sim_calls for j in jobs_of[i]) for i in sim_ops])

    shares = []
    for i in {s["op_id"] for s in st if s["name"] == "operators.stats.batch_stats"}:
        sts = [x for j in jobs_of[i] if j["desc"] == "operators.stats.batch_stats" for x in ran(j)]
        # the stage reading the most shuffled rows: the window's single partition today
        heavy = max(sts, key=lambda x: sum(x["shuffle_rows"]), default=None)
        if heavy is not None and sum(heavy["shuffle_rows"]):
            shares.append(max(heavy["shuffle_rows"]) / sum(heavy["shuffle_rows"]))
    out["operators.stats.max_task_row_share"] = _mean(shares)

    counts = [fs["counts"].get(i, {}) for i in sorted(timed)]
    merges = [c for c in counts if "buckets_rewritten" in c]
    out["sources.sinks.buckets_rewritten"] = _mean([c["buckets_rewritten"] for c in merges])
    delta = sum(c["delta_bytes"] for c in merges)
    out["sources.sinks.written_bytes_per_delta_byte"] = (
        sum(c["written_bytes"] for c in merges) / delta if delta else 0.0)
    out["sources.sinks.files_per_bucket"] = fs["files_per_bucket"]
    lookups = [o["op_id"] for o in log if o["kind"] == "lookup" and o["err"] is None]
    scanned = sum(x["records_read"] for i in lookups for j in jobs_of[i] for x in ran(j))
    returned = sum(fs["counts"].get(i, {}).get("rows_returned", 0) for i in lookups)
    out["sources.sinks.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    calls = [c["backend_calls"] for c in counts if "backend_calls" in c]
    out["enrichment.backend_calls"] = _mean(calls)
    reads = sum(s["name"] == "sources.mdb.read_mdb_catalog" for s in spans)
    out["sources.mdb.staging_bytes_left"] = fs["staging_bytes"] / reads if reads else 0.0
    return {k: {"value": v, "unit": UNITS.get(k, "s/op")} for k, v in sorted(out.items())}
