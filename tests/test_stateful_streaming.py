"""applyInPandasWithState operators: cross-batch dedup + running stats.

The load-bearing property is that state is CHECKPOINTED: a second
AvailableNow run over newly-arrived files (same checkpoint dir) must see the
first run's state — keys already emitted stay suppressed, totals keep
accumulating. That is what distinguishes these from per-batch pandas ops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from restaurant_etl_code_spark.streaming import (
    file_arrival_stream,
    running_key_stats,
    run_available_now,
    streaming_dedup,
)


def _write_batch(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def _run(spark, landing, ckpt, op, name, mode="append"):
    # foreachBatch sink: the memory sink cannot recover from a checkpoint,
    # and checkpoint recovery is exactly what these tests exercise.
    schema = spark.read.parquet(landing).schema
    stream = file_arrival_stream(spark, landing, schema)
    rows = []

    def collect_batch(batch_df, epoch_id):
        rows.extend(batch_df.collect())

    q = (
        op(stream)
        .writeStream.outputMode(mode)
        .foreachBatch(collect_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_streaming_dedup_within_and_across_batches(spark, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    schema = "k string, v int"

    _write_batch(spark, landing, [("a", 1), ("a", 2), ("b", 3)], schema)
    first = _run(spark, landing, ckpt, lambda s: streaming_dedup(s, ["k"]), "dedup1")
    assert sorted(r["k"] for r in first) == ["a", "b"]

    # New arrivals: duplicate key "b" must stay suppressed after restart.
    _write_batch(spark, landing, [("b", 4), ("c", 5)], schema)
    second = _run(spark, landing, ckpt, lambda s: streaming_dedup(s, ["k"]), "dedup2")
    assert [r["k"] for r in second] == ["c"]


def test_running_key_stats_accumulates_across_restarts(spark, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    schema = "k string, v double"

    _write_batch(spark, landing, [("a", 1.0), ("a", 2.0), ("b", 3.0)], schema)
    op = lambda s: running_key_stats(s, "k", "v")  # noqa: E731
    first = {r["k"]: (r["n_total"], r["value_total"]) for r in
             _run(spark, landing, ckpt, op, "stats1", mode="update")}
    assert first == {"a": (2, 3.0), "b": (1, 3.0)}

    # Restart with more data: totals continue from checkpointed state, and
    # untouched keys ("b") do not re-emit in update mode.
    _write_batch(spark, landing, [("a", 4.0)], schema)
    second = {r["k"]: (r["n_total"], r["value_total"]) for r in
              _run(spark, landing, ckpt, op, "stats2", mode="update")}
    assert second == {"a": (3, 7.0)}


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    """Oracle property: the deduped key set equals batch DISTINCT."""
    from restaurant_etl_code_spark.sources import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(300)
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    events.write.parquet(landing)
    got = _run(
        spark, landing, ckpt,
        lambda s: streaming_dedup(s, ["event_type"]).select("event_type"),
        "dedup_ev",
    )
    want = {r["event_type"] for r in events.select("event_type").distinct().collect()}
    assert {r["event_type"] for r in got} == want


def test_max_files_per_trigger_admission(spark, tmp_path):
    """T3: maxFilesPerTrigger caps how much each micro-batch admits — the
    Spark restatement of the reference's 10-run concurrency guard."""
    landing = str(tmp_path / "landing")
    for i in range(3):
        _write_batch(spark, landing, [(f"k{i}", i)], "k string, v int")

    schema = spark.read.parquet(landing).schema
    stream = file_arrival_stream(spark, landing, schema, max_files_per_trigger=1)
    batch_sizes = []

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: batch_sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batch_sizes) >= 3 and sum(batch_sizes) == 3


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: in append mode a watermarked window only emits
    once the watermark passes it, and events arriving after that are
    DROPPED from state — the bounded-state guarantee that makes windowed
    streaming aggregation viable at scale."""
    from pyspark.sql import functions as F
    from restaurant_etl_code_spark.streaming import windowed_event_counts

    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string, value double"

    def rows(*ts):
        return [(t, "click", 1.0) for t in ts]

    def run(name):
        raw = spark.read.parquet(landing)
        stream = file_arrival_stream(spark, landing, raw.schema)
        agg = windowed_event_counts(stream, watermark="1 hour")
        out = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, eid: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return out

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    late = dt.datetime(2024, 1, 1, 0, 45)   # same window as t0
    t1 = dt.datetime(2024, 1, 1, 5, 0)      # advances watermark to 04:00

    _write_batch(spark, landing, rows(t0, t1), schema)
    first = run("w1")
    # watermark passed 01:00 → the 00:00 window finalized with ONE event
    finalized = {(r["window_start"], r["n"]) for r in first}
    assert (dt.datetime(2024, 1, 1, 0, 0), 1) in finalized

    # a late event for the already-finalized window must be dropped
    _write_batch(spark, landing, rows(late), schema)
    second = run("w2")
    assert all(r["window_start"] != dt.datetime(2024, 1, 1, 0, 0) for r in second)


def test_streaming_funnel_state_across_batches(spark, tmp_path):
    from datetime import datetime

    from restaurant_etl_code_spark.streaming import streaming_funnel_flags

    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    schema = "user_id bigint, ts timestamp, event_type string, event_id bigint"
    op = lambda s: streaming_funnel_flags(  # noqa: E731
        s, user_col="user_id", ts_col="ts", type_col="event_type",
        stages=["view", "click"], tiebreak_col="event_id",
    )

    # batch 1: u1 views; u2 clicks (no view yet — not gated through)
    _write_batch(spark, landing, [
        (1, datetime(2024, 1, 1, 0), "view", 1),
        (2, datetime(2024, 1, 1, 0), "click", 2),
    ], schema)
    first = {r["user_id"]: (r["r0"], r["r1"]) for r in
             _run(spark, landing, ckpt, op, "fun1", mode="update")}
    assert first == {1: (1, 0), 2: (0, 0)}

    # batch 2: u1 clicks -> gated through CHECKPOINTED view state; u2 views
    # (too late for the already-arrived click — arrival order stands in
    # for event order across batches)
    _write_batch(spark, landing, [
        (1, datetime(2024, 1, 1, 1), "click", 3),
        (2, datetime(2024, 1, 1, 1), "view", 4),
    ], schema)
    second = {r["user_id"]: (r["r0"], r["r1"]) for r in
              _run(spark, landing, ckpt, op, "fun2", mode="update")}
    assert second == {1: (1, 1), 2: (1, 0)}


def test_query_temp_dirs_are_removed_at_exit(tmp_path):
    # the streaming catalog queries stage landing, stage, target and
    # checkpoint directories that their lazy results read after the
    # query returns; all of them sit under one per-process root, which
    # goes when the process exits
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from restaurant_etl_code_spark.plans import testdata_queries as T\n"
        "a = T._temp_dir('landing_')\n"
        "b = T._temp_dir('ckpt_')\n"
        "open(a + '/f', 'w').write('x')\n"
        "print(T._temp_root, a, b)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": repo}
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, check=True)
    root, a, b = out.stdout.split()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.dirname(a) == root and os.path.dirname(b) == root
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
