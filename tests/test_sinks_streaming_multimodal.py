"""MERGE emulation, error sink, multimodal decode plumbing, streaming jobs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from restaurant_etl_code_spark import schemas
from restaurant_etl_code_spark.multimodal import FakeDecoder, decode_assets, extract_binary_meta
from restaurant_etl_code_spark.operators import temporal
from restaurant_etl_code_spark.sources import sinks
from restaurant_etl_code_spark.streaming import (
    file_arrival_stream,
    run_available_now,
    session_window_agg,
    windowed_event_counts,
)


def test_merge_upsert_updates_and_inserts(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, price double"
    )
    updates = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", 30.0)], "k int, name string, price double"
    )
    got = {r["k"]: r["price"] for r in sinks.merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}


def test_bucketed_merge_roundtrip_creates_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame([(1, 10.0)], "k int, price double")
    sinks.merge_into_bucketed_parquet(spark, path, first, ["k"])
    # the first merge into a missing path lays the target out bucketed
    assert os.path.isfile(os.path.join(path, "_bucket_spec.json"))
    second = spark.createDataFrame([(1, 11.0), (2, 20.0)], "k int, price double")
    sinks.merge_into_bucketed_parquet(spark, path, second, ["k"])
    got = {r["k"]: r["price"] for r in sinks.read_bucketed(spark, path).collect()}
    assert got == {1: 11.0, 2: 20.0}


def test_classify_write_status(spark):
    df = spark.createDataFrame(
        [(1, None, False), (2, "boom", False), (3, None, True)],
        "k int, enrich_error string, partial boolean",
    )
    got = {
        r["k"]: r["status"]
        for r in sinks.classify_write_status(df, partial_col="partial").collect()
    }
    assert got == {1: "success", 2: "failure", 3: "partialSuccess"}


def test_failed_rows_sink(spark, tmp_path):
    original = spark.createDataFrame([(0, "x"), (1, "y")], "idx int, payload string")
    failures = spark.createDataFrame([(1, "err")], "idx int, error string")
    out = sinks.write_failed_rows(failures, original, "idx", str(tmp_path), "run1")
    back = spark.read.json(out).collect()
    assert len(back) == 1 and back[0]["payload"] == "y"


def test_fake_decoder_plumbing(spark):
    assets = spark.createDataFrame(
        [("a1", "image", bytearray(b"imagebytes")), ("a2", "pdf", None)],
        "asset_id string, modality string, content binary",
    )
    out = decode_assets(assets, FakeDecoder).collect()
    ok = [r for r in out if r["asset_id"] == "a1"]
    bad = [r for r in out if r["asset_id"] == "a2"]
    assert 1 <= len(ok) <= 3
    assert all(r["decode_error"] is None and len(r["feature"]) == 4 for r in ok)
    assert len(bad) == 1 and "ValueError" in bad[0]["decode_error"]
    # determinism: same bytes → same features
    again = decode_assets(assets, FakeDecoder).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_extract_binary_meta_jvm_side(spark):
    assets = spark.createDataFrame(
        [("a1", "image", bytearray(b"abc"))], "asset_id string, modality string, content binary"
    )
    r = extract_binary_meta(assets).first()
    assert r["n_bytes"] == 3
    assert r["digest"] == "900150983cd24fb0d6963f7d28e17f72"


def test_streaming_window_matches_batch(spark, tmp_path):
    """The streaming windowed agg over a file-arrival source must equal the
    batch tumbling-window operator on the same data (same logical query)."""
    from restaurant_etl_code_spark.sources import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    landing = str(tmp_path / "landing")
    events.write.parquet(landing)

    stream = file_arrival_stream(spark, landing, spark.read.parquet(landing).schema)
    agg = windowed_event_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), query_name="win_out", output_mode="complete")
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
        for r in spark.sql("select * from win_out").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
        for r in temporal.tumbling_window_agg(spark.read.parquet(landing)).collect()
    }
    assert streamed == batch


def test_streaming_session_window(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 01:00:00", 3.0),
        (2, "2024-01-01 00:00:00", 4.0),
    ]
    df = (
        spark.createDataFrame(rows, "user_id int, ts string, value double")
        .withColumn("ts", F.to_timestamp("ts"))
    )
    landing = str(tmp_path / "sess")
    df.write.parquet(landing)
    stream = file_arrival_stream(spark, landing, spark.read.parquet(landing).schema)
    agg = session_window_agg(stream, gap="30 minutes")
    run_available_now(agg, str(tmp_path / "ckpt2"), query_name="sess_out", output_mode="complete")
    got = {
        (r["user_id"], r["n_events"]): r["value_sum"]
        for r in spark.sql("select * from sess_out").collect()
    }
    assert got == {(1, 2): 3.0, (1, 1): 3.0, (2, 1): 4.0}


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """K4 layout: filtering on the partition key must prune at the source
    (PartitionFilters), not post-scan."""
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(100)], "rid int, business_id int, v double"
    )
    path = str(tmp_path / "by_business")
    sinks.write_partitioned(df, path, ["business_id"])

    read = spark.read.parquet(path).filter(F.col("business_id") == 2)
    assert read.count() == 25
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(business_id" in plan or \
           "PartitionFilters: [(business_id" in plan, plan
    # the data filter did NOT survive as a post-scan filter on file contents
    assert "PushedFilters: []" in plan, plan


def test_retry_failed_minimal_nulls_non_kept_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, name string, price double"
    )
    sinks.write_merge_target(full, path, ["k"], n_buckets=4)
    failed = spark.createDataFrame([(2, "b2", 9.9), (3, "c", 3.0)],
                                   "k int, name string, price double")
    sinks.retry_failed_minimal(spark, path, failed, ["k"], ["name"])
    got = {r["k"]: (r["name"], r["price"])
           for r in sinks.read_bucketed(spark, path).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", None), 3: ("c", None)}


def test_write_audit_size_guard(spark, tmp_path):
    df = spark.createDataFrame([(1, "x" * 100)], "k int, payload string")
    path, oversized = sinks.write_audit(df, str(tmp_path), "run1")
    assert not oversized
    assert spark.read.json(path).count() == 1
    _, oversized_small = sinks.write_audit(df, str(tmp_path), "run2", warn_mb=0)
    assert oversized_small


def test_frame_sample_and_resize_spec(spark):
    from restaurant_etl_code_spark.multimodal import frame_sample, resize_spec

    decoded = spark.createDataFrame(
        [("a", i, 3840, 2160) for i in range(10)] + [("b", 0, 640, 480)],
        "asset_id string, unit_index int, width int, height int",
    )
    sampled = frame_sample(decoded, stride=3, max_units=7)
    got = sorted((r["asset_id"], r["unit_index"]) for r in sampled.collect())
    assert got == [("a", 0), ("a", 3), ("a", 6), ("b", 0)]

    spec = {r["asset_id"]: (r["target_width"], r["target_height"], r["scale"])
            for r in resize_spec(sampled, max_width=1920, max_height=1080).collect()}
    assert spec["a"] == (1920, 1080, 0.5)
    assert spec["b"] == (640, 480, 1.0)  # never upscale


def test_header_decoder_real_formats(spark):
    """HeaderDecoder parses real container headers with zero codec deps:
    crafted-by-hand PNG/GIF/BMP/JPEG/WAV byte layouts through the full
    Spark decode stage."""
    import struct

    from restaurant_etl_code_spark.multimodal.binary import (
        HeaderDecoder,
        decode_assets,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
        + b"\x00\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 8
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    )
    rows = [
        ("png1", "image", bytearray(png)),
        ("gif1", "image", bytearray(gif)),
        ("bmp1", "image", bytearray(bmp)),
        ("jpg1", "image", bytearray(jpeg)),
        ("wav1", "audio", bytearray(wav)),
        ("bad1", "image", bytearray(b"\x00\x01garbage")),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id string, modality string, content binary"
    )
    out = {
        r["asset_id"]: r
        for r in decode_assets(assets, decoder_factory=HeaderDecoder).collect()
    }
    assert (out["png1"]["width"], out["png1"]["height"]) == (640, 480)
    assert (out["gif1"]["width"], out["gif1"]["height"]) == (320, 200)
    assert (out["bmp1"]["width"], out["bmp1"]["height"]) == (800, 600)  # abs(-600)
    assert (out["jpg1"]["width"], out["jpg1"]["height"]) == (1920, 1080)
    assert out["wav1"]["feature"] == [2.0, 44100.0, 16.0]  # ch, rate, bits
    assert out["bad1"]["decode_error"] and "unrecognized" in out["bad1"]["decode_error"]
    assert all(r["decode_error"] is None for k, r in out.items() if k != "bad1")
