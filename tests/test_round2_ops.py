"""Round-2 operators: PII redaction (functions/redact.py), fixed-k group
sampling (operators/sampling.py), repetition signals (operators/corpus.py),
rolling window stats (operators/temporal.py). Cross-engine value parity is
covered by the driver gate (`pii_scrub`, `group_sample`,
`repetition_signals`, `rolling_stats` in tools/driver_hash_check.py); these
tests pin the semantics on hand fixtures."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from restaurant_etl_code_spark.functions import redact
from restaurant_etl_code_spark.operators import corpus, sampling, temporal
from tests.conftest import SF0001


def test_scrub_pii_replaces_all_types(spark):
    df = spark.createDataFrame(
        [("reach me at bob.smith+x@mail.example.org or +44-201-555-0199 "
          "ssn 123-45-6789 thanks",)],
        ["text"],
    )
    out = df.select(redact.scrub_pii(F.col("text")).alias("t")).first()["t"]
    assert "<EMAIL>" in out and "<PHONE>" in out and "<SSN>" in out
    assert "@" not in out and "123-45-6789" not in out


def test_pii_counts_precedence_ssn_not_phone(spark):
    # An SSN span must be claimed by the SSN pattern only; the email's
    # digits must not leak into phone/ssn counts.
    df = spark.createDataFrame(
        [("a@b.co 111-22-3333 +1-555-010-0042", 1, 1, 1),
         ("no pii here", 0, 0, 0),
         ("two mails x@y.io z@w.ai", 2, 0, 0)],
        ["text", "e", "s", "p"],
    )
    counts = redact.pii_counts(F.col("text"))
    rows = df.select(
        "e", "s", "p",
        counts["n_emails"].alias("ne"),
        counts["n_ssns"].alias("ns"),
        counts["n_phones"].alias("np"),
    ).collect()
    for r in rows:
        assert (r["ne"], r["ns"], r["np"]) == (r["e"], r["s"], r["p"])


def test_sample_k_per_group_bounds_and_determinism(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    a = sampling.sample_k_per_group(docs, ["lang"], "doc_id", k=5, seed=3)
    per_group = a.groupBy("lang").count().collect()
    assert all(r["count"] <= 5 for r in per_group)
    # identical membership regardless of physical partitioning
    b = sampling.sample_k_per_group(
        docs.repartition(13), ["lang"], "doc_id", k=5, seed=3
    )
    sym_diff = (
        a.select("doc_id").exceptAll(b.select("doc_id")).count()
        + b.select("doc_id").exceptAll(a.select("doc_id")).count()
    )
    assert sym_diff == 0


def test_sample_k_per_group_plan_uses_window_group_limit(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    plan = sampling.sample_k_per_group(docs, ["lang"], "doc_id", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # rank filter pushed below the shuffle


def test_repetition_signals_hand_fixture(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam ham"), (2, "all words differ here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in corpus.repetition_signals(df).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct"] == 2
    assert rows[1]["top_token_cnt"] == 3 and rows[1]["top_token_frac"] == 0.75
    assert rows[2]["n_tokens"] == 4 and rows[2]["distinct_ratio"] == 1.0


def test_rolling_stats_frame_semantics(spark):
    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (1, t0 + datetime.timedelta(minutes=i), float(i + 1)) for i in range(5)
    ] + [(2, t0, 100.0)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = temporal.rolling_stats(df, preceding=2)
    got = {
        (r["user_id"], r["value"]): r
        for r in out.collect()
    }
    # user 1, third event: window = values (1,2,3)
    r = got[(1, 3.0)]
    assert r["win_n"] == 3 and r["moving_sum"] == 6.0 and r["moving_max"] == 3.0
    assert abs(r["moving_avg"] - 2.0) < 1e-12
    # user 1, fifth event: window = (3,4,5) — older rows aged out
    r = got[(1, 5.0)]
    assert r["win_n"] == 3 and r["moving_sum"] == 12.0
    # key isolation: user 2 sees only itself
    r = got[(2, 100.0)]
    assert r["win_n"] == 1 and r["moving_sum"] == 100.0
