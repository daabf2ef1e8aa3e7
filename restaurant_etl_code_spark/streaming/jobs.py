"""Structured Streaming surface (SURVEY.md §2.8).

The reference's streaming-ish mechanics are job-level: blob-upload triggers
(T1), cron schedules (T2), concurrency-capped fan-out with idempotent
run keys (T3). Spark-first:

- T1 → a file-arrival ``readStream`` on a landing directory +
  ``Trigger.AvailableNow`` (process everything that has arrived, then stop —
  the exact semantics of "run the job when a blob lands").
- T2 → external cron invoking the same AvailableNow query.
- T3 → checkpointing gives idempotency (run_key ≡ checkpoint offsets);
  admission control is ``maxFilesPerTrigger``.
- Event-time analytics the reference lacks (§2.9) are first-class here:
  watermarked tumbling windows and session windows — the streaming twins of
  the batch operators in operators/temporal.py (same logical queries).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def file_arrival_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1: landing-directory arrival source. Explicit schema (streams cannot
    infer); ``maxFilesPerTrigger`` is the T3 admission cap."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def _watermarkable(events: DataFrame, ts_col: str) -> tuple[DataFrame, bool]:
    """Watermarks require TIMESTAMP event time, but zone-less parquet reads
    as TIMESTAMP_NTZ in Spark 4. Cast NTZ → TIMESTAMP (legal, interpreted in
    the session zone) and report whether we did, so callers can cast window
    bounds back and keep the output schema identical to the batch twins."""
    was_ntz = isinstance(events.schema[ts_col].dataType, T.TimestampNTZType)
    if was_ntz:
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events, was_ntz


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    ``operators.temporal.tumbling_window_agg`` (same logical query; the
    watermark bounds state for late data)."""
    events, was_ntz = _watermarkable(events, ts_col)
    start = F.col("w.start")
    if was_ntz:
        start = start.cast("timestamp_ntz")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(start.alias("window_start"), key_col, "n", "value_sum")
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the stateful twin of
    the batch lag+cumsum sessionizer."""
    events, was_ntz = _watermarkable(events, ts_col)
    start, end = F.col("w.start"), F.col("w.end")
    if was_ntz:
        start = start.cast("timestamp_ntz")
        end = end.cast("timestamp_ntz")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            start.alias("session_start"),
            end.alias("session_end"),
            user_col,
            "n_events",
            "value_sum",
        )
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    join_key_stream: str,
    join_key_dim: str,
    group_col: str,
) -> DataFrame:
    """Stream-static enrichment join + running aggregate — the streaming
    form of the reference's per-row business lookup (SURVEY S10): each
    micro-batch joins against the (broadcastable) static dimension, then
    feeds a stateful groupBy. The static side is re-resolved per batch, so
    a slowly-changing dim picks up updates without restarting the query.
    """
    joined = events.join(
        F.broadcast(dim),
        events[join_key_stream] == dim[join_key_dim],
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col(group_col), F.lit("unknown")).alias(group_col)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
    )


def run_available_now(
    streamed: DataFrame,
    checkpoint_dir: str,
    query_name: str = "out",
    output_mode: str = "append",
) -> StreamingQuery:
    """Run a streaming query to completion over everything currently in the
    source (Trigger.AvailableNow), results in the in-memory table
    ``query_name``. Checkpoint = T3 idempotency: re-running after new file
    arrivals processes only the delta."""
    q = (
        streamed.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_upsert(
    streamed: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Exactly-once-ish streaming MERGE sink: each micro-batch upserts into a
    bucketed parquet target via the K8/K9 merge emulation (sources/sinks.py;
    read it back with ``read_bucketed``). With a transactional table format
    this is ``foreachBatch`` + ``MERGE INTO``."""
    from restaurant_etl_code_spark.sources.sinks import merge_into_bucketed_parquet

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_into_bucketed_parquet(batch_df.sparkSession, target_path, batch_df, keys)

    q = (
        streamed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_cdc_apply(
    streamed_ops: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    checkpoint_dir: str,
    op_col: str = "op",
    delete_value: str = "D",
) -> StreamingQuery:
    """Streaming CDC apply: each micro-batch of I/U/D ops merges into the
    bucketed parquet target delete-aware (``cdc_merge_into_bucketed_parquet``).
    As long as a key's ops arrive in order across micro-batches (the
    CDC-feed contract), the target converges to exactly ``cdc_apply`` over
    the full log — the invariant tests/test_round4_ops.py proves
    end-to-end. Checkpointing makes replays idempotent at the batch level."""
    from restaurant_etl_code_spark.sources.sinks import (
        cdc_merge_into_bucketed_parquet,
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        cdc_merge_into_bucketed_parquet(
            batch_df.sparkSession, target_path, batch_df, keys, order_by,
            op_col=op_col, delete_value=delete_value,
        )

    q = (
        streamed_ops.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with every
    right event of the same key whose timestamp falls in
    ``[left_ts, left_ts + within)``. ``join_type="leftOuter"`` emits
    NULL-extended left rows once the watermark proves no match can still
    arrive (left row evictable ⇔ watermark > left_ts + within) — rows
    younger than that at stream end stay buffered and are NOT emitted,
    which any batch reconciliation must model.

    Both sides carry watermarks and the join condition time-bounds right
    against left, so Spark can expire buffered state once the watermark
    passes ``left_ts + within`` — without the bound, stream-stream join
    state grows forever. Columns are prefixed (the two sides share a
    schema); the equi-key survives un-prefixed. State shards by the join
    key across executors like any shuffle.
    """
    l = left.select(
        F.col(key), *[F.col(c).alias(f"{left_prefix}{c}") for c in left.columns if c != key]
    )
    r = right.select(
        F.col(key).alias("__rkey"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns if c != key],
    )
    lts, rts = f"{left_prefix}{left_ts}", f"{right_prefix}{right_ts}"
    l, l_ntz = _watermarkable(l, lts)
    r, r_ntz = _watermarkable(r, rts)
    l = l.withWatermark(lts, watermark)
    r = r.withWatermark(rts, watermark)
    cond = (
        (F.col(key) == F.col("__rkey"))
        & (F.col(rts) >= F.col(lts))
        & (F.col(rts) < F.col(lts) + F.expr(f"INTERVAL {within}"))
    )
    joined = l.join(r, cond, join_type).drop("__rkey")
    # Mirror windowed_event_counts/session_window_agg: cast the event-time
    # columns back to NTZ when the sources were zone-less, so the joined
    # schema matches the batch twin regardless of session timezone.
    if l_ntz:
        joined = joined.withColumn(lts, F.col(lts).cast("timestamp_ntz"))
    if r_ntz:
        joined = joined.withColumn(rts, F.col(rts).cast("timestamp_ntz"))
    return joined


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Built-in streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only until
    the watermark passes it, so state size tracks the watermark horizon
    instead of the stream's full key history — the correct primitive for
    "suppress redelivered events" at 100 TB/day (exactly-once-ish sinks).
    The applyInPandasWithState twin in stateful.py keeps state forever
    (first-seen semantics); this one trades that for boundedness.
    """
    events, _ = _watermarkable(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def foreach_batch_state_maintenance(
    streamed: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming continuous-aggregate maintenance: each micro-batch reduces
    to mergeable partial states (operators/incremental.py) and merges with
    the materialized state table — the stream never re-scans history, and
    after any prefix of batches ``finalize_aggs(state)`` equals the direct
    aggregate over every row seen so far (the state-algebra invariant,
    proven end-to-end in tests/test_round4_ops.py).

    Exactly-once despite a NON-idempotent merge: state is versioned by
    epoch (``state_path/epoch=N``), and epoch N is always computed from
    epoch N-1 — so a replayed batch (crash between state write and
    checkpoint commit) REcomputes its epoch from the same predecessor
    instead of double-merging its delta. Readers take the latest epoch
    (``read_latest_state``); superseded epochs are pruned, keeping
    ``keep_epochs`` for replay.

    100 TB shape: per batch, one counter-sized shuffle over the DELTA plus
    a state-sized merge (|keys| rows) — cost tracks the batch, not the
    history."""
    from restaurant_etl_code_spark.operators import incremental

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        states = [incremental.partial_aggs(batch_df, keys, value_col,
                                           distinct_col)]
        prev = _latest_epoch(state_path, below=epoch_id)
        if prev is not None:
            states.append(
                spark.read.parquet(f"{state_path}/epoch={prev}"))
        merged = incremental.merge_partial_aggs(*states)
        merged.write.mode("overwrite").parquet(
            f"{state_path}/epoch={epoch_id}")
        _prune_epochs(state_path, keep=2)

    q = (
        streamed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _epochs(state_path: str) -> list[int]:
    import os as _os

    if not _os.path.isdir(state_path):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in _os.listdir(state_path)
        if d.startswith("epoch=")
    )


def _latest_epoch(state_path: str, below: int | None = None) -> int | None:
    eps = _epochs(state_path)
    if below is not None:
        eps = [e for e in eps if e < below]
    return eps[-1] if eps else None


def _prune_epochs(state_path: str, keep: int) -> None:
    import shutil as _shutil

    for e in _epochs(state_path)[:-keep]:
        _shutil.rmtree(f"{state_path}/epoch={e}", ignore_errors=True)


def read_latest_state(spark, state_path: str) -> DataFrame:
    """Current materialized aggregate state (latest epoch)."""
    latest = _latest_epoch(state_path)
    if latest is None:
        raise FileNotFoundError(f"no state epochs under {state_path}")
    return spark.read.parquet(f"{state_path}/epoch={latest}")


def curate_stream_to_merge_target(
    streamed_docs: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
    n_buckets: int = 16,
) -> StreamingQuery:
    """The production corpus-ingest loop, end to end: a document STREAM is
    quality-gated (token-count floor — the cheap always-on gate; richer
    scores compose the same way), content-fingerprinted (md5 of the
    normalized text, the ``exact_dedup`` key), deduplicated, and upserted
    by fingerprint into a partition-pruned BUCKETED merge target — so
    ingest cost per micro-batch tracks the batch, not the corpus, and a
    mid-swap crash heals on the next batch (``recover_merge_target`` runs
    inside every bucketed merge).

    Dedup semantics: within each micro-batch, one row per fingerprint
    (min id + dup count); across batches the upsert is last-writer-per-
    key — a re-ingested duplicate REPLACES its fingerprint row, exactly
    the reference's upsert-by-id contract (K1/K9). With an
    ``availableNow`` single-batch source this equals the global batch
    dedup (the oracle-checked configuration).

    Scale shape per batch: gate + fingerprint are row-local on the
    stream; the dedup is one counter agg keyed by fingerprint; the merge
    reads only the buckets the batch touches.
    """
    from restaurant_etl_code_spark.functions import text as Ftext
    from restaurant_etl_code_spark.sources.sinks import (
        merge_into_bucketed_parquet,
    )

    toks = F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "")
    gated = streamed_docs.filter(F.size(toks) >= int(min_tokens)).select(
        F.col(id_col), Ftext.fingerprint(F.col(text_col)).alias("fingerprint")
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        upserts = batch_df.groupBy("fingerprint").agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        merge_into_bucketed_parquet(
            batch_df.sparkSession, target_path, upserts, ["fingerprint"],
            n_buckets=n_buckets,
        )

    q = (
        gated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def curate_stream_near_dup(
    streamed_docs: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 30,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    n_buckets: int = 16,
) -> StreamingQuery:
    """The NEAR-DUP upgrade of ``curate_stream_to_merge_target``: each
    micro-batch is token-count gated, MinHash-signed, and LSH-gated
    against the accumulated corpus index AND itself, then the survivors
    and their signatures upsert into the crash-safe bucketed MERGE
    target. The index the gate probes is an append-only BANDED
    side-table (``<target>_bands``: one (band_idx, band_hash, id) row
    per survivor band, hash-partitioned by band_hash into ``n_buckets``
    directories), so the probe reads ONLY the band-hash buckets the
    batch actually collides with — per-batch cost is
    |batch| + matched-bucket bytes, never a full index re-read/re-band
    (at production bucket counts a small batch touches a bounded
    fraction of the index; the banding recipe is byte-identical to
    ``dedup.lsh_candidate_pairs``'s ``_banded_rows``).

    Drop rule (deterministic, relational, ONE-SHOT): a batch document
    leaves if it band-collides with ANY indexed document, or with a
    SMALLER-id document of its own batch — whether or not that
    batch-mate itself survives. This is deliberately NOT greedy
    keep-min-id WITHIN a batch (greedy would re-admit a doc whose only
    smaller collider was itself rejected; expressing that relationally
    needs a fixed-point iteration and a recursive oracle): the one-shot
    rule is a single self-join, and its error is one-sided — it can
    only OVER-drop, never admit a near-duplicate. Consequence, stated
    plainly (r8 advisory): admission is batch-boundary dependent — a
    doc colliding only with a rejected mate IS admitted when the mate
    arrived in an earlier batch (rejected docs never enter the index)
    but dropped when they share a batch. An ``availableNow`` run over k
    ordered files therefore equals exactly k unrolled layers of
    relational algebra (the oracle's shape).

    Crash semantics: the band append runs BEFORE the main merge, and on
    replay the probe ANTI-JOINS this batch's ids out of the index — a
    crashed attempt's half-appended band rows are therefore invisible to
    the deterministic recomputation (they would otherwise make batch
    documents collide with their own ghosts and, worse, drop BOTH
    members of an in-batch near-dup pair). A double-append after replay
    only duplicates band rows, which costs pair-dedup work, never
    correctness (candidates are DISTINCT; the main merge upsert is
    idempotent by key).

    Ids must be globally unique across the stream; ``min_tokens`` must
    be >= ``shingle_n`` (an unshinglable document cannot be signed).
    """
    if min_tokens < shingle_n:
        raise ValueError(
            f"min_tokens={min_tokens} < shingle_n={shingle_n}: gated "
            "documents must be wide enough to sign"
        )
    from restaurant_etl_code_spark.functions import text as Ftext
    from restaurant_etl_code_spark.operators import dedup as D
    from restaurant_etl_code_spark.sources.sinks import (
        _bucket_expr,
        merge_into_bucketed_parquet,
    )

    bands_path = target_path + "_bands"
    # the band index's bucket layout is load-bearing for PRUNING
    # correctness: probing an existing table with a different bucket
    # count would silently read the wrong directories and admit
    # duplicates. Pin the geometry in a spec file on first write and
    # fail loud on mismatch ever after (the merge sink's bucket-spec
    # discipline).
    spec_path = os.path.join(bands_path, "_bands_spec.json")
    if os.path.isfile(spec_path):
        import json as _json

        with open(spec_path) as fh:
            spec = _json.load(fh)
        want = {
            "n_buckets": n_buckets, "bands": bands,
            "rows_per_band": rows_per_band, "num_hashes": num_hashes,
            "shingle_n": shingle_n,
        }
        if spec != want:
            raise ValueError(
                f"band-index geometry mismatch at {bands_path}: stored "
                f"{spec}, requested {want} — pruning/banding would be "
                "silently wrong; rebuild the index or match the stored "
                "parameters"
            )
    toks = F.filter(Ftext.tokens(F.col(text_col)), lambda t: t != "")
    gated = streamed_docs.filter(F.size(toks) >= int(min_tokens)).select(
        F.col(id_col), F.col(text_col)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        sc = spark.sparkContext
        sc.setJobDescription(f"neardup batch {epoch_id}: sign+band")
        # NOT widened (r18, measured): repartitioning the one-scan-
        # partition batch before signing added an exchange + 32-task
        # stages whose scheduling cost exceeded the serialized signing
        # it parallelized (warm wall 5.9 -> 7.3 s) — the per-batch plans
        # here are small enough that job/stage COUNT, not per-stage
        # parallelism, is the wall.
        sigs_d = D.minhash_signatures(
            batch_df, id_col, text_col, num_hashes=num_hashes, shingle_n=shingle_n
        ).persist()
        banded_d = (
            D._banded_rows(sigs_d, id_col, bands, rows_per_band)
            .repartition("band_idx", "band_hash")
            .persist()
        )
        delta_ids = sigs_d.select(id_col)
        sc.setJobDescription(f"neardup batch {epoch_id}: hit buckets")
        if os.path.isdir(bands_path):
            hit = {
                r["__b"]
                for r in banded_d.select(
                    _bucket_expr(["band_hash"], n_buckets).alias("__b")
                )
                .distinct()
                .collect()
            }
            dirs = [
                os.path.join(bands_path, f"__bucket={b}")
                for b in sorted(hit)
                if os.path.isdir(os.path.join(bands_path, f"__bucket={b}"))
            ]
        else:
            dirs = []
        # ONE band-collision join instead of two (r18): the index rows and
        # the batch's own banded rows union into a single probe side
        # tagged __idx, and the drop rule becomes one filter — d leaves
        # if it collides with ANY index row, or with a SMALLER-id
        # batch-mate (o.id < d.id drops d, exactly within_drop's
        # a.id < b.id dropping b). No .distinct(): dropped feeds a
        # LEFT ANTI join, which ignores right-side duplicates — the
        # former distinct was a pure extra exchange per micro-batch.
        batch_bands = banded_d.select(
            "band_idx", "band_hash", F.col(id_col).alias("__oid"),
            F.lit(False).alias("__idx"),
        )
        if dirs:
            index_bands = spark.read.parquet(*dirs).join(
                delta_ids, id_col, "left_anti"  # crash-replay ghost guard
            )
            others = index_bands.select(
                "band_idx", "band_hash", F.col(id_col).alias("__oid"),
                F.lit(True).alias("__idx"),
            ).unionByName(batch_bands)
        else:
            others = batch_bands  # first batch: nothing indexed yet
        dropped = (
            banded_d.alias("d")
            .join(others, ["band_idx", "band_hash"])
            .filter(F.col("__idx") | (F.col("__oid") < F.col(f"d.{id_col}")))
            .select(F.col(f"d.{id_col}").alias(id_col))
        )
        survivors = sigs_d.join(dropped, id_col, "left_anti").persist()
        # survivor band rows by RE-BANDING the survivor signatures — a
        # row-local projection (the banding recipe is a deterministic
        # function of the signature), replacing the former banded_d
        # semi-join and its exchange (r18)
        surv_bands = D._banded_rows(
            survivors, id_col, bands, rows_per_band
        ).withColumn("__bucket", _bucket_expr(["band_hash"], n_buckets))
        # append bands BEFORE the merge (see crash semantics above);
        # the geometry spec lands first so every later run is checked
        if not os.path.isfile(spec_path):
            import json as _json

            os.makedirs(bands_path, exist_ok=True)
            with open(spec_path, "w") as fh:
                _json.dump(
                    {
                        "n_buckets": n_buckets, "bands": bands,
                        "rows_per_band": rows_per_band,
                        "num_hashes": num_hashes, "shingle_n": shingle_n,
                    },
                    fh,
                )
        sc.setJobDescription(f"neardup batch {epoch_id}: band append")
        surv_bands.select(
            id_col, "band_idx", "band_hash", "__bucket"
        ).write.mode("append").partitionBy("__bucket").parquet(bands_path)
        sc.setJobDescription(f"neardup batch {epoch_id}: merge")
        merge_into_bucketed_parquet(
            spark, target_path, survivors, [id_col], n_buckets=n_buckets
        )
        sc.setJobDescription(None)
        survivors.unpersist()
        banded_d.unpersist()
        sigs_d.unpersist()

    q = (
        gated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
