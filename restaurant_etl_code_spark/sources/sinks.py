"""Sinks (SURVEY.md §2.2): MERGE-emulating upsert, error sink, status capture.

The reference's sinks are REST/ES calls with upsert-by-id semantics (bulk
index overwrites by ``_id``, K1; incremental update by key, K9; batch create
with per-row ``continueOnError`` capture, K8). Without a Delta/Iceberg jar,
MERGE is emulated on plain parquet in ONE format: a hash-bucketed target
(``write_merge_target``) whose merges rewrite only the buckets a delta
touches and swap them in under a lock with a crash-replayable manifest.
``merge_into_bucketed_parquet`` (upsert) and
``cdc_merge_into_bucketed_parquet`` (upsert + delete) are two entry points
to that one merge; both keep MERGE's *semantics* (matched rows updated,
unmatched inserted, CDC deletes removed), so swapping in Delta later
changes the body, not the callers.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ingest_table",
    "merge_upsert",
    "write_merge_target",
    "read_bucketed",
    "rebucket",
    "recover_merge_target",
    "merge_into_bucketed_parquet",
    "cdc_merge_into_bucketed_parquet",
    "write_failed_rows",
    "classify_write_status",
    "write_partitioned",
    "retry_failed_minimal",
    "write_audit",
    "compact_parquet",
]

# ---------------------------------------------------------------------------
# The merge-target layout. A whole-table parquet MERGE would rewrite the
# whole target; at 100 TB a 1-row upsert would rewrite 100 TB. The layout
# mirrors what Delta/Iceberg do with file-level pruning, built from hive
# partitioning: the target is  <path>/__bucket=K/...  with
# K = pmod(xxhash64(keys), n_buckets), and a merge (a) computes the DISTINCT
# bucket set of the delta (≤ n_buckets scalars — counter-sized collect),
# (b) reads only those partitions (PartitionFilters prune the rest at
# file-listing time), (c) rewrites and atomically swaps only those bucket
# directories. Merge cost scales with |delta| + |touched buckets|, not
# |target|. xxhash64 is seed-fixed, so the key→bucket map is stable across
# sessions and writers. ``_bucket_expr`` is the one place the formula lives;
# other hash-bucketed side tables (the streaming near-dup band index) use it.
# ---------------------------------------------------------------------------

_BUCKET_COL = "__bucket"
_BUCKET_SPEC = "_bucket_spec.json"  # "_"-prefixed → invisible to Spark reads
_COMMIT_MANIFEST = "_commit.json"  # swap-in-progress marker (also invisible)
_MERGE_LOCK = "_merge.lock"


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


_AUTO_BUCKET_TARGET_BYTES = 1 << 30  # ~1 GB of input per bucket
_AUTO_BUCKET_MIN, _AUTO_BUCKET_MAX = 8, 1 << 16


def _auto_n_buckets(df: DataFrame, target_bytes: int = _AUTO_BUCKET_TARGET_BYTES) -> int:
    """Size the bucket count from the initial input, ~1 GB per bucket —
    the merge-target analog of similarity's ``nbits="auto"``: a FIXED
    bucket count has the same failure mode as fixed nbits (64 buckets at
    100 TB = 1.5 TB per touched bucket; 65536 buckets at 1 GB = one row
    per bucket and a file-per-row table). Catalyst's optimized-plan size
    estimate is used when available (exact for file scans and local
    relations); the fallback charges a conservative 256 bytes/row from a
    count. Result is rounded UP to a power of two (stable halving/doubling
    for ``rebucket``) and clamped to [8, 65536]."""
    size = None
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size <= 0 or size >= (1 << 62):  # Catalyst's "unknown" sentinel
            size = None
    except Exception:
        size = None
    if size is None:
        size = df.count() * 256
    n = max(1, -(-size // target_bytes))
    n = 1 << (int(n) - 1).bit_length()
    return max(_AUTO_BUCKET_MIN, min(_AUTO_BUCKET_MAX, n))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except PermissionError:
        return True  # live process owned by someone else
    except OSError:  # ProcessLookupError and friends: dead
        return False


def _acquire_merge_lock(target_path: str) -> str:
    """O_EXCL lock file scoped to the whole read-merge-swap sequence: two
    concurrent merges interleaving their swaps would corrupt the target
    (round-5 advisory). A lock left by a DEAD local process is reclaimed
    (pid liveness probe); a live holder raises. Multi-writer coordination
    across hosts is the Delta/Iceberg swap-in point, same as the commit
    log — this guards the local single-node case the emulation supports."""
    lock = os.path.join(target_path, _MERGE_LOCK)
    payload = json.dumps({"pid": os.getpid(), "id": uuid.uuid4().hex}).encode()
    for _ in range(3):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, payload)
            os.close(fd)
            return lock
        except FileExistsError:
            try:
                with open(lock) as fh:
                    pid = int(json.load(fh).get("pid", -1))
            except Exception:
                pid = -1
            # an own-pid lock is just as live: concurrent merges from two
            # threads of one driver (foreachBatch sinks) must also block
            if pid > 0 and _pid_alive(pid):
                raise ValueError(
                    f"concurrent merge in progress on {target_path} "
                    f"(lock held by live pid {pid}); retry after it finishes"
                )
            try:  # stale lock from a dead process: reclaim and retry
                os.remove(lock)
            except FileNotFoundError:
                pass
    raise ValueError(f"could not acquire merge lock on {target_path}")


def _load_bucket_spec(target_path: str) -> dict | None:
    p = os.path.join(target_path, _BUCKET_SPEC)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def _bucket_dirs(target_path: str) -> list[str]:
    if not os.path.isdir(target_path):
        return []
    return [
        d for d in os.listdir(target_path) if d.startswith(f"{_BUCKET_COL}=")
    ]


def _empty_with_spec_schema(spark: SparkSession, spec: dict) -> DataFrame:
    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType.fromJson(json.loads(spec["schema"])))


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Relational MERGE: rows from ``updates`` replace matching ``target``
    rows (by ``keys``); unmatched update rows are inserted (K7/K8/K9
    upsert-by-id semantics). Column sets must match.

    Plan shape: one left_anti (target rows that survive) + union — a single
    shuffle on the key; with Delta available this becomes ``MERGE INTO``.
    """
    surviving = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
    return surviving.unionByName(updates.select(*target.columns))


def write_merge_target(
    df: DataFrame, path: str, keys: list[str], n_buckets: int | str = "auto"
) -> None:
    """Write ``df`` as a bucketed MERGE target: hive-partitioned by
    ``__bucket = pmod(xxhash64(keys), n_buckets)`` with a ``_bucket_spec.json``
    marker recording the layout. One shuffle on the bucket id → one file per
    bucket directory. ``n_buckets="auto"`` (default) sizes from the input —
    ~1 GB per bucket, power of two, clamped to [8, 65536] (see
    ``_auto_n_buckets``); pass an int to pin it. A target that outgrows its
    layout is resized with ``rebucket``."""
    if n_buckets == "auto":
        n_buckets = _auto_n_buckets(df)
    (
        df.withColumn(_BUCKET_COL, _bucket_expr(keys, n_buckets))
        .repartition(n_buckets, F.col(_BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(path)
    )
    with open(os.path.join(path, _BUCKET_SPEC), "w") as fh:
        json.dump(
            {"keys": keys, "n_buckets": n_buckets, "schema": df.schema.json()},
            fh,
        )


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucketed target back as a user-facing relation (layout column
    dropped). A fully-emptied target (every row CDC-deleted) reads as an
    empty relation with the schema recorded in the bucket spec."""
    if not _bucket_dirs(path):
        spec = _load_bucket_spec(path)
        if spec is not None:
            return _empty_with_spec_schema(spark, spec)
    return spark.read.parquet(path).drop(_BUCKET_COL)


def rebucket(
    spark: SparkSession, path: str, n_buckets: int | str = "auto"
) -> int:
    """Resize a bucketed MERGE target in place — the growth path for a
    table whose data outgrew its creation-time bucket count (merge cost is
    per-bucket, so buckets must track table size to stay ~1 GB). Reads the
    whole table ONCE, rewrites it under the new layout into a sibling tmp
    dir, then swaps the entire table with two renames (old → trash,
    tmp → live). Runs under the merge lock; returns the new bucket count.
    O(|table|) by design — rebucketing IS a full rewrite, done rarely,
    exactly like OPTIMIZE/rewrite in a real table format."""
    spec = _load_bucket_spec(path)
    if spec is None:
        raise ValueError(f"{path} is not a bucketed target (no {_BUCKET_SPEC})")
    lock = _acquire_merge_lock(path)
    trash = f"{path}.__trash_{uuid.uuid4().hex[:8]}"
    try:
        recover_merge_target(path)
        df = read_bucketed(spark, path)
        if n_buckets == "auto":
            n_buckets = _auto_n_buckets(df)
        tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
        write_merge_target(df, tmp, spec["keys"], n_buckets)
        os.rename(path, trash)
        os.rename(tmp, path)
        shutil.rmtree(trash, ignore_errors=True)
        return int(n_buckets)
    finally:
        # the lock rides the old dir: still at <path> on an early failure,
        # in the trash when the swap stopped between its two renames (the
        # next merge restores that table), gone with the trash after a
        # successful swap — remove it wherever it is
        for held in (lock, os.path.join(trash, _MERGE_LOCK)):
            try:
                os.remove(held)
            except FileNotFoundError:
                pass


def _replay_swap(
    target_path: str, tmp: str, trash: str, touched: list[int],
    empty: set[int] | frozenset[int] = frozenset(),
) -> None:
    """The idempotent per-bucket swap body: resumable from ANY crash point
    because every step is an atomic rename and the bucket's state is fully
    determined by which of (tmp/b, target/b, trash/b) exist plus the
    manifest's explicitly-empty set —

    - tmp/b present: not yet swapped in → trash target/b if present, move
      tmp/b in;
    - tmp/b absent, b in ``empty``: the merged output for this bucket is
      EMPTY (all rows deleted) → trash target/b if still present;
    - tmp/b absent, b not in ``empty``: this bucket already swapped in a
      previous pass → no-op.

    ``empty`` MUST come from the manifest (recorded before the first
    rename): inferring emptiness from tmp/b's absence is wrong, because a
    bucket that did not previously exist in the target reaches the exact
    same on-disk state (tmp/b gone, target/b present, trash/b absent) after
    a COMPLETED swap — a replay would then trash freshly committed data
    (found in review).
    """
    os.makedirs(trash, exist_ok=True)
    for b in touched:
        src = os.path.join(tmp, f"{_BUCKET_COL}={b}")
        dst = os.path.join(target_path, f"{_BUCKET_COL}={b}")
        tb = os.path.join(trash, f"{_BUCKET_COL}={b}")
        if os.path.exists(src):
            if os.path.exists(dst):
                os.rename(dst, tb)
            os.rename(src, dst)
        elif b in empty and os.path.exists(dst) and not os.path.exists(tb):
            os.rename(dst, tb)


def _swap_buckets(target_path: str, tmp: str, touched: list[int]) -> None:
    """Swap the touched bucket dirs from ``tmp`` into the target. Each
    bucket flips with one rename (atomic per directory), and replaced dirs
    move to a trash dir OUTSIDE the table before deletion — a crash mid-
    sequence can never leave a ``__bucket=K.__old`` dir INSIDE the table,
    which Spark partition discovery would read as a phantom string-typed
    partition value and corrupt every subsequent read (found in review).

    The multi-bucket sequence is CRASH-SAFE: a ``_commit.json`` manifest
    (tmp dir, trash dir, touched buckets) is written before the first
    rename and removed after the last — a kill anywhere in between leaves
    the manifest behind, and ``recover_merge_target`` (run automatically
    at the next merge, or manually) replays the idempotent swap to roll
    the commit FORWARD (tmp is complete and valid by construction once the
    manifest exists, so forward is always the correct direction). A bucket
    whose merged output is empty (all rows deleted) has its directory
    removed. Untouched bucket directories are never listed, read, or
    rewritten — their files stay byte-identical. True multi-writer
    transactionality remains the Delta/Iceberg swap-in point."""
    trash = f"{target_path}.__trash_{uuid.uuid4().hex[:8]}"
    manifest = os.path.join(target_path, _COMMIT_MANIFEST)
    # record which touched buckets have NO output in tmp (all rows deleted)
    # BEFORE the first rename — replay must not infer emptiness from tmp/b's
    # absence (see _replay_swap)
    empty = [
        b for b in touched
        if not os.path.exists(os.path.join(tmp, f"{_BUCKET_COL}={b}"))
    ]
    with open(manifest, "w") as fh:
        json.dump(
            {"tmp": tmp, "trash": trash, "touched": touched, "empty": empty}, fh
        )
    _replay_swap(target_path, tmp, trash, touched, frozenset(empty))
    os.remove(manifest)
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def _sweep_orphans(target_path: str, keep: set[str] = frozenset()) -> None:
    """Remove stale ``.__tmp_*`` / ``.__trash_*`` sibling dirs left by
    crashes BEFORE a manifest was written (post-manifest leftovers are
    owned by the manifest and cleaned by recovery instead)."""
    parent = os.path.dirname(os.path.abspath(target_path)) or "."
    base = os.path.basename(os.path.abspath(target_path))
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        full = os.path.join(parent, d)
        if (
            (d.startswith(f"{base}.__tmp_") or d.startswith(f"{base}.__trash_"))
            and full not in keep
        ):
            shutil.rmtree(full, ignore_errors=True)


def recover_merge_target(target_path: str) -> bool:
    """Recover a bucketed MERGE target after a crash: if a ``_commit.json``
    manifest is present, replay the interrupted swap forward (idempotent —
    see ``_replay_swap``) and clean its tmp/trash dirs; then sweep any
    orphaned pre-manifest scratch dirs. Returns True if an interrupted
    commit was found and completed. Runs automatically at the start of
    every merge, so a crashed merge heals on the next merge (or on an
    explicit call)."""
    manifest = os.path.join(target_path, _COMMIT_MANIFEST)
    # refuse to recover (or sweep) under a LIVE merge — its tmp dir is in
    # active use; dead-process locks were already reclaimable, so only a
    # genuinely concurrent writer trips this
    lock = os.path.join(target_path, _MERGE_LOCK)
    if os.path.exists(lock):
        try:
            with open(lock) as fh:
                pid = int(json.load(fh).get("pid", -1))
        except Exception:
            pid = -1
        if pid > 0 and pid != os.getpid() and _pid_alive(pid):
            raise ValueError(
                f"merge in progress on {target_path} (live pid {pid}); "
                "recovery would race its scratch dirs — retry after it"
            )
    acted = False
    if os.path.exists(manifest):
        with open(manifest) as fh:
            m = json.load(fh)
        # manifests predating the "empty" field default to NEVER deleting a
        # present target bucket — stale-data-kept beats data-lost
        _replay_swap(target_path, m["tmp"], m["trash"], m["touched"],
                     frozenset(m.get("empty", ())))
        os.remove(manifest)
        shutil.rmtree(m["trash"], ignore_errors=True)
        shutil.rmtree(m["tmp"], ignore_errors=True)
        acted = True
    _sweep_orphans(target_path)
    return acted


def _merge_bucketed(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
    n_buckets: int | str,
    is_delete: Column | None = None,
) -> None:
    """The one parquet MERGE body. Rows of ``batch`` where the
    ``is_delete`` predicate holds remove their key from the target; every
    other row upserts (no predicate: a plain upsert). Only the bucket
    directories the batch touches — deletes included — are read, merged
    and swapped in, under the target's merge lock and after healing any
    interrupted previous commit (``recover_merge_target``). A missing
    target is created from the upserts, written beside the path and
    renamed into place so a crash never leaves a half-written target."""

    def upserts(df: DataFrame) -> DataFrame:
        return df if is_delete is None else df.filter(~is_delete)

    if not os.path.exists(target_path):
        # a rebucket killed between its two renames left the whole old
        # table in a trash sibling (the only trash holding a spec): put it
        # back rather than start a new table from this batch
        for old in glob.glob(glob.escape(target_path) + ".__trash_*"):
            if os.path.exists(os.path.join(old, _BUCKET_SPEC)):
                os.rename(old, target_path)
                break
    if not os.path.exists(target_path):
        tmp = f"{target_path}.__tmp_{uuid.uuid4().hex[:8]}"
        write_merge_target(upserts(batch), tmp, keys, n_buckets)
        os.rename(tmp, target_path)
        return
    spec = _load_bucket_spec(target_path)
    if spec is None:
        raise ValueError(
            f"{target_path} is not a bucketed target (no {_BUCKET_SPEC}); "
            "rewrite it with write_merge_target first"
        )
    if spec["keys"] != keys:
        raise ValueError(f"bucket spec keys {spec['keys']} != merge keys {keys}")
    # persist: the batch is evaluated twice (touched-set collect + the
    # merged write); a non-deterministic source re-evaluated could emit
    # rows in buckets outside the collected touched set, which the swap
    # would then silently drop (found in review). Built BEFORE the lock so
    # a failure here can't leave the lock held (found in review).
    batch_b = batch.withColumn(
        _BUCKET_COL, _bucket_expr(keys, spec["n_buckets"])
    ).persist()
    lock = _acquire_merge_lock(target_path)
    try:
        recover_merge_target(target_path)  # heal any interrupted commit
        touched = sorted(
            r[0] for r in batch_b.select(_BUCKET_COL).distinct().collect()
        )  # ≤ n_buckets scalars
        if not touched:
            return
        upserts_b = upserts(batch_b)
        if _bucket_dirs(target_path):
            target_sub = spark.read.parquet(target_path).filter(
                F.col(_BUCKET_COL).isin(touched)  # PartitionFilters prune the rest
            )
            if is_delete is not None:
                deletes = batch_b.filter(is_delete).select(*keys)
                target_sub = target_sub.join(F.broadcast(deletes), keys, "left_anti")
            merged = merge_upsert(target_sub, upserts_b.select(*target_sub.columns), keys)
        else:  # target exists but is empty on disk (all rows previously deleted)
            merged = upserts_b
        tmp = f"{target_path}.__tmp_{uuid.uuid4().hex[:8]}"
        merged.repartition(len(touched), F.col(_BUCKET_COL)).write.mode(
            "overwrite"
        ).partitionBy(_BUCKET_COL).parquet(tmp)
        _swap_buckets(target_path, tmp, touched)
    finally:
        batch_b.unpersist()
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def merge_into_bucketed_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    n_buckets: int | str = "auto",
) -> None:
    """Partition-pruned MERGE (K1/K7/K9 upsert-by-id semantics,
    reference api/api-client.py:270-368, batch_processor.py:167-245):
    ``updates`` rows replace the target rows with the same ``keys`` and
    the rest are inserted. Cost: O(|updates| + |touched buckets|). The
    first call creates the bucketed layout (``n_buckets``, default sized
    from the input); later calls use the layout's recorded bucket count.
    With a transactional table format this is ``MERGE INTO``."""
    _merge_bucketed(spark, target_path, updates, keys, n_buckets)


def cdc_merge_into_bucketed_parquet(
    spark: SparkSession,
    target_path: str,
    ops: DataFrame,
    keys: list[str],
    order_by: list[str],
    op_col: str = "op",
    delete_value: str = "D",
    n_buckets: int | str = "auto",
) -> None:
    """Delete-aware MERGE: apply a CDC op batch (I/U/D) to the target — the
    sink-side twin of ``operators.matching.cdc_apply``. The batch is first
    compacted to each key's LATEST op (a delete followed in the same batch
    by a re-insert must not win); latest deletes then remove their key and
    the other latest ops upsert, in the buckets the batch touches. With a
    transactional table format this is ``MERGE INTO ... WHEN MATCHED AND
    op = 'D' THEN DELETE``."""
    from restaurant_etl_code_spark.operators.matching import latest_op_per_key

    _merge_bucketed(
        spark, target_path, latest_op_per_key(ops, keys, order_by), keys,
        n_buckets, is_delete=F.col(op_col) == delete_value,
    )


def write_failed_rows(
    failures: DataFrame, original: DataFrame, index_col: str, errors_dir: str, run_id: str
) -> str:
    """K5: persist failed rows joined back to their original inputs as JSON
    under a run-stamped path (reference ``_save_failed_products``,
    batch_processor.py:1349-1378)."""
    out_path = os.path.join(errors_dir, f"batch_{run_id}_failed")
    failures.join(original, on=index_col, how="inner").write.mode("overwrite").json(out_path)
    return out_path


def classify_write_status(
    df: DataFrame, error_col: str = "enrich_error", partial_col: str | None = None
) -> DataFrame:
    """K8/A9: derive the per-row success/partialSuccess/failure status column
    from error-capture columns (partialSuccess counts as persisted)."""
    status = F.when(F.col(error_col).isNotNull(), "failure")
    if partial_col:
        status = status.when(F.col(partial_col), "partialSuccess")
    return df.withColumn("status", status.otherwise("success"))


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """K4's per-business layout generalized: hive-style directory
    partitioning on low-cardinality keys (business_account_id, date).
    Readers filtering on a partition column scan only that directory
    (PartitionFilters in the plan — asserted in tests); at 100 TB this is
    the difference between reading one business and reading everything.
    Keep partition-key cardinality ≲ 10^4 — a key-per-row layout would
    drown the driver in file listings."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def retry_failed_minimal(
    spark: SparkSession,
    target_path: str,
    failed: DataFrame,
    keys: list[str],
    keep_cols: list[str],
) -> None:
    """K3 (reference batchprocessor-fully-working…py:1218-1285): after a
    partial bulk failure, retry the failed rows as MINIMAL documents — only
    the key + ``keep_cols`` survive; every other target column is nulled
    (the ES minimal-doc overwrite-by-_id semantics). Second-chance
    durability beats losing the row."""
    target = read_bucketed(spark, target_path)
    minimal = failed.select(*keys, *keep_cols)
    for field in target.schema.fields:
        if field.name not in minimal.columns:
            minimal = minimal.withColumn(
                field.name, F.lit(None).cast(field.dataType)
            )
    merge_into_bucketed_parquet(
        spark, target_path, minimal.select(*target.columns), keys
    )


def write_audit(
    df: DataFrame, audit_dir: str, run_id: str, warn_mb: int = 10
) -> tuple[str, bool]:
    """K6 (reference batchprocessor-fully-working…py:1047-1118): dump the
    full payload for human review, with the reference's 10 MB size warning
    (estimated JVM-side as sum(length(to_json(row))) — no collect).
    Returns (path, oversized)."""
    est_bytes = (
        df.select(F.length(F.to_json(F.struct(*df.columns))).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
        or 0
    )
    path = os.path.join(audit_dir, f"payload_{run_id}.json")
    df.write.mode("overwrite").json(path)
    return path, est_bytes > warn_mb * 1024 * 1024


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` balanced files. Streaming sinks and
    per-batch MERGE writes accrete thousands of KB-scale files; at 100 TB
    the resulting task-per-file scheduling and footer-read overhead
    dominates scans, and the fix is a periodic round-robin rewrite sized
    by BYTES (file counts lie — sizes skew).

    Sizes come from the Hadoop FileSystem API, so any scheme (s3a://,
    hdfs://, file://) works. Returns the output file count. Round-robin
    ``repartition`` balances output sizes regardless of input skew; use
    ``zorder_layout`` (operators/layout.py) instead when the rewrite
    should also cluster.
    """
    import math

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += st.getLen()
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def ingest_table(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    files_per_partition: int = 16,
    mode: str = "overwrite",
):
    """One-call lakehouse ingest: layout + write + stats catalog.

    Composes the repo's layout machinery the way a production ingest job
    would wire it by hand:

    - ``partition_by``: hive-style directory partitioning (coarse pruning
      via PartitionFilters; keep cardinality ≲ 10^4);
    - ``cluster_by``: Z-order the rows WITHIN the written files
      (operators/layout.py:zorder_layout) so min/max file and row-group
      statistics are tight in every listed dimension;
    - ``stats_cols``: build the per-file min/max catalog
      (layout.file_stats_catalog) and write it next to the data under
      ``<path>/_stats`` — the input to ``stats_pruned_read`` at query
      time.

    Returns the stats catalog DataFrame (re-read from ``_stats``; None if
    ``stats_cols`` is empty). The data write is one pass; the stats pass
    reads back only footer-level aggregates (counter-sized shuffle).
    100 TB: both passes are per-ingest-batch; the catalog appends, the
    query side never re-scans data to plan."""
    from restaurant_etl_code_spark.operators import layout

    out = df
    if cluster_by:
        out = layout.zorder_layout(out, cluster_by, files_per_partition)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    if not stats_cols:
        return None
    spark = df.sparkSession
    stats = layout.file_stats_catalog(spark, path, stats_cols)
    # _-prefixed dirs are invisible to Spark's file listing, so the
    # catalog lives INSIDE the table dir without polluting reads
    stats_path = path.rstrip("/") + "/_stats"
    stats.write.mode(mode).parquet(stats_path)
    return spark.read.parquet(stats_path)
