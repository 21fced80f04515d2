"""CDC upsert-stream operators (SURVEY.md §2.8).

The reference's change-capture is snapshot-grained: a 24 h-TTL cached
table refreshed by a batched ETL loop, with per-row change markers
(``lastUpdated`` / ``lastResetDate`` / ``dataVersion`` — reference:
src/services/dataManager.ts:1,41-46,132-187, src/data/merchants.ts:20).
The engine generalizes that to a true CDC event stream: each input row
is an upsert/delete event ``(key, op, event_ts, payload...)``; the
operators below are the standard Structured Streaming constructions
for materializing and analyzing that stream.

Everything here works identically on a batch DataFrame (the batch
"twin" queries q17/q18/q30/q31 share these expressions — that is the
point: one logical plan, two execution modes).

Scale notes (1000-executor / 100 TB design):
- windowed aggs and dedup are stateful: state is partitioned by
  (key/window); watermarks bound state size — no unbounded growth.
- the upsert materializer shuffles each micro-batch by key only
  (argmax-per-key) and MERGEs into the target; at scale the target is
  a Delta/Iceberg table and `upsert_to_parquet`'s read-union-rewrite
  becomes `MERGE INTO` inside the same ``foreachBatch`` hook.
"""

from __future__ import annotations

import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_makanmana_spark import fs
from cdc_makanmana_spark.operators.similarity import argmax_per_group
from cdc_makanmana_spark.session import release_checkpoint


@contextmanager
def _partition_overwrite(spark: SparkSession):
    """Scoped ``partitionOverwriteMode=dynamic``: overwrite replaces
    only the partitions present in the written data."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def read_upsert_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based CDC source: each landed file is a micro-batch of
    upsert events. Explicit schema only — schema-on-read is banned at
    the engine boundary (SURVEY.md §1.3).

    ``max_files_per_trigger`` is the ingestion rate limit — the
    streaming analogue of the reference's 25-rows-per-300 ms batch
    throttle (dataManager.ts:146,175).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def latest_state(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    keep_deletes: bool = False,
) -> DataFrame:
    """Batch materializer: latest event per key (argmax window). The
    per-micro-batch body of the upsert sink.

    The argmax order is a TOTAL order, so replays/retries materialize
    the same state: timestamp first, then op precedence on exact-ts
    ties (a delete and an upsert carrying the same ``ts`` resolve to
    the delete — the conservative tombstone), then ``tie_cols``
    descending (pass the source's unique event id when it has one —
    an ENGINE-PORTABLE order a SQL replay can reproduce exactly),
    then a content hash as the final tie-break between distinct
    same-ts payloads.

    ``keep_deletes=False`` drops tombstones from the result (a final
    serve view); ``keep_deletes=True`` retains them — required
    whenever the result is intermediate state that later batches merge
    into (see ``upsert_to_parquet``'s retention note).
    """
    order = [F.desc(ts_col)]
    if "op" in events.columns:
        order.append(F.desc(F.col("op") == F.lit("delete")))
    for c in tie_cols or []:
        order.append(F.desc(c))
    order.append(F.desc(F.xxhash64(*[F.col(c) for c in events.columns])))
    latest = argmax_per_group(events, key_cols, order)
    if "op" in events.columns and not keep_deletes:
        latest = latest.filter(F.col("op") != F.lit("delete"))
    return latest


def windowed_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    group_extra: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation (T1/T2
    generalized). Late rows beyond ``watermark`` are dropped and the
    window state is finalized — bounded state at any scale."""
    win = (
        F.window(ts_col, window) if slide is None else F.window(ts_col, window, slide)
    )
    keys = [win.alias("w")] + [F.col(c) for c in (group_extra or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_events"), F.round(F.sum(value_col), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(group_extra or []),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (``dropDuplicatesWithinWatermark``): the streaming dedup tier —
    state for a key is dropped once the watermark passes it, so state
    stays bounded (unlike plain ``dropDuplicates`` on a stream)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


WRITER_LOCK_SUFFIX = "._WRITER_LOCK"


def writer_lock_path(target_path: str) -> str:
    """The lock is a SIBLING sidecar (``{target}._WRITER_LOCK``), not a
    file inside the target: Spark's partitioned overwrite clears
    top-level non-partition files in the output dir on its first
    commit (measured — an in-dir lock silently vanished after batch
    0), and the sibling also stays out of the parquet reader's
    listing entirely."""
    return f"{target_path.rstrip('/')}{WRITER_LOCK_SUFFIX}"


def _parse_lock(text: str) -> tuple[str, float | None]:
    """(owner_checkpoint, heartbeat_epoch_s) from lock-file content.
    Line 1 is the owning checkpoint; line 2 (absent in pre-lease
    locks) is the owner's last heartbeat — an unparseable or missing
    heartbeat reads as None, which the lease policy treats as NEVER
    stale (an old-format lock keeps the strict manual-takeover
    contract rather than silently becoming reclaimable)."""
    lines = text.split("\n")
    hb: float | None = None
    if len(lines) > 1 and lines[1]:
        try:
            hb = float(lines[1])
        except ValueError:
            hb = None
    return lines[0], hb


def _write_lock(spark: SparkSession, lock_path: str, checkpoint: str) -> None:
    fs.write_text(spark, lock_path, f"{checkpoint}\n{time.time()}")


def _fence_and_heartbeat(
    spark: SparkSession, lock_path: str, checkpoint: str, target_path: str
) -> None:
    """Per-batch fencing: if the lock no longer names this writer's
    checkpoint, a stale-lease reclaim (or explicit takeover) happened
    while this writer was alive-but-silent — a zombie that kept
    writing would interleave with the new owner, the exact clobber the
    lock exists to prevent. Die loudly instead. Otherwise renew the
    heartbeat so the lease stays fresh. Granularity is the micro-batch:
    a zombie can still finish the batch it is INSIDE when the reclaim
    lands (advisory lock, no OS lease) — the window a lakehouse
    format's OCC closes transactionally."""
    current = fs.read_text(spark, lock_path)
    if current is not None and _parse_lock(current)[0] != checkpoint:
        raise ForeignWriterError(
            f"writer fenced: upsert target {target_path!r} was reclaimed "
            f"by checkpoint {_parse_lock(current)[0]!r} (stale-lease "
            f"takeover) while this stream (checkpoint {checkpoint!r}) "
            "was still running. This writer must stop; resume only "
            "after re-acquiring ownership (takeover=True)."
        )
    _write_lock(spark, lock_path, checkpoint)


class ForeignWriterError(RuntimeError):
    """The upsert target is owned by a DIFFERENT streaming checkpoint.

    Structured Streaming's checkpoint serializes batches WITHIN one
    query, but nothing in the file layout stops a second stream (a
    copy-pasted job, a re-deploy with a fresh checkpoint dir) from
    racing the first's read-merge-overwrite cycles on the same
    ``target_path`` — the interleaving silently loses upserts or
    resurrects deleted keys. The ``_WRITER_LOCK`` sidecar pins the
    target to the checkpoint that owns it and turns that silent
    clobber into this error. Recovery: stop the other writer, then
    either resume with ITS checkpoint dir or take ownership explicitly
    (``takeover=True`` — also the documented path after an intentional
    checkpoint reset, which replays the whole source through the
    idempotent merge)."""


def upsert_to_parquet(
    events_stream: DataFrame,
    target_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    n_buckets: int = 16,
    tie_cols: list[str] | None = None,
    retain_tombstones: bool = False,
    takeover: bool = False,
    lease_timeout_s: float | None = None,
):
    """Materialize an upsert stream into a hash-bucket-partitioned
    parquet table via ``foreachBatch`` (T3: the reference's cache-sink
    + per-row change markers become a continuously-merged silver
    table).

    Scale shape: the target is partitioned by ``__bucket =
    pmod(xxhash64(keys), n_buckets)``. Each micro-batch computes the
    buckets it touches, reads ONLY those partitions (partition-pruned
    scan), merges (argmax per key across target ∪ batch, deletes
    tombstone), and rewrites ONLY those partitions (dynamic partition
    overwrite). Per-batch I/O is proportional to touched buckets — a
    small batch against a 100 TB table rewrites touched_buckets /
    n_buckets of it, not all of it. Size ``n_buckets`` so one bucket ≈
    a comfortable rewrite unit. On a Delta/Iceberg lakehouse the body
    collapses to one ``MERGE INTO`` and this file-layout bookkeeping
    disappears — semantics here are identical.

    SINGLE-WRITER CONTRACT: one streaming query (identified by its
    checkpoint dir) owns a target at a time, recorded in the
    ``{target}._WRITER_LOCK`` sibling sidecar (see
    :func:`writer_lock_path`); starting against a target whose lock
    names a different checkpoint raises :class:`ForeignWriterError`
    before any data is touched (see its docstring for the race and
    the recovery paths). Same checkpoint → normal restart/resume.
    ``takeover=True`` rewrites the lock for explicit ownership
    transfer.

    LEASE: the lock carries a heartbeat renewed at every micro-batch.
    ``lease_timeout_s`` is the stale-lock age policy: a new writer
    finding a foreign lock whose heartbeat is OLDER than the timeout
    reclaims ownership without manual takeover — the crashed-owner
    path (a dead writer otherwise pins the target forever). The old
    owner, should it wake up, is FENCED at its next micro-batch: the
    lock no longer names its checkpoint, so it raises instead of
    interleaving with the new owner (see :func:`_fence_and_heartbeat`
    — batch-granular, the honest limit of an advisory sidecar). Size
    the timeout well above the slowest expected micro-batch: a
    too-short lease reclaims from a LIVE writer mid-batch and that
    batch's writes interleave before the fence lands. With the default
    ``None`` a foreign lock never expires and recovery is manual
    takeover only (pre-lease contract). Pre-lease lock files carry no
    heartbeat and likewise never expire. At 100 TB with genuinely
    concurrent writers you want a lakehouse table format's snapshot
    isolation (Delta/Iceberg) — this lock is the honest single-writer
    guard for the raw-parquet layout, not an OCC protocol.

    ``retain_tombstones``: with the default False, a delete that wins
    its batch-merge removes the key's row AND ITSELF — correct only
    when events arrive key-ordered across batches (an older upsert
    landing in a LATER batch would resurrect the deleted key, because
    nothing in the target remembers the delete). True keeps the
    winning tombstone as a row (``op='delete'``) so it keeps
    suppressing older upserts in every later batch — the merged state
    then depends only on the SET of events, not on how the stream was
    micro-batched; readers serve ``op <> 'delete'``, and a
    retention-horizon compaction drops tombstones once the source's
    max reordering window has provably passed (the Kafka-compaction /
    Delta-MERGE tombstone discipline).

    Returns the started StreamingQuery.
    """
    spark = events_stream.sparkSession
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="cdc_upsert_ckpt_")
    lock_path = writer_lock_path(target_path)

    def bucket_of(df: DataFrame):
        return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _fence_and_heartbeat(spark, lock_path, checkpoint, target_path)
        # Deletes must survive until AFTER the merge with current state:
        # a delete event tombstones the target row only if it is the
        # newest event for its key across (target ∪ batch).
        batch_df = batch_df.withColumn("__bucket", bucket_of(batch_df))
        touched = [r[0] for r in batch_df.select("__bucket").distinct().collect()]
        if not touched:
            return
        # Hadoop FS existence probe (one listStatus) — works against
        # file:/hdfs:/s3a: targets alike; os.* would pin this sink to
        # the driver's local disk.
        exists = any(
            d.startswith("__bucket=")
            for d in fs.list_names(spark, target_path, dirs_only=True)
        )
        if exists:
            current = spark.read.parquet(target_path).filter(
                F.col("__bucket").isin(touched)  # partition-pruned read
            )
            combined = current.unionByName(batch_df, allowMissingColumns=True)
        else:
            combined = batch_df
        # Materialize BEFORE writing: the write replaces the very files
        # `combined` reads, and any post-write action on a lazy plan
        # (the surviving-bucket check below) would re-scan deleted
        # files. The checkpoint also keeps read and overwrite phases
        # disjoint. (A lakehouse MERGE gets this from snapshot
        # isolation.)
        merged = latest_state(
            combined,
            key_cols,
            ts_col,
            tie_cols=tie_cols,
            keep_deletes=retain_tombstones,
        ).localCheckpoint(eager=True)
        try:
            with _partition_overwrite(spark):
                # Dynamic mode replaces exactly the partitions present
                # in the written data — the untouched buckets' files
                # are never read or rewritten.
                merged.write.mode("overwrite").partitionBy("__bucket").parquet(
                    target_path
                )
            # Dynamic overwrite only replaces partitions PRESENT in the
            # output: a touched bucket whose every key was deleted
            # yields zero rows and would silently keep its stale files.
            # Drop those partitions explicitly (a lakehouse MERGE's
            # delete clause does this transactionally).
            surviving = {
                r[0] for r in merged.select("__bucket").distinct().collect()
            }
        finally:
            # This batch's checkpoint blocks die WITH the batch: a
            # stream runs for months, and un-released per-batch blocks
            # accumulate in executor storage memory for its lifetime.
            release_checkpoint(merged)
        for b in set(touched) - surviving:
            fs.delete(spark, f"{target_path}/__bucket={b}", recursive=True)

    lock_text = fs.read_text(spark, lock_path)
    if lock_text is not None and not takeover:
        owner, heartbeat = _parse_lock(lock_text)
        if owner != checkpoint:
            age = None if heartbeat is None else time.time() - heartbeat
            stale = (
                lease_timeout_s is not None
                and age is not None
                and age > lease_timeout_s
            )
            if not stale:
                raise ForeignWriterError(
                    f"upsert target {target_path!r} is owned by checkpoint "
                    f"{owner!r}; this stream's checkpoint is {checkpoint!r}"
                    + (
                        f" (owner heartbeat {age:.1f}s old, lease "
                        f"timeout {lease_timeout_s}s — not yet stale)."
                        if lease_timeout_s is not None and age is not None
                        else " (no lease policy — lock never expires)."
                    )
                    + " Stop the other writer and resume with its "
                    "checkpoint, pass takeover=True to transfer ownership "
                    "explicitly, or set lease_timeout_s to reclaim from a "
                    "crashed owner once its heartbeat goes stale."
                )
            # stale lease: reclaim — the write below fences the old
            # owner at its next batch should it turn out to be alive
    _write_lock(spark, lock_path, checkpoint)
    return (
        events_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
