"""Streaming NDJSON ingestion (the streaming twin of ``sources.json_docs``):
file-source → explicit-schema ``from_json`` → typed columns → parquet
append.

Scale posture: the file source lists + processes new files incrementally
(``maxFilesPerTrigger`` bounds a micro-batch); the write is an append with
exactly-once semantics via the checkpoint — the streaming analog of the
reference's batched ES bulk writes (HRP:49-52). No state is kept here; pure
ingestion is stateless and scales with input splits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import ENCOUNTER

EVENT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stream_ndjson(
    spark: SparkSession,
    in_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Typed streaming read of an NDJSON directory (one doc per line)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(in_dir)
    return raw.select(F.from_json(F.col("value"), schema).alias("d")).select("d.*")


def stream_encounters(spark: SparkSession, in_dir: str, **kw) -> DataFrame:
    return stream_ndjson(spark, in_dir, ENCOUNTER, **kw)


def stream_events(spark: SparkSession, in_dir: str, **kw) -> DataFrame:
    return stream_ndjson(spark, in_dir, EVENT, **kw)


def append_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Exactly-once parquet append; ``available_now`` drains the backlog and
    stops (test/batch-catchup mode — production drops the trigger)."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_keyed_batch(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    key: str,
    n_buckets: int | None = None,
    stream_id: str | None = None,
) -> bool:
    """One micro-batch upserted into a KEYED table (sinks.upsert layout)
    with exactly-once replay protection: the epoch id rides the upsert's
    commit app-metadata, so "did this batch already apply?" is answered by
    the table itself — there is no side ledger to drift from the data.

    foreachBatch is at-least-once (a crash between the upsert and the
    checkpoint commit replays the epoch); on replay the recorded epoch is
    already >= this one, so skip. Epochs are stream-scoped exactly like the
    index-maintenance sinks (streaming/doc_stream.py::_epoch_is_replay):
    the recorded epoch counts only if it was recorded by THIS stream
    identity — epoch counters from different checkpoints are incomparable,
    and an anonymous caller never inherits an identified stream's counter.
    EVERY apply is additionally guarded by ``app_meta_expect`` on the raw
    recorded (epoch, stream-id) pair — including the FIRST epoch after a
    stream-identity change (expecting the prior stream's pair) and the
    first epoch of an existing-but-never-streamed table (expecting None):
    two workers racing the same epoch cannot both commit even when their
    rows land in disjoint buckets, because the first commit changes the
    recorded value out from under the second's expectation. The one case
    the commit-level expectation cannot cover — a table that does not
    exist yet, where the initial load bypasses ``_publish`` — is closed by
    an O_EXCL bootstrap claim file: exactly one racer creates the table,
    the loser aborts with ``ConcurrentWriteError`` (at-least-once retry
    then takes the guarded merge path).

    Unlike ``streaming/retention_stream.py`` (whose per-household upserts
    are idempotent recomputes, so replays are harmless), this sink is for
    batches that are NOT naturally idempotent — e.g. counters or deltas —
    and for keeping a downstream ``read_changes`` feed free of phantom
    versions. Returns True if the batch applied."""
    import os as _os
    import time as _time
    import uuid as _uuid

    from ..sinks.manifest import LOCK_STALE_SECONDS
    from ..sinks.upsert import (
        DEFAULT_BUCKETS,
        ConcurrentWriteError,
        table_app_meta,
        upsert_parquet,
    )

    n_buckets = DEFAULT_BUCKETS if n_buckets is None else n_buckets
    exists = _os.path.exists(path)
    meta = table_app_meta(path) if exists else {}
    last, last_stream = meta.get("stream_epoch"), meta.get("epoch_stream")
    same_stream = last is not None and last_stream == stream_id
    if same_stream and epoch_id <= last:
        return False  # replayed epoch: already folded into the table
    if batch_df.isEmpty():
        return False
    claim = None
    if not exists:
        # the table's first-ever write bypasses the manifest commit path
        # (write_keyed_table has no app_meta_expect), so the expectation
        # below cannot arbitrate it — claim the bootstrap via O_EXCL. A
        # crashed creator's claim goes stale like the publish lock; a live
        # claim means another worker is mid-bootstrap: fail closed.
        claim = f"{path}.__init_claim__"
        try:
            fd = _os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            _os.close(fd)
        except FileExistsError:
            try:
                age = _time.time() - _os.path.getmtime(claim)
            except FileNotFoundError:
                age = 0.0
            if age <= LOCK_STALE_SECONDS:
                raise ConcurrentWriteError(
                    f"another worker is bootstrapping {path}; retry after "
                    "its initial load commits"
                )
            # stale claim (creator crashed before the table appeared):
            # break it via rename — atomic, so N waiters racing the same
            # stale claim elect exactly one bootstrapper
            stole = f"{claim}.break-{_uuid.uuid4().hex[:8]}"
            try:
                _os.rename(claim, stole)
                _os.unlink(stole)
            except FileNotFoundError:
                raise ConcurrentWriteError(
                    f"another worker is bootstrapping {path}; retry after "
                    "its initial load commits"
                ) from None
            fd = _os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            _os.close(fd)
        # TOCTOU re-check (r10 advisory): the exists probe above ran
        # BEFORE batch_df.isEmpty() — a potentially slow Spark action —
        # so another worker may have bootstrapped the table, committed,
        # and released its claim in that window; acquiring the O_EXCL
        # claim then proves nothing about table absence. If the table
        # exists NOW, release the claim and take the guarded path with a
        # FRESH meta read: expecting the recorded (epoch, stream) pair is
        # what stops the same epoch applying twice (a replay of the
        # bootstrapper's own epoch is also re-screened here).
        if _os.path.exists(path):
            try:
                _os.unlink(claim)
            except FileNotFoundError:
                pass
            claim = None
            meta = table_app_meta(path)
            last, last_stream = meta.get("stream_epoch"), meta.get("epoch_stream")
            if last is not None and last_stream == stream_id and epoch_id <= last:
                return False
    try:
        upsert_parquet(
            batch_df.sparkSession,
            path,
            batch_df,
            key=key,
            n_buckets=n_buckets,
            app_meta={"stream_epoch": epoch_id, "epoch_stream": stream_id},
            # expect the RAW recorded (epoch, stream) PAIR in every case:
            # the prior stream's counter after an identity change, (None,
            # None) on a table that never streamed — the first racer's
            # commit changes the pair (the stream id if not the counter,
            # e.g. when the old counter numerically equals the new
            # epoch), so the second aborts instead of double-applying
            app_meta_expect=(
                None
                if claim
                else {"stream_epoch": last, "epoch_stream": last_stream}
            ),
        )
    finally:
        if claim is not None:
            try:
                _os.unlink(claim)
            except FileNotFoundError:
                pass
    return True


def keyed_table_sink(
    stream: DataFrame,
    path: str,
    key: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    available_now: bool = True,
    auto_compact: bool = False,
):
    """Streaming upsert into a keyed table: micro-batches merge by key with
    exactly-once epochs (``apply_keyed_batch``; the checkpoint directory is
    the stream identity). The table stays a first-class sink table
    throughout — versioned, time-travelable, a ``read_changes`` source for
    downstream incremental aggregates (``sinks.incremental_agg``).

    ``auto_compact`` folds maintenance into the loop: after each applied
    batch, compact the BUCKET SET the manifest-driven cost policy selects
    (``sinks.upsert.choose_compaction`` — projected read-tax savings must
    exceed each bucket's rewrite cost, so under continuous MoR appends
    the readers' reconciliation tax stays bounded without ever paying a
    full-table rewrite; compaction is safe against concurrent writers via
    per-bucket optimistic concurrency, and a replayed epoch never
    re-compacts because the apply is skipped first)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        applied = apply_keyed_batch(
            batch_df,
            epoch_id,
            path,
            key,
            n_buckets=n_buckets,
            stream_id=checkpoint_dir,
        )
        if applied and auto_compact:
            from ..sinks.upsert import choose_compaction, compact_keyed_table

            chosen = choose_compaction(path)
            if chosen:
                compact_keyed_table(batch_df.sparkSession, path, buckets=chosen)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
