"""S7 — keyed partial-document upsert sink over parquet.

The reference writes per-person partial updates with ES
``es.write.operation=upsert`` (HRP:297-302): for each key, fields present in
the update replace the stored fields; unknown keys insert new docs. Parquet
has no point-update, so the engine uses a **hash-bucketed merge** layout:

* the table is laid out as ``_bucket=NN/`` partitions with
  ``_bucket = pmod(xxhash64(key), n_buckets)``;
* an upsert computes the affected buckets from the updates (a distinct over
  the updates only — never a full-table scan), reads ONLY those partitions
  (partition pruning), full-outer merges on the key, and PUBLISHES the
  rewritten buckets as new immutable files;
* under ``mor`` write mode, an upsert whose updates carry a strict SUBSET
  of the stored columns publishes a PARTIAL-COLUMN delta (round 11): the
  update rows are appended as-is — only the carried columns, no base read
  at all — and reads fold per COLUMN (latest carrying writer wins, masks
  from the manifest's ``mor_cols`` ledger). A single-column maintenance
  loop's publish is then O(delta bytes) in store size, the Delta/Hudi
  partial-update shape.

**Reader atomicity (MVCC-lite).** Data files are IMMUTABLE and uniquely
named; the set of live files is a sidecar manifest (``_live_manifest.json``)
replaced atomically (`os.replace`). A reader resolves its file list from the
manifest, so a concurrent upsert can never yank a file out from under an
in-flight scan: superseded files become *garbage* with a timestamp and are
physically deleted only after ``GC_GRACE_SECONDS`` — the same
snapshot+vacuum contract as Delta/Iceberg (``VACUUM ... RETAIN``), which is
exactly what this operator maps onto in a production lakehouse. A reader
must finish within the grace window (default 5 min; configure via
``SPARK_GRAFT_SINK_GC_GRACE``). A multi-bucket upsert publishes ALL its
rewritten buckets in ONE manifest replace, so a reader observes either the
whole upsert or none of it — one cross-bucket table snapshot, strictly
stronger than the per-document atomicity of the reference's ES bulk
upserts (HRP:297-302). Crash safety: a crash before the manifest
replace leaves stray unreferenced files (swept by a later vacuum); the
manifest replace itself is atomic, so readers see the old or the new table,
never a partial one.

**Concurrent writers.** The manifest read-modify-write in ``_publish`` runs
under an exclusive lock file (held for milliseconds, broken if stale), and
every write carries the manifest snapshot its merge was computed from:
per-bucket optimistic concurrency. Writers touching DISJOINT buckets both
land (each applies onto the current manifest); overlapping writes are
DETECTED and the later one aborts with ``ConcurrentWriteError`` before any
manifest change — never a silent last-writer-wins (the commit-conflict
model of Delta/Iceberg, minus their automatic retry, which belongs to the
caller here).

Scale story: cost is O(|updates| + |affected buckets|), independent of total
table size; bucket count is chosen so one bucket ≈ one comfortable task
(e.g. 100 TB / 256 MB ⇒ ~400k buckets). The manifest holds one filename per
bucket (post-compaction), so it scales as O(n_buckets) — at 400k buckets a
few MB of JSON, read once per query plan, and replaceable by a Delta/Iceberg
log without touching callers.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

BUCKET_COL = "_bucket"
DEFAULT_BUCKETS = 16
LAYOUT_FILE = "_keyed_layout.json"
MANIFEST_FILE = "_live_manifest.json"
SNAPSHOT_PREFIX = "_manifest.v"

#: merge-on-read supersession column: MoR delta rows carry the publish
#: sequence that wrote them; base rows (and CoW rewrites) lack the column
#: and read as null = oldest. Per key, the highest _seq row wins at read.
SEQ_COL = "_seq"

#: delete tombstone: a MoR delete appends delta rows carrying only
#: (key, _seq, _tombstone=true); when such a row is a key's latest by
#: ``_seq``, the key is dead — filtered by ``_resolve`` at read time and
#: physically dropped at the next compaction / CoW rewrite of its bucket
#: (the Hudi-delete / Delta-deletion-vector shape). Null = live.
TOMBSTONE_COL = "_tombstone"

RESERVED_COLS = (SEQ_COL, TOMBSTONE_COL, BUCKET_COL)

#: READ-TIME-ONLY presence mask for partial-column MoR delta rows: the
#: sorted list of data columns a delta row actually CARRIES (null = all —
#: base rows, full-width deltas, tombstones). Never stored in a data file:
#: a partial delta file simply omits the columns it doesn't carry, and the
#: manifest's ``mor_cols`` ledger records each file's column list; the
#: masked reader re-attaches the mask as a per-file literal. This is what
#: distinguishes "column absent from this update" from "column set to
#: null" under the pinned-schema read (both scan back as null).
MASK_COL = "_mask"


def _partial_deltas_enabled() -> bool:
    """``SPARK_GRAFT_SINK_PARTIAL=off`` disables partial-column MoR deltas
    (upserts whose updates carry a strict subset of the stored columns
    then take the full-width merge path, as in rounds ≤10). Default ON:
    a subset-column upsert under ``mor`` appends delta rows carrying ONLY
    the updated columns and NEVER READS THE BASE ROWS — the publish is
    O(delta bytes) in both I/O and compute, independent of store size
    (the Delta/Hudi partial-update shape; the r10 verdict's named lever
    on the incremental-retention write floor). Read-side, ``_resolve``
    generalizes to a per-COLUMN latest-writer fold over (base ∪ deltas).

    The documented trade: a partial publish records no write-time CDC
    sidecar (capture would force the very matched-preimage read this
    path exists to delete); change-feed windows containing one are served
    by the partial-aware append fast path instead — still O(changed keys)
    reads, paid by feed READERS per window instead of by every publish."""
    return os.environ.get("SPARK_GRAFT_SINK_PARTIAL", "on") != "off"


def _dirty_has_partial(manifest: dict, dirty_dirs) -> bool:
    """True iff any of the given bucket dirs carries a PARTIAL delta file
    (per the manifest's ``mor_cols`` ledger) — the read-side switch
    between the full-row supersession window (cheaper, pre-round-11
    semantics) and the per-column fold."""
    mc = manifest.get("mor_cols") or {}
    return any(mc.get(d) for d in dirty_dirs)


def _read_files_masked(
    spark: SparkSession,
    path: str,
    schema: StructType | None,
    manifest: dict,
    dirs: list[str],
    files_by_dir: dict[str, list[str]] | None = None,
) -> DataFrame:
    """All rows of the given bucket dirs (``files_by_dir`` restricts the
    per-dir file list; default = the manifest's live list) with the
    ``_mask`` presence column attached: files are GROUPED by their
    ``mor_cols`` column set and each group read once with the pinned
    schema (missing columns null-fill) plus its mask as one literal —
    O(distinct column sets) scans, each pruned to its own file list."""
    mc = manifest.get("mor_cols") or {}
    groups: dict[tuple | None, list[str]] = {}
    for d in dirs:
        file_cols = mc.get(d) or {}
        names = (
            files_by_dir[d]
            if files_by_dir is not None
            else manifest["live"].get(d, [])
        )
        for f in names:
            gk = tuple(sorted(file_cols[f])) if f in file_cols else None
            groups.setdefault(gk, []).append(os.path.join(path, d, f))
    parts = []
    for colset, files in sorted(
        groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or ())
    ):
        df = _read_files(spark, path, schema, files)
        mask = (
            F.lit(None).cast("array<string>")
            if colset is None
            else F.array(*[F.lit(c) for c in colset])
        )
        parts.append(df.withColumn(MASK_COL, mask))
    if not parts:
        empty_schema = schema or StructType([StructField(BUCKET_COL, LongType())])
        return spark.createDataFrame([], empty_schema).withColumn(
            MASK_COL, F.lit(None).cast("array<string>")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _fold_resolve(df: DataFrame, key: str) -> DataFrame:
    """Per-COLUMN merge-on-read reconciliation — ``_resolve`` generalized
    to partial deltas. Input rows carry ``_seq`` (null = base, oldest),
    ``_tombstone`` and ``_mask`` (see MASK_COL); per key:

    * ``_ts`` = the latest tombstone's sequence (the key's state before
      and at ``_ts`` is dead — a later partial delta re-INSERTS the key
      with only its own columns, ES delete-then-index semantics);
    * each column's value comes from the LATEST live row that CARRIES it
      (mask-aware ``max_by``; base rows carry everything), provided that
      row is newer than ``_ts`` — otherwise the column is null;
    * the key survives iff any live row is newer than ``_ts``.

    One hash aggregation on the key — same shuffle count as the window
    in ``_resolve``, applied only to delta-carrying buckets. Duplicate
    keys WITHIN one publish tie on ``_seq`` and may resolve per-column
    nondeterministically (the full-width path picks an arbitrary whole
    row under the same caller error); as everywhere in the sink, an
    upsert batch must be key-distinct."""
    val_cols = [
        c
        for c in df.columns
        if c not in (key, SEQ_COL, TOMBSTONE_COL, BUCKET_COL, MASK_COL)
    ]
    eff = F.coalesce(F.col(SEQ_COL).cast("long"), F.lit(0))
    tomb = (
        F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        if TOMBSTONE_COL in df.columns
        else F.lit(False)
    )
    mask = (
        F.col(MASK_COL)
        if MASK_COL in df.columns
        else F.lit(None).cast("array<string>")
    )
    aggs = [
        F.max(F.when(tomb, eff)).alias("_ts"),
        F.max(F.when(~tomb, eff)).alias("_live"),
    ]
    for c in val_cols:
        carries = mask.isNull() | F.array_contains(mask, F.lit(c))
        aggs.append(
            # max_by skips rows whose ordering expression is null, so the
            # when() restricts to live carrying rows; the struct rides the
            # winning row's (seq, value) out so staleness vs _ts is
            # decidable per column in the projection below
            F.max_by(
                F.struct(eff.alias("s"), F.col(c).alias("v")),
                F.when(~tomb & carries, eff),
            ).alias(f"_m_{c}")
        )
    g = df.groupBy(key).agg(*aggs)
    dead_before = F.coalesce(F.col("_ts"), F.lit(-1))
    out = [F.col(key)]
    for c in val_cols:
        m = F.col(f"_m_{c}")
        out.append(F.when(m["s"] > dead_before, m["v"]).alias(c))
    return g.where(F.coalesce(F.col("_live"), F.lit(-1)) > dead_before).select(
        *out
    )


def _sink_write_mode(override: str | None = None) -> str:
    """``SPARK_GRAFT_SINK_WRITE_MODE``: ``cow`` (default — upserts rewrite
    every affected bucket in full, reads are plain unions) or ``mor``
    (merge-on-read — upserts APPEND per-bucket delta files holding only
    the merged affected rows, reads reconcile per key, compaction folds
    deltas back into one file per bucket). MoR converts the maintenance
    write from O(affected-bucket rows) to O(delta rows) — the CDC write
    floor the sf10 rehearsal measured (SCALING.md round 9: any realistic
    blast radius touches every bucket, so CoW pays a full store rewrite
    per upsert) — at the price of a per-key window on reads until the
    next compaction. The Hudi-MoR / Delta-deletion-vector trade, on this
    sink's existing manifest (multi-file buckets + compaction were
    already the layout's maintenance story).

    ``override`` (a per-call ``mode=`` argument) wins over the env var —
    what lets the flagship maintenance loop default to MoR while ``cow``
    stays the global read-optimized default (round-12 verdict #7)."""
    mode = (
        override
        if override is not None
        else os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
    )
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown sink write mode {mode!r} (cow|mor)")
    return mode


def _with_seq_field(schema: StructType, present: bool) -> StructType:
    """The pinned schema with the MoR internal columns (``_seq``,
    ``_tombstone``) present/absent. Their presence in the PINNED schema is
    the read-side flag for "this table (or this time-travel version) may
    carry live delta files": while any delta file is live the columns must
    stay pinned (files in buckets a later CoW write never touched still
    need their ``_seq``/``_tombstone`` read back for reconciliation), and
    once compaction folds the last delta they must go (so plain reads stop
    paying the reconciliation window). Maintained by ``_publish`` under
    the lock, from the manifest's delta ledger — not by writers from
    their own output."""
    from pyspark.sql.types import BooleanType

    fields = [
        f
        for f in schema.fields
        if f.name not in (SEQ_COL, TOMBSTONE_COL, BUCKET_COL)
    ]
    if present:
        fields.append(StructField(SEQ_COL, LongType(), True))
        fields.append(StructField(TOMBSTONE_COL, BooleanType(), True))
    if any(f.name == BUCKET_COL for f in schema.fields):
        fields.append(StructField(BUCKET_COL, LongType(), True))
    return StructType(fields)


def _resolve(df: DataFrame, key: str) -> DataFrame:
    """Merge-on-read reconciliation: keep each key's highest-``_seq`` row
    (null = base/CoW rows, oldest), then drop keys whose winning row is a
    delete tombstone. No-op for tables that never took a MoR delta (no
    ``_seq`` column → no window, plans unchanged). Returns rows with
    ``_seq`` retained (callers drop it) and ``_tombstone`` consumed."""
    if SEQ_COL not in df.columns:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(SEQ_COL).desc_nulls_last())
    out = (
        df.withColumn("_mor_rn", F.row_number().over(w))
        .where(F.col("_mor_rn") == 1)
        .drop("_mor_rn")
    )
    if TOMBSTONE_COL in out.columns:
        out = out.where(
            ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        ).drop(TOMBSTONE_COL)
    return out


#: per-row version stamp inside CDC sidecar files (which publish captured
#: the change) — what lets the feed reader net first-preimage/last-postimage
#: per key across a multi-version window
CDC_VERSION_COL = "_cdc_version"
#: sidecar directory under the table root holding per-version change files
CDC_DIR = "_cdc"


def _cdc_capture_enabled() -> bool:
    """``SPARK_GRAFT_SINK_CDC=off`` disables write-time change capture
    (publishes then leave no sidecar and feed windows containing them fall
    back to the state-diff tiers). Capture is WRITE-MODE-INDEPENDENT for
    merging publishes: both full-width MoR delta publishes and CoW bucket
    rewrites record their pre/postimages — the merge materializes both
    for free either way, so the change feed stays O(changed rows) under
    the DEFAULT ``cow`` mode too. The one deliberate exception:
    PARTIAL-column delta publishes (``_append_partial_delta``) never
    capture — there is no merge and no preimage read to piggyback on, and
    adding one would reinstate the O(matched full-width) read the partial
    path exists to delete. Feed windows containing them are served by the
    partial-aware append fast path, O(changed keys) at read time."""
    return os.environ.get("SPARK_GRAFT_SINK_CDC", "on") != "off"


def _gc_grace_seconds() -> float:
    return float(os.environ.get("SPARK_GRAFT_SINK_GC_GRACE", "300"))


def _keep_versions() -> int:
    """How many published versions stay time-travel readable (Delta's
    ``delta.deletedFileRetentionDuration`` in version units rather than
    time units — version count is what bounds the snapshot-sidecar space,
    which is the actual scale cost here: K × O(n_buckets) filenames)."""
    return max(1, int(os.environ.get("SPARK_GRAFT_SINK_KEEP_VERSIONS", "8")))


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def _read_layout(path: str) -> dict:
    with open(os.path.join(path, LAYOUT_FILE)) as f:
        return json.load(f)


def _table_schema(df: DataFrame) -> StructType:
    """The table's pinned unified schema: every data column (nullable — an
    upsert may insert keys with missing columns) plus the bucket partition
    column last."""
    fields = [
        StructField(f.name, f.dataType, True)
        for f in df.schema.fields
        if f.name != BUCKET_COL
    ]
    fields.append(StructField(BUCKET_COL, LongType(), True))
    return StructType(fields)


def _write_layout(path: str, key: str, n_buckets: int, schema: StructType) -> None:
    from ..operators.multimodal import codec_backend

    # atomic replace: the layout is rewritten after every schema-evolving
    # upsert, and a concurrent reader resolves it on every read — a direct
    # truncating write exposes an empty/partial file in the truncate→write
    # window (observed as a reader JSONDecodeError under stress)
    tmp = os.path.join(path, f".{LAYOUT_FILE}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(
            {
                "key": key,
                "n_buckets": n_buckets,
                "schema": schema.jsonValue(),
                # writer-environment audit: codec-backed artifacts (e.g.
                # thumbnails) are deterministic only per backend, so the
                # manifest records which backend wrote this table — a
                # mixed-backend cluster becomes detectable from the sidecars
                "writer_env": {"image_codec": codec_backend()},
            },
            f,
        )
    os.replace(tmp, os.path.join(path, LAYOUT_FILE))


def _stored_schema(layout: dict) -> StructType | None:
    raw = layout.get("schema")
    return StructType.fromJson(raw) if raw else None


class ConcurrentWriteError(RuntimeError):
    """Another writer rewrote one of this write's buckets between its
    snapshot read and its publish — the merge was computed against stale
    data and must be retried against the new table state."""


def _read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, MANIFEST_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


LOCK_FILE = ".manifest_lock"
LOCK_STALE_SECONDS = 120.0
LOCK_WAIT_SECONDS = 30.0


class _publish_lock:
    """Filesystem mutex (O_EXCL create) serializing the manifest
    read-modify-write inside ``_publish`` — held for milliseconds, never
    across a Spark job or the vacuum's O(n_buckets) file sweep (which runs
    after release). A lock older than LOCK_STALE_SECONDS is treated as a
    crash leftover and broken.

    Each acquisition writes an OWNER TOKEN (uuid) into the lock file:

    * breaking a stale lock goes through ``os.rename`` to a unique name —
      an atomic claim, so when N waiters race to break the same stale lock
      exactly one wins the rename and the losers retry; the blind-unlink
      TOCTOU (two waiters both "break" it and both acquire) cannot happen.
      Because the staleness probe and the rename are two steps, the claim's
      age (mtime survives rename) is RE-CHECKED after the rename: a fresh
      lock that replaced the stale one in that window is restored via
      ``os.link`` (atomic, refuses to clobber a third writer's lock)
      instead of destroyed;
    * ``__exit__`` re-reads the file and unlinks only if it still holds
      this acquisition's token — if another writer broke our lock (e.g. we
      were paused past staleness) we must not release THEIR lock. Safety
      for the paused-writer case itself comes from the per-bucket
      optimistic conflict check in ``_publish``, not the lock.
    """

    def __init__(self, path: str):
        self.lock_path = os.path.join(path, LOCK_FILE)
        self.token = uuid.uuid4().hex

    def __enter__(self):
        deadline = time.time() + LOCK_WAIT_SECONDS
        while True:
            try:
                fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{self.token} {os.getpid()}".encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.lock_path)
                except FileNotFoundError:
                    continue
                if age > LOCK_STALE_SECONDS:
                    claim = f"{self.lock_path}.break-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(self.lock_path, claim)
                    except FileNotFoundError:
                        continue  # another waiter claimed it first
                    # the getmtime above and the rename are not atomic: the
                    # stale lock may have been broken AND re-acquired by
                    # another writer in between, in which case the file we
                    # just claimed is a FRESH lock we must not destroy.
                    # rename preserves mtime, so re-check on the claim.
                    try:
                        claimed_age = time.time() - os.path.getmtime(claim)
                    except FileNotFoundError:
                        continue
                    if claimed_age <= LOCK_STALE_SECONDS:
                        # stole a live lock — put it back atomically.
                        # os.link refuses if a third writer already
                        # re-created the path (EEXIST): then the rightful
                        # owner's __exit__ finds a foreign token and skips
                        # release, and write safety still rests on the
                        # per-bucket optimistic conflict check.
                        try:
                            os.link(claim, self.lock_path)
                        except FileExistsError:
                            pass
                        os.unlink(claim)
                        time.sleep(0.05)
                        continue
                    os.unlink(claim)
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"could not acquire {self.lock_path} within "
                        f"{LOCK_WAIT_SECONDS}s"
                    )
                time.sleep(0.05)

    def verify_owned(self) -> None:
        """Raise ``ConcurrentWriteError`` unless the lock file still holds
        this acquisition's token. Called immediately before the manifest
        replace: in the (probe→rename window)² race where a waiter
        destroys a just-re-acquired fresh lock, the dispossessed writer
        would otherwise proceed into the manifest read-modify-write
        concurrently with the new owner — for DISJOINT bucket sets the
        per-bucket conflict check cannot fire and the later write would
        silently drop the earlier one's live entries. This check shrinks
        the unprotected window from the whole merge to the microseconds
        between it and ``os.replace``, which a breaker cannot cross (a
        break requires LOCK_STALE_SECONDS of age).

        A MISSING lock file gets one short retry before aborting: a breaker
        that renamed away a just-re-acquired fresh lock restores it via
        ``os.link`` moments later, so the rightful owner can transiently
        observe no file at all. Without the retry that window aborts a
        healthy publish (fails closed — safe, but spurious)."""
        owner = self._read_owner()
        if owner is None:
            time.sleep(0.1)  # breaker's link-restore lands within ms
            owner = self._read_owner()
        if owner != self.token:
            raise ConcurrentWriteError(
                "publish lock was broken by another writer mid-publish; "
                "retry the upsert against the new table state"
            )

    def _read_owner(self) -> str | None:
        try:
            with open(self.lock_path) as f:
                return f.read().split()[0]
        except (FileNotFoundError, IndexError):
            return None

    def __exit__(self, *exc):
        owner = self._read_owner()
        if owner != self.token:
            return  # broken/taken by another writer; not ours to release
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass


def _parquet_key_range(file_path: str, key: str) -> list | None:
    """[min, max] of ``key`` across a parquet file's row groups, from
    FOOTER statistics only (no data pages). None when stats are absent
    (readers then conservatively treat the delta as possibly-overlapping)
    or the values don't JSON-round-trip losslessly (bytes, etc.)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(file_path).metadata
        idx = md.schema.to_arrow_schema().get_field_index(key)
        if idx < 0:
            return None
        mn = mx = None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if st is None or not st.has_min_max:
                return None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is None:
            return None
        if isinstance(mn, bytes) or isinstance(mx, bytes):
            return None
        json.dumps([mn, mx])  # must survive the manifest round-trip
        return [mn, mx]
    except Exception:
        return None  # stats are an optimization; never fail a publish


#: Bloom sizing: 12 bits/key at 7 hashes ≈ 0.3% false-positive rate PER
#: PROBE — a point lookup tests each of a bucket's probes against each of
#: its delta files, so the per-file skip probability compounds over the
#: bucket's probe count (~96% skip at 12 probes/bucket). A false positive
#: only costs reading a delta file that range pruning would have read
#: anyway; false negatives are impossible by construction.
_BLOOM_BITS_PER_KEY = 12
_BLOOM_HASHES = 7


def _bloom_max_keys() -> int:
    """``SPARK_GRAFT_MOR_BLOOM_MAX_KEYS``: largest delta-file row count a
    key Bloom filter is recorded for (the filter lives base64 in the
    manifest — ~1.7 KB per 1k keys; a huge delta overlaps most probes
    anyway, so past the cap range pruning alone carries the skip)."""
    return int(os.environ.get("SPARK_GRAFT_MOR_BLOOM_MAX_KEYS", "4096"))


def _bloom_hashes(key) -> tuple[int, int] | None:
    """(h1, h2) double-hash bases for a key: the two halves of the
    PORTABLE md5 of its canonical text. int/str keys only — identical
    canonicalization at build and probe time is what makes false
    negatives impossible; any other type returns None. Split out from
    `_bloom_positions` so a probe over many filters of different sizes
    hashes each key ONCE and takes mod m per filter (the text index's
    locate prune iterates files × ids — the md5 must not be inside that
    product)."""
    if isinstance(key, bool) or not isinstance(key, (int, str)):
        return None
    raw = hashlib.md5(str(key).encode("utf-8")).digest()
    return int.from_bytes(raw[:8], "big"), int.from_bytes(raw[8:], "big") | 1


def _bloom_positions(key, m: int) -> list[int] | None:
    """The filter's bit positions for a key — see `_bloom_hashes`."""
    hs = _bloom_hashes(key)
    if hs is None:
        return None
    h1, h2 = hs
    return [(h1 + i * h2) % m for i in range(_BLOOM_HASHES)]


def _bloom_from_values(values) -> dict | None:
    """Bit-array Bloom filter over an iterable of keys — the shared
    builder behind the sink's per-delta-file filters AND the text
    index's per-tf-file doc-id filters (search._tf_bloom_build): one
    encoding, one sizing rule, so a change here cannot silently leave a
    copy behind. None keys are skipped; an uncanonicalizable key (see
    _bloom_positions) aborts the whole filter — the reader then treats
    the file as possibly-containing, never a false negative."""
    vals = [v for v in values if v is not None]
    if not vals:
        return None
    m = max(64, _BLOOM_BITS_PER_KEY * len(vals))
    bits = bytearray((m + 7) // 8)
    for v in vals:
        pos = _bloom_positions(v, m)
        if pos is None:
            return None
        for pbit in pos:
            bits[pbit >> 3] |= 1 << (pbit & 7)
    return {"m": m, "b64": base64.b64encode(bytes(bits)).decode("ascii")}


def _bloom_build(file_path: str, key: str) -> dict | None:
    """Key Bloom filter of a freshly-written delta file (tombstone rows
    included — their keys are delta rows too), read back with pyarrow as
    one column of a local file the publish just wrote. None above the
    size cap, for non-int/str keys, when disabled
    (``SPARK_GRAFT_SINK_BLOOM=off``), or on any read trouble — the
    reader then falls back to range-only pruning."""
    if os.environ.get("SPARK_GRAFT_SINK_BLOOM", "on") == "off":
        return None
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(file_path)
        n = pf.metadata.num_rows  # footer first: an over-cap delta costs
        if n == 0 or n > _bloom_max_keys():  # no column read at all
            return None
        tbl = pf.read(columns=[key])
        return _bloom_from_values(tbl.column(0).to_pylist())
    except Exception:
        return None  # like key ranges: an optimization, never a failure


def _bloom_contains(bloom: dict, key) -> bool:
    """Membership probe; True (possibly-present) on any doubt."""
    try:
        m = int(bloom["m"])
        bits = base64.b64decode(bloom["b64"])
        pos = _bloom_positions(key, m)
        if pos is None:
            return True
        return all(bits[p >> 3] & (1 << (p & 7)) for p in pos)
    except Exception:
        return True


def _delta_may_contain(rng, bloom, probe_keys) -> bool:
    """Can this delta file hold any probe key? Range check first (footer
    stats), then the Bloom filter over the in-range probes. Missing
    metadata keeps the conservative answer; a TypeError from mixed key
    types propagates to the caller's never-skip-on-a-guess handler."""
    if rng is not None:
        in_range = [k for k in probe_keys if rng[0] <= k <= rng[1]]
        if not in_range:
            return False
    else:
        in_range = list(probe_keys)
    if bloom is None:
        return True
    return any(_bloom_contains(bloom, k) for k in in_range)


def _snapshot_path(path: str, version: int) -> str:
    return os.path.join(path, f"{SNAPSHOT_PREFIX}{version:08d}.json")


def _snapshot_versions(path: str) -> list[int]:
    """Retained time-travel versions, ascending."""
    out = []
    for f in os.listdir(path):
        if f.startswith(SNAPSHOT_PREFIX) and f.endswith(".json"):
            try:
                out.append(int(f[len(SNAPSHOT_PREFIX) : -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def _bump_version(manifest: dict, now: float) -> None:
    manifest["version"] = int(manifest.get("version", 0)) + 1
    manifest["ts"] = now


def _write_snapshot(
    path: str, manifest: dict, schema: StructType | None = None
) -> None:
    """Write the version's immutable snapshot sidecar (live file set plus
    the schema the version was PUBLISHED under — garbage bookkeeping stays
    in the current manifest). Called only AFTER ``_write_manifest`` commits
    the version: a snapshot must never exist for a version the manifest
    never reached, or time travel would serve uncommitted state (a crash or
    a broken-lock abort between a premature stamp and the manifest write
    would leave exactly such a phantom). The inverse crash — manifest
    committed, snapshot not yet written — degrades cleanly: that version
    reads "not retained" and history simply has a gap.

    Snapshots are what make old versions readable: ``_vacuum`` keeps any
    data file a retained snapshot references, so a time-travel reader gets
    the same grace-window contract as a current-manifest reader, and an
    expired version degrades to a clean "version not retained" error, never
    a partial scan. The embedded schema gives a time-travel read the
    version's OWN column set (Delta semantics) instead of the current one."""
    snap = {
        "version": manifest["version"],
        "ts": manifest["ts"],
        "live": manifest["live"],
        # the MoR delta ledger AS OF this version: lets a time-travel read
        # confine reconciliation to delta-carrying buckets, same as a
        # current read (absent in pre-ledger snapshots → full resolve)
        "mor": manifest.get("mor", {}),
        # per-delta key ranges AS OF this version (point-lookup skip)
        "mor_stats": manifest.get("mor_stats", {}),
        # per-delta key Bloom filters AS OF this version (same skip, for
        # probes inside a delta's range but absent from it)
        "mor_bloom": manifest.get("mor_bloom", {}),
        # per-delta-file PARTIAL column lists AS OF this version: a
        # time-travel read (and the change feed's per-version resolved
        # states) must fold partial deltas with the same masks a current
        # read would
        "mor_cols": manifest.get("mor_cols", {}),
        # application commit metadata AS OF this version (Delta txn-style):
        # a downstream consumer auditing its cursor history can read the
        # value each retained version committed with
        "app": manifest.get("app", {}),
    }
    if schema is not None:
        snap["schema"] = schema.jsonValue()
    try:
        layout = _read_layout(path)
        # pin the bucketing function (key column + bucket count) the
        # version was published under: a point lookup composing keys= with
        # version= computes its restrict buckets from the CURRENT layout,
        # which is only sound while every retained version shares it —
        # true today because re-initialization deletes all snapshots, and
        # now ASSERTED at read time instead of assumed (see
        # read_keyed_table)
        snap["layout"] = {"key": layout["key"], "n_buckets": layout["n_buckets"]}
    except (FileNotFoundError, KeyError):
        pass  # legacy/plain table without a layout sidecar
    tmp = os.path.join(path, f".snap.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(snap, f)
    os.replace(tmp, _snapshot_path(path, manifest["version"]))


def _expire_snapshots(path: str) -> None:
    """Unlink snapshots beyond the retention window. Runs only after the
    publish that displaced them COMMITTED (manifest written): expiring
    before the commit point would permanently delete retained time-travel
    versions for a publish that then aborts or crashes."""
    for v in _snapshot_versions(path)[: -_keep_versions()]:
        try:
            os.unlink(_snapshot_path(path, v))
        except FileNotFoundError:
            pass


def _snapshot_referenced(path: str, only: set[int] | None = None) -> set[str]:
    """Relative data-file paths referenced by any RETAINED snapshot — the
    set vacuum must never delete while those versions are readable.
    ``only`` restricts the sweep to the given versions (used by ``_publish``
    to pin against the set that will remain retained after it commits)."""
    refs: set[str] = set()
    for v in _snapshot_versions(path):
        if only is not None and v not in only:
            continue
        try:
            with open(_snapshot_path(path, v)) as f:
                snap = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        refs.update(f"{d}/{x}" for d, fs in snap["live"].items() for x in fs)
    return refs


def _write_manifest(path: str, manifest: dict) -> None:
    """Atomic replace — a reader sees the old or the new manifest, never a
    torn one."""
    tmp = os.path.join(path, f".{MANIFEST_FILE}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST_FILE))


def _bucket_dirs(path: str) -> list[str]:
    return [
        d
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=") and os.path.isdir(os.path.join(path, d))
    ]


def _manifest_from_listing(path: str) -> dict:
    """Bootstrap a manifest from the directory layout (initial load, or a
    legacy table written before manifests existed). The version counter
    resumes PAST any snapshot still on disk: reusing a number would make
    the next publish overwrite an existing version's immutable snapshot
    (and confuse the predictive retention pin in ``_publish``). This
    protects the legacy-table bootstrap path, where snapshots survive; on
    ``write_keyed_table``'s re-initialization path the overwrite has
    already deleted them, so THAT caller captures the counter before the
    overwrite and resumes from it."""
    live = {
        d: sorted(
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        )
        for d in _bucket_dirs(path)
    }
    versions = _snapshot_versions(path)
    return {"live": live, "garbage": [], "version": max(versions, default=0)}


def _publish(
    path: str,
    tmp: str,
    affected_dirs: list[str],
    based_on: dict | None = None,
    schema: StructType | None = None,
    append_only: bool = False,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
    cdc_staged: str | None = None,
    partial_cols: list[str] | None = None,
) -> StructType | None:
    """Move the rewritten buckets' files from ``tmp`` into the live tree
    under fresh unique names, then atomically point the manifest at them.
    The files a reader may currently hold are NEVER touched here — they are
    queued as timestamped garbage and deleted by ``_vacuum`` only after the
    grace window.

    ``append_only`` (the merge-on-read delta publish): the staged files
    EXTEND each affected bucket's live list instead of replacing it, and
    nothing becomes garbage — the bucket's prior files stay live and the
    read-side ``_resolve`` supersedes their matched rows by ``_seq``.
    Lock, per-bucket conflict check, version bump, snapshot, and vacuum
    semantics are identical. Delta files are additionally recorded in the
    manifest's ``mor`` ledger (``{bucket_dir: [delta files]}``); a replace
    publish of a bucket (CoW upsert, compaction) clears its ledger entry.

    Returns the FINAL pinned schema for this commit — ``schema`` with the
    ``_seq`` field forced present iff the ledger is non-empty after this
    publish. A CoW writer cannot decide this from its own output: deltas
    may stay live in buckets it never touched, and dropping ``_seq`` from
    the pinned schema would silently skip their read-time reconciliation
    (duplicate keys). Conversely, once the ledger empties, keeping
    ``_seq`` would tax every later read with a useless reconciliation
    window. Both the snapshot written here and the caller's layout
    rewrite must use the returned schema.

    Concurrency: the manifest read-modify-write runs under an exclusive
    lock, and ``based_on`` (the manifest snapshot this write's MERGE was
    computed from) is compared per affected bucket against the CURRENT
    manifest — per-bucket optimistic concurrency. A concurrent writer that
    touched a DISJOINT bucket set is preserved (this write applies onto the
    current manifest, not its snapshot); one that rewrote an overlapping
    bucket makes this merge stale, so it aborts with ConcurrentWriteError
    before any manifest change (the staged files in ``tmp`` are simply
    discarded by the caller) — conflicting commits are detected and
    rejected, never silently last-writer-wins.

    All rewritten buckets land in the SAME manifest replace: the upsert is
    one cross-bucket table snapshot, not a per-bucket sequence. The
    in-lock work is O(affected buckets) renames plus one manifest write —
    milliseconds; the O(n_buckets) vacuum file sweep runs AFTER the lock
    is released (at 400k buckets an in-lock sweep would outlive
    LOCK_STALE_SECONDS and invite a legitimate-looking lock break)."""
    with _publish_lock(path) as lk:
        manifest = _read_manifest(path) or _manifest_from_listing(path)
        if based_on is not None:
            for d in affected_dirs:
                if manifest["live"].get(d, []) != based_on["live"].get(d, []):
                    raise ConcurrentWriteError(
                        f"bucket {d} was rewritten concurrently; retry the "
                        "upsert against the new table state"
                    )
        if app_meta_expect is not None:
            # application-level optimistic concurrency (Delta's txn action):
            # the commit applies only if the named app-meta keys still hold
            # the values this write was computed FROM. This is what makes a
            # change-feed fold exactly-once — two folds racing from the same
            # cursor cannot both commit even when they touch DISJOINT
            # buckets (the per-bucket check above can't see that conflict).
            # Checked before any live-tree mutation, so an abort leaves no
            # strays.
            app_now = manifest.get("app", {})
            for k, v in app_meta_expect.items():
                if app_now.get(k) != v:
                    raise ConcurrentWriteError(
                        f"app meta {k!r} is {app_now.get(k)!r}, expected "
                        f"{v!r}; the state this write was computed from has "
                        "been superseded — recompute and retry"
                    )
        now = time.time()
        mor_key = None
        if append_only:
            try:
                mor_key = _read_layout(path)["key"]
            except (FileNotFoundError, KeyError):
                mor_key = None  # no layout: no stats, reads stay correct
        for d in affected_dirs:
            src_dir = os.path.join(tmp, d)
            new_files = []
            if os.path.isdir(src_dir):
                os.makedirs(os.path.join(path, d), exist_ok=True)
                gen = uuid.uuid4().hex[:8]
                for i, f in enumerate(
                    sorted(x for x in os.listdir(src_dir) if x.endswith(".parquet"))
                ):
                    name = f"gen-{gen}-{i:05d}.parquet"
                    dst = os.path.join(path, d, name)
                    os.rename(os.path.join(src_dir, f), dst)
                    # rename PRESERVES the staging write's mtime — a merge
                    # whose Spark job outlived the GC grace would publish
                    # files that already look past-grace to a concurrent
                    # writer's out-of-lock stray sweep (which works from
                    # ITS manifest snapshot and would delete them). Stamp
                    # publish time so "fresh" means published-recently,
                    # which is the property the sweep's safety rests on.
                    os.utime(dst)
                    new_files.append(name)
            if append_only:
                manifest["live"][d] = manifest["live"].get(d, []) + new_files
                if new_files:
                    mor = manifest.setdefault("mor", {})
                    mor[d] = mor.get(d, []) + new_files
                    if partial_cols is not None:
                        # partial-column delta: record which data columns
                        # these files CARRY, so the masked reader can
                        # distinguish "absent" from "set to null"
                        cols_ledger = manifest.setdefault(
                            "mor_cols", {}
                        ).setdefault(d, {})
                        for name in new_files:
                            cols_ledger[name] = list(partial_cols)
                    # per-delta-file key min/max (parquet footer stats —
                    # no data pages read): lets a point lookup whose probe
                    # keys overlap NO delta range treat the bucket as
                    # clean, skipping the reconciliation window entirely
                    # (the MoR read-tax pruning, r9 advisory #7)
                    if mor_key is not None:
                        stats = manifest.setdefault("mor_stats", {}).setdefault(
                            d, {}
                        )
                        for name in new_files:
                            rng = _parquet_key_range(
                                os.path.join(path, d, name), mor_key
                            )
                            if rng is not None:
                                stats[name] = rng
                            # per-delta key Bloom (round 11): catches the
                            # probe that falls INSIDE a delta's key range
                            # but isn't in the delta — the residual read
                            # tax range pruning can't touch
                            bl = _bloom_build(
                                os.path.join(path, d, name), mor_key
                            )
                            if bl is not None:
                                manifest.setdefault(
                                    "mor_bloom", {}
                                ).setdefault(d, {})[name] = bl
            else:
                for old in manifest["live"].get(d, []):
                    manifest["garbage"].append({"rel": f"{d}/{old}", "ts": now})
                manifest["live"][d] = new_files
                # a full bucket rewrite folds/supersedes its deltas
                manifest.get("mor", {}).pop(d, None)
                manifest.get("mor_stats", {}).pop(d, None)
                manifest.get("mor_cols", {}).pop(d, None)
                manifest.get("mor_bloom", {}).pop(d, None)
        if app_meta:
            manifest.setdefault("app", {}).update(app_meta)
        _bump_version(manifest, now)
        if cdc_staged is not None:
            # write-time change capture (Delta CDF's _change_data): move the
            # staged per-version change rows next to the data they describe
            # and record them in the SAME manifest commit. An empty capture
            # ("" or an empty staging dir — compaction, empty-batch cursor
            # commits) records [], which tells the feed reader "this version
            # changed nothing" without opening a file.
            cdc_names = []
            if cdc_staged:
                dst_dir = os.path.join(path, CDC_DIR)
                os.makedirs(dst_dir, exist_ok=True)
                gen = uuid.uuid4().hex[:8]
                staged = sorted(
                    f
                    for f in (
                        os.listdir(cdc_staged)
                        if os.path.isdir(cdc_staged)
                        else []
                    )
                    if f.endswith(".parquet")
                )
                for i, f in enumerate(staged):
                    name = f"v{manifest['version']}-{gen}-{i:05d}.parquet"
                    dst = os.path.join(dst_dir, name)
                    os.rename(os.path.join(cdc_staged, f), dst)
                    os.utime(dst)  # same fresh-publish stamp as data files
                    cdc_names.append(name)
            manifest.setdefault("cdc", {})[str(manifest["version"])] = cdc_names
        # prune garbage entries from the manifest while we hold the lock
        # (cheap, O(garbage + K snapshots)); their files are unlinked below,
        # outside the lock. A file stays garbage — undeleted AND tracked —
        # while past-grace but still referenced by a retained snapshot:
        # time travel must keep it readable, and dropping it from the
        # garbage list would orphan it until the stray sweep. The reference
        # set is the snapshots that will REMAIN retained after this publish
        # commits (existing + the new version, last K) — computed
        # predictively, so a version expiring in this publish stops pinning
        # its files now, while the destructive expiry itself still runs
        # only post-commit (an abort must not have deleted retained
        # versions; the deletable list is discarded on abort too). A crash
        # between the manifest write and the unlinks leaves unreferenced
        # stray files — the stray sweep reclaims them.
        grace = _gc_grace_seconds()
        retained_after = set(
            (_snapshot_versions(path) + [manifest["version"]])[-_keep_versions() :]
        )
        snap_refs = _snapshot_referenced(path, only=retained_after)
        # files whose ONLY pin was a snapshot expiring in this publish get
        # their grace clock RESTARTED at expiry (ts reset below): the
        # documented contract is "retained window PLUS the grace window
        # after the version expires", and a pinned reader mid-scan when
        # its version drops out must get the same grace as any other
        # reader (with grace 0 they free in this publish, as before)
        prev_refs = _snapshot_referenced(path)
        # CDC sidecar entries for versions no longer retained are dead (the
        # feed requires both endpoints retained): queue their files through
        # the same garbage/grace pipeline BEFORE the deletable computation
        # below, so grace-0 reclaims them in this publish
        for v in [
            v for v in manifest.get("cdc", {}) if int(v) not in retained_after
        ]:
            for f in manifest["cdc"].pop(v):
                manifest["garbage"].append({"rel": f"{CDC_DIR}/{f}", "ts": now})
        deletable, kept = [], []
        for g in manifest["garbage"]:
            if g["rel"] in snap_refs:
                kept.append(g)
            elif g["rel"] in prev_refs:  # just unpinned by this expiry
                if grace <= 0:
                    deletable.append(g)
                else:
                    kept.append({**g, "ts": now})
            elif now - g["ts"] >= grace:
                deletable.append(g)
            else:
                kept.append(g)
        manifest["garbage"] = kept
        if schema is not None:
            schema = _with_seq_field(schema, bool(manifest.get("mor")))
        lk.verify_owned()  # see verify_owned: no write with a broken lock
        _write_manifest(path, manifest)
        # COMMIT POINT. Only now publish the version's time-travel snapshot
        # and expire displaced ones: an abort/crash above must never leave
        # a phantom snapshot (uncommitted version readable) nor have
        # destroyed retained versions for a publish that never happened.
        _write_snapshot(path, manifest, schema)
        _expire_snapshots(path)
    _vacuum(path, manifest, deletable)
    return schema


def _vacuum(path: str, manifest: dict, deletable: list | None = None) -> None:
    """Physically delete (a) ``deletable`` garbage (already dropped from the
    manifest by the caller, under the lock) and (b) stray files no manifest
    references (crash leftovers) past the grace window.

    Runs OUTSIDE the publish lock — it only unlinks files, never touches
    the manifest. The stray sweep is safe against concurrent publishers:
    a publisher renames files in with a fresh write mtime (< grace, so the
    sweep skips them) and only retires files that are live in ``manifest``
    (so they are in the referenced set here)."""
    grace = _gc_grace_seconds()
    now = time.time()
    for g in deletable or []:
        try:
            os.unlink(os.path.join(path, g["rel"]))
        except FileNotFoundError:
            pass
    referenced = (
        {f"{d}/{f}" for d, files in manifest["live"].items() for f in files}
        | {g["rel"] for g in manifest["garbage"]}
        | _snapshot_referenced(path)  # time-travel-readable versions
    )
    referenced |= {
        f"{CDC_DIR}/{f}"
        for files in manifest.get("cdc", {}).values()
        for f in files
    }
    sweep_dirs = _bucket_dirs(path)
    if os.path.isdir(os.path.join(path, CDC_DIR)):
        sweep_dirs = sweep_dirs + [CDC_DIR]
    for d in sweep_dirs:
        for f in os.listdir(os.path.join(path, d)):
            rel = f"{d}/{f}"
            full = os.path.join(path, d, f)
            if (
                f.endswith(".parquet")
                and rel not in referenced
                and now - os.path.getmtime(full) >= grace
            ):
                try:
                    os.unlink(full)
                except FileNotFoundError:
                    pass


def write_keyed_table(
    df: DataFrame,
    path: str,
    key: str = "person_id",
    n_buckets: int = DEFAULT_BUCKETS,
    app_meta: dict | None = None,
) -> None:
    """Initial load of a keyed table in the bucketed-merge layout. The bucket
    function (key column + bucket count) and the unified column schema are
    TABLE properties, persisted in a sidecar so later upserts can never
    diverge from the layout and schema evolution stays metadata-only.

    ``app_meta`` rides the initial commit (see ``upsert_parquet``) — a
    bootstrap that records its source cursor atomically with the data."""
    if any(c in df.columns for c in RESERVED_COLS):
        raise ValueError(f"columns {RESERVED_COLS} are reserved by the sink")
    # capture the version counter BEFORE the overwrite deletes the table
    # root (snapshots included): a re-initialized table resumes PAST any
    # version it ever published, so an external consumer that recorded
    # version numbers (or a pinned reader about to fail) never sees a
    # number reused for different content
    prior_version = (
        max(_snapshot_versions(path), default=0) if os.path.isdir(path) else 0
    )
    bucketed = _with_bucket(df, key, n_buckets)
    bucketed.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    schema = _table_schema(bucketed)
    _write_layout(path, key, n_buckets, schema)
    manifest = _manifest_from_listing(path)
    manifest["version"] = max(int(manifest.get("version", 0)), prior_version)
    if app_meta:
        manifest["app"] = dict(app_meta)
    _bump_version(manifest, time.time())  # a fresh table's initial load is v1
    _write_manifest(path, manifest)
    _write_snapshot(path, manifest, schema)  # post-commit, like _publish


def _resolved_state(
    spark: SparkSession,
    path: str,
    schema: StructType | None,
    manifest: dict | None,
    layout: dict | None,
    restrict: list | None = None,
    probe_map: dict[int, list] | None = None,
) -> DataFrame:
    """The table's RESOLVED user-visible state as of ``manifest`` (current
    or a time-travel snapshot), confined to ``restrict`` bucket ids when
    given; internal columns dropped. Under merge-on-read the
    reconciliation window is confined to DELTA-CARRYING buckets: clean
    buckets stay a bare columnar scan (no exchange, filter pushdown
    intact — Catalyst pushes a caller's filters into both union
    children). At scale this is the Hudi read-optimized/realtime split
    per file group: the read tax is O(dirty buckets), set by compaction
    cadence, not O(table)."""
    df = _read_live(spark, path, schema, buckets=restrict, manifest=manifest)
    if SEQ_COL in df.columns:
        # merge-on-read reconciliation (per-key latest delta wins); the
        # supersession column is internal and never reaches callers
        key = layout["key"] if layout else None  # no layout → no MoR delta
        if key is not None and manifest is not None and "mor" in manifest:
            ledger = manifest.get("mor") or {}
            dirty_dirs = sorted(ledger)
            clean_ids = [
                int(d.split("=", 1)[1])
                for d in manifest["live"]
                if d not in ledger
            ]
            if restrict is not None:  # point lookup: only looked-up buckets
                keep = set(restrict)
                clean_ids = [b for b in clean_ids if b in keep]
                dirty_dirs = [
                    d for d in dirty_dirs if int(d.split("=", 1)[1]) in keep
                ]
            skipped_base_files: list[str] = []
            if probe_map is not None and dirty_dirs:
                # MoR read-tax pruning: a dirty bucket none of whose delta
                # files' key [min, max] ranges (footer stats recorded at
                # publish, ledger "mor_stats") can contain a probe key is
                # CLEAN for this lookup — its probed keys have no delta
                # row and no tombstone, so its BASE FILES alone are their
                # current state (the caller's key filter drops every other
                # key; the delta files are not even opened). Conservative:
                # a delta file without stats, or an incomparable key type,
                # keeps its bucket dirty.
                stats = manifest.get("mor_stats") or {}
                blooms = manifest.get("mor_bloom") or {}
                still_dirty = []
                for d in dirty_dirs:
                    st = stats.get(d) or {}
                    bl = blooms.get(d) or {}
                    # only this BUCKET's probes: testing the whole probe
                    # list against every file compounds the Bloom
                    # false-positive rate |probes|-fold
                    bucket_probes = probe_map.get(
                        int(d.split("=", 1)[1]), []
                    )
                    try:
                        overlap = any(
                            _delta_may_contain(
                                st.get(f), bl.get(f), bucket_probes
                            )
                            for f in ledger[d]
                        )
                    except TypeError:
                        overlap = True  # mixed types: never skip on a guess
                    if overlap:
                        still_dirty.append(d)
                    else:
                        delta = set(ledger[d])
                        skipped_base_files.extend(
                            os.path.join(path, d, f)
                            for f in manifest["live"].get(d, [])
                            if f not in delta
                        )
                dirty_dirs = still_dirty
            clean = _read_live(
                spark, path, schema, buckets=clean_ids, manifest=manifest
            )
            if skipped_base_files:
                clean = clean.unionByName(
                    _read_files(spark, path, schema, skipped_base_files)
                )
            if dirty_dirs:
                # _resolve consumes _tombstone on the resolved side; base
                # rows carry it only as an all-null pinned column — drop
                # for a matching union shape. allowMissingColumns: the
                # partial-delta fold path returns resolved user rows
                # without the internal _seq/_bucket columns (null-filled
                # here, dropped below either way).
                df = clean.drop(TOMBSTONE_COL).unionByName(
                    _resolve_dirty(
                        spark, path, schema, manifest, key, dirty_dirs
                    ),
                    allowMissingColumns=True,
                )
            else:
                # every dirty bucket was excluded (restrict and/or the
                # delta-range skip): a bare pruned scan, no window planned
                df = clean
        elif key is not None:
            # pre-ledger snapshot/manifest: no per-bucket knowledge —
            # resolve the whole read (always correct)
            df = _resolve(df, key)
    return df.drop(BUCKET_COL, SEQ_COL, TOMBSTONE_COL)


def _mor_broadcast_max() -> int:
    """``SPARK_GRAFT_MOR_BROADCAST_MAX``: largest total DELTA-file bytes
    (parquet, per read) reconciled via the broadcast anti-join plan; above
    it the read falls back to the full per-key window over dirty buckets.
    The broadcast is delta KEYS only, so the driver/executor memory is a
    fraction of this figure."""
    return int(os.environ.get("SPARK_GRAFT_MOR_BROADCAST_MAX", str(64 << 20)))


def _read_files(
    spark: SparkSession, path: str, schema: StructType | None, files: list[str]
) -> DataFrame:
    if not files:
        empty_schema = schema or StructType([StructField(BUCKET_COL, LongType())])
        return spark.createDataFrame([], empty_schema)
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.option("basePath", path).parquet(*files)


def _resolve_dirty(
    spark: SparkSession,
    path: str,
    schema: StructType | None,
    manifest: dict,
    key: str,
    dirty_dirs: list[str],
) -> DataFrame:
    """Reconciled state of the DELTA-CARRYING buckets. Two plans:

    * **Broadcast anti-join** (deltas small — the CDC case): the ledger
      splits each dirty bucket's live files into base vs delta; base rows
      whose key appears in ANY delta row are superseded (an anti-join
      against the broadcast delta key set — tombstoned keys included, so
      deletes can't resurrect), and the per-key window runs over DELTA
      ROWS ONLY. The base side is never shuffled: a maintenance append of
      k rows costs readers O(k) window work + a broadcast, not an
      O(bucket-rows) key exchange per action. This is what makes
      write-then-reread loops (run_incremental's three publishes with
      interleaved phase reads) affordable under MoR.
    * **Full window** (deltas above ``SPARK_GRAFT_MOR_BROADCAST_MAX``, or
      ledger files unreadable): the always-correct per-key window over
      all dirty-bucket rows.

    When any dirty bucket carries PARTIAL-column deltas (``mor_cols``
    ledger), the supersession is per COLUMN, not per row — the same two
    plans with the fold swapped in: the broadcast plan folds (delta rows ∪
    the delta-MATCHED base rows) — a base row touched by a partial delta
    still supplies its unmasked columns, so unlike the full-width plan it
    must ENTER the fold rather than being anti-joined away (one extra
    key-pruned pass over the dirty buckets' base files; the fold's
    shuffle stays O(delta keys)); the fallback folds everything."""
    ledger = manifest.get("mor") or {}
    delta_files = [
        os.path.join(path, d, f) for d in dirty_dirs for f in ledger[d]
    ]
    base_by_dir = {
        d: [
            f
            for f in manifest["live"].get(d, [])
            if f not in set(ledger[d])
        ]
        for d in dirty_dirs
    }
    base_files = [
        os.path.join(path, d, f) for d, fs in base_by_dir.items() for f in fs
    ]
    try:
        delta_bytes = sum(os.path.getsize(f) for f in delta_files)
    except OSError:
        delta_bytes = None  # raced a GC — take the manifest-listed path
    partial = _dirty_has_partial(manifest, dirty_dirs)
    if delta_bytes is not None and delta_bytes <= _mor_broadcast_max():
        if not partial:
            delta = _read_files(spark, path, schema, delta_files)
            base = _read_files(spark, path, schema, base_files)
            superseded = delta.select(key).distinct()
            base = base.join(F.broadcast(superseded), on=key, how="anti")
            return base.drop(TOMBSTONE_COL).unionByName(_resolve(delta, key))
        delta = _read_files_masked(
            spark, path, schema, manifest, dirty_dirs, files_by_dir=ledger
        )
        base = _read_files(spark, path, schema, base_files)
        dkeys = delta.select(key).distinct()
        untouched = base.join(F.broadcast(dkeys), on=key, how="anti")
        matched = base.join(F.broadcast(dkeys), on=key, how="semi")
        folded = _fold_resolve(
            matched.withColumn(
                MASK_COL, F.lit(None).cast("array<string>")
            ).unionByName(delta),
            key,
        )
        return untouched.drop(TOMBSTONE_COL).unionByName(
            folded, allowMissingColumns=True
        )
    dirty_ids = [int(d.split("=", 1)[1]) for d in dirty_dirs]
    if partial:
        return _fold_resolve(
            _read_files_masked(spark, path, schema, manifest, dirty_dirs), key
        )
    dirty = _read_live(spark, path, schema, buckets=dirty_ids, manifest=manifest)
    return _resolve(dirty, key)


#: largest key list served by an In-filter before the point-lookup read
#: switches to a broadcast semi-join (same adaptive pattern as the search
#: index's term filter): a multi-thousand-element In expression bloats the
#: plan and defeats codegen, while a broadcast join stays O(|keys|) map-side
LOOKUP_ISIN_MAX = 256


def _lookup_buckets(
    spark: SparkSession, keys: list, key: str, key_type, n_buckets: int
) -> dict[int, list]:
    """Probe keys grouped by the bucket id they hash to — computed
    IN-ENGINE (one |keys|-row local-relation job) so the bucketing
    function has exactly one definition (`_with_bucket`'s xxhash64/pmod);
    a driver-side Python reimplementation would silently diverge on hash
    semantics. The collect returns the caller's own key list back (plus a
    bucket id each), so it is bounded by what the caller already held.
    Per-bucket grouping matters to the Bloom skip: testing every probe
    against every delta file compounds the per-key false-positive rate
    |probes|-fold; each file only ever sees the probes that can actually
    live in its bucket."""
    kdf = spark.createDataFrame(
        [(k,) for k in keys], StructType([StructField(key, key_type, False)])
    )
    rows = _with_bucket(kdf, key, n_buckets).select(BUCKET_COL, key).collect()
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r[0]), []).append(r[1])
    return out


def read_keyed_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    keys: list | None = None,
) -> DataFrame:
    """Read back without the layout column; ``version`` time-travels to a
    retained published version (``table_history`` lists them).

    Reads with the PINNED unified schema from the sidecar: schema evolution
    rewrites only the buckets an upsert touches, so older buckets lack
    later-added columns in their footers — an inferred read (which samples
    files) could silently drop such a column. The explicit schema fills it
    with nulls instead, with no mergeSchema footer sweep. A time-travel
    read uses the schema EMBEDDED in the version's snapshot — the column
    set the table had when that version was published (Delta semantics:
    reading v1 does not show columns added in v2). Snapshots written
    before schema embedding existed fall back to the current pinned schema
    (later-added columns read as nulls).

    A time-travel scan holds the same contract as a current-manifest scan:
    its files stay on disk while the version is retained (vacuum never
    deletes snapshot-referenced files) plus the GC grace window after the
    version expires.

    ``keys`` is the POINT-LOOKUP path: only the buckets those keys hash to
    are read at all (manifest-level pruning — at production bucket counts
    a k-key lookup opens ≤k buckets, not the table), the key predicate is
    pushed into the parquet scan (In-filter for small lists, broadcast
    semi-join beyond ``LOOKUP_ISIN_MAX``), and under merge-on-read only
    the looked-up buckets that actually carry deltas pay the
    reconciliation window. Composes with ``version``. This is the serving
    shape: O(|keys| buckets) I/O regardless of table size."""
    try:
        layout = _read_layout(path)
        schema = _stored_schema(layout)
    except FileNotFoundError:  # plain bucketed parquet without a sidecar
        layout, schema = None, None
    restrict = None  # bucket ids the read is confined to (None = all)
    if keys is not None:
        if layout is None:
            raise ValueError(
                f"point lookup requires a keyed layout sidecar at {path}"
            )
        if not keys:
            raise ValueError("keys must be a non-empty list (or None)")
        lkey, n_buckets = layout["key"], int(layout["n_buckets"])
        key_type = (
            (schema[lkey].dataType if schema and lkey in schema.names else None)
            or StringType()
        )
        probe_map = _lookup_buckets(spark, keys, lkey, key_type, n_buckets)
        restrict = sorted(probe_map)
    manifest = None
    if version is not None:
        try:
            with open(_snapshot_path(path, version)) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            retained = _snapshot_versions(path)
            raise ValueError(
                f"version {version} is not retained at {path}; retained "
                f"versions: {retained} (SPARK_GRAFT_SINK_KEEP_VERSIONS="
                f"{_keep_versions()})"
            ) from None
        if manifest.get("schema"):
            schema = StructType.fromJson(manifest["schema"])
        if keys is not None and manifest.get("layout") is not None:
            # keys= computed its restrict buckets from the CURRENT layout;
            # that composition is sound only if this version was published
            # under the same bucketing function. Holds by construction
            # (re-initialization deletes all snapshots, and key/n_buckets
            # are immutable table properties) — asserted rather than
            # assumed, per the invariant pinned in _write_snapshot.
            snap_layout = manifest["layout"]
            if (
                snap_layout.get("key") != layout["key"]
                or int(snap_layout.get("n_buckets", -1))
                != int(layout["n_buckets"])
            ):
                raise ValueError(
                    f"version {version} was published under layout "
                    f"{snap_layout}, but the current layout is "
                    f"{{'key': {layout['key']!r}, 'n_buckets': "
                    f"{layout['n_buckets']}}}; point lookups cannot "
                    "compose keys= with a version published under a "
                    "different bucketing function"
                )
    if manifest is None:
        manifest = _read_manifest(path)
    df = _resolved_state(
        spark,
        path,
        schema,
        manifest,
        layout,
        restrict,
        probe_map=probe_map if keys is not None else None,
    )
    if keys is not None:
        lkey = layout["key"]
        if len(keys) <= LOOKUP_ISIN_MAX:
            # In-filter reaches the parquet scan (PushedFilters: In(key,..))
            df = df.where(F.col(lkey).isin(list(keys)))
        else:
            key_type = df.schema[lkey].dataType
            kdf = spark.createDataFrame(
                [(k,) for k in set(keys)],
                StructType([StructField(lkey, key_type, False)]),
            )
            df = df.join(F.broadcast(kdf), on=lkey, how="semi")
    return df


def current_version(path: str) -> int:
    """Version of the table's latest committed publish (0 for a table with
    no manifest yet). The pin for a maintenance-invisible read:
    ``read_keyed_table(spark, path, version=current_version(path))`` keeps
    serving this exact state across later upserts — including the
    invalidate→recompute window of ``pipeline.run_incremental`` — for as
    long as the version stays retained (``SPARK_GRAFT_SINK_KEEP_VERSIONS``)
    plus the GC grace window after it expires."""
    manifest = _read_manifest(path)
    return int(manifest.get("version", 0)) if manifest else 0


def table_app_meta(path: str) -> dict:
    """Application metadata of the latest committed publish (empty for a
    table that never committed any). Written atomically WITH the commit
    (``app_meta=`` on ``write_keyed_table``/``upsert_parquet``), so a
    consumer cursor stored here can never disagree with the data it
    describes — the Delta ``txn`` pattern for exactly-once folds."""
    manifest = _read_manifest(path)
    return dict(manifest.get("app", {})) if manifest else {}


def table_history(path: str) -> list[dict]:
    """Retained versions, oldest first: ``[{version, ts, n_files}]`` —
    the sink's answer to ``DESCRIBE HISTORY``. O(retained versions)."""
    out = []
    for v in _snapshot_versions(path):
        try:
            with open(_snapshot_path(path, v)) as f:
                snap = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            continue
        out.append(
            {
                "version": snap["version"],
                "ts": snap["ts"],
                "n_files": sum(len(fs) for fs in snap["live"].values()),
            }
        )
    return out


#: change-feed marker column; values: insert / delete / update_preimage /
#: update_postimage (Delta CDF's vocabulary — downstream consumers expect it)
CHANGE_TYPE_COL = "_change_type"


def _version_manifest(path: str, version: int) -> dict:
    try:
        with open(_snapshot_path(path, version)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"version {version} is not retained at {path}; retained "
            f"versions: {_snapshot_versions(path)} "
            f"(SPARK_GRAFT_SINK_KEEP_VERSIONS={_keep_versions()})"
        ) from None


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Change data feed: every key whose resolved value differs between two
    retained versions, as rows carrying ``_change_type`` in
    ``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``
    (Delta CDF's row shape — preimage+postimage pairs for updates, so a
    downstream incremental aggregate can retract-then-apply). This is what
    turns the sink into a PIPELINE SOURCE: a consumer remembers the last
    version it saw and folds ``read_changes(last, current)`` instead of
    re-scanning the table — the same contract ``pipeline.run_incremental``
    offers upstream, now available downstream of every keyed table.

    Scale shape, three tiers. (0) WRITE-TIME CAPTURE (Delta CDF's
    ``_change_data``): EVERY publish — MoR delta append or CoW bucket
    rewrite — records its pre/postimage rows in a per-version sidecar
    (the merge already holds both for free; deletes pay one
    key-restricted preimage read; ``SPARK_GRAFT_SINK_CDC=off`` opts out)
    — a window whose every version captured is served by netting
    first-preimage/last-postimage per key over the sidecar rows,
    O(changed rows), no table file opened, regardless of write mode.
    (1) Otherwise the diff is
    BUCKET-CONFINED — a bucket whose live file list is identical in both
    snapshots cannot contain a change and is never opened — and a changed
    bucket whose file list only EXTENDED by MoR delta files takes the
    APPEND FAST PATH (Hudi incremental query: the log suffix IS the
    change capture): changed keys are exactly the suffix files' keys, the
    after-state resolves within the suffix alone (suffix ``_seq`` values
    are strictly newer than anything in the from-state) — or, when the
    suffix carries PARTIAL-column deltas (which never record a sidecar),
    from the key-restricted resolved state at ``to_version`` — and the
    before-state read is key-restricted (In pushdown / broadcast
    semi-join) either way: O(changed keys), never O(bucket rows).
    (2) Rewritten buckets (CoW upserts published with capture
    off, or legacy versions) take the full resolved-state diff and
    honestly pay the write path's blast radius — the state-diff fallback
    that keeps any retained window readable even without sidecars.

    Values are compared with null-safe struct equality over the UNION of
    both versions' column sets (schema evolution: a column added between
    the versions compares as null-before vs value-after, so a CoW bucket
    rewrite that only materializes the new column as all-nulls does NOT
    report phantom updates). Deletes report the preimage row.

    ``to_version=None`` means the current committed version. Both
    versions must still be retained (``SPARK_GRAFT_SINK_KEEP_VERSIONS``).

    ``columns`` SCOPES the feed (round 11): only the named value columns
    are compared and reported — a key whose scoped values are unchanged
    between the versions nets out even if other columns changed. This is
    both the semantics an incremental aggregate actually wants (changes
    in columns it doesn't fold are retract/apply noise that cancels
    anyway) and a scan-width lever: the state-diff tiers' preimage reads
    are projected BEFORE the per-key resolution, so Catalyst prunes the
    parquet scans to key + scoped columns — on a wide store the
    partial-window feed read drops from O(row width) to O(scoped width)
    bytes (plan-pinned in tests). ``None`` keeps the full-row Delta-CDF
    behavior."""
    layout = _read_layout(path)  # change feed requires a keyed table
    key = layout["key"]
    from_man = _version_manifest(path, from_version)
    if to_version is not None:
        to_man = _version_manifest(path, to_version)
    else:
        to_man = _read_manifest(path)
        if to_man is None:
            raise ValueError(f"no committed manifest at {path}")
    if int(to_man["version"]) < from_version:
        # a reversed window would silently emit an INVERTED diff (inserts
        # reported as deletes) — reject it; from == to is the legal empty
        # feed
        raise ValueError(
            f"reversed change window: from_version={from_version} > "
            f"to_version={int(to_man['version'])} at {path}"
        )
    from_schema = (
        StructType.fromJson(from_man["schema"])
        if from_man.get("schema")
        else _stored_schema(layout)
    )
    to_schema = (
        StructType.fromJson(to_man["schema"])
        if to_man.get("schema")
        else _stored_schema(layout)
    )

    def _scope(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
        """Project to key + scoped value columns (+ requested internals).
        Applied BEFORE per-key resolution/netting so the projection
        reaches the parquet scans; a scoped column absent from one
        version's schema simply drops out there (the diff null-fills)."""
        if columns is None:
            return df
        keep = [key] + [
            c for c in columns if c != key and c in df.columns
        ] + [c for c in extra if c in df.columns]
        return df.select(*keep)
    # tier 0 — write-time change capture: if EVERY version in the window
    # recorded a CDC sidecar (MoR publishes, deletes, compactions, cursor
    # commits all do; CoW merges don't), net first-preimage/last-postimage
    # per key over the sidecar rows. O(changed rows); no table file is
    # opened at all. Entries live in the CURRENT manifest and are pruned
    # in sync with version retention, so a retained window is a readable
    # window.
    cdc_map = (_read_manifest(path) or {}).get("cdc", {})
    window = [str(v) for v in range(from_version + 1, int(to_man["version"]) + 1)]
    if window and all(v in cdc_map for v in window):
        files = [
            os.path.join(path, CDC_DIR, f) for v in window for f in cdc_map[v]
        ]
        if files:
            rows = _scope(
                spark.read.option("mergeSchema", "true").parquet(*files),
                (CHANGE_TYPE_COL, CDC_VERSION_COL),
            )
            return _net_cdc(rows, key)
        # every version in the window captured "no changes"
        empty = _scope(
            _resolved_state(spark, path, to_schema, to_man, layout, [])
        )
        return _diff_states(empty, empty, key)

    from_live, to_live = from_man.get("live", {}), to_man.get("live", {})
    mor_to = to_man.get("mor", {})
    # classify each changed bucket: if the after-state file set EXTENDS the
    # before-state only by MoR delta files (pure appends since
    # from_version), the changed keys are exactly the keys in that suffix —
    # the Hudi-incremental-query fast path below diffs O(delta rows)
    # instead of two full resolved states. Rewritten buckets (CoW upsert,
    # compaction, deletes-by-rewrite) take the full state diff.
    appended, rewritten = [], []
    for d in sorted(set(from_live) | set(to_live)):
        f0, f1 = from_live.get(d, []), to_live.get(d, [])
        if sorted(f0) == sorted(f1):
            continue  # identical live list -> cannot contain a change
        s0, s1 = set(f0), set(f1)
        suffix = s1 - s0
        if s0 <= s1 and suffix and suffix <= set(mor_to.get(d, [])):
            appended.append(d)
        else:
            rewritten.append(d)
    parts = []
    if rewritten or not appended:  # also the empty diff (schema contract)
        ids = [int(d.split("=", 1)[1]) for d in rewritten]
        before = _scope(
            _resolved_state(spark, path, from_schema, from_man, layout, ids)
        )
        after = _scope(
            _resolved_state(spark, path, to_schema, to_man, layout, ids)
        )
        parts.append(_diff_states(before, after, key))
    if appended:
        suffix_by_dir = {
            d: sorted(set(to_live[d]) - set(from_live.get(d, [])))
            for d in appended
        }
        suffix_files = [
            os.path.join(path, d, f)
            for d, fs in suffix_by_dir.items()
            for f in fs
        ]
        delta = _read_files(spark, path, to_schema, suffix_files)
        ids = [int(d.split("=", 1)[1]) for d in appended]
        # the suffix's key set drives BOTH sides' key restriction. Small
        # key sets push an In-filter into the scans (composes with the
        # key-sorted compaction's row-group skipping); larger ones take a
        # broadcast semi-join. The probe job reads suffix files only.
        probe = (
            delta.select(key).distinct().limit(LOOKUP_ISIN_MAX + 1).collect()
        )

        def _key_restrict(df: DataFrame) -> DataFrame:
            if len(probe) <= LOOKUP_ISIN_MAX:
                return df.where(F.col(key).isin([r[0] for r in probe]))
            return df.join(
                F.broadcast(delta.select(key).distinct()), key, "semi"
            )

        before_all = _scope(
            _resolved_state(spark, path, from_schema, from_man, layout, ids)
        )
        before_small = _key_restrict(before_all)
        to_mor_cols = to_man.get("mor_cols") or {}
        if any(
            f in (to_mor_cols.get(d) or {})
            for d, fs in suffix_by_dir.items()
            for f in fs
        ):
            # PARTIAL deltas in the suffix: a changed key's after-state is
            # base columns + masked delta columns, so it does NOT resolve
            # within the suffix alone. Derive it from the BEFORE state the
            # feed already reads: after(key) = per-column fold of the
            # key-restricted from-state (sequence 0, full mask) with the
            # suffix's masked delta rows — suffix sequences are strictly
            # newer than anything in the from-state, so the fold
            # reproduces the to-state for exactly the changed keys with
            # ZERO additional base I/O (a resolved read at to_version
            # would re-scan the dirty buckets a second and third time —
            # measured 3 full-width scans per window on the 150M fold
            # ladder before this). This is the read-time half of the
            # partial-delta trade: these versions recorded no CDC sidecar.
            from pyspark.sql.types import BooleanType

            before_aug = (
                before_small.withColumn(SEQ_COL, F.lit(None).cast("long"))
                .withColumn(TOMBSTONE_COL, F.lit(None).cast(BooleanType()))
                .withColumn(MASK_COL, F.lit(None).cast("array<string>"))
            )
            delta_masked = _scope(
                _read_files_masked(
                    spark, path, to_schema, to_man, appended,
                    files_by_dir=suffix_by_dir,
                ).drop(BUCKET_COL),
                (SEQ_COL, TOMBSTONE_COL, MASK_COL),
            )
            after_small = _fold_resolve(
                before_aug.unionByName(delta_masked, allowMissingColumns=True),
                key,
            )
        else:
            # suffix rows carry strictly higher _seq than anything in the
            # from-state (publish versions are monotone) and are
            # full-width, so the after-state of every candidate key
            # resolves WITHIN the suffix alone — the after side never
            # opens a base file
            after_small = _scope(
                _resolve(delta, key).drop(BUCKET_COL, SEQ_COL, TOMBSTONE_COL)
            )
        parts.append(_diff_states(before_small, after_small, key))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _net_cdc(rows: DataFrame, key: str) -> DataFrame:
    """Net a window of per-version CDC sidecar rows into the feed's
    state-diff semantics: a key's BEFORE value is the before-side of its
    FIRST captured change (absent if that change was an insert), its AFTER
    value the after-side of its LAST (absent if a delete); ``_diff_states``
    then classifies — which also drops keys whose net change cancels
    (update-then-revert, insert-then-delete)."""
    from pyspark.sql import Window

    val_cols = [
        c
        for c in rows.columns
        if c not in (key, CHANGE_TYPE_COL, CDC_VERSION_COL)
    ]
    # within one version a key has one insert/delete row or a pre+post
    # pair; the side rank orders the pair under the version ordering
    side = F.when(
        F.col(CHANGE_TYPE_COL).isin("update_preimage", "delete"), F.lit(0)
    ).otherwise(F.lit(1))
    asc = Window.partitionBy(key).orderBy(
        F.col(CDC_VERSION_COL).asc(), side.asc()
    )
    desc = Window.partitionBy(key).orderBy(
        F.col(CDC_VERSION_COL).desc(), side.desc()
    )
    ranked = rows.withColumn("_rn_a", F.row_number().over(asc)).withColumn(
        "_rn_d", F.row_number().over(desc)
    )
    before = ranked.where(
        (F.col("_rn_a") == 1) & (F.col(CHANGE_TYPE_COL) != "insert")
    ).select(key, *val_cols)
    after = ranked.where(
        (F.col("_rn_d") == 1) & (F.col(CHANGE_TYPE_COL) != "delete")
    ).select(key, *val_cols)
    return _diff_states(before, after, key)


def _diff_states(before: DataFrame, after: DataFrame, key: str) -> DataFrame:
    """Delta-CDF-shaped diff of two resolved states: full-outer join on the
    key, null-safe struct compare over the UNION of both column sets
    (null-filled), one row per insert/delete and a preimage+postimage pair
    per update."""
    # align both sides on the UNION of user column sets (null-filled),
    # so adds/drops between versions diff as null-vs-value per column
    cols = [key] + sorted((set(before.columns) | set(after.columns)) - {key})
    types = {f.name: f.dataType for f in before.schema.fields}
    for f in after.schema.fields:
        types.setdefault(f.name, f.dataType)

    def _aligned(df: DataFrame, present_col: str) -> DataFrame:
        out = df
        for c in cols:
            if c not in df.columns:
                out = out.withColumn(c, F.lit(None).cast(types[c]))
        # presence marker: after the outer join an absent row and a
        # present all-null row would build the same struct of nulls
        return out.select(*cols, F.lit(True).alias(present_col))

    val_cols = [c for c in cols if c != key]
    j = _aligned(before, "_b").alias("b").join(
        _aligned(after, "_a").alias("a"), on=key, how="full_outer"
    )
    b_row = F.struct(*[F.col(f"b.{c}").alias(c) for c in val_cols])
    a_row = F.struct(*[F.col(f"a.{c}").alias(c) for c in val_cols])
    entry = lambda ct, row: F.struct(  # noqa: E731
        F.lit(ct).alias(CHANGE_TYPE_COL), row.alias("_row")
    )
    return (
        j.withColumn(
            "_entries",
            F.when(F.col("b._b").isNull(), F.array(entry("insert", a_row)))
            .when(F.col("a._a").isNull(), F.array(entry("delete", b_row)))
            .when(
                ~b_row.eqNullSafe(a_row),
                F.array(
                    entry("update_preimage", b_row),
                    entry("update_postimage", a_row),
                ),
            )
            .otherwise(F.array()),  # same value in a changed bucket
        )
        .select(key, F.explode("_entries").alias("_e"))
        .select(
            key,
            *[F.col(f"_e._row.{c}").alias(c) for c in val_cols],
            F.col(f"_e.{CHANGE_TYPE_COL}").alias(CHANGE_TYPE_COL),
        )
    )


def _read_live(
    spark: SparkSession,
    path: str,
    schema: StructType | None,
    buckets: list | None = None,
    manifest: dict | None = None,
) -> DataFrame:
    """Snapshot read (bucket column included): resolve the live file set
    from the manifest — a concurrent upsert publishes new files and
    garbage-collects superseded ones only after the grace window, so this
    listing stays readable for the whole scan (the MVCC contract in the
    module docstring). Listing the directories instead would also pick up
    not-yet-vacuumed garbage files (duplicate rows). ``buckets`` restricts
    the listing to the affected buckets — manifest-level pruning, the
    moral equivalent of partition pruning."""
    reader = spark.read.schema(schema) if schema else spark.read
    if manifest is None:
        manifest = _read_manifest(path)
    if manifest is None:  # legacy table without a manifest sidecar
        df = reader.parquet(path)
        return df.where(F.col(BUCKET_COL).isin(buckets)) if buckets else df
    wanted = (
        {f"{BUCKET_COL}={b}" for b in buckets} if buckets is not None else None
    )
    files = [
        os.path.join(path, d, f)
        for d, fs in manifest["live"].items()
        if wanted is None or d in wanted
        for f in fs
    ]
    if not files:
        empty_schema = schema or StructType([StructField(BUCKET_COL, LongType())])
        return spark.createDataFrame([], empty_schema)
    return reader.option("basePath", path).parquet(*files)


def commit_app_meta(
    path: str,
    app_meta: dict,
    app_meta_expect: dict | None = None,
) -> None:
    """Manifest-only commit: atomically merge ``app_meta`` into the
    table's application metadata with a version bump and snapshot, data
    untouched — the cursor-only bump a change-feed consumer needs when a
    window applies nothing (without it the consumer's cursor wedges once
    version retention prunes the window start; the index manifests'
    cursor-only bumps, sink edition). Same optimistic ``app_meta_expect``
    semantics as the data commits; the version records an EMPTY change
    list so feed readers skip it without opening files. No garbage
    processing here — the next data publish runs the GC pipeline."""
    import time as _time

    with _publish_lock(path) as lk:
        manifest = _read_manifest(path) or _manifest_from_listing(path)
        if app_meta_expect is not None:
            app_now = manifest.get("app", {})
            for k, v in app_meta_expect.items():
                if app_now.get(k) != v:
                    raise ConcurrentWriteError(
                        f"app meta {k!r} is {app_now.get(k)!r}, expected "
                        f"{v!r}; the state this commit was computed from "
                        "has been superseded — recompute and retry"
                    )
        manifest.setdefault("app", {}).update(app_meta)
        _bump_version(manifest, _time.time())
        if _cdc_capture_enabled():
            manifest.setdefault("cdc", {})[str(manifest["version"])] = []
        try:
            schema = _stored_schema(_read_layout(path))
        except (FileNotFoundError, KeyError):
            schema = None
        if schema is not None:
            schema = _with_seq_field(schema, bool(manifest.get("mor")))
        lk.verify_owned()
        _write_manifest(path, manifest)
        _write_snapshot(path, manifest, schema)
        _expire_snapshots(path)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str = "person_id",
    n_buckets: int = DEFAULT_BUCKETS,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
    mode: str | None = None,
) -> None:
    """ES-style partial upsert: merge ``updates`` into the keyed table at
    ``path``. Columns present in ``updates`` replace stored values for
    matched keys; unmatched keys are inserted (missing columns null).

    An existing table's persisted layout (key, bucket count) always wins over
    the arguments — mixing bucket functions would corrupt the merge.

    The merged data is fully materialized into a temp directory BEFORE any
    target directory is touched, so a failure mid-write leaves the target
    intact (write-then-swap; per-bucket atomic on a POSIX fs).

    ``app_meta`` (Delta ``txn``-style) merges the given keys into the
    table's application metadata ATOMICALLY with this commit;
    ``app_meta_expect`` makes the commit conditional on the named keys
    still holding the given values (app-level optimistic concurrency —
    ``ConcurrentWriteError`` otherwise). Together these give a downstream
    consumer exactly-once folds: store the source cursor in the same
    commit that applies its data, and a racing fold from the same cursor
    cannot double-apply even when it touches disjoint buckets."""
    if not os.path.exists(path):
        write_keyed_table(updates, path, key, n_buckets, app_meta=app_meta)
        return

    layout = _read_layout(path)
    if layout["key"] != key:
        raise ValueError(
            f"upsert key {key!r} does not match table layout key {layout['key']!r}"
        )
    n_buckets = layout["n_buckets"]
    stored = _stored_schema(layout)
    if stored is not None:
        # schema evolution guard: new columns are fine (the sidecar schema
        # evolves below), but a TYPE change on an existing column would make
        # old buckets unreadable under the evolved schema — reject it.
        # nullability-insensitive comparison (simpleString drops nullable/
        # containsNull flags): an upsert legitimately carries tighter nested
        # nullability than the stored all-nullable schema
        stored_types = {f.name: f.dataType.simpleString() for f in stored.fields}
        for f in updates.schema.fields:
            if (
                f.name in stored_types
                and f.dataType.simpleString() != stored_types[f.name]
            ):
                raise ValueError(
                    f"upsert column {f.name!r} type {f.dataType.simpleString()} "
                    f"conflicts with stored type {stored_types[f.name]}"
                )

    if any(c in updates.columns for c in RESERVED_COLS):
        raise ValueError(f"columns {RESERVED_COLS} are reserved by the sink")
    mor = _sink_write_mode(mode) == "mor"
    if (
        mor
        and _partial_deltas_enabled()
        and stored is not None
        and not {
            f.name for f in stored.fields if f.name not in RESERVED_COLS
        }.issubset(set(updates.columns))
    ):
        # PARTIAL-COLUMN DELTA: the updates carry a strict subset of the
        # stored columns — append delta rows carrying only those columns,
        # with NO base read at all (matched keys keep their other columns
        # through the read-side per-column fold; unmatched keys insert with
        # the missing columns null, which is exactly the ES partial-upsert
        # insert semantics). The publish is O(|updates|) regardless of
        # store size — the write-floor lever for single-column maintenance
        # loops like pipeline.run_incremental (r10 verdict #1) — and its
        # only Spark action is the staged write itself: the update lineage
        # is consumed once, so it is neither persisted nor probed for its
        # buckets.
        _append_partial_delta(
            spark,
            path,
            _with_bucket(updates, key, n_buckets),
            key,
            n_buckets,
            stored,
            app_meta,
            app_meta_expect,
        )
        return
    # persist the update lineage: it is consumed twice (affected-bucket
    # discovery + the merge write) and may be arbitrarily expensive (the
    # whole phase-1 DAG, or a streaming micro-batch recompute)
    u = _with_bucket(updates, key, n_buckets).persist()
    try:
        affected = [r[BUCKET_COL] for r in u.select(BUCKET_COL).distinct().collect()]
        if not affected:
            _commit_empty(path, stored, app_meta, app_meta_expect)
            return
        _merge_and_publish(
            spark,
            path,
            u,
            key,
            affected,
            stored,
            mor=mor,
            app_meta=app_meta,
            app_meta_expect=app_meta_expect,
        )
    finally:
        u.unpersist()


def _commit_empty(
    path: str,
    stored: StructType | None,
    app_meta: dict | None,
    app_meta_expect: dict | None,
) -> None:
    """An empty batch still commits its cursor advance (a fold over a
    change window that nets to zero must not refold forever); no files
    move — ``_publish`` with no affected dirs is a pure manifest commit
    (tmp is never opened). Without ``app_meta`` there is nothing to
    commit and the version does not move."""
    if app_meta:
        _publish(
            path,
            f"{path}.__empty_commit__",
            [],
            schema=stored,
            app_meta=app_meta,
            app_meta_expect=app_meta_expect,
            cdc_staged="",  # nothing changed: empty capture
        )


def _append_partial_delta(
    spark: SparkSession,
    path: str,
    u: DataFrame,
    key: str,
    n_buckets: int,
    stored: StructType,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
) -> None:
    """Publish a PARTIAL-column MoR delta: stamp the (bucketed) updates
    with this commit's sequence, write them as per-bucket delta files
    carrying ONLY the update's columns, and record those columns in the
    manifest's ``mor_cols`` ledger in the same commit. No base row is
    read, materialized, or rewritten — the whole publish (I/O and
    compute) is O(|updates|), flat in store size (ladder:
    tools/partial_delta_ladder.py). Schema evolution: update columns the
    store lacks extend the pinned schema exactly as a merge would.

    ONE write, hash-partitioned on the bucket: every bucket's rows land in
    one task, so each touched bucket gets exactly one delta file, and the
    touched buckets are the bucket dirs the write staged — read off the
    staging listing, not collected beforehand. A batch that stages no
    bucket is an empty batch (``_commit_empty``).

    No write-time CDC sidecar is recorded (capture needs the matched
    preimages — the read this path exists to delete); feed windows
    containing this version are served by ``read_changes``' partial-aware
    append fast path, O(changed keys) at read time."""
    snapshot = _read_manifest(path) or _manifest_from_listing(path)
    stamped = u.withColumn(
        SEQ_COL, F.lit(int(snapshot.get("version", 0)) + 1).cast("long")
    ).repartition(n_buckets, F.col(BUCKET_COL))
    partial_cols = sorted(
        c for c in u.columns if c not in (key, BUCKET_COL, SEQ_COL)
    )
    # pinned-schema evolution: stored fields keep their order, genuinely
    # new update columns append (all nullable), bucket column stays last
    stored_names = {f.name for f in stored.fields}
    fields = [
        StructField(f.name, f.dataType, True)
        for f in stored.fields
        if f.name not in (SEQ_COL, TOMBSTONE_COL, BUCKET_COL)
    ] + [
        StructField(f.name, f.dataType, True)
        for f in u.schema.fields
        if f.name not in stored_names and f.name != BUCKET_COL
    ]
    fields.append(StructField(BUCKET_COL, LongType(), True))
    tmp = f"{path}.__upsert_tmp_{uuid.uuid4().hex[:8]}"
    try:
        stamped.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        affected = sorted(
            d for d in os.listdir(tmp) if d.startswith(f"{BUCKET_COL}=")
        )
        if not affected:
            _commit_empty(path, stored, app_meta, app_meta_expect)
            return
        final_schema = _publish(
            path,
            tmp,
            affected,
            based_on=snapshot,
            schema=StructType(fields),
            append_only=True,
            app_meta=app_meta,
            app_meta_expect=app_meta_expect,
            partial_cols=partial_cols,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    layout = _read_layout(path)
    _write_layout(path, layout["key"], layout["n_buckets"], final_schema)
    spark.catalog.refreshByPath(path)


def _merge_frames(target: DataFrame, u: DataFrame, key: str) -> DataFrame:
    """The ES-upsert merge semantics as one frame: full-outer on the key;
    for matched keys, columns present in the updates replace stored
    values; unmatched updates insert (missing columns null); unmatched
    target rows pass through bit-identical. Per-key local — which is why
    the CDC capture below can reproduce the update-keys slice of the
    staged output by re-running this merge on the TINY preimage frame
    instead of re-reading the staged buckets."""
    t_cols = [c for c in target.columns if c != BUCKET_COL]
    u_cols = [c for c in u.columns if c != BUCKET_COL]
    all_cols = t_cols + [c for c in u_cols if c not in t_cols]

    t, uu = target.alias("t"), u.alias("u")
    merged = t.join(uu, F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer")
    matched = F.col(f"u.{key}").isNotNull()
    select: list = []
    for c in all_cols:
        if c == key:
            select.append(F.coalesce(F.col(f"u.{key}"), F.col(f"t.{key}")).alias(key))
        elif c in u_cols and c in t_cols:
            select.append(F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c))
        elif c in u_cols:
            select.append(F.col(f"u.{c}").alias(c))
        else:
            select.append(F.col(f"t.{c}").alias(c))
    select.append(
        F.coalesce(F.col(f"u.{BUCKET_COL}"), F.col(f"t.{BUCKET_COL}")).alias(BUCKET_COL)
    )
    return merged.select(*select)


def _merge_and_publish(
    spark: SparkSession,
    path: str,
    u: DataFrame,
    key: str,
    affected: list,
    stored: StructType | None,
    mor: bool = False,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
) -> None:
    # the manifest snapshot this merge is computed FROM: both the target
    # read and the publish-time conflict check use this one snapshot, so a
    # concurrent rewrite of an affected bucket is detected (not merged over)
    snapshot = _read_manifest(path) or _manifest_from_listing(path)
    aff_dirs = [f"{BUCKET_COL}={b}" for b in affected]
    dirty_aff = [d for d in (snapshot.get("mor") or {}) if d in set(aff_dirs)]
    if _dirty_has_partial(snapshot, dirty_aff):
        # affected buckets carry PARTIAL deltas: the target must be their
        # per-column-resolved state (a plain full-row window would let a
        # partial delta's null-filled absent columns clobber base values).
        # _resolved_state routes through the partial-aware fold; the
        # bucket column is recomputed from the key (bit-identical — the
        # bucketing function is a pure hash of the key).
        layout = _read_layout(path)
        target = _with_bucket(
            _resolved_state(
                spark, path, stored, snapshot, layout, restrict=affected
            ),
            key,
            layout["n_buckets"],
        )
        if mor:
            target = target.join(u.select(key).distinct(), key, "left_semi")
    else:
        # read the affected buckets under the PINNED schema: buckets that
        # predate an earlier schema evolution lack the newer columns in
        # their footers, and an inferred read could drop them (Spark
        # samples files for schema)
        target = _read_live(
            spark, path, stored, buckets=affected, manifest=snapshot
        )
        if mor:
            # merge-on-read: only the MATCHED base rows enter the merge —
            # the unmatched rows of every affected bucket stay untouched
            # on disk, which is the entire point (write cost O(delta), not
            # O(bucket)). Prune BEFORE the reconciliation window so its
            # key shuffle is O(matched rows), not O(affected-bucket rows).
            target = target.join(
                u.select(key).distinct(), key, "left_semi"
            )
        # reconcile any prior MoR deltas BEFORE merging (a duplicate-key
        # target would corrupt the full-outer merge); the supersession
        # column is internal — MoR re-stamps it below, CoW rewrites
        # resolved rows
        target = _resolve(target, key)
        if SEQ_COL in target.columns:
            target = target.drop(SEQ_COL)
    capture = _cdc_capture_enabled()
    pre_img = None
    if capture:
        # write-time change capture is WRITE-MODE-INDEPENDENT: the merge
        # materializes the preimages either way. Under MoR ``target`` IS
        # the matched-rows frame; under CoW ``target`` is the full
        # affected-bucket read the rewrite pays anyway, and the preimages
        # are its update-key restriction (an upsert can only change rows
        # whose key appears in the updates — unmatched rows pass through
        # the merge bit-identical, including evolved columns, which read
        # null before AND after under the pinned schema). Either way the
        # captured frame is O(|updates|), cached so the sidecar diff
        # below reads it back instead of re-reading the buckets.
        pre_img = (
            target
            if mor
            else target.join(u.select(key).distinct(), key, "left_semi")
        )
        pre_img = pre_img.persist()
        if mor:
            target = pre_img

    merged = _merge_frames(target, u, key)
    if mor:
        # stamp the delta rows with this publish's sequence: any prior
        # row for the same key (base: null _seq; older delta: lower _seq)
        # is superseded at read time by _resolve. snapshot.version+1 is
        # safe under concurrency: an overlapping-bucket writer is rejected
        # by the per-bucket conflict check, and a key lives in exactly one
        # bucket, so disjoint-bucket writers sharing a sequence cannot
        # collide on any key.
        merged = merged.withColumn(
            SEQ_COL,
            F.lit(int(snapshot.get("version", 0)) + 1).cast("long"),
        )

    # bucket-align the write: the merge output is partitioned by the join
    # key, so every task holds rows of every bucket and partitionBy would
    # write |tasks|×|buckets| small files PER UPSERT (measured: 64 files
    # per bucket at sf1). One exchange on the bucket column → one task and
    # one file per rewritten bucket, the layout's design point.
    merged = merged.repartition(max(len(affected), 1), F.col(BUCKET_COL))
    tmp = f"{path}.__upsert_tmp_{uuid.uuid4().hex[:8]}"
    try:
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        cdc_staged = None
        if capture:
            # write-time change capture: preimages are the CACHED matched
            # rows; postimages are the SAME merge re-applied to that tiny
            # frame — per-key locality makes it provably equal to the
            # staged output's update-keys slice, without re-reading the
            # staged buckets (under CoW that read-back was an extra
            # O(affected-bucket rows) scan per publish — measured +44%%
            # on the 150M-row ladder before this). The whole capture is
            # O(|updates|) compute + one tiny sidecar write. Stamped with
            # this commit's version so a feed reader can net
            # first-preimage/last-postimage per key across a window.
            post = _merge_frames(pre_img, u, key).drop(
                BUCKET_COL, SEQ_COL, TOMBSTONE_COL
            )
            cdc_staged = os.path.join(tmp, "__cdc_staged")
            _diff_states(
                pre_img.drop(BUCKET_COL, TOMBSTONE_COL), post, key
            ).withColumn(
                CDC_VERSION_COL,
                F.lit(int(snapshot.get("version", 0)) + 1).cast("long"),
            ).coalesce(1).write.parquet(cdc_staged)
        final_schema = _publish(
            path,
            tmp,
            [f"{BUCKET_COL}={b}" for b in affected],
            based_on=snapshot,
            # the version's snapshot carries the POST-upsert unified schema
            # (new columns included) — what a time-travel read of this
            # version reproduces. _publish decides _seq presence from the
            # post-commit delta ledger (deltas may live in buckets this
            # write never touched) and returns the authoritative schema.
            schema=_table_schema(merged),
            append_only=mor,
            app_meta=app_meta,
            app_meta_expect=app_meta_expect,
            cdc_staged=cdc_staged,
        )
    finally:
        if pre_img is not None:
            pre_img.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    # evolve the pinned schema AFTER the swap: updates may have introduced
    # new columns (present only in the rewritten buckets' files; the sidecar
    # schema makes them visible as nulls everywhere else)
    layout = _read_layout(path)
    _write_layout(path, layout["key"], layout["n_buckets"], final_schema)
    # Spark caches file listings per path (FileStatusCache); the swap above
    # happened behind its back.
    spark.catalog.refreshByPath(path)


def delete_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str | None = None,
    mode: str | None = None,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
) -> int:
    """Delete rows by key — the primitive an ES ``delete``/delete-by-query
    maps onto, and the takedown/right-to-erasure operation a training-data
    store needs as much as upsert. Returns the number of distinct keys
    submitted (idempotent: deleting an absent key is a no-op).

    Honors ``SPARK_GRAFT_SINK_WRITE_MODE``:

    * ``cow`` (default): anti-join rewrite of ONLY the affected buckets
      (manifest-pruned read, same O(affected buckets) cost envelope as a
      CoW upsert); rows are physically gone at commit.
    * ``mor``: appends per-bucket tombstone delta rows carrying only
      ``(key, _seq, _tombstone=true)`` — O(deleted keys) write. Reads
      hide the key immediately (``_resolve`` drops keys whose winning row
      is a tombstone); the bytes die physically at the next compaction or
      CoW rewrite of the bucket. For erasure-compliance the physical
      deadline is therefore the compaction cadence, not the delete call —
      the same contract as Delta deletion vectors + VACUUM.

    Versioned like any publish: time travel to a pre-delete version still
    serves the rows while that version is retained (run compaction +
    version expiry + vacuum grace for hard erasure of history).

    Upsert-after-delete inserts the key fresh (a later delta/rewrite
    outranks the tombstone by ``_seq``) — ES delete-then-index semantics.
    """
    layout = _read_layout(path)
    if key is None:
        key = layout["key"]
    elif layout["key"] != key:
        raise ValueError(
            f"delete key {key!r} does not match table layout key "
            f"{layout['key']!r}"
        )
    n_buckets = layout["n_buckets"]
    stored = _stored_schema(layout)
    k = _with_bucket(keys.select(key).distinct(), key, n_buckets).persist()
    try:
        n_keys = k.count()
        if not n_keys:
            return 0
        affected = [
            r[BUCKET_COL] for r in k.select(BUCKET_COL).distinct().collect()
        ]
        snapshot = _read_manifest(path) or _manifest_from_listing(path)
        mor = _sink_write_mode(mode) == "mor"
        if mor:
            out = k.withColumn(
                SEQ_COL,
                F.lit(int(snapshot.get("version", 0)) + 1).cast("long"),
            ).withColumn(TOMBSTONE_COL, F.lit(True))
        else:
            dirty_aff = [
                d
                for d in (snapshot.get("mor") or {})
                if d in {f"{BUCKET_COL}={b}" for b in affected}
            ]
            if _dirty_has_partial(snapshot, dirty_aff):
                target = _with_bucket(
                    _resolved_state(
                        spark, path, stored, snapshot, layout, restrict=affected
                    ),
                    key,
                    n_buckets,
                )
            else:
                target = _read_live(
                    spark, path, stored, buckets=affected, manifest=snapshot
                )
                target = _resolve(target, key)
                if SEQ_COL in target.columns:
                    target = target.drop(SEQ_COL)
            out = target.join(k.select(key), key, "left_anti")
        out = out.repartition(max(len(affected), 1), F.col(BUCKET_COL))
        tmp = f"{path}.__delete_tmp_{uuid.uuid4().hex[:8]}"
        try:
            out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
            cdc_staged = None
            if _cdc_capture_enabled():
                # delete-preimage capture (both write modes): the one
                # place the MoR delete reads base rows — a key-restricted
                # read of the affected buckets (In pushdown for small key
                # lists); under CoW the same read the anti-join rewrite
                # already pays. Keeping the sidecar complete is what lets
                # a whole feed window stay O(changed rows);
                # SPARK_GRAFT_SINK_CDC=off restores the pure
                # O(deleted keys) write.
                pre = _resolved_state(
                    spark, path, stored, snapshot, layout, restrict=affected
                )
                klist = [r[0] for r in k.select(key).limit(LOOKUP_ISIN_MAX + 1).collect()]
                if len(klist) <= LOOKUP_ISIN_MAX:
                    pre = pre.where(F.col(key).isin(klist))
                else:
                    pre = pre.join(F.broadcast(k.select(key)), key, "semi")
                gone = spark.createDataFrame([], pre.schema)
                cdc_staged = os.path.join(tmp, "__cdc_staged")
                _diff_states(pre, gone, key).withColumn(
                    CDC_VERSION_COL,
                    F.lit(int(snapshot.get("version", 0)) + 1).cast("long"),
                ).coalesce(1).write.parquet(cdc_staged)
            final_schema = _publish(
                path,
                tmp,
                [f"{BUCKET_COL}={b}" for b in affected],
                based_on=snapshot,
                schema=stored,
                append_only=mor,
                cdc_staged=cdc_staged,
                app_meta=app_meta,
                app_meta_expect=app_meta_expect,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if final_schema is not None:
            _write_layout(path, layout["key"], layout["n_buckets"], final_schema)
        spark.catalog.refreshByPath(path)
        return n_keys
    finally:
        k.unpersist()


def needs_compaction(
    path: str,
    max_files_per_bucket: int = 4,
    max_dirty_fraction: float = 0.25,
) -> bool:
    """Manifest-only compaction policy (no data I/O, O(n_buckets) dict
    walk): compact when any bucket's live file count exceeds
    ``max_files_per_bucket`` (read amplification: footer parse + seek per
    file on every scan) or when more than ``max_dirty_fraction`` of
    buckets carry merge-on-read deltas (reconciliation-window tax on every
    read — the measured 4.4× at sf10, SCALING.md). This is the cadence
    knob the MoR trade dials: a maintenance loop calls
    ``if needs_compaction(p): compact_keyed_table(spark, p)`` instead of
    compacting on a timer."""
    try:
        manifest = _read_manifest(path)
    except FileNotFoundError:
        return False
    if not manifest or not manifest.get("live"):
        return False
    if any(len(fs) > max_files_per_bucket for fs in manifest["live"].values()):
        return True
    dirty = len(manifest.get("mor", {}))
    return dirty > max_dirty_fraction * len(manifest["live"])


def choose_compaction(
    path: str,
    expected_reads: int | None = None,
    max_files_per_bucket: int = 4,
) -> list[str]:
    """Manifest-driven per-BUCKET compaction policy (r10 verdict #3): the
    bucket dirs whose projected read-tax savings over the next
    ``expected_reads`` table reads exceed their compaction cost — the
    ``choose_search_route`` free-statistic pattern applied to the sink.

    Cost model, in bytes (the unit both sides share):

    * each read of a delta-carrying bucket pays its reconciliation tax ≈
      the delta bytes re-read plus a fixed per-bucket window/broadcast
      overhead (``SPARK_GRAFT_COMPACT_TAX_BYTES``, default 256 KB —
      sized from the measured 1.7-1.8× delta-hit point-read tax and the
      fold ladder's flat per-bucket floor, SCALING.md r10);
    * compacting the bucket costs one full read + one full write ≈
      2 × (base + delta) bytes.

    Compact when ``expected_reads × (delta + fixed) ≥ 2 × (base + delta)``
    — so a read-hot store compacts eagerly, a write-only store lets
    deltas ride, and tiny deltas over fat buckets are left alone until
    enough of them pile up. Buckets past ``max_files_per_bucket`` live
    files are included regardless (plain small-file read amplification,
    ``needs_compaction``'s original trigger). ``expected_reads`` defaults
    to ``SPARK_GRAFT_COMPACT_EXPECTED_READS`` (8 — a serving table is
    read far more often than written; set 1 for write-mostly archives).

    Driver cost: one manifest read + O(live files) ``getsize`` calls —
    no Spark job, no data page. Returns bucket dirs, ready for
    ``compact_keyed_table(spark, path, buckets=...)``."""
    if expected_reads is None:
        expected_reads = int(
            os.environ.get("SPARK_GRAFT_COMPACT_EXPECTED_READS", "8")
        )
    fixed = float(os.environ.get("SPARK_GRAFT_COMPACT_TAX_BYTES", str(256 << 10)))
    manifest = _read_manifest(path)
    if not manifest or not manifest.get("live"):
        return []
    ledger = manifest.get("mor") or {}
    out = []
    for d, fs in manifest["live"].items():
        if len(fs) > max_files_per_bucket:
            out.append(d)
            continue
        delta_names = set(ledger.get(d) or [])
        if not delta_names:
            continue
        try:
            delta_b = sum(
                os.path.getsize(os.path.join(path, d, f)) for f in delta_names
            )
            base_b = sum(
                os.path.getsize(os.path.join(path, d, f))
                for f in fs
                if f not in delta_names
            )
        except OSError:
            out.append(d)  # raced a GC: stale listing — compaction re-reads
            continue
        if expected_reads * (delta_b + fixed) >= 2 * (base_b + delta_b):
            out.append(d)
    return sorted(out)


def compact_keyed_table(
    spark: SparkSession, path: str, buckets: list[str] | None = None
) -> int:
    """Small-file compaction: rewrite every multi-file bucket into ONE file,
    preserving the layout. Repeated upserts leave one file per write per
    bucket; at 100 TB that read-amplifies every scan (footer parse + seek
    per tiny file), so compaction runs as periodic maintenance — the parquet
    equivalent of Delta/Iceberg OPTIMIZE (bucket count sizes the files:
    ~100 TB / 400k buckets ≈ 256 MB each). Returns #buckets rewritten.

    Same write-then-swap safety as the upsert: a crash mid-compact leaves
    every bucket either old or fully rewritten, never mixed.

    ``buckets`` restricts the rewrite to the given bucket dirs (the
    ``choose_compaction`` policy's output) — selective maintenance whose
    cost tracks the chosen buckets, not the table."""
    layout = _read_layout(path)  # asserts this IS a keyed table; untouched
    manifest = _read_manifest(path) or _manifest_from_listing(path)
    # multi-file buckets, plus SINGLE-file buckets whose one file is a MoR
    # delta (an insert into a previously empty bucket): those carry real
    # _seq values, and folding every ledger entry is what lets _publish
    # drop _seq from the pinned schema — ending the read-time
    # reconciliation window for the whole table
    to_compact = [
        d
        for d, fs in manifest["live"].items()
        if (len(fs) > 1 or manifest.get("mor", {}).get(d))
        and (buckets is None or d in set(buckets))
    ]
    if not to_compact:
        return 0
    ids = [int(d.split("=", 1)[1]) for d in to_compact]
    # pinned schema: a compaction must not drop columns that older files in
    # a bucket lack (see read_keyed_table)
    stored = _stored_schema(layout)
    if _dirty_has_partial(manifest, to_compact):
        # partial-column deltas fold per COLUMN: read the compacting
        # buckets with their presence masks and resolve — compaction is
        # where a partial table pays the deferred merge, once, instead of
        # every publish paying it (the write/read trade the partial path
        # makes)
        data = _with_bucket(
            _fold_resolve(
                _read_files_masked(spark, path, stored, manifest, to_compact),
                layout["key"],
            ),
            layout["key"],
            layout["n_buckets"],
        )
    else:
        data = _read_live(spark, path, stored, buckets=ids, manifest=manifest)
        if SEQ_COL in data.columns:
            # compaction IS the merge-on-read merge: fold delta rows into
            # their base (latest _seq per key wins) and write resolved
            # rows — the column reads back null (= oldest) for them, so
            # later deltas still supersede correctly
            data = _resolve(data, layout["key"]).drop(SEQ_COL)
    # one task per bucket → exactly one output file per bucket directory;
    # KEY-SORTED within the bucket, so the file's parquet row-group min/max
    # stats on the key column are tight non-overlapping ranges — a point
    # lookup's In/EqualTo pushdown then skips every row group but the keys'
    # own (at the design point of ~256 MB bucket files that is the
    # difference between reading the whole bucket and one row group; same
    # trick as the ANN index's id-sorted cell files)
    data = data.repartition(len(ids), BUCKET_COL).sortWithinPartitions(
        layout["key"]
    )
    tmp = f"{path}.__compact_tmp_{uuid.uuid4().hex[:8]}"
    try:
        data.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        # based_on: a concurrent upsert that rewrote one of these buckets
        # mid-compaction makes the compacted copy stale — abort, keep theirs
        final_schema = _publish(
            path,
            tmp,
            to_compact,
            based_on=manifest,
            schema=stored,
            # compaction changes no resolved content: record an EMPTY
            # change capture so feed windows spanning it stay on the
            # sidecar tier instead of falling back to the state diff
            cdc_staged="",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if final_schema is not None and [f.name for f in final_schema.fields] != [
        f.name for f in (stored.fields if stored else [])
    ]:
        # this compaction folded the table's last deltas: _publish dropped
        # _seq from the pinned schema — persist that so plain reads stop
        # planning the reconciliation window
        _write_layout(path, layout["key"], layout["n_buckets"], final_schema)
    spark.catalog.refreshByPath(path)
    return len(to_compact)
