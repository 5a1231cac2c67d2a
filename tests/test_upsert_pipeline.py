"""S7 upsert sink + two-phase pipeline orchestration: partial-update
semantics, insert path, phase-1 -> phase-2 flow, invariant, idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark.operators.retention import (
    HouseholdRetentionNotReadyError,
)
from es_household_retention_spark_job_spark.pipeline import (
    run_phase2,
    run_retention,
)
from es_household_retention_spark_job_spark.schemas import ENCOUNTER
from es_household_retention_spark_job_spark.sinks.upsert import (
    compact_keyed_table,
    read_keyed_table,
    upsert_parquet,
    write_keyed_table,
)
from es_household_retention_spark_job_spark.sources.fixtures import (
    FIXTURE_AS_OF,
    FIXTURE_CLIENT,
    fixture_frames,
)


def test_upsert_partial_update_and_insert(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], "k string, v int, w string"
    )
    write_keyed_table(base, path, key="k", n_buckets=4)

    updates = spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int")
    upsert_parquet(spark, path, updates, key="k", n_buckets=4)

    got = {r["k"]: (r["v"], r["w"]) for r in read_keyed_table(spark, path).collect()}
    assert got == {
        "a": (1, "x"),  # untouched
        "b": (20, "y"),  # v replaced, w preserved (partial update)
        "c": (3, "z"),  # untouched
        "d": (40, None),  # inserted, missing column null
    }


def test_compaction_single_file_per_bucket_same_data(spark, tmp_path, monkeypatch):
    import os

    from es_household_retention_spark_job_spark.sinks.upsert import _with_bucket

    # grace 0 + retention 1: compaction's vacuum may delete superseded files
    # immediately, so the physical single-file-per-bucket assertion below
    # holds (with the default 5-min grace / 8-version time-travel retention
    # they would legitimately linger as garbage / snapshot-pinned files)
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "1")

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40)], "k string, v int"
    )
    write_keyed_table(base, path, key="k", n_buckets=4)
    # fragment the buckets the way a large multi-task merge write would:
    # append more rows as separate files into the same bucket dirs
    extra = spark.createDataFrame(
        [(f"k{i}", i) for i in range(40, 80)], "k string, v int"
    )
    _with_bucket(extra, "k", 4).write.mode("append").partitionBy("_bucket").parquet(
        path
    )
    # the raw append bypassed the manifest (files a manifest read must NOT
    # see); adopt them via the legacy-table bootstrap — the migration path
    # for tables written before manifests existed
    from es_household_retention_spark_job_spark.sinks import manifest as M
    from es_household_retention_spark_job_spark.sinks.upsert import (
        MANIFEST_FILE,
        _manifest_from_listing,
    )

    M.write_atomic(path, MANIFEST_FILE, _manifest_from_listing(path))
    spark.catalog.refreshByPath(path)
    before = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert len(before) == 80

    n = compact_keyed_table(spark, path)
    assert n > 0
    for d in os.listdir(path):
        if d.startswith("_bucket="):
            files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
    after = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert after == before
    assert compact_keyed_table(spark, path) == 0  # idempotent


def test_crash_leftover_stray_files_invisible_and_vacuumed(spark, tmp_path):
    """A crash between file-publish and manifest-replace leaves stray
    unreferenced parquet files inside bucket dirs; they must be invisible
    to manifest reads (no duplicate rows) and physically swept by a later
    vacuum once past the grace window."""
    import os
    import shutil

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    write_keyed_table(base, path, key="k", n_buckets=2)
    # simulate the crash leftover: a duplicate copy of a live file under a
    # fresh (unreferenced) generation name, with an OLD mtime
    d = next(x for x in os.listdir(path) if x.startswith("_bucket="))
    live = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
    stray = os.path.join(path, d, "gen-deadbeef-00000.parquet")
    shutil.copyfile(os.path.join(path, d, live[0]), stray)
    os.utime(stray, (1, 1))  # ancient: eligible for the stray sweep
    spark.catalog.refreshByPath(path)
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got == {"a": 1, "b": 2}  # stray file contributed no rows
    # the next write's vacuum sweeps it
    upsert_parquet(
        spark, path, spark.createDataFrame([("c", 3)], "k string, v int"), key="k"
    )
    assert not os.path.exists(stray)
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_upsert_creates_table_when_missing(spark, tmp_path):
    path = str(tmp_path / "fresh")
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    upsert_parquet(spark, path, df, key="k", n_buckets=2)
    assert read_keyed_table(spark, path).count() == 1


@pytest.fixture()
def keyed_store(spark, tmp_path):
    person, encounter = fixture_frames(spark)
    p_path, e_path = str(tmp_path / "person"), str(tmp_path / "encounter")
    write_keyed_table(person, p_path, key="person_id", n_buckets=4)
    encounter.write.mode("overwrite").parquet(e_path)
    return p_path, e_path


def test_two_phase_run_and_idempotence(spark, keyed_store):
    p_path, e_path = keyed_store

    # phase 2 before phase 1: invariant must throw (C3)
    with pytest.raises(HouseholdRetentionNotReadyError):
        run_phase2(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)

    stats = run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert stats["phase1_persons"] == 13  # all eligible DEMO persons
    assert stats["phase2_persons"] == 0  # phase 1 processed everyone

    person = read_keyed_table(spark, p_path)
    hist = person.where(F.col("household_retention_history").isNotNull()).select(
        "person_id", F.size("household_retention_history").alias("n")
    )
    by_id = {r["person_id"]: r["n"] for r in hist.collect()}
    assert by_id["P_R1"] == 3  # false/true/false islands
    assert by_id["P_S1"] == 1
    assert by_id["P_M3"] == 3  # inherited from household

    # untouched rows: processed person keeps its original single entry
    assert by_id["P_X1"] == 1

    # re-run: both phases skip (P8 now fails for everyone) — idempotent
    stats2 = run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert stats2 == {"phase1_persons": 0, "phase2_persons": 0}


def test_phase2_stamps_encounterless_store(spark, tmp_path):
    """A store where no eligible person has encounters: phase 2 may run
    directly (invariant holds) and stamps everyone (HRP:762-784)."""
    person = spark.createDataFrame(
        [
            ("q1", FIXTURE_CLIENT, {"household_id": "HQ1"}, None),
            ("q2", FIXTURE_CLIENT, {"household_id": "HQ1"}, None),
            ("q3", FIXTURE_CLIENT, {"household_id": "HQ2"}, None),
        ],
        schema="person_id string, client_code string, "
        "household struct<household_id:string>, "
        "household_retention_history array<struct<"
        "date_range:struct<gte:long,lte:long>,"
        "date_range_alt:struct<gte:string,lte:string>,retained:boolean>>",
    )
    encounter = spark.createDataFrame([], schema=ENCOUNTER)
    p_path, e_path = str(tmp_path / "p2person"), str(tmp_path / "p2encounter")
    write_keyed_table(person, p_path, key="person_id", n_buckets=2)
    encounter.write.mode("overwrite").parquet(e_path)

    n = run_phase2(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert n == 3
    got = read_keyed_table(spark, p_path)
    entries = got.select(
        "person_id", F.explode("household_retention_history").alias("e")
    ).select("person_id", "e.date_range_alt.gte", "e.date_range_alt.lte", "e.retained")
    rows = {r["person_id"]: (r["gte"], r["lte"], r["retained"]) for r in entries.collect()}
    assert rows["q1"] == ("2022-08-01", "2036-08-01 00:00:00", False)
    assert rows == {k: rows["q1"] for k in ("q1", "q2", "q3")}


def test_upsert_schema_evolution_visible_across_buckets(spark, tmp_path):
    """An update that introduces a NEW column rewrites only its own buckets;
    the pinned sidecar schema must still expose the column (as null) for
    rows in untouched buckets, through reads AND compaction."""
    path = str(tmp_path / "evo")
    base = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "k string, v int")
    write_keyed_table(base, path, key="k", n_buckets=4)

    up = spark.createDataFrame([("k3", 99, "hello")], "k string, v int, extra string")
    upsert_parquet(spark, path, up, key="k")

    got = read_keyed_table(spark, path)
    assert "extra" in got.columns
    rows = {r["k"]: (r["v"], r["extra"]) for r in got.collect()}
    assert len(rows) == 20
    assert rows["k3"] == (99, "hello")
    assert all(v[1] is None for k, v in rows.items() if k != "k3")

    # a second, column-stable upsert into a DIFFERENT bucket set must not
    # lose the evolved column for the merge (pinned-schema target read)
    up2 = spark.createDataFrame([("k0", -1)], "k string, v int")
    upsert_parquet(spark, path, up2, key="k")
    rows2 = {r["k"]: (r["v"], r["extra"]) for r in read_keyed_table(spark, path).collect()}
    assert rows2["k0"] == (-1, None)
    assert rows2["k3"] == (99, "hello")

    # compaction keeps the evolved schema too
    compact_keyed_table(spark, path)
    rows3 = {r["k"]: (r["v"], r["extra"]) for r in read_keyed_table(spark, path).collect()}
    assert rows3 == rows2


def test_upsert_type_conflict_rejected(spark, tmp_path):
    path = str(tmp_path / "conflict")
    base = spark.createDataFrame([("a", 1)], "k string, v int")
    write_keyed_table(base, path, key="k", n_buckets=2)
    bad = spark.createDataFrame([("a", "not-an-int")], "k string, v string")
    with pytest.raises(ValueError, match="conflicts with stored type"):
        upsert_parquet(spark, path, bad, key="k")


def test_concurrent_reader_never_sees_torn_bucket(spark, tmp_path):
    """Swap atomicity under a concurrent reader: while a writer loops
    single-bucket upserts (monotonically bumping one key's value), a reader
    thread re-reads the table continuously. Every successful read must see
    a CONSISTENT state — the key present exactly once with some
    already-written value, never missing, duplicated, or from the future.
    (Cross-bucket snapshot isolation is explicitly NOT claimed — an upsert
    touching many buckets swaps them one rename at a time; per-bucket
    atomicity is the contract, matching the per-document atomicity of the
    reference's ES bulk upserts.)"""
    import threading

    path = str(tmp_path / "hot")
    write_keyed_table(
        spark.createDataFrame([("K", 0), ("Z", -1)], "person_id string, v long"),
        path,
        n_buckets=4,
    )
    written = [0]
    stop = threading.Event()
    errors: list[str] = []
    observations: list[tuple[int, int]] = []

    def reader():
        last_seen = 0
        while not stop.is_set():
            hi = written[0]  # snapshot BEFORE the read starts
            try:
                rows = [
                    (r.person_id, r.v)
                    for r in read_keyed_table(spark, path).collect()
                ]
            except Exception as e:  # noqa: BLE001 — a failed read is a tear
                errors.append(f"read raised: {type(e).__name__}: {e}")
                return
            ks = [v for p, v in rows if p == "K"]
            if len(ks) != 1:
                errors.append(f"key K seen {len(ks)} times: {rows}")
                return
            # race-free invariant for a monotonic single-key writer: reads
            # never go BACKWARDS (any upper-bound check against the
            # writer's loop counter would be a race in the test itself —
            # a publish can precede the counter update)
            if not (0 <= last_seen <= ks[0]):
                errors.append(
                    f"non-monotonic value {ks[0]} "
                    f"(prev {last_seen}, pre-read snapshot {hi})"
                )
                return
            last_seen = ks[0]
            observations.append((hi, ks[0]))

    t = threading.Thread(target=reader)
    t.start()
    try:
        # keep writing until the reader has demonstrably raced ≥4 full
        # reads (bounded so a wedged reader can't hang the test)
        i = 0
        while t.is_alive() and (len(observations) < 4 or i < 10) and i < 60:
            i += 1
            upsert_parquet(
                spark,
                path,
                spark.createDataFrame([("K", i)], "person_id string, v long"),
            )
            written[0] = i
    finally:
        stop.set()
        t.join(120)
    assert not errors, errors[:3]
    assert len(observations) >= 3  # the reader genuinely raced the writer
    # reads made after later writes must observe progress (not a stale pin)
    assert max(v for _, v in observations) > 0


def test_upsert_random_sequences_match_dict_model(spark, tmp_path):
    """Property: ANY sequence of partial upserts must leave the table equal
    to the obvious dict model (per key: last write wins per column, missing
    columns keep prior values, unknown keys insert with nulls elsewhere).
    Exercises the manifest/MVCC path end-to-end including schema evolution
    mid-sequence. Deterministic seed — hypothesis's engine is overkill for
    a 4-batch Spark sequence, but the generation logic is the same shape."""
    import random

    rng = random.Random(20260814)
    keys = [f"K{i}" for i in range(6)]
    all_cols = ["v", "w", "z"]  # z appears mid-sequence (schema evolution)
    model: dict[str, dict[str, int | None]] = {}
    path = str(tmp_path / "prop")

    for batch_no in range(5):
        cols = ["v"] if batch_no == 0 else rng.sample(
            all_cols[: 2 + (batch_no >= 2)], rng.randint(1, 2)
        )
        batch_keys = rng.sample(keys, rng.randint(1, 4))
        rows = [
            tuple([k] + [rng.randint(0, 99) for _ in cols]) for k in batch_keys
        ]
        schema = "person_id string, " + ", ".join(f"{c} long" for c in cols)
        upsert_parquet(
            spark, path, spark.createDataFrame(rows, schema), n_buckets=4
        )
        for row in rows:
            k, vals = row[0], dict(zip(cols, row[1:]))
            model.setdefault(k, {})
            model[k].update(vals)

    got = {
        r["person_id"]: {c: r[c] for c in all_cols if c in r.asDict()}
        for r in read_keyed_table(spark, path).collect()
    }
    assert set(got) == set(model)
    for k, expect in model.items():
        for c in all_cols:
            assert got[k].get(c) == expect.get(c), (k, c, got[k], expect)


def test_concurrent_disjoint_writers_both_land_overlap_rejected(spark, tmp_path):
    """Per-bucket optimistic concurrency: a writer whose snapshot went
    stale on a DISJOINT bucket set still lands (applied onto the current
    manifest, preserving the other writer's rows); one whose affected
    bucket was rewritten concurrently must abort with ConcurrentWriteError
    and leave the table untouched — never silent last-writer-wins."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
        _manifest_from_listing,
        _read_manifest,
        _publish,
    )

    path = str(tmp_path / "cc")
    # keys chosen to land in different buckets (checked below)
    rows = [(f"k{i}", i) for i in range(12)]
    write_keyed_table(
        spark.createDataFrame(rows, "k string, v int"), path, key="k", n_buckets=4
    )

    # writer A snapshots, then writer B lands an upsert first
    import copy

    snap_a = copy.deepcopy(_read_manifest(path))
    upsert_parquet(spark, path, spark.createDataFrame([("k0", 100)], "k string, v int"), key="k")
    after_b = _read_manifest(path)
    b_bucket = next(
        d for d in snap_a["live"] if snap_a["live"][d] != after_b["live"][d]
    )

    # simulate A publishing with the stale snapshot:
    # (1) disjoint bucket -> must succeed and preserve B's write
    other = next(d for d in snap_a["live"] if d != b_bucket)
    tmp_pub = str(tmp_path / "staged")
    import os
    import shutil

    os.makedirs(f"{tmp_pub}/{other}")
    src_file = after_b["live"][other][0]
    shutil.copyfile(f"{path}/{other}/{src_file}", f"{tmp_pub}/{other}/part-0.parquet")
    _publish(path, tmp_pub, [other], based_on=snap_a)
    now = _read_manifest(path)
    assert now["live"][b_bucket] == after_b["live"][b_bucket]  # B preserved
    assert now["live"][other] == ["gen-" + now["live"][other][0].split("-", 1)[1]]
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got["k0"] == 100  # B's row survived A's stale-snapshot publish

    # (2) overlapping bucket -> must raise and change nothing
    os.makedirs(f"{tmp_pub}2/{b_bucket}")
    shutil.copyfile(
        f"{path}/{b_bucket}/{after_b['live'][b_bucket][0]}",
        f"{tmp_pub}2/{b_bucket}/part-0.parquet",
    )
    before = _read_manifest(path)
    with pytest.raises(ConcurrentWriteError):
        _publish(path, str(tmp_path / "staged2"), [b_bucket], based_on=snap_a)
    assert _read_manifest(path) == before


def test_lock_token_ownership_and_atomic_break(tmp_path):
    """Lock hardening: (a) a stale crash leftover is broken via an atomic
    rename-claim (so racing breakers can never BOTH think they removed it
    and acquire concurrently), and (b) release verifies the owner token —
    a writer whose lock was legitimately broken while it was paused must
    not unlink the new owner's lock on exit."""
    import os
    import time

    from es_household_retention_spark_job_spark.sinks.manifest import (
        LOCK_FILE,
        LOCK_STALE_SECONDS,
        lock as _publish_lock,
    )

    path = str(tmp_path)
    lock_path = os.path.join(path, LOCK_FILE)

    # stale crash leftover -> broken, then acquired with A's token
    with open(lock_path, "w") as f:
        f.write("deadcafe 99999")
    old = time.time() - LOCK_STALE_SECONDS - 5
    os.utime(lock_path, (old, old))
    a = _publish_lock(path)
    a.__enter__()
    with open(lock_path) as f:
        assert f.read().split()[0] == a.token
    # the rename-claim leaves no residue
    assert not [x for x in os.listdir(path) if ".break-" in x]

    # A pauses past staleness; B legitimately breaks A's lock
    os.utime(lock_path, (old, old))
    b = _publish_lock(path)
    b.__enter__()
    with open(lock_path) as f:
        assert f.read().split()[0] == b.token
    # A resumes and exits: must see the token mismatch and leave B's lock
    a.__exit__()
    assert os.path.exists(lock_path)
    with open(lock_path) as f:
        assert f.read().split()[0] == b.token
    b.__exit__()
    assert not os.path.exists(lock_path)


def test_verify_owned_survives_transient_missing_lock(tmp_path):
    """Between a breaker's rename-claim of a just-re-acquired FRESH lock
    and its os.link restore, the rightful owner can observe no lock file
    at all. verify_owned retries once after a short sleep, so the healthy
    publish proceeds instead of aborting spuriously; a lock that STAYS
    missing (or holds a foreign token) still raises."""
    import os
    import threading
    import time

    import pytest as _pt

    from es_household_retention_spark_job_spark.sinks.manifest import (
        lock as _publish_lock,
    )
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
    )

    path = str(tmp_path)
    a = _publish_lock(path)
    a.__enter__()

    # simulate the breaker's rename→link-restore window: file vanishes,
    # then reappears (same content) a few ms later
    claim = a.lock_path + ".claim"
    os.rename(a.lock_path, claim)
    t = threading.Timer(0.03, lambda: os.rename(claim, a.lock_path))
    t.start()
    a.verify_owned()  # retry bridges the gap — no raise
    t.join()

    # permanently missing -> still fails closed
    os.unlink(a.lock_path)
    t0 = time.time()
    with _pt.raises(ConcurrentWriteError):
        a.verify_owned()
    assert time.time() - t0 < 5  # one bounded retry, not a spin
    # foreign token -> immediate failure (no retry needed)
    with open(a.lock_path, "w") as f:
        f.write("feedbeef 12345")
    with _pt.raises(ConcurrentWriteError):
        a.verify_owned()
    os.unlink(a.lock_path)


def test_paused_writer_broken_lock_conflict_detected(spark, tmp_path):
    """Lock-break / optimistic-conflict interplay: writer A stalls
    mid-publish long enough to look stale, writer B breaks A's lock and
    lands an overlapping upsert. When A resumes, safety comes from the
    per-bucket based_on check — A aborts with ConcurrentWriteError and B's
    write survives untouched."""
    import copy
    import os
    import time

    from es_household_retention_spark_job_spark.sinks.manifest import (
        LOCK_FILE,
        lock as _publish_lock,
    )
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
        _publish,
        _read_manifest,
    )

    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )
    snap_a = copy.deepcopy(_read_manifest(path))

    # A acquires the publish lock (simulating mid-publish) and stalls
    a = _publish_lock(path)
    a.__enter__()
    lock_path = os.path.join(path, LOCK_FILE)
    old = time.time() - 9999
    os.utime(lock_path, (old, old))

    # B's full upsert breaks the apparently-stale lock and publishes
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 100)], "k string, v int"), key="k"
    )
    after_b = _read_manifest(path)
    changed = [d for d in snap_a["live"] if snap_a["live"][d] != after_b["live"][d]]
    assert changed  # B really rewrote a bucket

    # A resumes: its lock release is a harmless no-op (B already released
    # its own), and its stale-snapshot publish on the overlapping bucket
    # must abort before any manifest change
    a.__exit__()
    assert _read_manifest(path) == after_b
    staged = str(tmp_path / "staged")
    os.makedirs(os.path.join(staged, changed[0]))
    with pytest.raises(ConcurrentWriteError):
        _publish(path, staged, [changed[0]], based_on=snap_a)
    assert _read_manifest(path) == after_b
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got == {"a": 100, "b": 2, "c": 3}


def test_multibucket_upsert_single_snapshot_reader(spark, tmp_path, monkeypatch):
    """One cross-bucket snapshot: a reader resolving DURING a multi-bucket
    publish sees either the whole upsert or none of it. Files move into the
    live tree first, but the manifest — the only thing a reader consults —
    flips once; pin it by reading the table after EVERY file rename into
    the live tree (each intermediate point of the publish) and asserting
    the pre-upsert state, then the post state after the manifest replace."""
    import os

    from es_household_retention_spark_job_spark.sinks import upsert as U

    path = str(tmp_path / "tbl")
    rows = [(f"k{i}", i) for i in range(16)]
    write_keyed_table(
        spark.createDataFrame(rows, "k string, v int"), path, key="k", n_buckets=4
    )
    pre = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}

    live_prefix = os.path.join(path, "_bucket=")
    observed = []
    real_rename = os.rename

    def spy_rename(src, dst):
        real_rename(src, dst)
        if str(dst).startswith(live_prefix) and str(dst).endswith(".parquet"):
            spark.catalog.refreshByPath(path)
            observed.append(
                {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
            )

    monkeypatch.setattr(U.os, "rename", spy_rename)
    updates = spark.createDataFrame(
        [(f"k{i}", 1000 + i) for i in range(16)], "k string, v int"
    )
    upsert_parquet(spark, path, updates, key="k")
    monkeypatch.undo()

    assert len(observed) >= 4  # every bucket rewritten -> >=4 live renames
    for mid in observed:
        assert mid == pre  # never a torn half-upsert state
    spark.catalog.refreshByPath(path)
    post = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert post == {f"k{i}": 1000 + i for i in range(16)}


def test_vacuum_runs_outside_publish_lock(spark, tmp_path, monkeypatch):
    """The O(n_buckets) vacuum sweep must run AFTER the publish lock is
    released — an in-lock sweep at the 400k-bucket design point would
    outlive LOCK_STALE_SECONDS and invite legitimate-looking lock breaks
    (the lost-update seed). Also pins the split semantics: past-grace
    garbage is pruned from the manifest in-lock and its files are gone
    once the upsert returns."""
    import os

    from es_household_retention_spark_job_spark.sinks import manifest as M
    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    # retention 1: with the default 8-version time-travel window the
    # superseded file would be snapshot-pinned, not deletable
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "1")
    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )

    seen = {}
    real_vacuum = U._vacuum

    def spy(p, manifest, deletable=None):
        seen["lock_held"] = os.path.exists(os.path.join(p, M.LOCK_FILE))
        seen["n_deletable"] = len(deletable or [])
        return real_vacuum(p, manifest, deletable)

    monkeypatch.setattr(U, "_vacuum", spy)
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 10)], "k string, v int"), key="k"
    )
    assert seen["lock_held"] is False
    assert seen["n_deletable"] >= 1  # grace 0: the superseded file
    m = U._read_manifest(path)
    assert m["garbage"] == []  # pruned in-lock
    # and the superseded physical files are gone
    live = {f"{d}/{f}" for d, fs in m["live"].items() for f in fs}
    on_disk = {
        f"{d}/{f}"
        for d in os.listdir(path)
        if d.startswith("_bucket=")
        for f in os.listdir(os.path.join(path, d))
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_time_travel_reads_history_and_expiry(spark, tmp_path, monkeypatch):
    """Versioned snapshots: every publish (initial load, upsert, compaction)
    is a numbered version; read_keyed_table(version=N) reproduces exactly
    that state under the version's OWN schema (a column added in a later
    version is absent, not null — Delta semantics); table_history lists
    retained versions; a version past the retention window refuses with a
    clear error instead of a partial scan."""
    import os

    from es_household_retention_spark_job_spark.sinks.upsert import table_history

    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "3")
    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )  # v1
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 10)], "k string, v int"), key="k"
    )  # v2
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("c", 3, "new")], "k string, v int, w string"),
        key="k",
    )  # v3: insert + schema evolution

    hist = table_history(path)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert all(h["ts"] > 0 and h["n_files"] > 0 for h in hist)

    def snap(version=None):
        df = read_keyed_table(spark, path, version=version)
        return {r["k"]: (r["v"], r["w"] if "w" in df.columns else None)
                for r in df.collect()}

    assert snap(1) == {"a": (1, None), "b": (2, None)}
    assert snap(2) == {"a": (10, None), "b": (2, None)}
    assert snap(3) == {"a": (10, None), "b": (2, None), "c": (3, "new")}
    assert snap() == snap(3)  # current == latest version
    # per-version schema: v2 predates the w column and must NOT show it;
    # v3 (the evolving publish) and the current read must
    assert "w" not in read_keyed_table(spark, path, version=2).columns
    assert "w" in read_keyed_table(spark, path, version=3).columns
    assert "w" in read_keyed_table(spark, path).columns

    # v4 expires v1 (retention 3: keep 2..4)
    upsert_parquet(
        spark, path, spark.createDataFrame([("b", 20)], "k string, v int"), key="k"
    )
    assert [h["version"] for h in table_history(path)] == [2, 3, 4]
    with pytest.raises(ValueError, match="not retained"):
        read_keyed_table(spark, path, version=1)
    # retained versions still read exactly
    assert snap(2) == {"a": (10, None), "b": (2, None)}
    assert snap(4)["b"] == (20, None)


def test_time_travel_pins_files_against_vacuum(spark, tmp_path, monkeypatch):
    """Vacuum must never delete a data file a retained snapshot references,
    even with GC grace 0 — a time-travel read is a first-class reader. Once
    the version expires, the same files become reclaimable (next publish
    frees them), so retention bounds disk growth."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "2")
    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1)], "k string, v int"), path, key="k",
        n_buckets=1,
    )  # v1

    def parquet_files():
        return {
            f"{d}/{f}"
            for d in os.listdir(path)
            if d.startswith("_bucket=")
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        }

    v1_files = parquet_files()
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 2)], "k string, v int"), key="k"
    )  # v2: v1's file superseded but retained (window 2) despite grace 0
    assert v1_files < parquet_files()
    assert {r["v"] for r in read_keyed_table(spark, path, version=1).collect()} == {1}

    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 3)], "k string, v int"), key="k"
    )  # v3 expires v1 -> its exclusive file is freed by this publish
    assert not (v1_files & parquet_files())
    with pytest.raises(ValueError, match="not retained"):
        read_keyed_table(spark, path, version=1)
    assert {r["v"] for r in read_keyed_table(spark, path, version=2).collect()} == {2}


def test_aborted_publish_leaves_no_phantom_snapshot(spark, tmp_path, monkeypatch):
    """Snapshot-after-commit ordering: a publish that aborts AT the
    manifest write (the commit point) must leave (a) no snapshot for the
    never-committed version — a phantom snapshot would let time travel
    serve uncommitted state — and (b) every previously retained snapshot
    intact — expiry before the commit would destroy retained versions for
    a publish that never happened."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "2")
    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1)], "k string, v int"), path, key="k",
        n_buckets=1,
    )  # v1
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 2)], "k string, v int"), key="k"
    )  # v2 — retention 2 means the NEXT publish would expire v1
    assert U._snapshot_versions(path) == [1, 2]

    from es_household_retention_spark_job_spark.sinks import manifest as M

    real_write = M.write_atomic

    def boom(path_, name, obj):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(M, "write_atomic", boom)
    with pytest.raises(RuntimeError, match="injected commit failure"):
        upsert_parquet(
            spark, path,
            spark.createDataFrame([("a", 3)], "k string, v int"), key="k",
        )
    monkeypatch.setattr(M, "write_atomic", real_write)

    # no phantom v3 snapshot, no premature expiry of v1, manifest still v2
    assert U._snapshot_versions(path) == [1, 2]
    assert U.current_version(path) == 2
    assert {r["v"] for r in read_keyed_table(spark, path).collect()} == {2}
    assert {r["v"] for r in read_keyed_table(spark, path, version=1).collect()} == {1}

    # the table is not wedged: a later publish commits v3 and only then
    # expires v1
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 4)], "k string, v int"), key="k"
    )
    assert U._snapshot_versions(path) == [2, 3]
    assert {r["v"] for r in read_keyed_table(spark, path, version=3).collect()} == {4}


def test_expired_version_files_get_post_expiry_grace(spark, tmp_path, monkeypatch):
    """The documented pin contract is 'retained window PLUS the GC grace
    window after the version expires'. Files whose garbage timestamps are
    long past grace while snapshot-pinned must get a RESTARTED grace
    clock at expiry (not immediate deletion) — a pinned reader mid-scan
    when its version drops out of retention needs the same grace as any
    other reader. With grace 0 the expiry publish still frees them."""
    import json
    import os
    import time

    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "2")
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "300")
    path = str(tmp_path / "tbl")
    write_keyed_table(
        spark.createDataFrame([("a", 1)], "k string, v int"), path, key="k",
        n_buckets=1,
    )  # v1

    def on_disk():
        return {
            f"{d}/{f}"
            for d in os.listdir(path)
            if d.startswith("_bucket=")
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        }

    v1_files = on_disk()
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 2)], "k string, v int"), key="k"
    )  # v2: v1's file becomes garbage, pinned by v1's snapshot (window 2)

    # age every garbage entry far past the grace window while still pinned
    m = U._read_manifest(path)
    for g in m["garbage"]:
        g["ts"] = time.time() - 10_000
    from es_household_retention_spark_job_spark.sinks import manifest as M

    M.write_atomic(path, U.MANIFEST_FILE, m)

    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 3)], "k string, v int"), key="k"
    )  # v3: v1 EXPIRES here — its file is past-grace AND newly unpinned

    assert v1_files <= on_disk(), "post-expiry grace violated: file deleted at expiry"
    m = U._read_manifest(path)
    v1_rels = {g["rel"] for g in m["garbage"] if g["rel"] in {f for f in v1_files}}
    assert any(
        time.time() - g["ts"] < 60
        for g in m["garbage"]
        if g["rel"] in v1_rels
    ), "grace clock was not restarted at expiry"

    # grace 0: the next publish reclaims (now - reset_ts >= 0)
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    upsert_parquet(
        spark, path, spark.createDataFrame([("a", 4)], "k string, v int"), key="k"
    )
    assert not (v1_files & on_disk())


def test_reinit_resumes_version_counter(spark, tmp_path):
    """Re-initializing a table with write_keyed_table must resume the
    version counter PAST any version the table ever published (captured
    before the overwrite deletes the snapshots): an external consumer
    that recorded (version, content) pairs never sees a number reused
    for different content."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([("a", 1)], "k string, v int")
    write_keyed_table(base, path, key="k", n_buckets=2)
    assert current_version(path) == 1
    for i, row in enumerate([("b", 2), ("c", 3)]):
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([row], "k string, v int"),
            key="k",
            n_buckets=2,
        )
    assert current_version(path) == 3

    write_keyed_table(base, path, key="k", n_buckets=2)  # re-init
    assert current_version(path) == 4  # past v3, not back to v1
    got = {r["k"] for r in read_keyed_table(spark, path).collect()}
    assert got == {"a"}  # content-wise a clean slate


def _mor(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")


def test_mor_upsert_appends_deltas_and_preserves_semantics(
    spark, tmp_path, monkeypatch
):
    """Merge-on-read upsert: identical MERGE semantics to copy-on-write
    (partial update, insert-with-nulls) with O(delta) writes — the base
    files of every affected bucket stay on disk AND stay live (no
    rewrite, no garbage); reads reconcile per key; a later delta for the
    same key supersedes the earlier one; switching back to CoW on a
    table carrying deltas still merges correctly."""
    import os

    from es_household_retention_spark_job_spark.sinks.upsert import (
        _read_manifest,
    )

    path = str(tmp_path / "mor_tbl")
    base = spark.createDataFrame(
        [(f"k{i}", i, f"w{i}") for i in range(200)], "k string, v int, w string"
    )
    write_keyed_table(base, path, key="k", n_buckets=4)
    m0 = _read_manifest(path)
    base_files = {d: list(fs) for d, fs in m0["live"].items()}

    _mor(monkeypatch)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 300), ("k999", 999)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    m1 = _read_manifest(path)
    # every base file is still live and untouched; delta files appended
    for d, fs in base_files.items():
        assert set(fs) <= set(m1["live"][d]), d
    assert not m1["garbage"]
    assert sum(len(fs) for fs in m1["live"].values()) > sum(
        len(fs) for fs in base_files.values()
    )

    got = {r["k"]: (r["v"], r["w"]) for r in read_keyed_table(spark, path).collect()}
    assert len(got) == 201
    assert got["k3"] == (300, "w3")  # partial update preserves w
    assert got["k999"] == (999, None)  # insert, missing column null
    assert got["k7"] == (7, "w7")  # untouched rows intact
    assert "_seq" not in read_keyed_table(spark, path).columns

    # a later delta for the same key wins
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 301)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got["k3"] == 301 and len(got) == 201

    # CoW on a delta-carrying table: resolves, merges, rewrites
    monkeypatch.delenv("SPARK_GRAFT_SINK_WRITE_MODE")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 302), ("k5", 500)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    got = {r["k"]: (r["v"], r["w"]) for r in read_keyed_table(spark, path).collect()}
    assert got["k3"] == (302, "w3") and got["k5"] == (500, "w5")
    assert len(got) == 201


def test_mor_compaction_folds_deltas(spark, tmp_path, monkeypatch):
    """compact_keyed_table IS the MoR merge: it resolves per-key latest
    rows, writes one file per bucket, and the table reads identically
    before and after; idempotent."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        _read_manifest,
    )

    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "1")
    path = str(tmp_path / "mor_compact")
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(100)], "k string, v int"
    )
    write_keyed_table(base, path, key="k", n_buckets=4)
    _mor(monkeypatch)
    for j in range(3):
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame(
                [(f"k{i}", 1000 * (j + 1) + i) for i in range(0, 100, 7)],
                "k string, v int",
            ),
            key="k",
            n_buckets=4,
        )
    spark.catalog.refreshByPath(path)
    before = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert before["k0"] == 3000 and before["k1"] == 1  # latest delta wins
    n = compact_keyed_table(spark, path)
    assert n > 0
    spark.catalog.refreshByPath(path)
    m = _read_manifest(path)
    assert all(len(fs) == 1 for fs in m["live"].values()), m["live"]
    after = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert after == before
    assert compact_keyed_table(spark, path) == 0


def test_mor_random_sequences_match_dict_model(spark, tmp_path, monkeypatch):
    """The CoW dict-model property holds verbatim under merge-on-read —
    including schema evolution mid-sequence and a mid-sequence compaction
    (the MoR maintenance op)."""
    import random

    _mor(monkeypatch)
    rng = random.Random(20260815)
    keys = [f"K{i}" for i in range(6)]
    all_cols = ["v", "w", "z"]
    model: dict[str, dict[str, int | None]] = {}
    path = str(tmp_path / "mor_prop")

    for batch_no in range(5):
        cols = ["v"] if batch_no == 0 else rng.sample(
            all_cols[: 2 + (batch_no >= 2)], rng.randint(1, 2)
        )
        batch_keys = rng.sample(keys, rng.randint(1, 4))
        rows = [
            tuple([k] + [rng.randint(0, 99) for _ in cols]) for k in batch_keys
        ]
        schema = "person_id string, " + ", ".join(f"{c} long" for c in cols)
        upsert_parquet(
            spark, path, spark.createDataFrame(rows, schema), n_buckets=4
        )
        for row in rows:
            k, vals = row[0], dict(zip(cols, row[1:]))
            model.setdefault(k, {})
            model[k].update(vals)
        if batch_no == 2:
            compact_keyed_table(spark, path)
            spark.catalog.refreshByPath(path)

    got = {
        r["person_id"]: {c: r[c] for c in all_cols if c in r.asDict()}
        for r in read_keyed_table(spark, path).collect()
    }
    assert set(got) == set(model)
    for k, expect in model.items():
        for c in all_cols:
            assert got[k].get(c) == expect.get(c), (k, c, got[k], expect)


def test_mor_time_travel_and_history(spark, tmp_path, monkeypatch):
    """MoR publishes version like any other commit: a pinned read of the
    pre-delta version reproduces the old state (its snapshot's live set
    simply excludes the delta files)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
    )

    path = str(tmp_path / "mor_tt")
    write_keyed_table(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )
    v1 = current_version(path)
    _mor(monkeypatch)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("a", 10)], "k string, v int"),
        key="k",
        n_buckets=2,
    )
    assert current_version(path) == v1 + 1
    now = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert now == {"a": 10, "b": 2}
    pinned = {
        r["k"]: r["v"]
        for r in read_keyed_table(spark, path, version=v1).collect()
    }
    assert pinned == {"a": 1, "b": 2}


def _buckets_of(spark, keys, n):
    """The sink's bucket id for each key (computed with the sink's own
    bucket function — Spark-side xxhash64, not reimplemented here)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        BUCKET_COL,
        _with_bucket,
    )

    df = _with_bucket(
        spark.createDataFrame([(k,) for k in keys], "k string"), "k", n
    )
    return {r["k"]: r[BUCKET_COL] for r in df.collect()}


def test_mor_delta_survives_cow_in_other_bucket(spark, tmp_path, monkeypatch):
    """THE schema-pinning hazard: a CoW upsert that touches only bucket X
    must not drop ``_seq`` from the pinned schema while bucket Y still
    carries a live delta file — otherwise Y's delta rows read without
    their sequence, reconciliation silently no-ops, and the table serves
    DUPLICATE keys. _publish owns the decision from the manifest's delta
    ledger, not from the CoW writer's own (seq-less) output."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        SEQ_COL,
        _read_layout,
        _read_manifest,
        _stored_schema,
    )

    n = 2
    path = str(tmp_path / "mor_cross")
    keys = [f"k{i}" for i in range(20)]
    b = _buckets_of(spark, keys, n)
    a = next(k for k in keys if b[k] == 0)  # MoR-delta key, bucket 0
    c = next(k for k in keys if b[k] == 1)  # CoW key, bucket 1
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )

    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(a, 111)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    monkeypatch.delenv("SPARK_GRAFT_SINK_WRITE_MODE")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(c, 222)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    # the delta file in bucket 0 is still live → pinned schema keeps _seq
    assert SEQ_COL in [f.name for f in _stored_schema(_read_layout(path)).fields]
    rows = read_keyed_table(spark, path).collect()
    got = {r["k"]: r["v"] for r in rows}
    assert len(rows) == len(keys)  # no duplicate keys: delta reconciled
    assert got[a] == 111 and got[c] == 222

    # compaction folds the last delta → ledger empties → _seq leaves the
    # pinned schema → later reads skip the reconciliation window entirely
    from es_household_retention_spark_job_spark.sinks.upsert import (
        compact_keyed_table,
    )

    compact_keyed_table(spark, path)
    spark.catalog.refreshByPath(path)
    assert not _read_manifest(path).get("mor")
    assert SEQ_COL not in [
        f.name for f in _stored_schema(_read_layout(path)).fields
    ]
    got2 = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got2 == got


def test_mor_insert_into_empty_bucket_compacts(spark, tmp_path, monkeypatch):
    """A MoR insert into a previously EMPTY bucket leaves a single-file
    bucket whose one file is a delta: compaction must fold it anyway
    (len(files)==1 alone would skip it, leaving real _seq values live and
    the pinned schema stuck carrying the column forever)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        SEQ_COL,
        _read_layout,
        _read_manifest,
        _stored_schema,
        compact_keyed_table,
    )

    n = 4
    probe = [f"p{i}" for i in range(40)]
    b = _buckets_of(spark, probe, n)
    base_keys = [k for k in probe if b[k] == 0][:5]
    new_key = next(k for k in probe if b[k] == 3)
    path = str(tmp_path / "mor_empty_bucket")
    write_keyed_table(
        spark.createDataFrame([(k, 1) for k in base_keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(new_key, 9)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    m = _read_manifest(path)
    d3 = f"_bucket=3"
    assert m["live"][d3] == m["mor"][d3] and len(m["live"][d3]) == 1
    assert compact_keyed_table(spark, path) >= 1
    spark.catalog.refreshByPath(path)
    assert not _read_manifest(path).get("mor")
    assert SEQ_COL not in [
        f.name for f in _stored_schema(_read_layout(path)).fields
    ]
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert got[new_key] == 9 and len(got) == len(base_keys) + 1


def test_sink_rejects_reserved_columns(spark, tmp_path):
    from es_household_retention_spark_job_spark.sinks.upsert import SEQ_COL

    df = spark.createDataFrame([("a", 1)], f"k string, {SEQ_COL} int")
    with pytest.raises(ValueError, match="reserved"):
        write_keyed_table(df, str(tmp_path / "r1"), key="k", n_buckets=2)
    path = str(tmp_path / "r2")
    write_keyed_table(
        spark.createDataFrame([("a", 1)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )
    with pytest.raises(ValueError, match="reserved"):
        upsert_parquet(spark, path, df, key="k", n_buckets=2)


def test_delete_keys_cow(spark, tmp_path):
    """CoW delete: anti-join rewrite of only the affected buckets; rows
    physically gone at commit; absent keys are a no-op; versioned like
    any publish (time travel to the pre-delete version still serves)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        _read_manifest,
        current_version,
        delete_keys,
    )

    path = str(tmp_path / "del_cow")
    write_keyed_table(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(50)], "k string, v int"
        ),
        path,
        key="k",
        n_buckets=4,
    )
    v1 = current_version(path)
    n = delete_keys(
        spark, path, spark.createDataFrame([("k3",), ("k7",), ("nope",)], "k string")
    )
    assert n == 3
    got = {r["k"] for r in read_keyed_table(spark, path).collect()}
    assert "k3" not in got and "k7" not in got and len(got) == 48
    # physically gone: the raw live files contain no trace of the keys
    m = _read_manifest(path)
    raw = spark.read.parquet(
        *[f"{path}/{d}/{f}" for d, fs in m["live"].items() for f in fs]
    )
    assert raw.where(F.col("k").isin("k3", "k7")).count() == 0
    # pre-delete version still serves the rows
    old = {r["k"] for r in read_keyed_table(spark, path, version=v1).collect()}
    assert "k3" in old and len(old) == 50


def test_delete_keys_mor_tombstones(spark, tmp_path, monkeypatch):
    """MoR delete: O(deleted keys) tombstone append — base files untouched,
    reads hide the key immediately, upsert-after-delete resurrects it
    fresh, and compaction physically drops the bytes (and the internal
    columns from the pinned schema)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        SEQ_COL,
        _read_layout,
        _read_manifest,
        _stored_schema,
        compact_keyed_table,
        delete_keys,
    )

    path = str(tmp_path / "del_mor")
    write_keyed_table(
        spark.createDataFrame(
            [(f"k{i}", i, f"w{i}") for i in range(50)],
            "k string, v int, w string",
        ),
        path,
        key="k",
        n_buckets=4,
    )
    m0 = _read_manifest(path)
    base_files = {d: list(fs) for d, fs in m0["live"].items()}

    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    assert delete_keys(
        spark, path, spark.createDataFrame([("k3",), ("k7",)], "k string")
    ) == 2
    m1 = _read_manifest(path)
    for d, fs in base_files.items():
        assert set(fs) <= set(m1["live"][d])  # nothing rewritten
    assert not m1["garbage"]
    got = {r["k"]: r["v"] for r in read_keyed_table(spark, path).collect()}
    assert "k3" not in got and "k7" not in got and len(got) == 48

    # upsert-after-delete: key comes back fresh (old columns NOT revived)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 999)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    rows = {r["k"]: (r["v"], r["w"]) for r in read_keyed_table(spark, path).collect()}
    assert rows["k3"] == (999, None)  # w NOT resurrected from pre-delete row
    assert len(rows) == 49

    # compaction: tombstoned bytes die, internal cols leave the schema
    assert compact_keyed_table(spark, path) > 0
    spark.catalog.refreshByPath(path)
    assert not _read_manifest(path).get("mor")
    assert SEQ_COL not in [
        f.name for f in _stored_schema(_read_layout(path)).fields
    ]
    m2 = _read_manifest(path)
    raw = spark.read.parquet(
        *[f"{path}/{d}/{f}" for d, fs in m2["live"].items() for f in fs]
    )
    assert raw.where(F.col("k") == "k7").count() == 0
    after = {r["k"]: (r["v"], r["w"]) for r in read_keyed_table(spark, path).collect()}
    assert after == rows


def test_delete_whole_bucket_cow(spark, tmp_path):
    """Deleting every key of a bucket leaves an empty live list for it —
    reads stay correct."""
    from es_household_retention_spark_job_spark.sinks.upsert import delete_keys

    n = 2
    path = str(tmp_path / "del_all_bucket")
    keys = [f"k{i}" for i in range(30)]
    b = _buckets_of(spark, keys, n)
    b0 = [k for k in keys if b[k] == 0]
    write_keyed_table(
        spark.createDataFrame([(k, 1) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    delete_keys(spark, path, spark.createDataFrame([(k,) for k in b0], "k string"))
    got = {r["k"] for r in read_keyed_table(spark, path).collect()}
    assert got == set(keys) - set(b0)


def test_mor_read_resolves_only_dirty_buckets(spark, tmp_path, monkeypatch):
    """The MoR read tax is confined to delta-carrying buckets: the plan is
    a UNION of a bare scan (clean buckets — no exchange, pushdown intact)
    and one reconciliation fold (dirty buckets only). A full-table fold
    would tax every read with an O(table) key shuffle that compaction
    cadence could never claw back for clean buckets."""
    n = 4
    path = str(tmp_path / "mor_split")
    keys = [f"k{i}" for i in range(40)]
    b = _buckets_of(spark, keys, n)
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    target = keys[0]
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(target, 7)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    df = read_keyed_table(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan  # split read, not a full-table resolve
    # exactly one reconciliation fold: the final step of its one
    # aggregate (the partial step's functions read "partial_max(")
    assert plan.count("functions=[max(") == 1
    got = {r["k"]: r["v"] for r in df.collect()}
    assert got[target] == 7 and len(got) == len(keys)
    # keys of OTHER buckets are served by the clean (window-free) side
    clean_key = next(k for k in keys if b[k] != b[target])
    assert got[clean_key] == 0


def test_point_lookup_reads_only_hashed_buckets(spark, tmp_path):
    """keys= is the serving path: the scan's file set is confined to the
    buckets the keys hash to (manifest-level pruning), and the key
    predicate reaches the parquet scan as an In pushdown. An unpruned
    lookup would make every point read an O(table) scan."""
    n = 8
    path = str(tmp_path / "lookup")
    keys = [f"k{i}" for i in range(64)]
    b = _buckets_of(spark, keys, n)
    write_keyed_table(
        spark.createDataFrame([(k, len(k)) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    probe = [keys[0], next(k for k in keys if b[k] != b[keys[0]])]
    df = read_keyed_table(spark, path, keys=probe)
    got = {r["k"]: r["v"] for r in df.collect()}
    assert got == {k: len(k) for k in probe}
    want_buckets = {f"_bucket={b[k]}" for k in probe}
    touched = {f.split("/")[-2] for f in df.inputFiles()}
    assert touched == want_buckets  # only the hashed buckets are opened
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(k" in plan or "In(k, " in plan


def test_point_lookup_mor_and_time_travel(spark, tmp_path, monkeypatch):
    """Point lookups compose with merge-on-read (the looked-up bucket's
    deltas win) and with version= (pre-upsert value served)."""
    n = 4
    path = str(tmp_path / "lookup_mor")
    keys = [f"k{i}" for i in range(40)]
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
    )

    v0 = current_version(path)
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    target = keys[7]
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(target, 9)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    now = read_keyed_table(spark, path, keys=[target]).collect()
    assert [(r["k"], r["v"]) for r in now] == [(target, 9)]
    then = read_keyed_table(spark, path, version=v0, keys=[target]).collect()
    assert [(r["k"], r["v"]) for r in then] == [(target, 0)]


def test_point_lookup_large_key_list_semi_join(spark, tmp_path):
    """Beyond LOOKUP_ISIN_MAX the lookup switches to a broadcast semi-join
    (a thousands-element In expression bloats the plan); results are
    identical and unknown keys are simply absent."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        LOOKUP_ISIN_MAX,
    )

    n = 4
    path = str(tmp_path / "lookup_big")
    keys = [f"k{i}" for i in range(LOOKUP_ISIN_MAX + 40)]
    write_keyed_table(
        spark.createDataFrame([(k, 1) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    probe = keys[: LOOKUP_ISIN_MAX + 10] + ["missing0", "missing1"]
    df = read_keyed_table(spark, path, keys=probe)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    got = {r["k"] for r in df.collect()}
    assert got == set(probe) - {"missing0", "missing1"}


def _changes(spark, path, v0, v1=None):
    from es_household_retention_spark_job_spark.sinks.upsert import (
        read_changes,
    )

    rows = read_changes(spark, path, v0, v1).collect()
    return sorted((r["k"], r["v"], r["_change_type"]) for r in rows)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_change_feed_insert_update_delete(spark, tmp_path, monkeypatch, mode):
    """read_changes turns the sink into a pipeline source: inserts,
    preimage/postimage update pairs, and deletes between two retained
    versions — identical under CoW and MoR writes (the feed reads
    RESOLVED states, so delta files vs rewrites is invisible)."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
        delete_keys,
    )

    n = 4
    path = str(tmp_path / f"cdf_{mode}")
    keys = [f"k{i}" for i in range(30)]
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = current_version(path)
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", mode)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 7), ("new1", 1)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    delete_keys(spark, path, spark.createDataFrame([("k5",)], "k string"))
    assert _changes(spark, path, v0) == [
        ("k3", 0, "update_preimage"),
        ("k3", 7, "update_postimage"),
        ("k5", 0, "delete"),
        ("new1", 1, "insert"),
    ]
    # the feed is version-addressed: the sub-range containing only the
    # delete reports only the delete
    v1 = current_version(path)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 8)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    assert _changes(spark, path, v1) == [
        ("k3", 7, "update_preimage"),
        ("k3", 8, "update_postimage"),
    ]
    # same-version diff: empty, schema intact
    empty = spark.sparkContext  # noqa: F841  (keep spark referenced)
    from es_household_retention_spark_job_spark.sinks.upsert import (
        read_changes,
    )

    df = read_changes(spark, path, v1, v1)
    assert df.count() == 0
    assert df.columns == ["k", "v", "_change_type"]


def test_change_feed_is_bucket_confined(spark, tmp_path):
    """A bucket whose live file list is identical in both snapshots is
    never opened: the diff's input files all live under changed buckets.
    (Under MoR an upsert dirties only the delta's hashed buckets, so the
    feed reads O(changed data); CoW rewrites make every touched bucket
    'changed' — same blast radius as the write itself.)"""
    import os as _os

    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
        read_changes,
    )

    n = 8
    path = str(tmp_path / "cdf_pruned")
    keys = [f"k{i}" for i in range(64)]
    b = _buckets_of(spark, keys, n)
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = current_version(path)
    # capture off: this test pins the state-diff tiers' bucket confinement
    # (with capture on, tier 0 opens no table file at all — stronger, but
    # pinned separately)
    _os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"
    _os.environ["SPARK_GRAFT_SINK_CDC"] = "off"
    try:
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([("k0", 5)], "k string, v int"),
            key="k",
            n_buckets=n,
        )
    finally:
        _os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        _os.environ.pop("SPARK_GRAFT_SINK_CDC", None)
    df = read_changes(spark, path, v0)
    touched = {f.split("/")[-2] for f in df.inputFiles()}
    assert touched == {f"_bucket={b['k0']}"}  # only the dirtied bucket
    assert _changes(spark, path, v0) == [
        ("k0", 0, "update_preimage"),
        ("k0", 5, "update_postimage"),
    ]


def test_change_feed_schema_evolution_no_phantom_updates(spark, tmp_path):
    """A schema-evolving upsert rewrites whole buckets (CoW), materializing
    the new column as nulls for untouched keys in those buckets. The feed
    compares over the UNION column set with null-safe equality, so those
    keys do NOT appear as phantom updates — only the actually-changed key
    does, with the new column populated."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
        read_changes,
    )

    n = 2
    path = str(tmp_path / "cdf_evolve")
    keys = [f"k{i}" for i in range(20)]
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = current_version(path)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k4", 1, "x")], "k string, v int, extra string"),
        key="k",
        n_buckets=n,
    )
    rows = read_changes(spark, path, v0).collect()
    got = sorted((r["k"], r["v"], r["extra"], r["_change_type"]) for r in rows)
    assert got == [
        ("k4", 0, None, "update_preimage"),
        ("k4", 1, "x", "update_postimage"),
    ]


def test_compaction_key_sorts_buckets_for_rowgroup_skipping(
    spark, tmp_path, monkeypatch
):
    """Compacted bucket files are KEY-SORTED, so parquet row-group min/max
    stats on the key are tight non-overlapping ranges — the property that
    lets a point lookup's pushed key predicate skip every row group but
    its own. Verified at the parquet-metadata level (plan text can't show
    runtime row-group pruning)."""
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "1")
    n = 4
    path = str(tmp_path / "sorted")
    # small row groups so each compacted file carries several (must go on
    # the live hadoop conf — spark.hadoop.* is only read at context init)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(8 * 1024))
    hconf.set("parquet.page.size.row.check.min", "10")
    try:
        write_keyed_table(
            spark.createDataFrame(
                [(f"k{i:05d}", "x" * 64) for i in range(4000)],
                "k string, payload string",
            ),
            path,
            key="k",
            n_buckets=n,
        )
        # dirty the buckets (MoR deltas — a CoW rewrite is already
        # single-file and compact would be a no-op), then compact
        monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame(
                [(f"k{i:05d}", "y" * 64) for i in range(0, 4000, 7)],
                "k string, payload string",
            ),
            key="k",
            n_buckets=n,
        )
        assert compact_keyed_table(spark, path) == n
    finally:
        if prev_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev_block)
        hconf.unset("parquet.page.size.row.check.min")
    import os as _os

    checked_multi_rg = 0
    for d in _os.listdir(path):
        if not d.startswith("_bucket="):
            continue
        files = [f for f in _os.listdir(_os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1  # compacted: one file per bucket
        md = pq.ParquetFile(_os.path.join(path, d, files[0])).metadata
        mins_maxs = []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            st = col.statistics
            mins_maxs.append((st.min, st.max))
        # sorted file => row-group key ranges are non-overlapping, ordered
        for (lo1, hi1), (lo2, hi2) in zip(mins_maxs, mins_maxs[1:]):
            assert hi1 <= lo2, f"overlapping row groups: {hi1} !<= {lo2}"
        if md.num_row_groups > 1:
            checked_multi_rg += 1
    assert checked_multi_rg > 0  # the assertion above actually bit


def test_needs_compaction_policy(spark, tmp_path, monkeypatch):
    from es_household_retention_spark_job_spark.sinks.upsert import (
        needs_compaction,
    )

    n = 8
    path = str(tmp_path / "policy")
    keys = [f"k{i}" for i in range(64)]
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    assert needs_compaction(path) is False  # fresh load: 1 file/bucket
    # MoR-dirty more than a quarter of the buckets
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(k, 1) for k in keys[:32]], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    assert needs_compaction(path) is True
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "1")
    compact_keyed_table(spark, path)
    assert needs_compaction(path) is False
    # file-count trigger (CoW appends leave multi-file buckets only under
    # MoR; simulate via repeated MoR single-key updates on one bucket)
    for i in range(5):
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([("k0", 10 + i)], "k string, v int"),
            key="k",
            n_buckets=n,
        )
    assert needs_compaction(path, max_dirty_fraction=1.0) is True  # >4 files
    assert needs_compaction(path, max_files_per_bucket=10, max_dirty_fraction=1.0) is False


def test_change_feed_mor_append_fast_path(spark, tmp_path, monkeypatch):
    """A pure-MoR-append window takes the incremental fast path: the
    after-state is resolved from the suffix delta files alone (no second
    full resolved-state build) and the before-state scan carries the
    candidate-key In pushdown. Output equivalence with the full diff is
    covered by test_change_feed_insert_update_delete's cow/mor paramet-
    rization; this pins the PLAN shape."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    n = 8
    path = str(tmp_path / "cdf_fast")
    keys = [f"k{i}" for i in range(64)]
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = U.current_version(path)
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    # capture off: this test pins the SUFFIX fast path (tier 1); the
    # write-time-capture tier (tier 0) has its own test below
    monkeypatch.setenv("SPARK_GRAFT_SINK_CDC", "off")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k0", 5), ("k1", 6)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    calls = []
    real = U._resolved_state

    def spy(spark_, path_, schema, manifest, layout, restrict=None):
        calls.append((manifest.get("version"), restrict))
        return real(spark_, path_, schema, manifest, layout, restrict)

    monkeypatch.setattr(U, "_resolved_state", spy)
    df = U.read_changes(spark, path, v0)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in df.collect())
    assert got == [
        ("k0", 0, "update_preimage"),
        ("k0", 5, "update_postimage"),
        ("k1", 0, "update_preimage"),
        ("k1", 6, "update_postimage"),
    ]
    # fast path: exactly ONE resolved-state build (the before side, at the
    # from version) — the after side came from the suffix files alone
    assert len(calls) == 1 and calls[0][0] == v0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(k" in plan  # candidate-key pushdown on the before scan

    # a COMPACTION (bucket rewrite) disqualifies the window from the fast
    # path: both states rebuild in full for those buckets
    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    compact_keyed_table(spark, path)
    calls.clear()
    df2 = U.read_changes(spark, path, v0)
    assert len(calls) == 2  # before AND after resolved states
    got2 = sorted((r["k"], r["v"], r["_change_type"]) for r in df2.collect())
    assert got2 == got  # compaction is invisible to the feed's content


def test_change_feed_write_time_capture(spark, tmp_path, monkeypatch):
    """Tier 0: a window whose every version wrote a CDC sidecar is served
    from the sidecars alone — zero table files opened, zero resolved-state
    builds — and the netted result (first preimage / last postimage per
    key) is byte-identical to the state diff of a capture-off twin table
    that took the same mutations."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    n = 8
    keys = [f"k{i}" for i in range(40)]

    def build(path, cdc):
        monkeypatch.setenv("SPARK_GRAFT_SINK_CDC", cdc)
        write_keyed_table(
            spark.createDataFrame([(k, 0) for k in keys], "k string, v int"),
            path,
            key="k",
            n_buckets=n,
        )
        v0 = U.current_version(path)
        monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
        # v: update k1, insert new1
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([("k1", 5), ("new1", 1)], "k string, v int"),
            key="k",
            n_buckets=n,
        )
        # v+1: update k1 again (nets to one pair 0 -> 7), revert k2-noop,
        # insert-then-delete new2
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([("k1", 7), ("new2", 2)], "k string, v int"),
            key="k",
            n_buckets=n,
        )
        # v+2: delete new2 (insert+delete in window nets to nothing) and
        # k3 (plain delete), update-then... k1 stays
        from es_household_retention_spark_job_spark.sinks.upsert import (
            delete_keys,
        )

        delete_keys(
            spark, path, spark.createDataFrame([("new2",), ("k3",)], "k string")
        )
        monkeypatch.delenv("SPARK_GRAFT_SINK_WRITE_MODE")
        return v0

    path_on = str(tmp_path / "cdc_on")
    v0 = build(path_on, "on")
    calls = []
    real = U._resolved_state

    def spy(spark_, path_, schema, manifest, layout, restrict=None):
        calls.append(restrict)
        return real(spark_, path_, schema, manifest, layout, restrict)

    monkeypatch.setattr(U, "_resolved_state", spy)
    df = U.read_changes(spark, path_on, v0)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in df.collect())
    monkeypatch.setattr(U, "_resolved_state", real)
    assert calls == []  # no state build at all
    assert df.inputFiles() and all(
        f"/{U.CDC_DIR}/" in f for f in df.inputFiles()
    )
    assert got == [
        ("k1", 0, "update_preimage"),
        ("k1", 7, "update_postimage"),
        ("k3", 0, "delete"),
        ("new1", 1, "insert"),
    ]

    # capture-off twin, same mutations: the state diff agrees exactly
    path_off = str(tmp_path / "cdc_off")
    v0_off = build(path_off, "off")
    off = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in U.read_changes(spark, path_off, v0_off).collect()
    )
    assert off == got

    # sub-window netting: a window starting mid-history serves the values
    # as of ITS from-version (k1 was 5 at v0+1)
    mid = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in U.read_changes(spark, path_on, v0 + 1).collect()
    )
    assert ("k1", 5, "update_preimage") in mid
    assert ("k1", 7, "update_postimage") in mid
    assert ("new1", 1, "insert") not in mid  # inserted before this window


def test_cdc_sidecar_gc_and_fallback(spark, tmp_path, monkeypatch):
    """Sidecar files die with their versions (entries pruned in sync with
    retention, files through the garbage/grace pipeline), and a window
    containing an uncaptured version (CoW merge) falls back to the state
    diff with identical content."""
    import os as _os

    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "2")
    n = 4
    path = str(tmp_path / "cdc_gc")
    write_keyed_table(
        spark.createDataFrame([(f"k{i}", 0) for i in range(20)], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    for i in range(6):
        upsert_parquet(
            spark,
            path,
            spark.createDataFrame([(f"k{i}", i + 1)], "k string, v int"),
            key="k",
            n_buckets=n,
        )
    man = U._read_manifest(path)
    retained = {str(v) for v in U._snapshot_versions(path)}
    assert set(man["cdc"]) <= retained  # pruned in sync with retention
    cdc_dir = _os.path.join(path, U.CDC_DIR)
    on_disk = {f for f in _os.listdir(cdc_dir) if f.endswith(".parquet")}
    referenced = {f for fs in man["cdc"].values() for f in fs}
    assert on_disk == referenced  # grace-0: pruned files physically gone

    # fallback: a capture-DISABLED version inside the window has no sidecar
    # entry (since round 10 CoW publishes capture too, so the uncaptured
    # version must be forced via SPARK_GRAFT_SINK_CDC=off)
    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "4")  # keep v_from
    v_before_cow = U.current_version(path)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k7", 99)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "cow")
    monkeypatch.setenv("SPARK_GRAFT_SINK_CDC", "off")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k8", 98)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    monkeypatch.delenv("SPARK_GRAFT_SINK_CDC")
    assert str(U.current_version(path)) not in U._read_manifest(path).get(
        "cdc", {}
    )  # the forced-off version really is uncaptured — the fallback fires
    got = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in U.read_changes(spark, path, v_before_cow).collect()
    )
    assert got == [
        ("k7", 0, "update_preimage"),
        ("k7", 99, "update_postimage"),
        ("k8", 0, "update_preimage"),
        ("k8", 98, "update_postimage"),
    ]


def test_cdc_capture_schema_evolution(spark, tmp_path, monkeypatch):
    """A schema-evolving MoR upsert captures postimages carrying the new
    column; the netting reader merges sidecar schemas across the window,
    so preimages read null for it — no phantom diffs, values exact."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    n = 4
    path = str(tmp_path / "cdc_evolve_mor")
    write_keyed_table(
        spark.createDataFrame([(f"k{i}", 0) for i in range(12)], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = U.current_version(path)
    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k2", 5)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k3", 6, "x")], "k string, v int, extra string"),
        key="k",
        n_buckets=n,
    )
    df = U.read_changes(spark, path, v0)
    assert df.inputFiles() and all(f"/{U.CDC_DIR}/" in f for f in df.inputFiles())
    got = sorted(
        (r["k"], r["v"], r["extra"], r["_change_type"]) for r in df.collect()
    )
    assert got == [
        ("k2", 0, None, "update_preimage"),
        ("k2", 5, None, "update_postimage"),
        ("k3", 0, None, "update_preimage"),
        ("k3", 6, "x", "update_postimage"),
    ]


def test_change_feed_random_sequences_match_dict_model(
    spark, tmp_path, monkeypatch
):
    """Model-based property for the change feed: random mutation sequences
    (upserts, deletes, re-inserts, mixed write modes, a mid-sequence
    compaction) against a dict model; for EVERY retained (from, to) pair
    the feed must equal the model's state diff — whichever tier serves it
    (capture sidecars, append suffix, or the full state diff)."""
    import random

    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.sinks.upsert import (
        delete_keys,
    )

    monkeypatch.setenv("SPARK_GRAFT_SINK_KEEP_VERSIONS", "16")
    rng = random.Random(20260815)
    keys = [f"K{i}" for i in range(8)]
    path = str(tmp_path / "cdf_prop")
    write_keyed_table(
        spark.createDataFrame([(k, 0) for k in keys[:5]], "k string, v int"),
        path,
        key="k",
        n_buckets=4,
    )
    model: dict[str, int] = {k: 0 for k in keys[:5]}
    states = {U.current_version(path): dict(model)}

    for step in range(6):
        mode = rng.choice(["cow", "mor", "mor"])  # bias to the capture tier
        monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", mode)
        if rng.random() < 0.3 and model:
            victims = rng.sample(sorted(model), min(2, len(model)))
            delete_keys(
                spark, path, spark.createDataFrame([(k,) for k in victims], "k string")
            )
            for k in victims:
                model.pop(k)
        else:
            batch = [
                (k, rng.randint(1, 99))
                for k in rng.sample(keys, rng.randint(1, 3))
            ]
            upsert_parquet(
                spark,
                path,
                spark.createDataFrame(batch, "k string, v int"),
                key="k",
                n_buckets=4,
            )
            model.update(dict(batch))
        if step == 3:
            monkeypatch.setenv("SPARK_GRAFT_SINK_GC_GRACE", "0")
            compact_keyed_table(spark, path)
        states[U.current_version(path)] = dict(model)

    versions = sorted(states)
    for i, v_from in enumerate(versions):
        for v_to in versions[i + 1 :]:
            a, b = states[v_from], states[v_to]
            want = sorted(
                [(k, b[k], "insert") for k in b if k not in a]
                + [(k, a[k], "delete") for k in a if k not in b]
                + [
                    p
                    for k in a
                    if k in b and a[k] != b[k]
                    for p in [
                        (k, a[k], "update_preimage"),
                        (k, b[k], "update_postimage"),
                    ]
                ]
            )
            got = sorted(
                (r["k"], r["v"], r["_change_type"])
                for r in U.read_changes(spark, path, v_from, v_to).collect()
            )
            assert got == want, (v_from, v_to, got, want)

def test_cow_capture_tier_under_default_mode(spark, tmp_path, monkeypatch):
    """Round 10: write-time change capture is WRITE-MODE-INDEPENDENT. A
    table mutated entirely under the DEFAULT copy-on-write mode (upsert,
    schema-evolving upsert, delete) serves its change feed from the
    per-version sidecars alone — zero table files opened, zero
    resolved-state builds — with exactly the changed keys (the CoW bucket
    rewrite's untouched rows never reach the sidecar)."""
    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.sinks.upsert import (
        delete_keys,
    )

    monkeypatch.delenv("SPARK_GRAFT_SINK_WRITE_MODE", raising=False)
    n = 4
    path = str(tmp_path / "cow_cap")
    write_keyed_table(
        spark.createDataFrame([(f"k{i}", 0) for i in range(30)], "k string, v int"),
        path,
        key="k",
        n_buckets=n,
    )
    v0 = U.current_version(path)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k1", 5), ("new1", 1)], "k string, v int"),
        key="k",
        n_buckets=n,
    )
    # schema-evolving CoW rewrite: untouched keys in the rewritten buckets
    # must NOT appear in the capture (no phantom updates)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k2", 6, "x")], "k string, v int, extra string"),
        key="k",
        n_buckets=n,
    )
    delete_keys(spark, path, spark.createDataFrame([("k3",)], "k string"))
    man = U._read_manifest(path)
    assert set(man.get("cdc", {})) == {
        str(v) for v in range(v0 + 1, U.current_version(path) + 1)
    }  # every CoW publish captured

    calls = []
    real = U._resolved_state

    def spy(spark_, path_, schema, manifest, layout, restrict=None):
        calls.append(restrict)
        return real(spark_, path_, schema, manifest, layout, restrict)

    monkeypatch.setattr(U, "_resolved_state", spy)
    df = U.read_changes(spark, path, v0)
    got = sorted(
        (r["k"], r["v"], r["extra"], r["_change_type"]) for r in df.collect()
    )
    monkeypatch.setattr(U, "_resolved_state", real)
    assert calls == []  # tier 0: no state build at all
    assert df.inputFiles() and all(f"/{U.CDC_DIR}/" in f for f in df.inputFiles())
    assert got == [
        ("k1", 0, None, "update_preimage"),
        ("k1", 5, None, "update_postimage"),
        ("k2", 0, None, "update_preimage"),
        ("k2", 6, "x", "update_postimage"),
        ("k3", 0, None, "delete"),
        ("new1", 1, None, "insert"),
    ]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_capture_equals_merge_diff(spark, tmp_path, mode):
    """A merging publish's CDC sidecar holds exactly the rows of the state
    diff of its merge — ``_diff_states(pre, _merge_frames(pre, u))`` over
    the update keys' stored rows ``pre`` — as a multiset, with the same
    column names and types. Covered: an insert, a value change, a
    same-value update (no row), a null → value change, an update adding
    a column, and (CoW only — under MoR it lands as an uncaptured partial
    delta) one carrying a strict subset of the columns; under MoR the
    checked publish merges into buckets already carrying a partial
    delta."""
    import os
    from collections import Counter

    from es_household_retention_spark_job_spark.sinks import upsert as U

    n, path = 2, str(tmp_path / f"capture_{mode}")
    write_keyed_table(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 2, "y"), ("c", 3, None), ("d", 4, "w")],
            "k string, v int, w string",
        ),
        path,
        key="k",
        n_buckets=n,
    )

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    def upsert_and_check(updates, want_types):
        pre = read_keyed_table(spark, path)
        pre = spark.createDataFrame(pre.collect(), pre.schema)
        upsert_parquet(spark, path, updates, key="k", n_buckets=n, mode=mode)
        man = U._read_manifest(path)
        files = man["cdc"][str(man["version"])]
        got = spark.read.parquet(
            *[os.path.join(path, U.CDC_DIR, f) for f in files]
        ).drop(U.CDC_VERSION_COL)
        u = U._with_bucket(updates, "k", n)
        pre = U._with_bucket(pre, "k", n).join(u.select("k"), "k", "left_semi")
        post = U._merge_frames(pre, u, "k").drop(U.BUCKET_COL)
        want = U._diff_states(pre.drop(U.BUCKET_COL), post, "k")
        assert shape(got) == shape(want)
        assert Counter(map(tuple, got.collect())) == Counter(
            map(tuple, want.collect())
        )
        assert sorted(
            (r["k"], r[U.CHANGE_TYPE_COL]) for r in got.collect()
        ) == sorted(want_types)

    # under MoR a strict column subset lands as a partial delta (never
    # captured): it leaves both buckets carrying one
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("a", 1), ("b", 2), ("d", 5)], "k string, v int"),
        key="k",
        n_buckets=n,
        mode=mode,
    )
    if mode == "mor":
        assert len(U._read_manifest(path)["mor"]) == n
    upsert_and_check(
        spark.createDataFrame(
            [
                ("a", 10, "x", None),  # value change
                ("b", 2, "y", None),  # same value: no row
                ("c", 3, "z", None),  # null -> value
                ("d", 5, "w", "e"),  # value in the new column
                ("n", 7, None, "f"),  # insert
            ],
            "k string, v int, w string, extra string",
        ),
        [("a", "update_preimage"), ("a", "update_postimage"),
         ("c", "update_preimage"), ("c", "update_postimage"),
         ("d", "update_preimage"), ("d", "update_postimage"),
         ("n", "insert")],
    )
    if mode == "mor":
        return  # a strict column subset under MoR is a partial delta
    # a strict column subset through the full-width merge: the columns it
    # lacks keep their stored values in the postimage
    upsert_and_check(
        spark.createDataFrame(
            [("a", None), ("c", "z"), ("m", "g")], "k string, w string"
        ),
        [("a", "update_preimage"), ("a", "update_postimage"),
         ("m", "insert")],
    )


def test_cow_capture_shuffles_only_update_keys(spark, tmp_path):
    """Under CoW the change capture joins the updates with only the update
    keys' stored rows, never the whole affected-bucket read: with the store
    above the broadcast threshold (so the capture's left join cannot
    broadcast it), the capture's shuffles carry O(|updates|) records."""
    import os

    from es_household_retention_spark_job_spark.sinks import upsert as U

    n_rows, path = 4000, str(tmp_path / "cow_capture_shuffle")
    write_keyed_table(
        spark.range(n_rows).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ),
        path,
        key="k",
        n_buckets=4,
    )
    updates = spark.createDataFrame(
        [(f"k{i * 397}", "changed") for i in range(8)] + [("new", "inserted")],
        "k string, payload string",
    )
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    sql_status = spark._jsparkSession.sharedState().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the update keys broadcast, the store (tens of KB) does not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024))
    try:
        upsert_parquet(spark, path, updates, key="k", n_buckets=4, mode="cow")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = sql_status.executionsList()
    capture = max(
        (execs.apply(i) for i in range(execs.size())),
        key=lambda e: e.executionId(),
    )
    q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    records = 0
    for job in conv.asJava(capture.jobs()).keySet():
        for sid in sc.statusTracker().getJobInfo(int(job)).stageIds:
            attempts = status.stageData(
                sid, False, sc._jvm.java.util.ArrayList(), False, q
            )
            records += sum(
                attempts.apply(k).shuffleWriteRecords()
                for k in range(attempts.size())
            )
    assert records <= 2 * updates.count()
    man = U._read_manifest(path)
    got = spark.read.parquet(
        *[
            os.path.join(path, U.CDC_DIR, f)
            for f in man["cdc"][str(man["version"])]
        ]
    )
    assert got.count() == 2 * 8 + 1


def test_change_feed_rejects_reversed_window(spark, tmp_path):
    """A reversed (from > to) window must raise instead of silently
    emitting an inverted diff; from == to stays the legal empty feed."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    path = str(tmp_path / "rev_win")
    write_keyed_table(
        spark.createDataFrame([("a", 1)], "k string, v int"),
        path,
        key="k",
        n_buckets=2,
    )
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("a", 2)], "k string, v int"),
        key="k",
        n_buckets=2,
    )
    v = U.current_version(path)
    with pytest.raises(ValueError, match="reversed change window"):
        U.read_changes(spark, path, v, v - 1)
    assert U.read_changes(spark, path, v, v).count() == 0  # empty, legal


def test_point_lookup_version_layout_invariant_asserted(
    spark, tmp_path, monkeypatch
):
    """Composing keys= with version= asserts the snapshot's bucketing
    function matches the current layout (ADVICE r9): normal time-travel
    lookups pass; a hand-corrupted layout sidecar is DETECTED instead of
    silently reading the wrong buckets."""
    import json as _json
    import os as _os

    from es_household_retention_spark_job_spark.sinks import upsert as U

    path = str(tmp_path / "lay_inv")
    write_keyed_table(
        spark.createDataFrame([(f"k{i}", i) for i in range(20)], "k string, v int"),
        path,
        key="k",
        n_buckets=4,
    )
    v1 = U.current_version(path)
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([("k1", 99)], "k string, v int"),
        key="k",
        n_buckets=4,
    )
    got = {
        r["k"]: r["v"]
        for r in read_keyed_table(spark, path, version=v1, keys=["k1"]).collect()
    }
    assert got == {"k1": 1}  # pre-update value, pruned lookup

    # corrupt the CURRENT layout's bucket count: the composed lookup must
    # refuse (the snapshot pinned n_buckets=4)
    lay_path = _os.path.join(path, U.LAYOUT_FILE)
    lay = _json.load(open(lay_path))
    lay["n_buckets"] = 8
    _json.dump(lay, open(lay_path, "w"))
    try:
        with pytest.raises(ValueError, match="different bucketing function"):
            read_keyed_table(spark, path, version=v1, keys=["k1"])
    finally:
        lay["n_buckets"] = 4
        _json.dump(lay, open(lay_path, "w"))


def test_point_lookup_skips_nonoverlapping_deltas(spark, tmp_path, monkeypatch):
    """MoR read-tax pruning (r9 advisory #7): the manifest records each
    delta file's key [min, max] from parquet footer stats at publish; a
    point lookup whose probe keys overlap NO delta range of a dirty
    bucket treats that bucket as clean — reads only its base file, plans
    no reconciliation window — while a probe that DOES overlap still
    reconciles. Values correct in both cases."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    n = 1  # one bucket: every key collides into the dirty bucket
    path = str(tmp_path / "mor_skip")
    write_keyed_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "k long, v long"
        ),
        path,
        key="k",
        n_buckets=n,
    )
    # delta touches only keys 90..99
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(i, 0) for i in range(90, 100)], "k long, v long"),
        key="k",
        n_buckets=n,
    )
    man = U._read_manifest(path)
    d = f"{U.BUCKET_COL}=0"
    assert man["mor"].get(d)  # the bucket is genuinely dirty
    st = man.get("mor_stats", {}).get(d, {})
    assert set(st) == set(man["mor"][d])  # every delta file has a range
    assert all(lo == 90 and hi == 99 for lo, hi in st.values())

    # non-overlapping probe: base file only, no fold in the plan
    df = read_keyed_table(spark, path, keys=[5, 17])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan
    delta_files = {f"{d}/{f}" for f in man["mor"][d]}
    touched = {"/".join(f.split("/")[-2:]) for f in df.inputFiles()}
    assert not (touched & delta_files)
    assert {r["k"]: r["v"] for r in df.collect()} == {5: 50, 17: 170}

    # overlapping probe still reconciles (delta value wins)
    df2 = read_keyed_table(spark, path, keys=[5, 95])
    assert {r["k"]: r["v"] for r in df2.collect()} == {5: 50, 95: 0}


def test_point_lookup_bloom_skips_in_range_absent_probes(spark, tmp_path, monkeypatch):
    """MoR Bloom pruning (round 11): each delta file's key Bloom filter
    rides the manifest next to its [min, max] range; a probe key INSIDE
    a delta's range but ABSENT from the delta — the case range pruning
    cannot touch — skips the delta files and the reconciliation window.
    A probe actually in the delta still reconciles (no false negatives),
    and the knob/cap fall back to range-only pruning."""
    from es_household_retention_spark_job_spark.sinks import upsert as U

    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    n = 1  # one bucket: every key collides into the dirty bucket
    path = str(tmp_path / "mor_bloom")
    write_keyed_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "k long, v long"
        ),
        path,
        key="k",
        n_buckets=n,
    )
    # delta touches only EVEN keys in 10..90 — wide range, sparse members
    upsert_parquet(
        spark,
        path,
        spark.createDataFrame(
            [(i, 0) for i in range(10, 91, 2)], "k long, v long"
        ),
        key="k",
        n_buckets=n,
    )
    man = U._read_manifest(path)
    d = f"{U.BUCKET_COL}=0"
    assert man["mor"].get(d)
    bl = man.get("mor_bloom", {}).get(d, {})
    assert set(bl) == set(man["mor"][d])  # every delta file has a filter
    st = man.get("mor_stats", {}).get(d, {})
    assert all(lo == 10 and hi == 90 for lo, hi in st.values())

    # odd probes inside [10, 90]: range overlaps, Bloom says absent →
    # base file only, no fold planned, no delta file opened
    df = read_keyed_table(spark, path, keys=[15, 77])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan
    delta_files = {f"{d}/{f}" for f in man["mor"][d]}
    touched = {"/".join(f.split("/")[-2:]) for f in df.inputFiles()}
    assert not (touched & delta_files)
    assert {r["k"]: r["v"] for r in df.collect()} == {15: 150, 77: 770}

    # a probe IN the delta still reconciles — the no-false-negative side
    df2 = read_keyed_table(spark, path, keys=[15, 44])
    assert {r["k"]: r["v"] for r in df2.collect()} == {15: 150, 44: 0}

    # disabled / over-cap publishes record no filter and stay correct
    for env, val in [
        ("SPARK_GRAFT_SINK_BLOOM", "off"),
        ("SPARK_GRAFT_MOR_BLOOM_MAX_KEYS", "3"),
    ]:
        p2 = str(tmp_path / f"mor_bloom_{env}")
        monkeypatch.setenv(env, val)
        try:
            write_keyed_table(
                spark.createDataFrame([(i, i) for i in range(20)], "k long, v long"),
                p2,
                key="k",
                n_buckets=n,
            )
            upsert_parquet(
                spark,
                p2,
                spark.createDataFrame([(4, -4), (8, -8), (12, -12), (16, -16)], "k long, v long"),
                key="k",
                n_buckets=n,
            )
            m2 = U._read_manifest(p2)
            assert not m2.get("mor_bloom")
            got = {r["k"]: r["v"] for r in read_keyed_table(spark, p2, keys=[3, 4]).collect()}
            assert got == {3: 3, 4: -4}
        finally:
            monkeypatch.delenv(env)


def test_bloom_portable_hash_and_membership():
    """Unit contract: no false negatives over int/str keys, canonical
    int/str cross-type probes stay conservative, non-hashable types are
    possibly-present."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile as _tf

    from es_household_retention_spark_job_spark.sinks.upsert import (
        _bloom_build,
        _bloom_contains,
    )

    with _tf.TemporaryDirectory() as td:
        f = f"{td}/d.parquet"
        keys = list(range(0, 2000, 2)) + [10**12 + 7]
        pq.write_table(pa.table({"k": keys}), f)
        bl = _bloom_build(f, "k")
        assert bl is not None
        assert all(_bloom_contains(bl, k) for k in keys)  # never a false neg
        misses = sum(_bloom_contains(bl, k) for k in range(1, 2000, 2))
        assert misses <= 50  # ~0.8% expected FPR, generous margin
        assert _bloom_contains(bl, 3.5) is True  # non-int/str: conservative
