"""CDC incremental retention maintenance (pipeline.run_incremental):
equivalence vs a from-scratch recompute, blast-radius minimality, no-op
delta, and crash healing via the null-history write-ahead marker."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark.pipeline import (
    run_incremental,
    run_retention,
)
from es_household_retention_spark_job_spark.sinks.upsert import (
    read_keyed_table,
    upsert_parquet,
    write_keyed_table,
)
from es_household_retention_spark_job_spark.sources.fixtures import (
    FIXTURE_AS_OF,
    FIXTURE_CLIENT,
    fixture_frames,
)

from .conftest import canon_val

#: 2024-06-01 UTC in epoch ms — splits the fixture encounters so the delta
#: includes E_S1 (P_S1's ONLY in-window DEMO encounter: the base run
#: phase2-stamps P_S1 not-retained, and the delta must flip it back to a
#: recomputed retained history — the hardest CDC transition)
SPLIT_MS = 1_717_200_000_000


def _state(spark, person_path):
    """person_id -> canonicalized retention history for every person."""
    rows = read_keyed_table(spark, person_path).select(
        "person_id", "household_retention_history"
    ).collect()
    return {r["person_id"]: canon_val(r["household_retention_history"]) for r in rows}


def _setup(spark, tmp_path, name, encounters, fresh=False):
    """``fresh=True`` starts every person unprocessed (null history): the
    incremental≡full theorem is stated over stores where delta-touched
    households start unprocessed — a PRE-processed person (fixture P_X1)
    is kept stale by the one-shot P8 gate but deliberately REFRESHED by
    the CDC maintainer, which is the feature, not a divergence."""
    person, _ = fixture_frames(spark)
    if fresh:
        htype = person.schema["household_retention_history"].dataType
        person = person.withColumn(
            "household_retention_history", F.lit(None).cast(htype)
        )
    p_path = str(tmp_path / f"{name}_person")
    e_path = str(tmp_path / f"{name}_encounter")
    write_keyed_table(person, p_path, key="person_id", n_buckets=4)
    encounters.write.mode("overwrite").parquet(e_path)
    return p_path, e_path


def test_incremental_equals_full_recompute(spark, tmp_path):
    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)
    assert 0 < delta.count() < encounter.count()  # both halves non-trivial

    # reference: one-shot over the complete encounter history
    p_full, e_full = _setup(spark, tmp_path, "full", encounter, fresh=True)
    run_retention(spark, p_full, e_full, FIXTURE_CLIENT, FIXTURE_AS_OF)
    want = _state(spark, p_full)

    # CDC path: process the base, append the delta, maintain incrementally
    p_inc, e_inc = _setup(spark, tmp_path, "inc", base, fresh=True)
    run_retention(spark, p_inc, e_inc, FIXTURE_CLIENT, FIXTURE_AS_OF)
    interim = _state(spark, p_inc)
    assert interim != want  # the base state is genuinely stale
    encounter.write.mode("overwrite").parquet(e_inc)  # ingest appends first
    spark.catalog.refreshByPath(e_inc)
    stats = run_incremental(
        spark, p_inc, e_inc, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
    )
    assert _state(spark, p_inc) == want

    # blast radius: only members of delta-touched households were recomputed
    person, _ = fixture_frames(spark)
    touched = (
        person.join(
            delta.where(F.col("client_code") == FIXTURE_CLIENT)
            .select("person_id")
            .distinct(),
            "person_id",
            "left_semi",
        )
        .select(F.col("household.household_id").alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    members = (
        person.where(F.col("client_code") == FIXTURE_CLIENT)
        .join(touched, person["household.household_id"] == touched["h"], "left_semi")
        .count()
    )
    assert stats["affected_persons"] == members
    assert stats["affected_persons"] < person.count()  # not the world


def test_incremental_noop_delta(spark, tmp_path):
    """A delta with no qualifying encounters (wrong client / outside the 5y
    scan window) must touch nothing — not even re-stamp."""
    _, encounter = fixture_frames(spark)
    p_path, e_path = _setup(spark, tmp_path, "noop", encounter)
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    before = _state(spark, p_path)

    delta = encounter.where(F.col("client_code") == "OTHER")
    assert delta.count() > 0
    stats = run_incremental(
        spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
    )
    assert stats == {
        "affected_persons": 0,
        "phase1_persons": 0,
        "phase2_persons": 0,
        "pre_version": stats["pre_version"],
    }
    assert stats["pre_version"] >= 1
    assert _state(spark, p_path) == before


def test_incremental_crash_heals_on_rerun(spark, tmp_path):
    """The null-history stamp is a write-ahead marker: a crash after the
    invalidate but before the recompute leaves affected members simply
    'unprocessed', and any later run_retention converges to the same
    final state (the P8 predicate selects exactly the stamped members)."""
    _, encounter = fixture_frames(spark)
    p_path, e_path = _setup(spark, tmp_path, "crash", encounter)
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    want = _state(spark, p_path)

    # simulate the crash window: invalidate two persons' histories by hand
    person = read_keyed_table(spark, p_path)
    htype = person.schema["household_retention_history"].dataType
    upsert_parquet(
        spark,
        p_path,
        person.where(F.col("person_id").isin("P_R1", "P_S1")).select(
            "person_id",
            F.lit(None).cast(htype).alias("household_retention_history"),
        ),
        key="person_id",
    )
    assert _state(spark, p_path) != want
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert _state(spark, p_path) == want


def test_incremental_pinned_reader_never_sees_maintenance(spark, tmp_path):
    """Composing CDC with time travel: a reader pinned to ``pre_version``
    (the version run_incremental captured before its invalidate) sees the
    exact pre-maintenance table — no null-history invalidate window, no
    half-recomputed state — while an unpinned reader sees the committed
    recompute. Maintenance is invisible until it lands."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
    )

    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)
    p_path, e_path = _setup(spark, tmp_path, "pin", base, fresh=True)
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    before = _state(spark, p_path)
    v_before = current_version(p_path)

    encounter.write.mode("overwrite").parquet(e_path)
    spark.catalog.refreshByPath(e_path)
    stats = run_incremental(
        spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
    )
    assert stats["affected_persons"] > 0
    assert stats["pre_version"] == v_before

    # pinned read reproduces the pre-maintenance state exactly (in
    # particular: no member has the transient null history the invalidate
    # wrote), while the current read shows the recompute
    pinned = read_keyed_table(spark, p_path, version=stats["pre_version"])
    got = {
        r["person_id"]: canon_val(r["household_retention_history"])
        for r in pinned.select(
            "person_id", "household_retention_history"
        ).collect()
    }
    assert got == before
    assert _state(spark, p_path) != before
    assert current_version(p_path) > v_before


def test_incremental_include_new_persons(spark, tmp_path):
    """include_new_persons=True runs the idempotent pipeline even when the
    delta touches no household, onboarding genuinely-new unprocessed
    persons; the default keeps the empty-delta call delta-proportional
    (skips them — the scheduled run_retention's job)."""
    _, encounter = fixture_frames(spark)
    p_path, e_path = _setup(spark, tmp_path, "newp", encounter)
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)

    # a genuinely-new, never-processed person joins an existing household
    person = read_keyed_table(spark, p_path)
    htype = person.schema["household_retention_history"].dataType
    newcomer = person.where(F.col("person_id") == "P_R1").select(
        F.lit("P_NEW").alias("person_id"),
        "client_code",
        "household",
        F.lit(None).cast(htype).alias("household_retention_history"),
    )
    upsert_parquet(spark, p_path, newcomer, key="person_id")

    empty_delta = encounter.where(F.lit(False))

    stats = run_incremental(
        spark, p_path, e_path, empty_delta, FIXTURE_CLIENT, FIXTURE_AS_OF
    )
    assert stats["phase1_persons"] == 0  # default: delta-proportional skip
    assert _state(spark, p_path)["P_NEW"] is None

    stats = run_incremental(
        spark,
        p_path,
        e_path,
        empty_delta,
        FIXTURE_CLIENT,
        FIXTURE_AS_OF,
        include_new_persons=True,
    )
    assert stats["affected_persons"] == 0
    assert stats["phase1_persons"] == 1  # P_NEW onboarded
    assert _state(spark, p_path)["P_NEW"] is not None


def test_incremental_under_merge_on_read_equals_full(spark, tmp_path, monkeypatch):
    """The CDC maintenance path under the sink's merge-on-read write mode
    (SPARK_GRAFT_SINK_WRITE_MODE=mor): the invalidate + phase-1 + phase-2
    upserts land as per-bucket delta appends instead of bucket rewrites —
    the O(delta) write posture the sf10 rehearsal motivated (SCALING.md
    round 9) — and the final reconciled state is IDENTICAL to the CoW
    from-scratch reference."""
    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)

    # reference computed under default CoW
    p_full, e_full = _setup(spark, tmp_path, "mfull", encounter, fresh=True)
    run_retention(spark, p_full, e_full, FIXTURE_CLIENT, FIXTURE_AS_OF)
    want = _state(spark, p_full)

    monkeypatch.setenv("SPARK_GRAFT_SINK_WRITE_MODE", "mor")
    p_inc, e_inc = _setup(spark, tmp_path, "minc", base, fresh=True)
    run_retention(spark, p_inc, e_inc, FIXTURE_CLIENT, FIXTURE_AS_OF)
    encounter.write.mode("overwrite").parquet(e_inc)
    spark.catalog.refreshByPath(e_inc)
    run_incremental(spark, p_inc, e_inc, delta, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert _state(spark, p_inc) == want

    # MoR left the person store carrying reconciled delta files: compaction
    # folds them without changing the state
    from es_household_retention_spark_job_spark.sinks.upsert import (
        compact_keyed_table,
    )

    compact_keyed_table(spark, p_inc)
    spark.catalog.refreshByPath(p_inc)
    assert _state(spark, p_inc) == want

def test_incremental_single_publish(spark, tmp_path):
    """Round 10: the whole maintenance — staged invalidate, phase-1
    recompute, phase-2 stamps — lands in ONE manifest commit (the round-9
    rehearsal measured the 3-publish write floor as the sf10 bottleneck),
    and no intermediate version ever exists: version history advances by
    exactly 1 and the only retained states are pre- and post-maintenance."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
        table_history,
    )

    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)
    p_inc, e_inc = _setup(spark, tmp_path, "onepub", base, fresh=True)
    run_retention(spark, p_inc, e_inc, FIXTURE_CLIENT, FIXTURE_AS_OF)
    encounter.write.mode("overwrite").parquet(e_inc)
    spark.catalog.refreshByPath(e_inc)

    v_before = current_version(p_inc)
    stats = run_incremental(
        spark, p_inc, e_inc, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
    )
    assert stats["affected_persons"] > 0
    assert current_version(p_inc) == v_before + 1  # exactly one commit
    assert [h["version"] for h in table_history(p_inc)][-2:] == [
        v_before,
        v_before + 1,
    ]


def test_flagship_loop_defaults_to_mor(spark, tmp_path, monkeypatch):
    """Round 12 (r11 verdict #7): the flagship maintenance loop is
    MoR-BY-DEFAULT — run_incremental's publish lands as per-bucket delta
    appends without any env configuration, because its single commit is
    the measured write floor (CoW's backfill-equal publish is the 1.47×
    sf10 ceiling; MoR measured 2.11×). `cow` stays the GLOBAL sink
    default (read-optimized tables), the env var remains the operator
    override, and an explicit write_mode= wins over both."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        _read_manifest,
        _sink_write_mode,
    )

    monkeypatch.delenv("SPARK_GRAFT_SINK_WRITE_MODE", raising=False)
    assert _sink_write_mode() == "cow"  # global default unchanged

    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)

    p_full, e_full = _setup(spark, tmp_path, "dfull", encounter, fresh=True)
    run_retention(spark, p_full, e_full, FIXTURE_CLIENT, FIXTURE_AS_OF)
    want = _state(spark, p_full)

    p_inc, e_inc = _setup(spark, tmp_path, "dinc", base, fresh=True)
    run_retention(spark, p_inc, e_inc, FIXTURE_CLIENT, FIXTURE_AS_OF)
    encounter.write.mode("overwrite").parquet(e_inc)
    spark.catalog.refreshByPath(e_inc)
    run_incremental(spark, p_inc, e_inc, delta, FIXTURE_CLIENT, FIXTURE_AS_OF)
    # the maintenance publish landed as MoR deltas (manifest ledger), and
    # the reconciled state equals the CoW from-scratch reference
    assert _read_manifest(p_inc).get("mor"), "flagship publish was not MoR"
    assert _state(spark, p_inc) == want

    # explicit write_mode="cow" overrides the flagship default
    p2, e2 = _setup(spark, tmp_path, "dcow", base, fresh=True)
    run_retention(spark, p2, e2, FIXTURE_CLIENT, FIXTURE_AS_OF)
    encounter.write.mode("overwrite").parquet(e2)
    spark.catalog.refreshByPath(e2)
    run_incremental(
        spark, p2, e2, delta, FIXTURE_CLIENT, FIXTURE_AS_OF,
        write_mode="cow",
    )
    assert not (_read_manifest(p2) or {}).get("mor")
    assert _state(spark, p2) == want


def _root_executions(spark, fn):
    """Call ``fn`` and return its result and the number of ROOT SQL
    executions (driver actions; nested executions carry a different root)
    that started while it ran, from Spark's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {
            e.executionId(): e.rootExecutionId()
            for e in (execs.apply(i) for i in range(execs.size()))
        }

    before = ids()
    out = fn()
    new = {e: root for e, root in ids().items() if e not in before}
    return out, sum(1 for e, root in new.items() if e == root)


def _cdc_store(spark, tmp_path, name):
    """A processed store of the encounters before SPLIT_MS, the rest
    ingested into the encounter store; returns its paths and the delta."""
    _, encounter = fixture_frames(spark)
    base = encounter.where(F.col("admit_date") < SPLIT_MS)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)
    p_path, e_path = _setup(spark, tmp_path, name, base, fresh=True)
    run_retention(spark, p_path, e_path, FIXTURE_CLIENT, FIXTURE_AS_OF)
    encounter.write.mode("overwrite").parquet(e_path)
    spark.catalog.refreshByPath(e_path)
    return p_path, e_path, delta, encounter


def test_incremental_action_budget(spark, tmp_path):
    """A non-empty delta costs at most three driver actions — the
    blast-radius count, the fused guard, the staged write — and an empty
    delta exactly one (the blast-radius count)."""
    p_path, e_path, delta, encounter = _cdc_store(spark, tmp_path, "budget")
    stats, actions = _root_executions(
        spark,
        lambda: run_incremental(
            spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
        ),
    )
    assert stats["affected_persons"] > 0 and stats["phase1_persons"] > 0
    assert actions <= 3

    other = encounter.where(F.col("client_code") == "OTHER")
    stats, actions = _root_executions(
        spark,
        lambda: run_incremental(
            spark, p_path, e_path, other, FIXTURE_CLIENT, FIXTURE_AS_OF
        ),
    )
    assert stats["affected_persons"] == 0
    assert actions == 1


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_releases_every_cache_entry(spark, tmp_path):
    """Neither phase leaves a CacheManager entry behind — after a backfill,
    after a maintenance call, or after a guard that raises — so no later
    refreshByPath on the store re-plans a stale cached frame."""
    spark.catalog.clearCache()
    p_path, e_path, delta, _ = _cdc_store(spark, tmp_path, "cache")
    assert _cache_empty(spark)  # run_retention released its frames
    run_incremental(spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF)
    assert _cache_empty(spark)

    person, _ = fixture_frames(spark)
    dup = person.where(F.col("person_id") == "P_S1")
    write_keyed_table(person.unionByName(dup), p_path, key="person_id", n_buckets=4)
    with pytest.raises(ValueError, match="person_id-unique"):
        run_incremental(
            spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
        )
    assert _cache_empty(spark)


def test_incremental_duplicate_person_id_fails_before_publish(spark, tmp_path):
    """A delta-touched household holding a duplicated person_id fails the
    fused guard's person_id-unique check: nothing is published, the
    version does not move and the state is unchanged."""
    from es_household_retention_spark_job_spark.sinks.upsert import (
        current_version,
    )

    person, encounter = fixture_frames(spark)
    delta = encounter.where(F.col("admit_date") >= SPLIT_MS)
    # P_S1's household is touched by the delta (E_S1)
    dup = person.where(F.col("person_id") == "P_S1")
    p_path, e_path = _setup(spark, tmp_path, "dup", encounter)
    write_keyed_table(person.unionByName(dup), p_path, key="person_id", n_buckets=4)
    v_before, state_before = current_version(p_path), _state(spark, p_path)
    with pytest.raises(ValueError, match="person_id-unique"):
        run_incremental(
            spark, p_path, e_path, delta, FIXTURE_CLIENT, FIXTURE_AS_OF
        )
    assert current_version(p_path) == v_before
    assert _state(spark, p_path) == state_before
