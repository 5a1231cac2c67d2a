"""Two-phase retention orchestration (HRP:126-127 ``main`` flow) over a
keyed parquet person store.

Phase 1 (HRP:305-648): guard count (C2) -> flagship pipeline -> pack nested
history (A5) -> upsert into the person table (S7).
Phase 2 (HRP:650-809): guard count and the phase-1-incomplete invariant
(C3) in one action, throwing on either -> constant not-retained stamp ->
pack -> upsert.

Because the upsert writes ``household_retention_history``, re-running either
phase is a no-op: processed persons now fail the P8 "unprocessed" predicate
(idempotence, tested in tests/test_upsert_pipeline.py).
"""

from __future__ import annotations

import logging
import os
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import retention as R
from .schemas import ENCOUNTER, PERSON, validate
from .sinks.upsert import current_version, read_keyed_table, upsert_parquet

log = logging.getLogger("retention.pipeline")


def _sanitize_encounter(encounter):
    """Strip a ``RAW_ADMIT_TS``-named column from an EXTERNAL encounter
    input: the name is reserved for ``sources.tpch.derive_encounter``'s
    derivation-internal raw-timestamp carry, which ``admit_window`` turns
    into a pushdown predicate with admit-date semantics. ``allow_extra``
    validation would otherwise let a production table that happens to
    carry an unrelated column of that name (a discharge ts, say) be
    silently mis-filtered (round-14 advice fix). Stored encounter tables
    have a plain ``admit_date`` that pushes down by itself, so dropping
    the reserved name costs them nothing."""
    from .sources.tpch import RAW_ADMIT_TS

    if RAW_ADMIT_TS in encounter.columns:
        log.warning(
            "encounter input carries the reserved derivation-internal "
            "column %r — dropping it (admit_window would treat it as the "
            "raw admit timestamp)",
            RAW_ADMIT_TS,
        )
        encounter = encounter.drop(RAW_ADMIT_TS)
    return encounter


def _load_inputs(spark: SparkSession, person_path: str, encounter_path: str):
    """Read + contract-check both inputs at the pipeline boundary (SURVEY
    §1.3: explicit schemas, fail fast on drift instead of mid-pipeline)."""
    person = read_keyed_table(spark, person_path)
    encounter = _sanitize_encounter(spark.read.parquet(encounter_path))
    validate(person, PERSON, allow_extra=True)
    validate(encounter, ENCOUNTER, allow_extra=True)
    return person, encounter


def _guarded_person_count(
    persons, phase: str, processed=None, qualifying=None
) -> dict[str, int]:
    """The S6 guard count, with the person→household functional dependence
    made LOUD (round-14 advice fix): ``pack_history`` groups on
    (household, person_id) — identical groups to person_id alone exactly
    because an HRP person doc embeds ONE household. A duplicated person_id
    (two docs with differing households after a bad upsert) would silently
    emit two history rows for one person and ``upsert_parquet(key=
    person_id)`` would propagate them. The keyed person sink already
    enforces id uniqueness at publish; this check makes an out-of-contract
    input (a hand-written store, a foreign table) fail at the guard that
    ALREADY runs an action, not at read-back.

    The same action runs a pipeline's other guards. Given ``processed``
    (the person_ids a phase over ``persons`` marked processed) and
    ``qualifying`` (``R.child_encounter_persons``), it returns, in one
    row:

    * ``n`` — the eligible rows, checked person_id-unique;
    * ``n2`` — eligible persons not in ``processed``: those still eligible
      after that phase (all of them without ``processed``);
    * ``behind`` — those of the ``n2`` with a qualifying encounter: the C3
      invariant's count, ``has_child_semi``'s semantics.

    The three person_id lists are tagged, unioned and grouped by
    person_id — no join, two exchanges — so the guards cost one driver
    round trip, and that action is what materialises every cached frame
    they read."""
    src = F.col("_src")
    tagged = persons.select("person_id", F.lit(0).alias("_src"))
    for i, ids in ((1, processed), (2, qualifying)):
        if ids is not None:
            ids = ids.select("person_id", F.lit(i).alias("_src"))
            tagged = tagged.unionByName(ids)
    per_id = tagged.groupBy("person_id").agg(
        F.count_if(src == 0).alias("rows"),
        F.max(src == 1).alias("done"),
        F.max(src == 2).alias("qualifies"),
    )
    eligible = F.col("rows") > 0
    left = eligible & ~F.col("done")
    row = per_id.agg(
        F.coalesce(F.sum("rows"), F.lit(0)).alias("n"),
        F.count_if(eligible & F.col("person_id").isNotNull()).alias("n_ids"),
        F.count_if(left).alias("n2"),
        F.count_if(left & F.col("qualifies")).alias("behind"),
    ).first().asDict()
    n_ids = row.pop("n_ids")
    if row["n"] != n_ids:
        raise ValueError(
            f"{phase}: person store violates the person_id-unique contract "
            f"({row['n']} eligible rows over {n_ids} distinct ids) — "
            "duplicate person docs can disagree on household and would "
            "write duplicate history rows; deduplicate the store first"
        )
    return row


def run_phase1(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    client_code: str,
    as_of: datetime,
    strategy: str = "window",
) -> int:
    """Returns the number of persons processed (0 = skipped, C2)."""
    person, encounter = _load_inputs(spark, person_path, encounter_path)

    # the eligible frame R.phase1 caches: persisting the same plan here
    # makes its cache=True entry THIS one (the CacheManager keys entries by
    # plan), so the guard count loads the cache phase 1 then reads, and the
    # finally releases it — no entry outlives the call for every later
    # refreshByPath on the store to re-plan
    persons = R.eligible_persons(person, client_code).persist()
    try:
        n = _guarded_person_count(persons, "phase1")["n"]  # S6 (HRP:627-628)
        log.info("phase1: %d persons without retention", n)
        if n == 0:
            log.info("phase1: nothing to process — skipping (HRP:643-645)")
            return 0

        final = R.phase1(person, encounter, client_code, as_of, strategy=strategy)
        packed = R.pack_history(final)
        upsert_parquet(spark, person_path, packed, key="person_id")
    finally:
        persons.unpersist()
    log.info("phase1: wrote retention history for %d persons", n)
    return n


def run_phase2(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    client_code: str,
    as_of: datetime,
) -> int:
    """Returns the number of persons stamped not-retained (0 = skipped).
    Raises HouseholdRetentionNotReadyError if phase 1 is incomplete (C3)."""
    person, encounter = _load_inputs(spark, person_path, encounter_path)

    # one action: the guard count and the C3 invariant's "behind" count
    persons = R.eligible_persons(person, client_code)
    counts = _guarded_person_count(
        persons,
        "phase2",
        qualifying=R.child_encounter_persons(encounter, client_code, as_of),
    )
    R.check_phase2_invariant(
        person, encounter, client_code, as_of, behind=counts["behind"]
    )
    n = counts["n"]
    log.info("phase2: %d persons still without retention", n)
    if n == 0:
        log.info("phase2: nothing to process — skipping (HRP:802-804)")
        return 0

    stamped = R.phase2(persons, as_of)
    packed = R.pack_history(stamped)
    upsert_parquet(spark, person_path, packed, key="person_id")
    log.info("phase2: stamped %d persons not-retained", n)
    return n


def run_retention(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    client_code: str,
    as_of: datetime,
) -> dict[str, int]:
    n1 = run_phase1(spark, person_path, encounter_path, client_code, as_of)
    n2 = run_phase2(spark, person_path, encounter_path, client_code, as_of)
    return {"phase1_persons": n1, "phase2_persons": n2}


def _incremental_write_mode(explicit: str | None) -> str:
    """The flagship maintenance loop's write mode: explicit argument >
    ``SPARK_GRAFT_SINK_WRITE_MODE`` env override > **``mor``** (the
    round-12 default). MoR is the default HERE — and only here — because
    this loop's publish is the measured write floor: under CoW any
    realistic blast radius hashes into every bucket, so the single
    maintenance commit rewrites the store (the 1.47× sf10 ceiling, a
    mode property, not a defect), while MoR lands O(delta) bytes and
    measured 2.11× at sf10/3d (SCALING.md). ``cow`` remains the GLOBAL
    sink default — the read-optimized choice for tables whose consumers
    scan more than they maintain."""
    if explicit is not None:
        return explicit
    env = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    return env if env is not None else "mor"


def run_incremental(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    delta_encounter,
    client_code: str,
    as_of: datetime,
    include_new_persons: bool = False,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
    write_mode: str | None = None,
) -> dict[str, int]:
    """CDC maintenance: fold a batch of NEWLY-ARRIVED encounters into an
    already-processed person store without recomputing the world.

    ``app_meta`` / ``app_meta_expect`` ride the single maintenance publish
    (Delta ``txn``-style, see ``upsert_parquet``): a streaming caller
    stores its (stream, epoch) cursor IN the maintenance commit, so a
    replayed micro-batch is screened by the cursor and two racers from
    the same cursor cannot both commit — the exactly-once discipline of
    ``streaming.ingest.apply_keyed_batch`` extended to the whole
    blast-radius → staged-phases → one-publish maintenance
    (``streaming.retention_stream.incremental_retention_pipeline``).

    The reference pipeline is one-shot (processed persons fail the P8
    predicate forever, HRP:196-205); when encounters keep arriving, a
    processed household's stored history goes stale. This maintainer makes
    the two-phase pipeline INCREMENTAL by exploiting its own idempotence
    contract instead of adding a second compute path:

    1. *Blast radius* (delta-sized work): qualifying delta encounters →
       their persons → those persons' households → EVERY member of those
       households (retention is a household-level property — one member's
       new admit can flip months for all of them).
    2. *Invalidate — STAGED, not published*: the affected members'
       ``household_retention_history`` is nulled in a logical view of the
       store (one broadcast join — under ``is_unprocessed`` three-valued
       logic a null history IS the unprocessed state), so the phase-1 P8
       predicate selects exactly the affected members without any
       intermediate write.
    3. *Recompute over staged state*: phase 1 runs against the
       invalidated view; its packed output is cached (delta-bounded) and
       APPLIED LOGICALLY on top of the view — phase 2's eligible set
       (invariant check included) is phase 1's minus the persons it
       processed — so each phase reads the previous phase's staged
       output, never the store. Nothing is counted just to
       fill a cache: ONE fused guard action returns the phase-1 count
       (with the person_id-unique check), the phase-2 count and the C3
       invariant's count in one row, and in doing so materialises every
       cached stage; a failed guard raises before any publish. The
       phase-1 recompute over the FULL encounter history of only the
       affected households provably equals a from-scratch run restricted
       to them (the pipeline never joins across households). Equivalence
       vs a full recompute is pinned in tests/test_incremental_retention.py.
    4. *ONE publish*: the phase-1 histories, the phase-2 not-retained
       stamps, and (defensively) any invalidated member neither phase
       restamped — three disjoint key sets — land in a SINGLE upsert, one
       manifest commit. Readers see the old state or the fully-maintained
       state, never the invalidate window or a half-recomputed store; and
       the write floor is ONE bucket-set publish instead of the three the
       round-9 rehearsal measured as the sf10 bottleneck (3 × ~6.5s CoW
       publishes collapsing the 3-day-delta speedup to 1.23×). A crash
       anywhere before the publish leaves the store byte-identical — no
       write-ahead marker needed, because nothing was written ahead.

    Genuinely-new (never-processed) persons ride the recompute whenever it
    runs — the P8 predicate selects them too. When the delta touches NO
    household, the default is to skip the recompute entirely (keeping the
    maintainer's cost delta-proportional; new-person onboarding belongs to
    the regularly scheduled ``run_retention``). Pass
    ``include_new_persons=True`` to run the pipeline unconditionally —
    every otherwise-equivalent delta then gets identical new-person
    behavior, at the cost of an O(store) eligibility scan even for an
    empty delta.

    Note the deliberate contrast with the one-shot gate: a delta-touched
    household is recomputed EVEN IF previously processed — staleness from
    new data is exactly what this maintainer exists to repair — while
    untouched processed households keep the one-shot "never reprocess"
    contract.

    ``delta_encounter``: DataFrame of the new encounter rows. They must
    ALREADY be part of the store at ``encounter_path`` (ingest appends
    first, then calls this) — the delta frame is only used to compute the
    blast radius, never as the recompute input.

    Scale shape: step 1 is one delta-scan + two semi-joins that broadcast
    when the delta is small (the common CDC case — AQE picks the
    strategy from the delta's actual size); step 2 touches only the
    affected members' buckets; step 3's phase-1 joins prune the full
    encounter scan to affected persons through the join itself. A daily
    0.1% delta therefore costs ~0.1% of the backfill, not a rescan. At
    that size the call is bound by per-action driver cost, not compute,
    so with its default MoR publish it runs exactly THREE driver actions
    for a non-empty delta: the blast-radius count (alone, so an empty
    delta exits after one), the fused guard, and the partial-column
    append's staged write, its only action (pinned in
    tests/test_incremental_retention.py).

    The WRITE side is the store's trade to make: under the default
    copy-on-write sink any realistic affected-key set hashes into every
    bucket, so the single upsert rewrites the affected buckets once — an
    O(store) cost paid ONCE per maintenance call (round 9 paid it three
    times: write-ahead invalidate + phase-1 + phase-2 publishes, the
    measured sf10 floor). Set ``SPARK_GRAFT_SINK_WRITE_MODE=mor`` to land
    it as per-bucket delta appends (O(delta) write; reads reconcile per
    key until the next ``compact_keyed_table``) — state-identical to the
    CoW run, pinned in tests/test_incremental_retention.py.

    **Maintenance-invisible reads.** The returned ``pre_version`` is the
    person table's committed version BEFORE the maintenance publish: a
    reader pinned via ``read_keyed_table(spark, person_path,
    version=pre_version)`` sees the exact pre-maintenance table (pinned in
    tests/test_incremental_retention.py) — and since round 10 even the
    UNPINNED reader never observes a transient state, because the whole
    maintenance is one commit. The pin stays readable while the version
    is retained (``SPARK_GRAFT_SINK_KEEP_VERSIONS``; one incremental
    publishes exactly 1 new version).

    Returns ``{"affected_persons", "phase1_persons", "phase2_persons",
    "pre_version"}``.
    """
    person = read_keyed_table(spark, person_path)
    validate(person, PERSON, allow_extra=True)
    delta_encounter = _sanitize_encounter(delta_encounter)
    validate(delta_encounter, ENCOUNTER, allow_extra=True)
    pre_version = current_version(person_path)

    # 1. blast radius — persons touched by a QUALIFYING delta encounter
    # (client + the 5y scan window; anything outside cannot change any
    # month), widened to whole households
    touched_persons = (
        R.eligible_encounters(delta_encounter, client_code, as_of)
        .select("person_id")
        .distinct()
    )
    touched_households = (
        person.join(touched_persons, "person_id", "left_semi")
        .where(F.col("client_code") == client_code)
        .select(F.col("household.household_id").alias("household_id"))
        .distinct()
    )
    members = (
        person.where(
            (F.col("client_code") == client_code)
            & F.col("household.household_id").isNotNull()
        )
        .join(
            touched_households,
            F.col("household.household_id") == touched_households.household_id,
            "left_semi",
        )
        .select("person_id")
    )
    members = members.persist()
    cached = [members]
    try:
        n_affected = members.count()
        log.info("incremental: %d persons in touched households", n_affected)
        if n_affected == 0 and not include_new_persons:
            log.info("incremental: no qualifying delta — skipping")
            return {
                "affected_persons": 0,
                "phase1_persons": 0,
                "phase2_persons": 0,
                "pre_version": pre_version,
            }

        hist = "household_retention_history"
        history_type = person.schema[hist].dataType
        if n_affected:
            # 2. STAGED invalidate: null history == unprocessed (P8
            # three-valued logic) — a logical view, nothing published. The
            # member set is delta-bounded in the common CDC case, so AQE
            # turns the marker join into a broadcast; a huge blast radius
            # degrades to a shuffle join instead of an OOM'd forced
            # broadcast.
            marked = members.withColumn("_invalidated", F.lit(True))
            person_work = (
                person.join(marked, "person_id", "left")
                .withColumn(
                    hist,
                    F.when(
                        F.col("_invalidated"), F.lit(None).cast(history_type)
                    ).otherwise(F.col(hist)),
                )
                .drop("_invalidated")
            )
        else:
            log.info(
                "incremental: no qualifying delta — running the pipeline "
                "for genuinely-new persons (include_new_persons=True)"
            )
            person_work = person

        encounter = _sanitize_encounter(spark.read.parquet(encounter_path))
        validate(encounter, ENCOUNTER, allow_extra=True)

        # 3. both phases over staged state, planned lazily; ONE guard
        # action then materialises the cached stages. Phase 1 runs against
        # the invalidated view. Phase 2's eligible set is the store after
        # phase 1: phase 1's eligible persons minus those its histories
        # mark processed — eligible_persons over the view with phase 1's
        # output applied on top, without joining that store-wide view
        # again (one history row per person: the guard checks person_id
        # uniqueness). A persisted frame is materialised by its first
        # consumer, so no step counts a frame just to fill its cache.
        persons1 = R.eligible_persons(person_work, client_code).persist()
        cached.append(persons1)
        encounters = R.eligible_encounters(encounter, client_code, as_of)
        admits = R.person_encounter_admits(persons1, encounters)
        base = R.retention_base(
            persons1, R.retained_months(admits), R.month_grid(spark, as_of)
        )
        final1 = R.fan_out_to_persons(R.collapse_retention(base, as_of), persons1)
        packed1 = R.pack_history(final1).persist()
        cached.append(packed1)
        processed1 = packed1.where(~R.is_unprocessed(F.col(hist)))

        # the fused guard: n1 + the person_id-unique check, n2, and the C3
        # invariant's "behind" count (over phase 2's eligible set) in one
        # row. Raising here leaves the store byte-identical: nothing has
        # been published.
        counts = _guarded_person_count(
            persons1,
            "incremental/phase1",
            processed=processed1,
            qualifying=R.child_encounter_persons(encounter, client_code, as_of),
        )
        R.check_phase2_invariant(
            person_work, encounter, client_code, as_of, behind=counts["behind"]
        )
        n1, n2 = counts["n"], counts["n2"]
        log.info("incremental: %d persons without retention (phase 1)", n1)
        log.info("incremental: %d persons stamped not-retained (phase 2)", n2)
        stats = {
            "affected_persons": n_affected,
            "pre_version": pre_version,
            "phase1_persons": n1,
            "phase2_persons": n2,
        }
        if not (n_affected or n1 or n2):
            log.info("incremental: nothing to publish")
            return stats

        # 4. ONE publish: phase-1 histories ∪ phase-2 stamps ∪ leftover
        # invalidations (members neither phase restamped — empty by
        # construction, kept for exact equivalence with a sequential
        # invalidate-then-recompute). The three key sets are disjoint:
        # phase 2 only selects persons phase 1 left unprocessed, and the
        # leftover anti-joins both.
        parts = [packed1] if n1 else []
        if n2:
            persons2 = persons1.join(
                processed1.select("person_id"), "person_id", "left_anti"
            )
            parts.append(R.pack_history(R.phase2(persons2, as_of)))
        if n_affected:
            restamped = members.where(F.lit(False)).select("person_id")
            for p in parts:
                restamped = restamped.unionByName(p.select("person_id"))
            leftover = members.join(restamped, "person_id", "left_anti").select(
                "person_id", F.lit(None).cast(history_type).alias(hist)
            )
            parts.append(leftover)
        delta_out = parts[0]
        for p in parts[1:]:
            delta_out = delta_out.unionByName(p)
        # the guard loaded every cache, so the publish reads packed1 and
        # members from theirs and persons1 only through phase-2 stamps:
        # without stamps, release it now, so the publish's refreshByPath
        # has one cached plan fewer to re-plan
        if not n2:
            persons1.unpersist()
            cached.remove(persons1)
        upsert_parquet(
            spark,
            person_path,
            delta_out,
            key="person_id",
            app_meta=app_meta,
            app_meta_expect=app_meta_expect,
            mode=_incremental_write_mode(write_mode),
        )
        log.info("incremental: published one maintenance commit")
        return stats
    finally:
        # leaves first: Spark's uncacheQuery recompiles every cached
        # dependent whose cache is not loaded
        for df_ in reversed(cached):
            df_.unpersist()
