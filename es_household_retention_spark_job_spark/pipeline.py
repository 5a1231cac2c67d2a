"""Two-phase retention orchestration (HRP:126-127 ``main`` flow) over a
keyed parquet person store.

Phase 1 (HRP:305-648): flagship pipeline -> pack nested history (A5),
cached -> one guard action (C2) that also counts what phase 2's guard
would over the store phase 1 leaves -> upsert into the person table (S7).
Phase 2 (HRP:650-809): the phase-1-incomplete invariant (C3) on that count
-> only if phase 1 left eligible persons: its own guard and C3 check in
one action -> constant not-retained stamp -> pack -> upsert.

Because the upsert writes ``household_retention_history``, re-running either
phase is a no-op: processed persons now fail the P8 "unprocessed" predicate
(idempotence, tested in tests/test_upsert_pipeline.py).

The backfill (``run_retention``) and CDC maintenance (``run_incremental``)
share one phase-1 plan, ``_phase1_plan``: the backfill runs it over the
store, the maintenance call over a staged view of the store with the
delta-touched households' histories invalidated.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators import retention as R
from .schemas import ENCOUNTER, PERSON, validate
from .sinks.upsert import current_version, read_keyed_table, upsert_parquet

log = logging.getLogger("retention.pipeline")

HISTORY = "household_retention_history"


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


@contextmanager
def _phase1_plan(person, encounter, client_code: str, as_of: datetime, phase: str):
    """Phase 1 (HRP:305-648) over ``person`` — the store for a backfill,
    the staged invalidated view for a maintenance call — planned once for
    both jobs. Yields ``(persons, packed, processed, counts)``: the cached
    eligible frame, the cached packed histories, those marking a person
    processed, and the fused guard's row (``_guarded_person_count``), whose
    one action materialises both caches. The eligible frame is released
    after the guard when no person is left for phase 2's stamps; on exit,
    a raise included, every entry is released."""
    # the eligible frame R.phase1 caches: persisting the same plan here
    # makes its cache=True entry THIS one (the CacheManager keys entries by
    # plan), so the finally releases it — no entry outlives the call for
    # every later refreshByPath on the store to re-plan
    persons = R.eligible_persons(person, client_code).persist()
    packed = R.pack_history(R.phase1(person, encounter, client_code, as_of)).persist()
    try:
        processed = packed.where(~R.is_unprocessed(F.col(HISTORY)))
        counts = _guarded_person_count(  # S6 (HRP:627-628)
            persons,
            phase,
            processed=processed,
            qualifying=R.child_encounter_persons(encounter, client_code, as_of),
        )
        if counts["n2"] == 0:
            # the guard loaded packed's cache, which no longer reads
            # persons: one cached plan fewer for the publish's
            # refreshByPath to re-plan
            persons.unpersist()
        yield persons, packed, processed, counts
    finally:
        # leaves first: Spark's uncacheQuery recompiles every cached
        # dependent whose cache is not loaded
        packed.unpersist()
        persons.unpersist()


def run_phase1(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    client_code: str,
    as_of: datetime,
) -> dict[str, int]:
    """Returns the fused guard's row (``_guarded_person_count``): ``n``
    persons processed (0 = skipped, C2), ``n2`` eligible persons phase 1
    left unprocessed (phase 2's count over the published store) and
    ``behind``, the C3 invariant's count among them. The guard raises
    before any publish."""
    person, encounter = _load_inputs(spark, person_path, encounter_path)
    with _phase1_plan(person, encounter, client_code, as_of, "phase1") as (
        _, packed, _, counts
    ):
        n = counts["n"]
        log.info("phase1: %d persons without retention", n)
        if n == 0:
            log.info("phase1: nothing to process — skipping (HRP:643-645)")
            return counts
        upsert_parquet(spark, person_path, packed, key="person_id")
    log.info("phase1: wrote retention history for %d persons", n)
    return counts


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
    R.require_phase1_complete(counts["behind"])
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
    """Phase 1, then phase 2 (HRP:126-127). The C3 check runs on phase
    1's guard counts, after phase 1 published (a failure leaves it
    published), and ``run_phase2`` runs only when phase 1 left eligible
    persons behind — never after a complete phase 1, whose dense month
    grid processes every eligible person. A backfill runs four Spark
    actions (the guard, bucket discovery, the merge write, the change
    capture) and a re-run over a processed store one."""
    counts = run_phase1(spark, person_path, encounter_path, client_code, as_of)
    R.require_phase1_complete(counts["behind"])
    n2 = (
        run_phase2(spark, person_path, encounter_path, client_code, as_of)
        if counts["n2"]
        else 0
    )
    return {"phase1_persons": counts["n"], "phase2_persons": n2}


def _incremental_write_mode() -> str:
    """The flagship maintenance loop's write mode:
    ``SPARK_GRAFT_SINK_WRITE_MODE`` env override > **``mor``** (the
    round-12 default). MoR is the default HERE — and only here — because
    this loop's publish is the measured write floor: under CoW any
    realistic blast radius hashes into every bucket, so the single
    maintenance commit rewrites the store (the 1.47× sf10 ceiling, a
    mode property, not a defect), while MoR lands O(delta) bytes and
    measured 2.11× at sf10/3d (SCALING.md). ``cow`` remains the GLOBAL
    sink default — the read-optimized choice for tables whose consumers
    scan more than they maintain."""
    env = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    return env if env is not None else "mor"


def run_incremental(
    spark: SparkSession,
    person_path: str,
    encounter_path: str,
    delta_encounter,
    client_code: str,
    as_of: datetime,
    app_meta: dict | None = None,
    app_meta_expect: dict | None = None,
) -> dict[str, int]:
    """CDC maintenance: fold a batch of NEWLY-ARRIVED encounters into an
    already-processed person store without recomputing the world.

    The reference pipeline is one-shot (processed persons fail the P8
    predicate forever, HRP:196-205); when encounters keep arriving, a
    processed household's stored history goes stale. This maintainer makes
    the two-phase pipeline incremental through its own idempotence
    contract, running the backfill's phase-1 plan over a staged view of
    the store instead of a second compute path:

    1. *Blast radius*: qualifying delta encounters → their persons →
       those persons' households → EVERY member of those households
       (retention is a household-level property: one member's new admit
       can flip months for all of them). A delta touching no household
       returns after this one count; new-person onboarding belongs to the
       scheduled ``run_retention``.
    2. *Staged invalidate*: the members' ``household_retention_history``
       is nulled in a logical view of the store (under ``is_unprocessed``'s
       three-valued logic a null history IS the unprocessed state), so the
       P8 predicate selects exactly the members, and no intermediate
       write happens.
    3. *Recompute over staged state*: phase 1 runs against that view
       (``_phase1_plan``, the backfill's plan). Phase 2's eligible set is
       phase 1's minus the persons it processed. ONE fused guard action
       returns the phase-1 count (with the person_id-unique check), the
       phase-2 count and the C3 invariant's count, and materialises every
       cached stage; a failed guard or C3 check raises before any publish.
       Phase 1 over the full encounter history of only the affected
       households equals a from-scratch run restricted to them: the
       pipeline never joins across households (pinned in
       tests/test_incremental_retention.py).
    4. *ONE publish*: the phase-1 histories, the phase-2 not-retained
       stamps, and any member neither phase restamped — three disjoint
       key sets — land in a SINGLE upsert, one manifest commit, written
       merge-on-read by default (``_incremental_write_mode``). Readers see
       the old state or the fully maintained one, never the invalidate
       window, and a crash before the publish leaves the store
       byte-identical.

    A delta-touched household is recomputed EVEN IF previously processed
    (staleness from new data is what this maintainer repairs), while
    untouched processed households keep the one-shot "never reprocess"
    contract.

    ``delta_encounter``: DataFrame of the new encounter rows. They must
    ALREADY be part of the store at ``encounter_path`` (ingest appends
    first, then calls this); the delta only computes the blast radius,
    never the recompute input.

    ``app_meta`` / ``app_meta_expect`` ride the publish (Delta
    ``txn``-style, see ``upsert_parquet``): a streaming caller stores its
    (stream, epoch) cursor IN the maintenance commit, so a replayed
    micro-batch is screened by the cursor and two racers from the same
    cursor cannot both commit
    (``streaming.retention_stream.incremental_retention_pipeline``).

    Cost: the blast radius is one delta scan and two semi-joins that
    broadcast for a small delta, and phase 1's joins prune the encounter
    scan to the affected persons, so a 0.1% delta costs ~0.1% of the
    backfill's compute. At that size per-action driver cost dominates: a
    non-empty delta runs exactly three actions (the blast-radius count,
    the fused guard, the merge-on-read append), an empty one runs one.

    The returned ``pre_version`` is the person table's committed version
    before the publish: ``read_keyed_table(spark, person_path,
    version=pre_version)`` reads the exact pre-maintenance table while
    that version is retained (``SPARK_GRAFT_SINK_KEEP_VERSIONS``).

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
    try:
        n_affected = members.count()
        log.info("incremental: %d persons in touched households", n_affected)
        if n_affected == 0:
            log.info("incremental: no qualifying delta — skipping")
            return {
                "affected_persons": 0,
                "phase1_persons": 0,
                "phase2_persons": 0,
                "pre_version": pre_version,
            }

        # 2. STAGED invalidate — a logical view, nothing published. The
        # member set is delta-bounded in the common CDC case, so AQE turns
        # the marker join into a broadcast; a huge blast radius degrades
        # to a shuffle join instead of an OOM'd forced broadcast.
        history_type = person.schema[HISTORY].dataType
        marked = members.withColumn("_invalidated", F.lit(True))
        person_work = (
            person.join(marked, "person_id", "left")
            .withColumn(
                HISTORY,
                F.when(
                    F.col("_invalidated"), F.lit(None).cast(history_type)
                ).otherwise(F.col(HISTORY)),
            )
            .drop("_invalidated")
        )
        encounter = _sanitize_encounter(spark.read.parquet(encounter_path))
        validate(encounter, ENCOUNTER, allow_extra=True)

        # 3. phase 1 over the view; phase 2's eligible set is phase 1's
        # minus the persons its histories mark processed, without joining
        # the store-wide view again (one history row per person: the
        # guard checks person_id uniqueness)
        with _phase1_plan(
            person_work, encounter, client_code, as_of, "incremental/phase1"
        ) as (persons1, packed1, processed1, counts):
            R.require_phase1_complete(counts["behind"])
            n1, n2 = counts["n"], counts["n2"]
            log.info("incremental: %d persons without retention (phase 1)", n1)
            log.info("incremental: %d persons stamped not-retained (phase 2)", n2)

            # 4. ONE publish: phase-1 histories ∪ phase-2 stamps ∪
            # leftover invalidations (members neither phase restamped —
            # empty by construction, kept for exact equivalence with a
            # sequential invalidate-then-recompute). The three key sets
            # are disjoint: phase 2 only selects persons phase 1 left
            # unprocessed, and the leftover anti-joins both.
            delta_out = packed1
            if n2:
                persons2 = persons1.join(
                    processed1.select("person_id"), "person_id", "left_anti"
                )
                delta_out = delta_out.unionByName(
                    R.pack_history(R.phase2(persons2, as_of))
                )
            leftover = members.join(
                delta_out.select("person_id"), "person_id", "left_anti"
            ).select("person_id", F.lit(None).cast(history_type).alias(HISTORY))
            delta_out = delta_out.unionByName(leftover)
            upsert_parquet(
                spark,
                person_path,
                delta_out,
                key="person_id",
                app_meta=app_meta,
                app_meta_expect=app_meta_expect,
                mode=_incremental_write_mode(),
            )
        log.info("incremental: published one maintenance commit")
        return {
            "affected_persons": n_affected,
            "pre_version": pre_version,
            "phase1_persons": n1,
            "phase2_persons": n2,
        }
    finally:
        members.unpersist()
