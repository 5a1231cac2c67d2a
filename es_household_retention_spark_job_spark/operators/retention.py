"""Household-retention pipeline — the reference's flagship query surface,
re-expressed Spark-first.

Reference semantics (HRP = /root/reference/src/main/scala/HouseholdRetentionProcessing.scala):

Phase 1 (HRP:305-648): for every *unprocessed* person with a household
(client-scoped), build a 49-month grid per household (HRP:482-497,517-524);
a household is retained in month M iff some encounter admitted in M has an
earlier encounter within ~365 days (HRP:525-534); collapse consecutive
equal-state months into [start,end] ranges (HRP:557-590); every person of the
household inherits the ranges (HRP:602-618).

Phase 2 (HRP:650-809): invariant-guarded constant stamp ``retained=false``
over [month_floor(now)-4y, +10y] for persons still unprocessed (HRP:752-784);
throws if phase 1 left an eligible household behind (HRP:786-791).

Scale design notes
------------------
* The "exists an earlier encounter within the look-back" band join
  (HRP:529-533, ``cur join cur prv``) is implemented as ONE window pass
  (lag over household) instead of an equi-key self-join: after per-(hh, ts)
  dedup the immediately preceding timestamp is the *latest* earlier one, so
  ``lag(ts) >= ts - lookback`` ⟺ ``EXISTS prior in window``. The self-join
  variant is O(k²) per household for k same-window encounters and skew-bombs
  on mega-households; the window variant is O(k log k) and shuffles once.
  Both are provided (``strategy=``) and oracle-verified equal.
* The month grid is 49 rows built with ``sequence``/``explode`` (no driver
  loop, HRP:484-491 anti-pattern avoided) and broadcast into the cross join.
* The islands collapse is the one-window island-id formulation
  (see operators.islands) instead of the reference's 4-window/3-join SQL.
* No Python UDFs anywhere — the whole pipeline stays in WholeStageCodegen.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..clock import add_years, epoch_ms, month_floor
from ..sources.tpch import RAW_ADMIT_TS
from .islands import collapse_consecutive

LOOKBACK_DAYS = 365  # HRP:513 date_add(ts, -365.25) -> int cast -> -365 days
GRID_MONTHS_BACK = 48  # HRP:487 plusYears(-4), 49 rows inclusive
ENCOUNTER_SCAN_YEARS = 5  # HRP:361 range admit_date now-5y..now
HAS_CHILD_YEARS = 4  # HRP:188 range admit_date now-4y..now
NOT_RETAINED_FUTURE_YEARS = 10  # HRP:755 addYears(+10)


class HouseholdRetentionNotReadyError(Exception):
    """HRP:786-791 ``householdRetentionNotReadyException``."""


_DAY_MS = 86_400_000


def admit_window(encounter: DataFrame, lo_ms: int, hi_ms: int) -> Column:
    """``admit_date BETWEEN lo_ms AND hi_ms`` — plus, when the frame carries
    the raw source timestamp (``sources.tpch.RAW_ADMIT_TS``), the PROVABLY
    EQUIVALENT plain-column range so the parquet reader can push it down.

    ``admit_date = unix_date(cast(ts AS date)) * 86_400_000`` is a
    day-floored epoch, so with d = the day number (an integer):
    ``admit_date >= lo  ⟺  d >= ceil(lo/day)  ⟺  ts >= ceil(lo/day)·day``
    and ``admit_date <= hi  ⟺  d <= floor(hi/day)  ⟺
    ts < (floor(hi/day)+1)·day``. Exact, not a slack bound, for ANY
    intra-day time component. The derived-ms predicate is kept alongside
    (belt and suspenders, and it is what the operator means); only the raw
    form reaches PushedFilters — a filter on a derived column never does
    (optimization guide §6).

    **The raw literal is chosen by the column's TYPE so the conjunction is
    timezone-independent wherever it can be, and OMITTED where it cannot**
    (round-14 advice fix — the round-13 form compared every dtype against
    instant (timestamp_millis) literals, and comparing a DATE/NTZ column to
    an instant inserts a session-tz cast: under an east-of-UTC session tz
    the lower boundary day silently dropped out of the conjunction):

    * DATE column → DATE literals (day numbers; no tz anywhere);
    * TIMESTAMP_NTZ (the driver-default parquet inference when
      ``ensure_session_confs`` cannot pin the reader conf) → NTZ literals
      parsed from wall-clock strings (no tz anywhere);
    * TIMESTAMP (instant) → instant literals, but ONLY under a UTC session
      timezone: the derivation's cast-to-date floors instants in the
      SESSION tz, so the day-boundary algebra above only lines up with
      instant literals when that tz is UTC. Any other session tz (or any
      other dtype) falls back to the derived-ms predicate alone — correct
      everywhere, merely unpushable."""
    cond = F.col("admit_date").between(lo_ms, hi_ms)
    if RAW_ADMIT_TS in encounter.columns:
        lo_day = -((-lo_ms) // _DAY_MS)  # ceil
        hi_day = hi_ms // _DAY_MS  # floor
        epoch0 = datetime(1970, 1, 1)  # tz-free day-number arithmetic
        lo_utc = epoch0 + timedelta(days=lo_day)
        hi_utc = epoch0 + timedelta(days=hi_day + 1)
        dtype = dict(encounter.dtypes).get(RAW_ADMIT_TS, "")
        raw_col = F.col(RAW_ADMIT_TS)
        raw = None
        if dtype == "date":
            raw = (
                raw_col >= F.lit(lo_utc.strftime("%Y-%m-%d")).cast("date")
            ) & (raw_col < F.lit(hi_utc.strftime("%Y-%m-%d")).cast("date"))
        elif dtype == "timestamp_ntz":
            fmt = "%Y-%m-%d %H:%M:%S"
            raw = (
                raw_col >= F.lit(lo_utc.strftime(fmt)).cast("timestamp_ntz")
            ) & (raw_col < F.lit(hi_utc.strftime(fmt)).cast("timestamp_ntz"))
        elif dtype == "timestamp":
            try:
                tz = encounter.sparkSession.conf.get(
                    "spark.sql.session.timeZone", ""
                )
            except Exception:
                tz = ""
            if tz == "UTC":
                raw = (
                    raw_col >= F.timestamp_millis(F.lit(lo_day * _DAY_MS))
                ) & (
                    raw_col
                    < F.timestamp_millis(F.lit((hi_day + 1) * _DAY_MS))
                )
        if raw is not None:
            cond = raw & cond
    return cond


def is_unprocessed(history: Column) -> Column:
    """P8 — ES ``must_not nested exists household_retention_history.retained``
    (HRP:196-205 et al.) over an array<struct> column with three-valued logic:
    NULL array, empty array, and entries whose ``retained`` is NULL all count
    as *unprocessed*; any entry with a non-null ``retained`` marks processed.
    """
    has_retained = F.exists(history, lambda e: e["retained"].isNotNull())
    return ~F.coalesce(has_retained, F.lit(False))


def eligible_persons(person: DataFrame, client_code: str) -> DataFrame:
    """HRP:431-456 person source: term client_code (P4), exists
    household.household_id (P5), not processed (P8). Projects the two columns
    the reference keeps (HRP:474-476) — column pruning reaches the scan."""
    return person.where(
        (F.col("client_code") == client_code)
        & F.col("household.household_id").isNotNull()
        & is_unprocessed(F.col("household_retention_history"))
    ).select("person_id", F.col("household.household_id").alias("household_id"))


def eligible_encounters(
    encounter: DataFrame, client_code: str, as_of: datetime
) -> DataFrame:
    """HRP:353-418 encounter source: term client_code + 5y admit_date range
    (P6, ES date-math ``now-5y..now`` with pinned now) projected to the
    reference's columns, with the second-truncated timestamp the reference
    produces via ``from_unixtime(admit_date_ts/1000)`` (HRP:512)."""
    lo = epoch_ms(add_years(as_of, -ENCOUNTER_SCAN_YEARS))
    hi = epoch_ms(as_of)
    return encounter.where(
        (F.col("client_code") == client_code)
        & admit_window(encounter, lo, hi)
    ).select(
        "encounter_id",
        "person_id",
        F.timestamp_seconds(F.floor(F.col("admit_date") / 1000)).alias("admit_ts"),
    )


def has_parent_semi(encounters: DataFrame, persons: DataFrame) -> DataFrame:
    """J4 — ES ``has_parent`` (HRP:363-384): keep encounters whose parent
    person qualifies. left_semi keeps encounter columns only."""
    return encounters.join(persons, "person_id", "left_semi")


def child_encounter_persons(
    encounter: DataFrame, client_code: str, as_of: datetime
) -> DataFrame:
    """The person_id of every encounter ``has_child`` counts (HRP:182-193):
    same client, admitted within [now-4y, now]."""
    lo = epoch_ms(add_years(as_of, -HAS_CHILD_YEARS))
    hi = epoch_ms(as_of)
    return encounter.where(
        (F.col("client_code") == client_code)
        & admit_window(encounter, lo, hi)
    ).select("person_id")


def has_child_semi(
    persons: DataFrame, encounter: DataFrame, client_code: str, as_of: datetime
) -> DataFrame:
    """J4 — ES ``has_child`` (HRP:182-193): keep persons having ≥1 encounter
    of the same client admitted within [now-4y, now]."""
    qualifying = child_encounter_persons(encounter, client_code, as_of)
    return persons.join(qualifying, "person_id", "left_semi")


def month_grid(spark: SparkSession, as_of: datetime) -> DataFrame:
    """S4 — 49-row month dimension (HRP:482-497), built distributedly with
    ``sequence``/``explode`` instead of a driver loop. ``month_start`` is a
    DATE; first-of-month from grid_min=month_floor(as_of)-4y to
    month_floor(as_of) inclusive."""
    hi = month_floor(as_of)
    lo = add_years(hi, -HAS_CHILD_YEARS)
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(lo.strftime("%Y-%m-%d")).cast("date"),
                F.lit(hi.strftime("%Y-%m-%d")).cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month_start")
    )


def person_encounter_admits(
    persons: DataFrame, encounters: DataFrame, skew_safe: bool = True
) -> DataFrame:
    """J1 + A1 — the ``cur`` CTE (HRP:509-516): inner join person⋈encounter
    then dedup to distinct (household_id, admit_ts). ``admit_minus1`` is
    derived, not grouped on, since it is functionally dependent (the
    reference groups on all three, same result).

    ``skew_safe=True`` (the DEFAULT) shuffles the dedup on the full
    (household_id, admit_ts) key first — high-cardinality, spread evenly,
    map-side partial dedup — and only the POST-dedup rows (bounded by
    distinct admit timestamps, and by the 49-month grid downstream) take
    the household_id exchange that keys the rest of the chain. A
    mega-household therefore never lands its raw encounter volume in a
    single task. The "extra" exchange moves only deduped rows: measured at
    sf0.1 / local[32] (5-rep median, round 4) it is at-or-below noise —
    1.525s vs 1.600s for the full phase-1 pipeline — i.e. the safe plan is
    FREE, which is why it is the default rather than a probe-triggered
    hatch.

    ``skew_safe=False`` keys the whole chain on ONE household_id exchange
    (the minimal-shuffle plan) but opts the dedup out of any skew
    mitigation: a mega-household's entire PRE-dedup row set lands in one
    task. Only for corpora known to be household-uniform. Identical output
    either way (tests/test_skew_stress.py proves it on a synthetic
    mega-household)."""
    joined = persons.join(encounters, "person_id", "inner").select(
        "household_id", "admit_ts"
    )
    if skew_safe:
        deduped = joined.dropDuplicates(["household_id", "admit_ts"]).repartition(
            "household_id"
        )
    else:
        # ONE shuffle keys the whole household chain: hashpartitioning on
        # household_id alone satisfies every downstream ClusteredDistribution
        # (the (hh, ts) dedup, the lag window, the (hh, month) dedup, the
        # month-set agg, the grid join, the rank/collapse windows) — so none
        # of them re-exchanges.
        deduped = joined.repartition("household_id").dropDuplicates(
            ["household_id", "admit_ts"]
        )
    return deduped.withColumn(
        "admit_minus1",
        F.date_add(F.col("admit_ts").cast("date"), -LOOKBACK_DAYS),
    )


def retained_months(admits: DataFrame, strategy: str = "window") -> DataFrame:
    """J3 — the retention core (HRP:525-534): months where an encounter has a
    strictly-earlier encounter within the look-back window.

    ``window`` (default): one pass — after (hh, ts) dedup, ``lag(ts)`` is the
    latest earlier timestamp, so checking it against the threshold is exactly
    EXISTS. ``selfjoin``: the reference's literal band self-join, kept for
    parity demonstration (SMJ on household + range filter).
    """
    if strategy == "window":
        w = Window.partitionBy("household_id").orderBy("admit_ts")
        prev_ts = F.lag("admit_ts").over(w)
        out = (
            admits.withColumn("_prev_ts", prev_ts)
            .where(
                F.col("_prev_ts").isNotNull()
                & (F.col("_prev_ts") >= F.col("admit_minus1").cast("timestamp"))
            )
        )
    elif strategy == "selfjoin":
        cur = admits.alias("cur")
        prv = admits.select("household_id", "admit_ts").alias("prv")
        out = cur.join(
            prv,
            (F.col("cur.household_id") == F.col("prv.household_id"))
            & (F.col("cur.admit_ts") > F.col("prv.admit_ts"))
            & (F.col("prv.admit_ts") >= F.col("cur.admit_minus1").cast("timestamp")),
            "inner",
        ).select(F.col("cur.household_id").alias("household_id"), F.col("cur.admit_ts"))
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return (
        out.select(
            "household_id",
            F.date_trunc("month", F.col("admit_ts")).cast("date").alias("admit_month"),
        )
        .dropDuplicates(["household_id", "admit_month"])
    )


def retention_base(
    persons: DataFrame, retained: DataFrame, months: DataFrame
) -> DataFrame:
    """J2 + J5 + W1 — the dense household×month grid (HRP:517-524) left-joined
    to the retained months (HRP:535-541).

    Shuffle shape: the 49-row month dim is broadcast into the cross join;
    the retained months are collapsed to ONE set-valued row per household
    (≤49 elements) so the grid join is single-key on household — both sides
    arrive hash-partitioned on household (grid from the persons distinct,
    sets from the admits chain), so the join and the rank window add no
    exchange. The reference's (household, month) join key would force two
    compound-key shuffles here and a third for the window."""
    households = persons.select("household_id").distinct()
    grid = households.crossJoin(F.broadcast(months))
    month_sets = retained.groupBy("household_id").agg(
        F.collect_set("admit_month").alias("_r_months")
    )
    # deliberate join strategy (guide §3.1): shuffled-hash instead of
    # sort-merge. SMJ sorted BOTH sides — including the grid, the widest
    # intermediate of the whole pipeline (49 rows/household), which the
    # rank window below re-sorts anyway, so the join-side sort was a pure
    # second sort of the big side. The build side is safe by construction:
    # one row per household, ≤49 dates in the set (~450 B/row), and its
    # per-partition share shrinks as AQE scales partition count with data —
    # the bounded-build case where SHJ strictly beats SMJ. Plan diff:
    # SortMergeJoin LeftOuter → ShuffledHashJoin BuildRight, 2 Sort nodes
    # removed; exchanges unchanged (both sides stay hash(household)).
    base = grid.join(month_sets.hint("shuffle_hash"), "household_id", "left").select(
        F.col("household_id").alias("household"),
        "month_start",
        F.coalesce(
            F.array_contains(F.col("_r_months"), F.col("month_start")), F.lit(False)
        ).alias("is_retained"),
    )
    w = Window.partitionBy("household").orderBy("month_start")
    return base.withColumn("month_rank", F.row_number().over(w))


def collapse_retention(base: DataFrame, as_of: datetime) -> DataFrame:
    """W2-W4 + J6 + A2 + F1-F7 — gaps-and-islands collapse (HRP:550-595) via
    the island-id formulation (one window + one agg; see operators.islands).

    Output epoch/date formats replicate the reference exactly:
    end_date = last second of the island's final month
    (``unix_timestamp(add_months(m,1)) - 1``, HRP:571-573).

    **Replicated reference quirk** (HRP:580,586): when the retention state
    changes AT the max grid month, the ``min(case when n.startOfMonth = max
    then n.startOfMonth else previous end)`` end-of-range logic extends the
    *preceding* island's end through the max month — the two final ranges
    overlap. The island-id collapse wouldn't do this naturally, so the
    adjustment below applies it: a MULTI-month island whose successor starts
    at the max month gets its end stretched to the max month. Single-month
    islands are exempt — they never enter the reference's chain-starts set
    (their ``lead(same_state)`` is 0, HRP:577) and fall back to
    ``coalesce(end_of_range, startOfMonth)`` (HRP:571). Proved equivalent to
    the reference's literal SQL in tests/test_fixtures_edgecases.py and
    tests/test_islands_equivalence.py."""
    max_month = month_floor(as_of).strftime("%Y-%m-%d")
    islands = collapse_consecutive(
        base.select("household", "month_start", "is_retained"),
        keys=["household"],
        order_col="month_start",
        state_col="is_retained",
    )
    eff_end = F.when(
        (F.col("island_start") < F.col("island_end"))
        & (F.add_months(F.col("island_end"), 1) == F.lit(max_month).cast("date")),
        F.lit(max_month).cast("date"),
    ).otherwise(F.col("island_end"))
    islands = islands.withColumn("island_end", eff_end)
    next_month_ts = F.add_months(F.col("island_end"), 1).cast("timestamp")
    return islands.select(
        "household",
        F.date_format("island_start", "yyyy-MM-dd").alias("start_date"),
        F.date_format(
            F.timestamp_seconds(F.unix_timestamp(next_month_ts) - 1),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("end_date"),
        F.unix_millis(F.col("island_start").cast("timestamp")).alias("start_date_epoch"),
        (F.unix_millis(next_month_ts) - 1000).alias("end_date_epoch"),
        F.col("is_retained").alias("retained"),
    )


def fan_out_to_persons(collapsed: DataFrame, persons: DataFrame) -> DataFrame:
    """J7 — every person inherits its household's ranges (HRP:602-618)."""
    p2h = persons.select("person_id", F.col("household_id").alias("household"))
    return collapsed.join(p2h, "household", "inner").select(
        "person_id",
        "household",
        "start_date",
        "end_date",
        "start_date_epoch",
        "end_date_epoch",
        "retained",
    )


def phase1(
    person: DataFrame,
    encounter: DataFrame,
    client_code: str,
    as_of: datetime,
    strategy: str = "window",
    cache: bool = True,
    skew_safe: bool = True,
) -> DataFrame:
    """EP1 — full retained pipeline (HRP:305-648). ``persons`` is reused by
    the grid and the final fan-out, so it is cached (C5, HRP:478).
    ``skew_safe`` — see person_encounter_admits.

    ``cache=False`` (the driver/bench path — it must leave no CacheManager
    entry behind in the caller's session) materializes the NARROW
    (person_id, household_id) projection once per call with an eager
    ``localCheckpoint`` instead: the frame feeds THREE subtrees (the admits
    join, the grid's household distinct, the final fan-out), and uncached
    each reference re-scanned the person store — at 100 TB that is two
    extra full passes over the widest input table to rebuild a
    two-short-string projection (guide §5: cache/cut-lineage exactly the
    reused-and-expensive frames). localCheckpoint blocks are per-call (no
    cross-call reuse, no session-lifetime cache entry — the round-13 probe
    discipline) and construction therefore EXECUTES the person scan; they
    are executor-local and unreplicated, so the production orchestration
    path keeps ``cache=True``'s recompute-from-lineage fault tolerance."""
    spark = person.sparkSession
    persons = eligible_persons(person, client_code)
    if cache:
        persons = persons.cache()
    else:
        persons = persons.localCheckpoint(eager=True)
    encounters = eligible_encounters(encounter, client_code, as_of)
    admits = person_encounter_admits(persons, encounters, skew_safe=skew_safe)
    retained = retained_months(admits, strategy=strategy)
    base = retention_base(persons, retained, month_grid(spark, as_of))
    collapsed = collapse_retention(base, as_of)
    return fan_out_to_persons(collapsed, persons)


def phase2_bounds(as_of: datetime) -> tuple[int, int]:
    """HRP:752-760 — [month_floor(now)-4y, month_floor(now)+10y] epoch ms."""
    cur = month_floor(as_of)
    return epoch_ms(add_years(cur, -HAS_CHILD_YEARS)), epoch_ms(
        add_years(cur, NOT_RETAINED_FUTURE_YEARS)
    )


def check_phase2_invariant(
    person: DataFrame,
    encounter: DataFrame,
    client_code: str,
    as_of: datetime,
    behind: int | None = None,
) -> None:
    """C3 — HRP:786-791: throw if any household still has an unprocessed
    person with a qualifying encounter (phase 1 incomplete). ``behind`` is
    that count when the caller already computed it — ``has_child_semi``'s
    row count over its eligible frame, taken inside the pipeline's one
    fused guard action (``pipeline._guarded_person_count``) — so the check
    runs no action of its own."""
    if behind is None:
        persons = eligible_persons(person, client_code)
        qualifying = has_child_semi(persons, encounter, client_code, as_of)
        behind = qualifying.limit(1).count()
    if behind > 0:
        raise HouseholdRetentionNotReadyError(
            "households eligible for retention are available and not processed. "
            "Household retention processing step 1 needs to be run to completion "
            "before running step 2."
        )


def phase2(persons: DataFrame, as_of: datetime) -> DataFrame:
    """EP2 — constant not-retained stamp (HRP:762-784) for still-unprocessed
    persons. No joins, no windows — a pure projection (F12)."""
    lo, hi = phase2_bounds(as_of)
    return persons.select(
        "person_id",
        F.col("household_id").alias("household"),
        F.date_format(F.timestamp_millis(F.lit(lo)), "yyyy-MM-dd").alias("start_date"),
        F.date_format(F.timestamp_millis(F.lit(hi)), "yyyy-MM-dd HH:mm:ss").alias(
            "end_date"
        ),
        F.lit(lo).alias("start_date_epoch"),
        F.lit(hi).alias("end_date_epoch"),
        F.lit(False).alias("retained"),
    )


def pack_history(final: DataFrame) -> DataFrame:
    """A5 — pack per-person ranges into the nested write-back shape
    (HRP:279-295) with ``collect_list(struct(...))`` + ``array_sort`` for a
    deterministic order, replacing the reference's ``rdd.groupBy`` shuffle
    anti-pattern with a partial-aggregating hash agg."""
    entry = F.struct(
        F.struct(
            F.col("start_date_epoch").alias("gte"), F.col("end_date_epoch").alias("lte")
        ).alias("date_range"),
        F.struct(F.col("start_date").alias("gte"), F.col("end_date").alias("lte")).alias(
            "date_range_alt"
        ),
        F.col("retained").alias("retained"),
    )
    # group on (household, person_id) when the fan-out shape carries the
    # household: person -> household is functionally dependent (HRP person
    # docs embed ONE household), so the extra key changes nothing about the
    # groups — but the phase-1 stream arrives hash-partitioned on household
    # (the islands/window chain), and HashPartitioning(household) satisfies
    # ClusteredDistribution(household, person_id), so the pack's final
    # exchange disappears: the packed arrays never cross the network
    # (optimization guide §2.4 "two operations keyed the same way share one
    # exchange"). Measured plan diff: pack_history_stats 4 Exchange -> 3.
    keys = (
        ["household", "person_id"] if "household" in final.columns else ["person_id"]
    )
    return final.groupBy(*keys).agg(
        F.array_sort(F.collect_list(entry)).alias("household_retention_history")
    ).select("person_id", "household_retention_history")
