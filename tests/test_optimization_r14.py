"""Round-14 optimization pins (OPTIMIZATION_r14.md): each test guards one
measured optimization — the plan property that makes it real at scale AND
the result identity that makes it safe — plus the round's advice fixes
(tz-robust admit-window pushdown, reserved raw-ts column, person-id
uniqueness guard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark import plans as P
from es_household_retention_spark_job_spark.clock import (
    TESTDATA_AS_OF,
    add_years,
    epoch_ms,
)
from es_household_retention_spark_job_spark.entry_queries import (
    EXTRA_QUERIES,
    QUERIES,
)
from es_household_retention_spark_job_spark.operators import dedup as D
from es_household_retention_spark_job_spark.operators import retention as R
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sources.tpch import (
    RAW_ADMIT_TS,
    load_table,
    retention_inputs,
)

from .conftest import SF_DIR


def q(spark, name):
    fn = QUERIES.get(name) or EXTRA_QUERIES[name]
    return fn(spark, SF_DIR)


# --------------------------------------------------------------------------
# near-dup index: gh-once layout (guide §2.3/§6) — each doc's shingle array
# is stored on exactly ONE of its N_BANDS band rows, so the probe's verify
# fetch reads one wide row per neighbor instead of eight
# --------------------------------------------------------------------------


def test_neardup_index_frame_gh_once(spark):
    docs = load_table(spark, SF_DIR, "documents")
    frame = D.neardup_index_frame(docs).cache()
    try:
        n_docs = frame.select("doc_id").distinct().count()
        n_rows = frame.count()
        n_gh = frame.where(F.col("gh").isNotNull()).count()
        gh_docs = (
            frame.where(F.col("gh").isNotNull()).select("doc_id").distinct().count()
        )
        assert n_rows == n_docs * D.N_BANDS
        assert n_gh == n_docs, "each doc must carry gh on exactly one band row"
        assert gh_docs == n_docs
    finally:
        frame.unpersist()


def test_probe_fetches_one_gh_row_per_neighbor(spark):
    """The verify fetch must read the index's wide rows through a
    gh-IS-NOT-NULL pushdown (one row per neighbor off the scan) — no
    per-band gh rows, no pick aggregation riding a keyed exchange."""
    df = q(spark, "neardup_probe_indexed")
    assert "IsNotNull(gh)" in P.pushed_filters(df)
    # the r13 pick (groupBy(dup_of).agg(min(band_key))) is gone: the only
    # aggregate left in the final query is the output pair dedupe
    plan = P.explain_str(df, "simple")
    assert "_pick_bk" not in plan
    P.assert_no_wide_shuffle(df)


def test_probe_results_match_batch_lsh_straddle(spark):
    """Result identity across the layout change: probing odd docs against
    the indexed even corpus equals the batch MinHash-LSH pairs restricted
    to odd-vs-even straddles (the oracle's own definition)."""
    docs = load_table(spark, SF_DIR, "documents")
    pairs = D.minhash_lsh_pairs(docs).collect()
    want = set()
    for r in pairs:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard_bp"]
        if a % 2 == 1 and b % 2 == 0:
            want.add((a, b, j))
        elif b % 2 == 1 and a % 2 == 0:
            want.add((b, a, j))
    got = {
        (r["doc_id"], r["dup_of"], r["jaccard_bp"])
        for r in q(spark, "neardup_probe_indexed").collect()
    }
    assert got == want and got


# --------------------------------------------------------------------------
# knn_ivfpq: fused trainer — coarse centroids and PQ codebooks train in
# SHARED driver actions (guide §5), byte-identical to the sequential pair
# --------------------------------------------------------------------------


def test_ivfpq_fused_trainer_byte_identical(spark):
    embs = load_table(spark, SF_DIR, "embeddings")
    cents, cb = S._ivfpq_train(embs, 16, S.PQ_M, S.PQ_KSUB)
    assert cents == S.kmeans_centroids(embs, k=16)
    assert cb == S.pq_train(embs)


def test_ivfpq_fused_trainer_halves_driver_actions(spark):
    """The fused trainer must block the driver materially fewer times than
    the sequential pair: one init collect (was three) + one collect per
    Lloyd round (was two). Counted as Spark jobs — AQE multiplies both
    sides equally, so the fused count must be at most ~60% of sequential."""
    embs = load_table(spark, SF_DIR, "embeddings")
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        # job ids are globally monotonic; len(getJobIdsForGroup()) is NOT a
        # counter (the tracker evicts old jobs past spark.ui.retainedJobs,
        # so a long-lived test session sees it shrink)
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else 0

    S.kmeans_centroids(embs, k=16)
    S.pq_train(embs)  # warm both paths (codegen, page cache)
    j0 = last_job()
    S.kmeans_centroids(embs, k=16)
    S.pq_train(embs)
    seq_jobs = last_job() - j0
    j0 = last_job()
    S._ivfpq_train(embs, 16, S.PQ_M, S.PQ_KSUB)
    fused_jobs = last_job() - j0
    assert fused_jobs < seq_jobs, (fused_jobs, seq_jobs)
    assert fused_jobs <= 0.6 * seq_jobs + 1, (fused_jobs, seq_jobs)


# --------------------------------------------------------------------------
# tfidf_top_terms: df via a term window on the tf frame — one corpus scan
# and one term exchange instead of a second tokenize branch + tf⋈df join
# (guide §2.4)
# --------------------------------------------------------------------------


def test_tfidf_single_tokenize_pass(spark):
    # exactly ONE tokenize/explode subtree: the pre-round-14 plan carried a
    # second Generate (the df branch re-deriving tf from a fresh corpus
    # scan) plus a tf⋈df join. Counted on the simple-mode plan (one line
    # per node) so the pin is independent of session cache state, which
    # can replace the parquet scans with InMemoryTableScans.
    plan = P.explain_str(q(spark, "tfidf_top_terms"), "simple")
    assert plan.count("Generate") == 1, plan
    assert P.count_shuffles(q(spark, "tfidf_top_terms")) <= 6


# --------------------------------------------------------------------------
# rrf_fuse: the fuse must add no exchange when the ranked inputs arrive
# co-partitioned on query_id (they always do — _rank_topk windows them)
# --------------------------------------------------------------------------


def test_rrf_fuse_adds_no_exchange(spark):
    from es_household_retention_spark_job_spark.operators import search as SE

    rows = [(f"q{i % 3}", i, 100 - i) for i in range(30)]
    scored = spark.createDataFrame(rows, "query_id string, doc_id int, s long")
    a = SE._rank_topk(scored, 5, "doc_id", "s")
    b = SE._rank_topk(scored.withColumn("s", F.col("s") + 1), 5, "doc_id", "s")
    fused = SE.rrf_fuse([a, b], k=5)
    # each ranked input pays one window exchange; the fuse itself must ride
    # the union's common hash(query_id) partitioning (agg + window both)
    assert P.count_shuffles(a) == 1
    assert P.count_shuffles(fused) == 2, P.explain_str(fused, "simple")


# --------------------------------------------------------------------------
# phase 1: the eligible-person projection is materialized once per call
# (cache=False path) — the person store is scanned once, not three times
# --------------------------------------------------------------------------


def test_phase1_scans_person_store_once(spark):
    plan = P.explain_str(q(spark, "retention_phase1"))
    # at most one customer scan remains (the encounter derivation's segment
    # join — "at most" keeps the pin independent of session cache state);
    # the three persons-subtree scans are one checkpointed projection now,
    # visible as ExistingRDD reads
    assert plan.count("customer.parquet") <= 1, plan.count("customer.parquet")
    assert "ExistingRDD" in plan
    # the admit-window pushdown must survive the checkpoint restructure
    P.assert_filter_pushed(q(spark, "retention_phase1"), "o_orderdate")


def test_phase1_checkpoint_result_identity(spark):
    person, encounter = retention_inputs(spark, SF_DIR)
    got = sorted(
        map(tuple, R.phase1(person, encounter, "HOUSEHOLD", TESTDATA_AS_OF,
                            cache=False).collect())
    )
    want = sorted(
        map(tuple, R.phase1(person, encounter, "HOUSEHOLD", TESTDATA_AS_OF,
                            cache=True).collect())
    )
    assert got == want and got


# --------------------------------------------------------------------------
# admit_window: the raw-column pushdown range must be timezone-robust —
# dtype-matched literals for DATE/NTZ, UTC-gated for instant columns
# (round-14 advice fix; east-of-UTC is the side that silently dropped rows)
# --------------------------------------------------------------------------


def _synthetic_encounter(spark, raw_type: str):
    """(admit_date, RAW_ADMIT_TS) rows whose raw times include LATE-UTC
    instants (next calendar day east of UTC) — the rows the unguarded
    instant-literal range mis-filtered under Asia/Tokyo."""
    wall = [
        # parsed as TOKYO wall time: the instant is wall-9h, i.e.
        # 1996-07-31T16:00Z — BEFORE the lo-day instant boundary although
        # its derived admit day (1996-08-01) is inside the window; the
        # unguarded instant-literal range dropped this row
        "1996-08-01 01:00:00",
        "1996-08-01 12:00:00",
        "1999-06-15 23:30:00",
        "2001-08-01 00:00:00",
        "1995-01-03 12:00:00",  # outside the window for every dtype
    ]
    df = spark.createDataFrame([(w,) for w in wall], "w string")
    raw = F.to_timestamp(F.col("w"))  # parsed in the CURRENT session tz
    if raw_type == "date":
        raw = raw.cast("date")
    elif raw_type == "timestamp_ntz":
        raw = F.col("w").cast("timestamp_ntz")
    derived = F.unix_date(raw.cast("date")).cast("long") * F.lit(86_400_000)
    return df.select(
        derived.alias("admit_date"), raw.alias(RAW_ADMIT_TS), "w"
    )


@pytest.mark.parametrize("raw_type", ["timestamp", "timestamp_ntz", "date"])
def test_admit_window_east_of_utc_session(spark, raw_type):
    """Under Asia/Tokyo the conjunction must equal the derived-ms BETWEEN
    for every raw dtype: DATE/NTZ literals are tz-free, and the instant
    form must DROP its raw predicate (UTC gate) rather than shrink the
    result."""
    lo = epoch_ms(add_years(TESTDATA_AS_OF, -5))
    hi = epoch_ms(TESTDATA_AS_OF)
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        enc = _synthetic_encounter(spark, raw_type)
        got = sorted(
            r["w"] for r in enc.where(R.admit_window(enc, lo, hi)).collect()
        )
        want = sorted(
            r["w"]
            for r in enc.where(
                F.col("admit_date").between(lo, hi)
            ).collect()
        )
        assert got == want and got, (raw_type, got, want)
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_admit_window_ntz_and_date_still_push_down(spark):
    """The tz-robust literals must stay pushdown-eligible: plain attribute
    comparisons for DATE and NTZ columns (no session-tz cast wrapping the
    column)."""
    _, encounter = retention_inputs(spark, SF_DIR)
    lo = epoch_ms(add_years(TESTDATA_AS_OF, -5))
    hi = epoch_ms(TESTDATA_AS_OF)
    cond = R.admit_window(encounter, lo, hi)
    s = str(cond._jc)
    assert RAW_ADMIT_TS in s  # instant column under UTC keeps the raw range
    bare = encounter.withColumn(
        RAW_ADMIT_TS, F.col(RAW_ADMIT_TS).cast("timestamp_ntz")
    )
    s_ntz = str(R.admit_window(bare, lo, hi)._jc)
    assert RAW_ADMIT_TS in s_ntz and "CAST(_admit_src_ts" not in s_ntz


def test_pipeline_strips_reserved_raw_column(spark, tmp_path):
    """An EXTERNAL encounter input carrying an unrelated column named
    RAW_ADMIT_TS must not be mis-filtered: the pipeline boundary strips
    the reserved name (sources keep their own derivation carry)."""
    from es_household_retention_spark_job_spark.pipeline import (
        _sanitize_encounter,
    )

    enc = spark.createDataFrame(
        [("E1", "P1", "HOUSEHOLD", epoch_ms(TESTDATA_AS_OF))],
        f"encounter_id string, person_id string, client_code string, "
        f"admit_date long",
    ).withColumn(RAW_ADMIT_TS, F.lit("2090-01-01").cast("date"))
    out = _sanitize_encounter(enc)
    assert RAW_ADMIT_TS not in out.columns
    # and the window helper over the sanitized frame keeps the row the
    # bogus raw column would have dropped
    lo = epoch_ms(add_years(TESTDATA_AS_OF, -5))
    hi = epoch_ms(TESTDATA_AS_OF)
    assert out.where(R.admit_window(out, lo, hi)).count() == 1


# --------------------------------------------------------------------------
# pack_history FD invariant (round-14 advice fix): duplicate person docs
# (the one way a person can disagree on household) fail LOUDLY at the
# guard count instead of writing duplicate history keys
# --------------------------------------------------------------------------


def test_duplicate_person_ids_fail_loudly(spark):
    from es_household_retention_spark_job_spark.pipeline import (
        _guarded_person_count,
    )

    ok = spark.createDataFrame(
        [("P1", "H1"), ("P2", "H1")], "person_id string, household_id string"
    )
    assert _guarded_person_count(ok, "test") == {"n": 2, "n2": 2, "behind": 0}
    # the fused form: phase 2's count and the invariant's ride the same
    # action, and the uniqueness check still fires on the guarded frame
    ids = lambda *xs: spark.createDataFrame([(x,) for x in xs], "person_id string")
    assert _guarded_person_count(
        ok, "test", processed=ids("P1"), qualifying=ids("P1", "P2", "P9")
    ) == {"n": 2, "n2": 1, "behind": 1}
    dup = spark.createDataFrame(
        [("P1", "H1"), ("P1", "H2"), ("P2", "H1")],
        "person_id string, household_id string",
    )
    with pytest.raises(ValueError, match="person_id-unique"):
        _guarded_person_count(dup, "test")
    with pytest.raises(ValueError, match="person_id-unique"):
        _guarded_person_count(dup, "test", processed=ids("P1"), qualifying=ids())
