"""Oracle-pinned registry rows for the keyed sink's READ surface (round 9;
promoted into the 50-slot driver gate in round 10): the change data feed
(``read_changes``), the point-lookup path (``read_keyed_table(keys=...)``),
the fold-maintained aggregates (count/sum, min/max with suspect-group
recompute, HLL distinct with an in-plan accuracy contract), and a cow-mode
change-feed twin proving round 10's write-mode-independent capture.

The sink itself (S7/S8 — write modes, MVCC manifest, concurrency, time
travel) is pytest-covered in tests/test_upsert_pipeline.py; what these rows
add is HASH-level oracle coverage of the derived read results. Both rows
share one deterministic table build per process: load ``customer`` into the
bucketed-merge layout, then apply a scripted merge-on-read batch (scattered
updates + out-of-range inserts + keyed deletes). Because every mutation is
an arithmetic function of ``c_custkey``, DuckDB can reproduce the expected
feed / lookup result straight from the source parquet — no sink required on
the oracle side, which is exactly the point: the sink's read surface is
checked against a definition that never touches the sink.

Mutation script (MoR write mode, so the reads reconcile real delta files):
  * update  — every ``c_custkey % 7 == 0`` row gets ``c_acctbal + 100``
  * insert  — every ``c_custkey % 13 == 0`` row re-keyed to ``+1_000_000``
  * delete  — every ``c_custkey % 11 == 0`` key (after the upsert, so keys
    divisible by 77 are updated-then-deleted; the v0→current diff correctly
    reports a plain delete carrying the ORIGINAL preimage)
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import register

_BUCKETS = 8


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # c_bal_x100: exact integer cents (the repo's standard float-free
    # aggregation currency) so the INCREMENTAL fold's retract/apply sums
    # are associative and oracle-exact
    return spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c_bal_x100"),
    )


#: sf_dir -> (table_path, v0, agg_path) for this process (process-scoped
#: scratch, same lifecycle pattern as entry_queries_docs._TEXT_INDEX_BUILT)
_SINK_TABLE_BUILT: dict[str, tuple[str, int, str]] = {}

#: histogram spec for the fold-maintained percentile row: c_bal_x100 is
#: integer cents in [-99_999, 1_009_999] after the scripted +10_000
#: updates, so [lo, hi) covers every value (no under/overflow slot used);
#: width = (hi - lo) / 64 = 17_375 exact — the integer-lower-bound
#: contract needs the division exact
_HIST_SPEC = {"c_bal_x100": (-100_000, 1_012_000, 64)}


def _mutated_table(spark: SparkSession, sf_dir: str) -> tuple[str, int, str]:
    built = _SINK_TABLE_BUILT.get(sf_dir)
    if built is not None:
        return built
    from .sinks.incremental_agg import fold_aggregate
    from .sinks.upsert import (
        current_version,
        delete_keys,
        upsert_parquet,
        write_keyed_table,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_sink_cdf_"), "t")
    agg_path = f"{path}_agg"
    shutil.rmtree(path, ignore_errors=True)
    cust = _customer(spark, sf_dir)
    write_keyed_table(cust, path, key="c_custkey", n_buckets=_BUCKETS)
    v0 = current_version(path)
    # bootstrap the maintained aggregates at the PRE-mutation state, so the
    # registered sink_incremental_agg / sink_fold_minmax /
    # sink_fold_distinct rows exercise a genuine change-feed FOLD across
    # the mutations below, not a recompute
    fold_aggregate(
        spark, path, agg_path, "c_nationkey", ("c_bal_x100",), n_buckets=4
    )
    fold_aggregate(
        spark,
        path,
        f"{path}_agg_mm",
        "c_nationkey",
        n_buckets=4,
        min_cols=("c_bal_x100",),
        max_cols=("c_bal_x100",),
        distinct_cols=("c_bal_x100",),
    )
    fold_aggregate(
        spark,
        path,
        f"{path}_agg_hist",
        "c_nationkey",
        n_buckets=4,
        hist_cols=_HIST_SPEC,
    )
    updates = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("c_bal_x100", F.col("c_bal_x100") + 10_000)
    )
    inserts = cust.where(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    prev = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"
    try:
        upsert_parquet(
            spark,
            path,
            updates.unionByName(inserts),
            key="c_custkey",
            n_buckets=_BUCKETS,
        )
        delete_keys(
            spark,
            path,
            cust.where(F.col("c_custkey") % 11 == 0).select("c_custkey"),
            key="c_custkey",
        )
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        else:
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = prev
    _SINK_TABLE_BUILT[sf_dir] = (path, v0, agg_path)
    return path, v0, agg_path


_CDF_SQL = """
WITH src AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS c_bal_x100
    FROM customer
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_bal_x100,
       'update_preimage' AS _change_type
  FROM src WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
       c_bal_x100 + 10000 AS c_bal_x100,
       'update_postimage' AS _change_type
  FROM src WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_bal_x100,
       'delete' AS _change_type
  FROM src WHERE c_custkey % 11 = 0
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey, c_acctbal,
       c_bal_x100, 'insert' AS _change_type
  FROM src WHERE c_custkey % 13 = 0
"""


#: cow-mode twin table: same mutation script run under the DEFAULT
#: copy-on-write mode — what proves the round-10 write-mode-independent
#: CDC capture end-to-end (the feed below must hash-match the same oracle
#: while every window version's sidecar came from a CoW rewrite)
_SINK_TABLE_BUILT_COW: dict[str, tuple[str, int]] = {}


def _mutated_table_cow(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    built = _SINK_TABLE_BUILT_COW.get(sf_dir)
    if built is not None:
        return built
    from .sinks.upsert import (
        current_version,
        delete_keys,
        upsert_parquet,
        write_keyed_table,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_sink_cow_"), "t")
    shutil.rmtree(path, ignore_errors=True)
    cust = _customer(spark, sf_dir)
    write_keyed_table(cust, path, key="c_custkey", n_buckets=_BUCKETS)
    v0 = current_version(path)
    updates = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("c_bal_x100", F.col("c_bal_x100") + 10_000)
    )
    inserts = cust.where(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    prev = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "cow"
    try:
        upsert_parquet(
            spark,
            path,
            updates.unionByName(inserts),
            key="c_custkey",
            n_buckets=_BUCKETS,
        )
        delete_keys(
            spark,
            path,
            cust.where(F.col("c_custkey") % 11 == 0).select("c_custkey"),
            key="c_custkey",
        )
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        else:
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = prev
    _SINK_TABLE_BUILT_COW[sf_dir] = (path, v0)
    return path, v0


@register("sink_change_feed_cow", _CDF_SQL, extra=True)
def sink_change_feed_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed with the mutations run under the DEFAULT
    copy-on-write mode: every window version's pre/postimages came from
    the CoW merge's write-time capture (round 10 — capture is
    write-mode-independent), so the feed is served from the O(changed
    rows) sidecar tier, hash-equal to the same oracle as the MoR row."""
    from .sinks.upsert import read_changes

    path, v0 = _mutated_table_cow(spark, sf_dir)
    return read_changes(spark, path, v0)


@register("sink_change_feed", _CDF_SQL)
def sink_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two retained versions
    (sinks/upsert.py::read_changes, Delta-CDF row shape): inserts, deletes
    with preimage, and preimage/postimage update pairs, diffed over
    RESOLVED states so merge-on-read delta files are invisible. The oracle
    recomputes the expected feed from the source parquet alone."""
    from .sinks.upsert import read_changes

    path, v0, _ = _mutated_table(spark, sf_dir)
    return read_changes(spark, path, v0)


_LOOKUP_SQL = """
SELECT c_custkey, c_name, c_nationkey,
       c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END
         AS c_acctbal,
       CAST(round(c_acctbal * 100) AS BIGINT)
         + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS c_bal_x100
  FROM customer
 WHERE c_custkey % 97 = 0 AND c_custkey % 11 <> 0
"""


@register("sink_point_lookup", _LOOKUP_SQL)
def sink_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup (sinks/upsert.py::read_keyed_table(keys=...)) against
    the MoR-dirty current state: only the buckets the probe keys hash to
    are opened (manifest-level pruning pinned in test_upsert_pipeline),
    and the reconciliation fold runs only over those buckets' rows.
    Probe = every source key divisible by 97; deleted keys must be absent,
    updated keys must serve the post-update value."""
    from .sinks.upsert import read_keyed_table

    path, _, _ = _mutated_table(spark, sf_dir)
    probe = [
        r[0]
        for r in _customer(spark, sf_dir)
        .where(F.col("c_custkey") % 97 == 0)
        .select("c_custkey")
        .collect()
    ]
    return read_keyed_table(spark, path, keys=sorted(probe))


_AGG_SQL = """
WITH final AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 13 = 0
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(bal) AS BIGINT) AS sum_c_bal_x100
  FROM final GROUP BY c_nationkey
"""


@register("sink_incremental_agg", _AGG_SQL)
def sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate
    (sinks/incremental_agg.py::fold_aggregate): count + exact-cents sum of
    customer balances by nation, BOOTSTRAPPED at the pre-mutation version
    and brought current by folding the change feed (retract/apply over
    insert/delete/update pre+postimage rows) — the aggregate never
    re-reads the source. The oracle recomputes the post-mutation aggregate
    from the source parquet; a hash match proves fold == recompute."""
    from .sinks.incremental_agg import fold_aggregate, read_aggregate

    path, _, agg_path = _mutated_table(spark, sf_dir)
    fold_aggregate(
        spark, path, agg_path, "c_nationkey", ("c_bal_x100",), n_buckets=4
    )
    return read_aggregate(spark, agg_path).select(
        "c_nationkey", "cnt", "sum_c_bal_x100"
    )


_MINMAX_SQL = """
WITH final AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 13 = 0
)
SELECT c_nationkey, CAST(MIN(bal) AS BIGINT) AS min_c_bal_x100,
       CAST(MAX(bal) AS BIGINT) AS max_c_bal_x100
  FROM final GROUP BY c_nationkey
"""


@register("sink_fold_minmax", _MINMAX_SQL)  # promoted to the driver gate
# round 11 (r10 verdict #4): the retractable-extremum fold is exactly the
# subtle logic the hard gate should hash-check; null_semantics_battery
# (redundant null surface) was demoted to extras to keep the 50-slot cap
def sink_fold_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold-maintained MIN/MAX by nation (round 10,
    sinks/incremental_agg.py): applies fold via least/greatest; the
    scripted deletes retract some groups' stored extrema, forcing the
    suspect-group source recompute path. The oracle recomputes the
    post-mutation extrema from the source parquet; a hash match proves
    fold(+suspect recompute) == recompute for every group."""
    from .sinks.incremental_agg import fold_aggregate, read_aggregate

    path, _, _ = _mutated_table(spark, sf_dir)
    agg = f"{path}_agg_mm"
    fold_aggregate(
        spark,
        path,
        agg,
        "c_nationkey",
        n_buckets=4,
        min_cols=("c_bal_x100",),
        max_cols=("c_bal_x100",),
        distinct_cols=("c_bal_x100",),
    )
    return read_aggregate(spark, agg).select(
        "c_nationkey", "min_c_bal_x100", "max_c_bal_x100"
    )


_DISTINCT_SQL = """
WITH final AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 13 = 0
)
SELECT c_nationkey, CAST(COUNT(DISTINCT bal) AS BIGINT) AS n_exact,
       true AS hll_within_5pct
  FROM final GROUP BY c_nationkey
"""


@register("sink_fold_distinct", _DISTINCT_SQL)  # promoted to the driver
# gate round 11 (r10 verdict #4): HLL merge-on-apply with suspect-group
# recompute on retraction; session_window_events (redundant sessionize
# twin) was demoted to extras to keep the 50-slot cap
def sink_fold_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold-maintained DISTINCT COUNT by nation via a stored HLL sketch
    (round 10): applied values hll_union into the stored state; the
    scripted retractions (un-unionable) trigger the suspect-group source
    recompute. The estimate never crosses engines — the hash-checked
    output is the exact distinct count plus the in-plan ±5% accuracy
    contract on the folded sketch (the approx_distinct_custkeys
    pattern)."""
    from .sinks.incremental_agg import fold_aggregate, read_aggregate
    from .sinks.upsert import read_keyed_table

    path, _, _ = _mutated_table(spark, sf_dir)
    agg = f"{path}_agg_mm"
    fold_aggregate(
        spark,
        path,
        agg,
        "c_nationkey",
        n_buckets=4,
        min_cols=("c_bal_x100",),
        max_cols=("c_bal_x100",),
        distinct_cols=("c_bal_x100",),
    )
    exact = (
        read_keyed_table(spark, path)
        .groupBy("c_nationkey")
        .agg(F.countDistinct("c_bal_x100").cast("long").alias("n_exact"))
    )
    est = read_aggregate(spark, agg).select("c_nationkey", "dcnt_c_bal_x100")
    return exact.join(est, "c_nationkey").select(
        "c_nationkey",
        "n_exact",
        (
            F.abs(F.col("dcnt_c_bal_x100") - F.col("n_exact"))
            <= F.col("n_exact") * 0.05
        ).alias("hll_within_5pct"),
    )


_PCTL_SQL = """
WITH final AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 13 = 0
),
b AS (
  SELECT c_nationkey,
         CASE WHEN bal < -100000 THEN 0
              WHEN bal >= 1012000 THEN 65
              ELSE (bal + 100000) * 64 // 1112000 + 1 END AS bucket
    FROM final
),
h AS (
  SELECT c_nationkey, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2
),
cum AS (
  SELECT c_nationkey, bucket,
         SUM(c) OVER (PARTITION BY c_nationkey ORDER BY bucket) AS cum,
         SUM(c) OVER (PARTITION BY c_nationkey) AS total
    FROM h
)
SELECT c_nationkey,
       CAST(-100000 + (MIN(CASE WHEN cum >= (total + 1) // 2
                                THEN bucket END) - 1) * 17375
            AS BIGINT) AS p50_bal,
       CAST(-100000 + (MIN(CASE WHEN cum >= (total * 9 + 9) // 10
                                THEN bucket END) - 1) * 17375
            AS BIGINT) AS p90_bal
  FROM cum GROUP BY c_nationkey
"""


@register("sink_fold_percentile", _PCTL_SQL, extra=True)
def sink_fold_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold-maintained approximate percentiles by nation via a fixed-bucket
    histogram (round 11, sinks/incremental_agg.py::hist_cols): the stored
    state is a per-group array<long> of bucket counts — the FULLY
    retractable quantile family (the scripted deletes just decrement
    their buckets; no suspect-group source recompute exists for it).
    Bootstrapped pre-mutation, brought current by folding the change
    feed; the percentile read-out is the exact integer lower bound of
    the covering bucket, so the DuckDB oracle reproduces it bit-for-bit
    from the source parquet with the same integer bucket arithmetic."""
    from .sinks.incremental_agg import fold_aggregate, read_percentiles

    path, _, _ = _mutated_table(spark, sf_dir)
    agg = f"{path}_agg_hist"
    fold_aggregate(
        spark, path, agg, "c_nationkey", n_buckets=4, hist_cols=_HIST_SPEC
    )
    return read_percentiles(
        spark, agg, {"c_bal_x100": [(1, 2), (9, 10)]}
    ).select(
        "c_nationkey",
        F.col("p50_c_bal_x100").alias("p50_bal"),
        F.col("p90_c_bal_x100").alias("p90_bal"),
    )


#: top-k table cache: customer plus a derived item column (c_bal_x100 mod
#: 97) whose value MOVES on the scripted +10_000 update — every update is
#: a genuine (group, item) retract/apply pair for the composite fold
_SINK_TABLE_BUILT_TOPK: dict[str, tuple[str, str]] = {}


def _mutated_table_topk(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    built = _SINK_TABLE_BUILT_TOPK.get(sf_dir)
    if built is not None:
        return built
    from .sinks.incremental_agg import fold_aggregate
    from .sinks.upsert import delete_keys, upsert_parquet, write_keyed_table

    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_sink_topk_"), "t")
    agg_path = f"{path}_agg"
    shutil.rmtree(path, ignore_errors=True)
    bucket = (F.col("c_bal_x100") % 97).alias("c_bal_bucket")
    cust = _customer(spark, sf_dir).select(
        "c_custkey", "c_nationkey", "c_bal_x100", bucket
    )
    write_keyed_table(cust, path, key="c_custkey", n_buckets=_BUCKETS)
    fold_aggregate(
        spark, path, agg_path, ["c_nationkey", "c_bal_bucket"], n_buckets=4
    )
    updates = cust.where(F.col("c_custkey") % 7 == 0).withColumn(
        "c_bal_x100", F.col("c_bal_x100") + 10_000
    ).withColumn("c_bal_bucket", F.col("c_bal_x100") % 97)
    inserts = cust.where(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    prev = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"
    try:
        upsert_parquet(
            spark,
            path,
            updates.unionByName(inserts),
            key="c_custkey",
            n_buckets=_BUCKETS,
        )
        delete_keys(
            spark,
            path,
            cust.where(F.col("c_custkey") % 11 == 0).select("c_custkey"),
            key="c_custkey",
        )
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        else:
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = prev
    _SINK_TABLE_BUILT_TOPK[sf_dir] = (path, agg_path)
    return path, agg_path


_TOPK_SQL = """
WITH final AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 13 = 0
),
counted AS (
  SELECT c_nationkey, bal % 97 AS c_bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
    FROM final GROUP BY 1, 2
),
ranked AS (
  SELECT c_nationkey, c_bal_bucket, cnt,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY cnt DESC, c_bal_bucket) AS rank
    FROM counted
)
SELECT c_nationkey, c_bal_bucket, cnt, CAST(rank AS INT) AS rank
  FROM ranked WHERE rank <= 3
"""


@register("sink_fold_topk", _TOPK_SQL, extra=True)
def sink_fold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-nation top-3 most-frequent balance buckets, maintained
    incrementally (round 11, sinks/incremental_agg.py::read_topk): the
    composite (nation, bucket) count fold retracts/applies every change
    row — the scripted +10_000 updates MOVE rows between buckets, so the
    window carries genuine (group, item) retract+apply pairs — and the
    read ranks within the maintained aggregate only (never the source).
    Exact where space-saving/count-min sketches could not be (they
    cannot retract); deterministic ties (cnt desc, bucket asc) hash-
    match the DuckDB oracle's recompute from source parquet."""
    from .sinks.incremental_agg import fold_aggregate, read_topk

    path, agg_path = _mutated_table_topk(spark, sf_dir)
    fold_aggregate(
        spark, path, agg_path, ["c_nationkey", "c_bal_bucket"], n_buckets=4
    )
    return read_topk(
        spark, agg_path, ["c_nationkey"], "c_bal_bucket", k=3
    )


#: partial-delta table cache: customer loaded, then ONE MoR partial-column
#: upsert (only c_acctbal carried; every other column must ride the base
#: rows through the per-column fold)
_SINK_TABLE_BUILT_PARTIAL: dict[str, str] = {}


def _mutated_table_partial(spark: SparkSession, sf_dir: str) -> str:
    built = _SINK_TABLE_BUILT_PARTIAL.get(sf_dir)
    if built is not None:
        return built
    from .sinks.upsert import upsert_parquet, write_keyed_table

    path = os.path.join(tempfile.mkdtemp(prefix="spark_graft_sink_part_"), "t")
    shutil.rmtree(path, ignore_errors=True)
    cust = _customer(spark, sf_dir)
    write_keyed_table(cust, path, key="c_custkey", n_buckets=_BUCKETS)
    prev = os.environ.get("SPARK_GRAFT_SINK_WRITE_MODE")
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"
    try:
        upsert_parquet(
            spark,
            path,
            cust.where(F.col("c_custkey") % 5 == 0).select(
                "c_custkey", (F.col("c_acctbal") + 50).alias("c_acctbal")
            ),
            key="c_custkey",
            n_buckets=_BUCKETS,
        )
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        else:
            os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = prev
    _SINK_TABLE_BUILT_PARTIAL[sf_dir] = path
    return path


_PARTIAL_SQL = """
SELECT c_custkey, c_name, c_nationkey,
       c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 50 ELSE 0 END
         AS c_acctbal,
       CAST(round(c_acctbal * 100) AS BIGINT) AS c_bal_x100
  FROM customer
"""


@register("sink_partial_delta", _PARTIAL_SQL)
def sink_partial_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-COLUMN MoR delta read surface (round 11,
    sinks/upsert.py::_append_partial_delta / _fold_resolve): the table
    took ONE merge-on-read upsert carrying ONLY (c_custkey, c_acctbal) —
    no base row was read or rewritten at publish time — and this full
    resolved read must merge per column: updated keys serve the new
    c_acctbal while c_name / c_nationkey / c_bal_x100 ride the base rows
    through the mask-aware fold. The oracle recomputes the expected state
    from source parquet alone (the sink never touches the oracle side)."""
    from .sinks.upsert import read_keyed_table

    path = _mutated_table_partial(spark, sf_dir)
    return read_keyed_table(spark, path).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_bal_x100"
    )
