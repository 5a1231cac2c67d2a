"""Incremental-retention rehearsal: measure run_incremental's cost against
a full backfill at TPC-H-derived scale, and verify the final person store
is IDENTICAL to the from-scratch run (order-insensitive xxhash64 checksum
over (person_id, history), computed in-engine — no driver collect of the
store).

Scenario (mirrors a daily CDC batch): the encounter store is split at
``as_of - DELTA_DAYS``; the base is backfilled one-shot, then the delta
"arrives" (store is extended to the full set) and run_incremental folds it
in. Reported: backfill seconds, incremental seconds, affected persons vs
store size, and the equality verdict vs an independent full backfill over
the complete store.

Usage: python tools/incremental_rehearsal.py [sf_dir=/root/testdata/sf0.1]
       [delta_days=30] [mode=cow]

``mode=mor`` switches the sink to merge-on-read for the INCREMENTAL step
only (backfills stay copy-on-write — they are the reference): the CDC
upserts land as per-bucket delta appends instead of full bucket rewrites,
the write-floor fix SCALING.md's sf10 section motivated. Reported extra:
``compact_sec`` (the deferred maintenance fold) — the honest MoR total is
incremental + amortized compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark.clock import TESTDATA_AS_OF  # noqa: E402
from es_household_retention_spark_job_spark.pipeline import (  # noqa: E402
    run_incremental,
    run_retention,
)
from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402
from es_household_retention_spark_job_spark.sinks.upsert import (  # noqa: E402
    read_keyed_table,
    write_keyed_table,
)
from es_household_retention_spark_job_spark.sources.tpch import (  # noqa: E402
    retention_inputs,
)

CLIENT = "HOUSEHOLD"


def checksum(spark, person_path: str) -> int:
    """Order-insensitive in-engine checksum of the whole store state."""
    df = read_keyed_table(spark, person_path)
    return (
        df.select(
            F.xxhash64(
                F.col("person_id"),
                F.to_json(F.col("household_retention_history")),
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)"))  # order-insensitive, overflow-free
        .first()[0]
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    delta_days = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    mode = sys.argv[3] if len(sys.argv) > 3 else "cow"
    spark = get_spark(app_name="incr-rehearsal", cpus=32, shuffle_partitions=64)

    person, encounter = retention_inputs(spark, sf_dir)
    # start every person unprocessed: the incremental==full theorem holds
    # for stores where delta-touched households start unprocessed — the
    # TPC-H derivation's every-13th dummy "processed" person would be
    # (deliberately) refreshed by the CDC path but kept by the one-shot
    # P8 gate (see pipeline.run_incremental docstring)
    htype = person.schema["household_retention_history"].dataType
    person = person.withColumn(
        "household_retention_history", F.lit(None).cast(htype)
    )
    cutoff_ms = int(TESTDATA_AS_OF.timestamp() * 1000) - delta_days * 86_400_000
    work = Path(tempfile.mkdtemp(prefix="incr_rehearsal_"))
    try:
        enc_all = str(work / "encounter")
        encounter.write.mode("overwrite").parquet(enc_all)
        enc = spark.read.parquet(enc_all)
        base = enc.where(F.col("admit_date") < cutoff_ms)
        n_all, n_base = enc.count(), 0

        # --- reference: full one-shot backfill over the complete store
        p_full = str(work / "person_full")
        write_keyed_table(person, p_full, key="person_id", n_buckets=64)
        t0 = time.time()
        run_retention(spark, p_full, enc_all, CLIENT, TESTDATA_AS_OF)
        t_backfill = time.time() - t0
        want = checksum(spark, p_full)

        # --- CDC path: backfill the base, then fold the delta in
        enc_base = str(work / "encounter_base")
        base.write.mode("overwrite").parquet(enc_base)
        n_base = spark.read.parquet(enc_base).count()
        p_inc = str(work / "person_inc")
        write_keyed_table(person, p_inc, key="person_id", n_buckets=64)
        run_retention(spark, p_inc, enc_base, CLIENT, TESTDATA_AS_OF)
        delta = enc.where(F.col("admit_date") >= cutoff_ms)
        t0 = time.time()
        # the flagship loop defaults to MoR (r12), so the CoW arm must
        # ask for cow by name through the env override
        os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = mode
        stats = run_incremental(
            spark, p_inc, enc_all, delta, CLIENT, TESTDATA_AS_OF
        )
        t_incremental = time.time() - t0
        os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        t_compact = None
        if mode == "mor":
            from es_household_retention_spark_job_spark.sinks.upsert import (
                compact_keyed_table,
            )

            t0 = time.time()
            compact_keyed_table(spark, p_inc)
            t_compact = round(time.time() - t0, 2)
        got = checksum(spark, p_inc)

        out = {
            "sf_dir": sf_dir,
            "mode": mode,
            "compact_sec": t_compact,
            "persons": person.count(),
            "encounters": n_all,
            "delta_encounters": n_all - n_base,
            "delta_days": delta_days,
            "affected_persons": stats["affected_persons"],
            "backfill_sec": round(t_backfill, 2),
            "incremental_sec": round(t_incremental, 2),
            "speedup": round(t_backfill / t_incremental, 2)
            if t_incremental
            else None,
            "state_equal": bool(got == want),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
