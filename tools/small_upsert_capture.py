"""Cost of one SMALL copy-on-write upsert into a store whose affected-bucket
read is larger than Spark's broadcast threshold, with and without the
write-time change capture.

A small upsert hashes into almost every bucket, so the CoW rewrite reads
(and rewrites) the whole store; the capture must stay O(|updates|) on top
of that: it should shuffle only the update keys' rows, never the whole
affected read. Protocol:

  * keyed store of N rows (16 buckets): a string key, a 64-char payload,
    a long and a nested 6-entry history array
  * REPS rounds, each one CoW upsert of B keys (90% updates of stored
    keys, 10% inserts) into each of two copies of the store, one with
    the capture on (``SPARK_GRAFT_SINK_CDC``) and one with it off
  * per upsert: wall seconds, and over its Spark jobs the shuffle bytes
    written and the maximum task peak execution memory; the same figures
    and the join operators for the captured upsert's last SQL execution,
    the sidecar write

Usage: python tools/small_upsert_capture.py [rows=1500000] [batch=1000]
       [reps=3] [cpus=4]
Prints one JSON line per round and a summary line (medians).
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
# the Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402
from es_household_retention_spark_job_spark.sinks.upsert import (  # noqa: E402
    upsert_parquet,
    write_keyed_table,
)

N_BUCKETS = 16


def rows_frame(ids, rnd: int):
    """Store-shaped rows for an ``id`` frame; ``rnd`` changes every value."""
    hist = F.transform(
        F.sequence(F.lit(0), F.lit(5)),
        lambda i: F.struct(
            (F.col("id") * 10 + i + rnd).alias("gte"),
            (F.col("id") * 10 + i + 1).alias("lte"),
            ((F.col("id") + i + rnd) % 2 == 0).alias("retained"),
        ),
    )
    return ids.select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"r{rnd}")), 256).alias(
            "payload"
        ),
        (F.col("id") % 97 + rnd).alias("v"),
        hist.alias("hist"),
    )


def batch_frame(spark, n: int, b: int, rnd: int):
    """``b`` keys: 90% spread over the stored ids, 10% new ones."""
    n_upd = b - b // 10
    step = max(n // n_upd, 1)
    upd = spark.range(n_upd).select(((F.col("id") * step + rnd) % n).alias("id"))
    new = spark.range(b // 10).select((F.col("id") + n + rnd * b).alias("id"))
    return rows_frame(upd.unionByName(new), rnd + 1)


def job_metrics(spark, jobs) -> dict:
    """Shuffle bytes written and max task peak execution memory over some
    Spark jobs, from the application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 1)
    q[0] = 1.0
    empty = sc._jvm.java.util.ArrayList()
    out = {"jobs": len(jobs), "shuffle_bytes": 0, "peak_task_mem_bytes": 0}
    for sid in {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}:
        attempts = store.stageData(sid, False, empty, True, q)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if not sd.numCompleteTasks():
                continue
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            dist = sd.taskMetricsDistributions()
            if dist.isDefined():
                peak = int(dist.get().peakExecutionMemory().apply(0))
                out["peak_task_mem_bytes"] = max(out["peak_task_mem_bytes"], peak)
    return out


def last_execution(spark):
    """(job ids, join operators) of the most recent SQL execution."""
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    last = max(
        (execs.apply(i) for i in range(execs.size())), key=lambda e: e.executionId()
    )
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = [int(j) for j in conv.asJava(last.jobs()).keySet()]
    plan = last.physicalPlanDescription()
    joins = sorted(
        w for w in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") if w in plan
    )
    return jobs, joins


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    n, b, reps, cpus = (args + [1_500_000, 1000, 3, 4][len(args):])[:4]
    spark = get_spark(
        app_name="small_upsert_capture",
        cpus=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="small_upsert_capture_"))
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "cow"
    try:
        stores = {cdc: str(work / f"store_{cdc}") for cdc in ("on", "off")}
        write_keyed_table(
            rows_frame(spark.range(n), 0), stores["on"], key="k", n_buckets=N_BUCKETS
        )
        shutil.copytree(stores["on"], stores["off"])
        est = int(
            spark.read.parquet(stores["on"])
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        rows = []
        for rnd in range(reps):
            batch = batch_frame(spark, n, b, rnd).persist()
            batch.count()  # the batch itself is not what is measured
            rec = {"round": rnd, "rows": n, "batch": b, "store_estimate_bytes": est}
            # alternate which twin goes first
            for cdc in ("on", "off") if rnd % 2 == 0 else ("off", "on"):
                os.environ["SPARK_GRAFT_SINK_CDC"] = cdc
                group = f"upsert_{rnd}_{cdc}"
                spark.sparkContext.setJobGroup(group, group)
                t0 = time.time()
                upsert_parquet(spark, stores[cdc], batch, key="k", n_buckets=N_BUCKETS)
                rec[f"upsert_{cdc}_s"] = round(time.time() - t0, 3)
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                tracker = spark.sparkContext.statusTracker()
                for k, v in job_metrics(spark, tracker.getJobIdsForGroup(group)).items():
                    rec[f"{k}_{cdc}"] = v
                if cdc == "on":
                    # the captured publish's last execution writes the sidecar
                    jobs, rec["capture_joins"] = last_execution(spark)
                    for k, v in job_metrics(spark, jobs).items():
                        rec[f"capture_{k}"] = v
            os.environ.pop("SPARK_GRAFT_SINK_CDC", None)
            batch.unpersist()
            rows.append(rec)
            print(json.dumps(rec), flush=True)
        summary = {
            k: statistics.median(r[k] for r in rows)
            for k in rows[0]
            if isinstance(rows[0][k], (int, float)) and k != "round"
        }
        print(json.dumps({"summary": summary}), flush=True)
    finally:
        os.environ.pop("SPARK_GRAFT_SINK_WRITE_MODE", None)
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
