"""Job-level benchmark of the household-retention engine.

    python3 jobbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) on ``local[nproc]`` in this one
process, checks every output, prints a table of every metric and, as the
last line of stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans plus Spark's status stores. A full record (provenance,
input properties, timing quartiles, checks and, when traced, every span)
goes to ``.jobbench/results/`` under the checkout root. Runs from any
working directory: the checkout root is put on the Python workers' path.
Exits 1 on any failed call or correctness mismatch.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark or Python writes inside ``work`` and let the
    Python workers import the package from the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("LOG_LEVEL", "ERROR")
    sys.path[:0] = [ROOT, HERE]


def git_describe() -> str:
    try:
        out = subprocess.run(["git", "describe", "--always", "--dirty"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
    except OSError:
        return "unavailable"
    return out.stdout.strip() if out.returncode == 0 else "unavailable (not a git checkout)"


def start_session(work: str):
    from es_household_retention_spark_job_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="jobbench", cpus=n, shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    return spark, t0, time.perf_counter()


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def provenance(spark, args, seconds_used: float) -> dict:
    import pyspark
    import workloads as W

    return {
        "host": platform.node(),
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git": git_describe(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": bool(args.trace),
        "setup_reps": W.SETUP_REPS,
        "keysets": W.KEYSETS,
        "wall_s": round(seconds_used, 3),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def print_table(run, metrics: dict, overhead) -> None:
    import workloads as W

    print(f"{'metric':34} {'unit':10} {'median':>12} {'q1':>10} {'q3':>10} {'n':>4}")
    units = {"lookup": "ms"}  # lookups are sub-second
    for op, vals in sorted(run.samples.items()):
        s = W.summary(vals)
        k = 1000.0 if units.get(op) == "ms" else 1.0
        print(f"{op + ' (sample)':34} {units.get(op, 's'):10} {s['median'] * k:12.4f}"
              f" {s['q1'] * k:10.4f} {s['q3'] * k:10.4f} {s['n']:4d}")
    for name, (value, unit) in metrics.items():
        print(f"{name:34} {unit:10} {value:12.4f}")
    print(f"{'failed_frac':34} {'ratio':10} {run.failed / max(1, run.attempted):12.4f}"
          f"   ({run.failed} failed of {run.attempted} attempted)")
    if overhead is not None:
        print(f"{'trace overhead on job_s':34} {'s':10} {overhead:12.4f}")


def untraced_job_s(results: str, workload: str, seed: int):
    """job_s of the newest untraced record for the same workload and seed."""
    best = None
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        if name.startswith(f"{workload}-seed{seed}-trace0-"):
            best = name
    if best is None:
        return None
    with open(os.path.join(results, best)) as f:
        return json.load(f)["metrics"].get("job_s", [None])[0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".jobbench", f"work-{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    t_start = time.perf_counter()
    import spans
    import workloads as W

    results = os.path.join(ROOT, ".jobbench", "results")
    spark, t0, t1 = start_session(work)
    session_s = t1 - t0
    try:
        tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace))
        tracer.add("session.start", t0, t1)
        run = W.Run(spark, tracer, work, args.seed, args.seconds, W.SIZES[args.size],
                    session_s)
        undo = spans.instrument(tracer, W.trace_targets()) if args.trace else None
        try:
            W.WORKLOADS[args.workload](run)
        except Exception:
            traceback.print_exc()
            print(f"jobbench: {args.workload} failed; no result", file=sys.stderr)
            return 1
        finally:
            if undo:
                undo()
        tracer.harvest()
        metrics = W.per_layer(run) if args.trace else W.end_to_end(run)
        overhead = None
        if args.trace:
            base = untraced_job_s(results, args.workload, args.seed)
            if base is not None:
                overhead = metrics["trace.job_s"][0] - base
        record = {
            "provenance": provenance(spark, args, time.perf_counter() - t_start),
            "inputs": run.props,
            "samples": {k: W.summary(v) for k, v in run.samples.items()},
            "samples_raw": run.samples,
            "read_passes": run.passes,
            "metrics": metrics,
            "checks": run.checks,
            "attempted": run.attempted,
            "failed": run.failed,
            "trace_overhead_job_s": overhead,
            "spans": tracer.records() if args.trace else [],
        }
    finally:
        stop_session(spark)
    os.makedirs(results, exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    out_path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_table(run, metrics, overhead)
    for c in run.checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']}: {c['detail']}")
    print(f"record: {os.path.relpath(out_path, ROOT)}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
