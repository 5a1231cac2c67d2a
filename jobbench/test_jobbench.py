"""The benchmark's own tests: a tiny-size smoke run of each workload in
both modes, and a corrupted store that the correctness check must catch.

    python3 -m pytest jobbench/test_jobbench.py -q

Each smoke run starts its own Spark driver (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stdout + proc.stderr


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench_json()["workloads"]])
def test_smoke_emits_every_metric(workload, trace, tmp_path):
    """Run from a foreign cwd: every declared metric, with its unit, and a
    clean correctness verdict."""
    code, result, log = _run(workload, trace, tmp_path)
    assert code == 0 and result is not None, log[-4000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _bench_json()["end_to_end" if trace == 0 else "per_layer"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    """A session set up exactly as run.py does, in a scratch work dir."""
    sys.path[:0] = [ROOT, HERE]
    import run as runner

    work = str(tmp_path_factory.mktemp("jobbench"))
    runner.prepare_env(work)
    spark, t0, t1 = runner.start_session(work)
    yield runner, spark, t1 - t0, work
    runner.stop_session(spark)


def test_corrupted_store_fails_the_check(bench):
    import spans
    import workloads as W
    from es_household_retention_spark_job_spark import pipeline as P
    from es_household_retention_spark_job_spark.sinks import upsert as U
    import gen

    runner, spark, session_s, work = bench
    run = W.Run(spark, spans.Tracer(spark, "t", False), work, 3, 1.0,
                W.SIZES["tiny"], session_s)
    d = gen.people(3, 200, 6)
    gen.write_parquet(d.persons, run.path("person_in"))
    gen.write_parquet(d.encounters, run.path("encounter"))
    store = run.path("store")
    U.write_keyed_table(spark.read.parquet(run.path("person_in")), store, n_buckets=4)
    P.run_retention(spark, store, run.path("encounter"), gen.CLIENT, gen.AS_OF)
    assert W.check_store(run, store, d.persons, d.encounters, "clean")
    assert run.failed == 0

    # flip one person's first retained flag: one changed history entry
    victim = (U.read_keyed_table(spark, store)
              .where("size(household_retention_history) > 0").limit(1))
    bad = victim.selectExpr(
        "person_id",
        "transform(household_retention_history, (e, i) -> IF(i = 0, "
        "named_struct('date_range', e.date_range, 'date_range_alt', e.date_range_alt, "
        "'retained', NOT e.retained), e)) AS household_retention_history")
    U.upsert_parquet(spark, store, bad, key="person_id")
    assert not W.check_store(run, store, d.persons, d.encounters, "corrupted")
    assert run.failed == 1
    detail = run.checks[-1]["detail"]
    assert detail["extra"] == 1 and detail["missing"] == 1
