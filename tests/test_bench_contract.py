"""The external driver runs bench.py unattended per round — a registry
rename or a harness regression must fail HERE, not in the driver's run."""

from __future__ import annotations

import bench


def test_bench_queries_exist_in_registry():
    from es_household_retention_spark_job_spark.entry_queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    all_queries = {**QUERIES, **EXTRA_QUERIES}
    missing = [n for n in bench.BENCH_QUERIES if n not in all_queries]
    assert not missing, f"headline queries not in registry: {missing}"
    missing = [n for n in bench.FAMILY_QUERIES if n not in all_queries]
    assert not missing, f"family queries not in registry: {missing}"


def test_measure_suite_shape_and_interleaving():
    """measure_suite must (a) run WARMUP_PASSES untimed passes then reps
    round-robin — every runner called warmup+reps times, interleaved — and
    (b) emit median/iqr/min per runner plus one suite total per timed pass."""
    calls: list[str] = []
    runners = {name: (lambda n=name: calls.append(n)) for name in ("a", "b")}
    stats, pass_totals = bench.measure_suite(runners, reps=3)
    assert bench.WARMUP_PASSES == 2  # round-4 verdict: one pass under-warms
    assert calls == ["a", "b"] * (bench.WARMUP_PASSES + 3)
    assert set(stats) == {"a", "b"}
    for s in stats.values():
        assert set(s) == {"median", "iqr", "min"}
        assert s["min"] <= s["median"]
    assert len(pass_totals) == 3
    assert all(t >= 0 for t in pass_totals)


def test_regression_verdict_only_compares_like_hosts():
    """A verdict binds only to a prior artifact taken on the same host and
    core count, with the same rep count and scale factor; any mismatch is
    ``not_comparable`` and names the fields, and a missing prior gives no
    verdict at all."""
    run = {
        "host": "h", "nproc": 4, "reps": 7, "sf": 0.1,
        "total_min": 12.0, "total_spread_trimmed_pct": 5.0,
    }
    prior = {**run, "total_min": 10.0, "git": "abc"}
    rv = bench.regression_verdict(run, prior)
    assert rv["verdict"] == "regression" and rv["total_min_delta_pct"] == 20.0
    assert rv["prior_git"] == "abc"
    assert bench.regression_verdict(run, {**prior, "total_min": 11.5})[
        "verdict"
    ] == "ok"
    noisy = {**prior, "total_spread_trimmed_pct": 30.0}
    assert bench.regression_verdict(run, noisy)["verdict"] == "within_noise"

    other = {**prior, "host": "g", "nproc": 32}
    rv = bench.regression_verdict(run, other)
    assert rv["verdict"] == "not_comparable"
    assert rv["mismatched"] == ["host", "nproc"]
    assert rv["total_min_delta_pct"] is None
    for field in bench.COMPARABLE_ON:
        rv = bench.regression_verdict(run, {**prior, field: None})
        assert rv["verdict"] == "not_comparable" and rv["mismatched"] == [field]

    assert bench.regression_verdict(run, None) is None
    assert bench.regression_verdict(run, {"sf": 0.1}) is None
