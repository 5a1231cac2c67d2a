"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Instrumentation (round 5): TWO untimed warmup passes over the whole suite
(whole-stage-codegen Janino compilation, Python-worker startup; round 4
showed one pass does not fully absorb JIT/page-cache warming — the first
timed pass ran 12.98s vs 9.85-10.21s steady state, inflating the published
noise floor 8x), then REPS timed passes run ROUND-ROBIN — every query once per pass, per-query MEDIAN
across passes, with IQR and min alongside. Round 3 showed min-of-3 with
back-to-back reps has a noise floor (~9% total swing with zero code
changes) above the regression threshold it polices; measured here, even
median-of-5 back-to-back still swung 10% because machine load drifts on a
minutes scale and consecutive reps of one query all land in the same
regime. Interleaving spreads each query's samples across the full
wall-clock span, so drift hits all queries alike and the median sees both
regimes; the IQR makes the residual spread visible so a real regression
can be told from machine noise. ("min" is still emitted for continuity
with BENCH_r01..r03, which reported min-of-3 — min is also the better
estimator under purely-additive contention, so the pair brackets the
truth.)

Because host drift on this shared box can exceed any fixed threshold
(back-to-back identical runs were observed 14%+ apart), the harness also
publishes its own noise floor: ``pass_totals`` (whole-suite wall time of
each timed pass) and ``total_spread_pct`` (max/min of those passes − 1).
A round-over-round delta smaller than the published spread of EITHER round
is noise by the instrument's own account; a real regression must clear it.

A second ``families`` section times operator families added after the
headline list froze (round-2 surface: scrub, quantize, boilerplate,
clustering, curation) WITHOUT touching the frozen 14-query headline set, so
round-over-round totals stay apples-to-apples.

Results are forced with a noop-format write (full computation, no collect
bottleneck on the driver).

Artifact contract (round 5): the round-4 stats line outgrew the driver's
fixed-size tail capture, leaving BENCH_r04.json with ``parsed: null``. The
printed line is now SHORT (metric/value/total_min/queries/sf only — always
fits the tail buffer); the full stats object (per-query median/IQR/min,
pass totals, spread, families, streaming) is written to the committed
``BENCH_LOCAL.json`` beside this script. ``total_min`` is the sum of
per-query mins — the estimator BENCH_r01..r03 reported — so cross-round
tooling has an apples-to-apples field next to the median headline."""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import time

#: the checkout root: this script's directory
ROOT = os.path.dirname(os.path.abspath(__file__))

BENCH_QUERIES = [
    # flagship retention pipeline (reference parity)
    "retention_phase1",
    "retention_phase1_selfjoin",
    "retention_collapsed",
    "retention_phase2",
    "retention_base",
    "pack_history_stats",
    "households_without_retention",
    # beyond-reference: time-series operators
    "sessionize_events",
    "asof_purchase_view",
    # beyond-reference: training-data pipeline
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_fingerprint",
    "knn_bruteforce",
    "media_frames",
]

#: operator families added in round 2+ — benched separately so the frozen
#: headline total stays comparable across rounds
FAMILY_QUERIES = [
    "pii_scrub",
    "embedding_quantize",
    "boilerplate_profile",
    "dedup_clusters",
    "curation_verdict",
]

#: round-6 additions — benched in their own section for the same reason
#: FAMILY_QUERIES is separate: the frozen headline/families totals stay
#: apples-to-apples across rounds
R6_QUERIES = [
    "mixture_sample",
    "upsample_epochs",
    "leakage_safe_split",
    "sessionize_events_auto",
    "asof_purchase_view_auto",
    "quantile_contract_orders",
]

#: round-7 additions (same isolation rationale)
R7_QUERIES = [
    "bm25_search",
    "hybrid_mlt_search",
]

#: round-8 retrieval-at-scale additions. The indexed entries memoize their
#: index build per process (entry_queries_docs), so the warmup pass pays
#: the build and the timed passes measure amortized query cost — the
#: production posture these operators exist for.
R8_QUERIES = [
    "bm25_search_indexed",
    "hybrid_mlt_search_ann",
    "knn_ivf_indexed",
]

#: round-9 additions: the SQ8×IVF composition, cost-routed retrieval, and
#: the Zipf-regime oracle row (same isolation rationale as R6-R8)
R9_QUERIES = [
    "knn_sq8_indexed",
    "bm25_search_auto",
    "bm25_search_zipf",
    # sink read surface (the mutated keyed table builds once per process
    # in the warmup pass; timed passes measure the reads themselves)
    "sink_change_feed",
    "sink_point_lookup",
    "sink_incremental_agg",
    "neardup_probe_indexed",
]

#: round-11 additions: the PQ tier and the new fold families (histogram
#: percentiles, exact top-k) — the sink tables/codebooks build once per
#: process in the warmup pass, timed passes measure the maintained reads
R11_QUERIES = [
    "knn_ivfpq",
    "knn_pq_indexed",
    "sink_fold_percentile",
    "sink_fold_topk",
]

#: SPARK_GRAFT_BENCH_REPS (round 14, additive knob — default UNCHANGED, so
#: the driver's default run stays methodology-identical to every prior
#: round): the once-per-round sf1 regression gate ran at 35.5% trimmed
#: spread in r13, which neuters its >10% rule; the sf1 protocol now runs
#: more interleaved reps (the only spread lever that doesn't change the
#: estimator) on a quiet window. The emitted "reps" field always records
#: what actually ran.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "7"))
FAMILY_REPS = 3
WARMUP_PASSES = 2

#: SPARK_GRAFT_BENCH_SECTIONS: comma-separated subset of
#: headline,families,r6,r7,r8,r9,streaming (default: all). The once-per-
#: round sf1 regression run uses headline,families,r6,streaming — the
#: sections whose sf1 cost measures real plans. The r7-r9 retrieval
#: demos derive |Q| as a CORPUS FRACTION (the oracle needs a
#: corpus-determined query set), so at sf1 they spend ~45 min measuring
#: a super-linear-BY-CONSTRUCTION worst case (hybrid_mlt_search_ann
#: measured 540s/rep); their production fixed-|Q| sf1 posture is
#: measured instead by tools/retrieval_ladder.py and tools/sq8_ladder.py
#: (SCALING.md).


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: what a prior artifact must share with this run before their totals are
#: compared: a 4-core host against a 32-core artifact measures the hosts
COMPARABLE_ON = ("host", "nproc", "reps", "sf")


def regression_verdict(full_stats: dict, prior: dict) -> dict | None:
    """Adjudicate ``full_stats`` against the committed ``prior`` artifact
    (None when the prior has no ``total_min``). A verdict is given only
    when the prior matches on every ``COMPARABLE_ON`` field; otherwise it
    is ``not_comparable`` and ``mismatched`` names the fields."""
    total_min = full_stats.get("total_min")
    if not (prior and prior.get("total_min") and total_min):
        return None
    out = {
        "binds_to": "the committed prior artifact at this path",
        "prior_git": prior.get("git"),
        "prior_total_min": prior["total_min"],
    }
    mismatched = [
        k for k in COMPARABLE_ON if prior.get(k) != full_stats.get(k)
    ]
    if mismatched:
        return {
            **out,
            "total_min_delta_pct": None,
            "mismatched": mismatched,
            "verdict": "not_comparable",
        }
    delta_pct = round(100 * (total_min / prior["total_min"] - 1), 1)
    spreads = [
        s
        for s in (
            full_stats.get("total_spread_trimmed_pct"),
            prior.get("total_spread_trimmed_pct"),
        )
        if s is not None
    ]
    noise = max(spreads) if spreads else 0.0
    if delta_pct > 10 and delta_pct > noise:
        verdict = "regression"
    elif delta_pct > 10:
        verdict = "within_noise"  # >10% but inside either run's spread
    else:
        verdict = "ok"
    return {
        **out,
        "total_min_delta_pct": delta_pct,
        "noise_floor_pct": noise,
        "verdict": verdict,
    }


def measure_suite(
    runners: dict[str, object], reps: int, warmup: int = WARMUP_PASSES
) -> tuple[dict[str, dict[str, float]], list[float]]:
    """``warmup`` untimed passes, then ``reps`` round-robin timed passes →
    (per-query median / IQR / min across passes, per-pass suite totals)."""
    for _ in range(warmup):
        for fn in runners.values():
            fn()
    samples: dict[str, list[float]] = {name: [] for name in runners}
    pass_totals: list[float] = []
    for _ in range(reps):
        t_pass = 0.0
        for name, fn in runners.items():
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            t_pass += dt
        pass_totals.append(round(t_pass, 3))
    out: dict[str, dict[str, float]] = {}
    for name, ts in samples.items():
        ts.sort()
        q1, _, q3 = statistics.quantiles(ts, n=4)
        out[name] = {
            "median": round(statistics.median(ts), 3),
            "iqr": round(q3 - q1, 3),
            "min": round(ts[0], 3),
        }
    return out, pass_totals


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # the Python workers import the package too: put the checkout root on
    # their path, so the bench runs from any directory
    paths = [ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    from es_household_retention_spark_job_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=2 * cpus)

    from es_household_retention_spark_job_spark.entry_queries import (
        EXTRA_QUERIES,
        QUERIES,
    )

    # BENCH_QUERIES is frozen for round-over-round comparability; some
    # entries live in the extra (non-driver-slot) registry
    all_queries = {**QUERIES, **EXTRA_QUERIES}

    def runner(name: str):
        return lambda: force(all_queries[name](spark, sf_dir))

    sections = set(
        os.environ.get(
            "SPARK_GRAFT_BENCH_SECTIONS",
            "headline,families,r6,r7,r8,r9,r11,streaming",
        ).split(",")
    )

    def section(names, key, reps):
        if key not in sections:
            return {}, []
        return measure_suite(
            {n: runner(n) for n in names if n in all_queries}, reps
        )

    stats, pass_totals = section(BENCH_QUERIES, "headline", REPS)
    timings = {n: s["median"] for n, s in stats.items()}

    family_stats, _ = section(FAMILY_QUERIES, "families", FAMILY_REPS)
    families = {n: s["median"] for n, s in family_stats.items()}

    r6_stats, _ = section(R6_QUERIES, "r6", FAMILY_REPS)
    r6 = {n: s["median"] for n, s in r6_stats.items()}

    r7_stats, _ = section(R7_QUERIES, "r7", FAMILY_REPS)
    r7 = {n: s["median"] for n, s in r7_stats.items()}

    r8_stats, _ = section(R8_QUERIES, "r8", FAMILY_REPS)
    r8 = {n: s["median"] for n, s in r8_stats.items()}

    r9_stats, _ = section(R9_QUERIES, "r9", FAMILY_REPS)
    r9 = {n: s["median"] for n, s in r9_stats.items()}

    r11_stats, _ = section(R11_QUERIES, "r11", FAMILY_REPS)
    r11 = {n: s["median"] for n, s in r11_stats.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total_min = round(sum(s["min"] for s in stats.values()), 3)
    # trimmed spread (drop the slowest pass) is reported alongside the raw
    # spread: with 2 warmup passes both should now agree to ~2x
    if not pass_totals:  # headline section skipped via BENCH_SECTIONS
        pass_totals = [0.0]
    trimmed = sorted(pass_totals)[:-1] if len(pass_totals) > 2 else pass_totals
    full_stats = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "reps": REPS,
        "host": platform.node(),
        "nproc": len(os.sched_getaffinity(0)),
        "warmup_passes": WARMUP_PASSES,
        "estimator": "median",
        "total_min": total_min,
        # the sf0.1 regression rule (r11 verdict #6): the median carries
        # up to ±30% host noise on a shared box, so round-over-round
        # comparisons anchor on total_min — flag a regression ONLY if
        # min-of-reps moves >10% (the sf1 gate's effective rule)
        "regression_rule": (
            "flag only if total_min moves >10% vs the COMMITTED prior "
            "artifact at this path AND past both runs' trimmed spread; "
            "not_comparable unless the prior shares host, nproc, reps "
            "and sf (self-adjudicated in regression_verdict)"
        ),
        "pass_totals": pass_totals,
        "total_spread_pct": round(
            100 * (max(pass_totals) / min(pass_totals) - 1), 1
        )
        if min(pass_totals)
        else None,
        "total_spread_trimmed_pct": round(
            100 * (max(trimmed) / min(trimmed) - 1), 1
        )
        if min(trimmed)
        else None,
        "query_stats": stats,
        "families_total": round(sum(families.values()), 3),
        "families": families,
        "family_stats": family_stats,
        "r6_total": round(sum(r6.values()), 3),
        "r6": r6,
        "r6_stats": r6_stats,
        "r7_total": round(sum(r7.values()), 3),
        "r7": r7,
        "r7_stats": r7_stats,
        "r8_total": round(sum(r8.values()), 3),
        "r8": r8,
        "r8_stats": r8_stats,
        "r9_total": round(sum(r9.values()), 3),
        "r9": r9,
        "r9_stats": r9_stats,
        "r11_total": round(sum(r11.values()), 3),
        "r11": r11,
        "r11_stats": r11_stats,
    }
    if "streaming" in sections:
        try:
            from es_household_retention_spark_job_spark.streaming.bench import (
                streaming_bench,
            )

            full_stats["streaming"] = streaming_bench(spark, sf_dir)
        except Exception as exc:  # must never sink the batch run
            full_stats["streaming"] = {"err": repr(exc)}

    # provenance stamp: which commit this artifact measured (lets the sf1
    # carry-through below, and any cross-round reader, detect staleness)
    try:
        import subprocess

        full_stats["git"] = (
            subprocess.check_output(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=ROOT,
                stderr=subprocess.DEVNULL,
            )
            .decode()
            .strip()
        )
    except Exception:
        pass

    # full-stats artifact: BENCH_LOCAL.json for the default sf0.1 run;
    # override with SPARK_GRAFT_BENCH_OUT for the committed per-SF
    # artifacts (e.g. BENCH_SF1.json from the sf1 rehearsal corpus)
    local_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(ROOT, "BENCH_LOCAL.json"),
    )
    # read the COMMITTED PRIOR at this path before overwriting — it is
    # what the regression rule binds to (r12 verdict #5: the rule fired
    # on the driver's run while the builder's committed run passed, and
    # nothing said which binds; now the artifact adjudicates itself)
    prior = None
    try:
        with open(local_path) as fh:
            prior = json.load(fh)
    except Exception:
        prior = None
    if prior:
        # carry forward one-off attribution fields a refresh must not
        # drop (r12: the round-final refresh silently lost the
        # ab_same_window host-drift A/B the README cites)
        for k in ("ab_same_window",):
            if k in prior and k not in full_stats:
                full_stats[k] = prior[k]
    rv = regression_verdict(full_stats, prior)
    if rv:
        full_stats["regression_verdict"] = rv
    with open(local_path, "w") as fh:
        json.dump(full_stats, fh, indent=1)
        fh.write("\n")

    # the printed line must stay SHORT — the driver captures a fixed-size
    # tail of stdout and a long line truncates from the head (BENCH_r04)
    line = {
        "metric": "headline_queries_total",
        "value": full_stats["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "total_min": total_min,
        "estimator": "median",
        # spread parity (r10 verdict #5): the printed line — which the
        # driver archives as BENCH_r{N}.json — carries the same
        # reps/spread fields the sf1 artifact publishes, so a
        # round-over-round drift is classifiable as noise vs regression
        # from the archived artifact alone
        "reps": REPS,
        "total_spread_pct": full_stats["total_spread_pct"],
        "total_spread_trimmed_pct": full_stats["total_spread_trimmed_pct"],
    }
    if rv:
        # the printed line (archived as BENCH_r{N}.json) carries the
        # self-adjudication so the rule never again fires ambiguously
        line["regression_verdict"] = rv["verdict"]
        line["total_min_delta_pct"] = rv["total_min_delta_pct"]
        line["prior_git"] = rv.get("prior_git")
    # sf1 carry-through (round 9): the sf0.1 headline's ±10-20% host noise
    # hides sub-15% regressions (SCALING.md); the compute-dominated sf1
    # suite is the regression gate that can see them. It runs once per
    # round (SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_OUT=
    # BENCH_SF1.json after tools/gen_sf1.py) and its committed headline +
    # provenance commit ride the default run's printed line, so each
    # round's BENCH_r{N}.json carries BOTH scales.
    if sf_val == 0.1:
        try:
            with open(os.path.join(ROOT, "BENCH_SF1.json")) as fh:
                sf1 = json.load(fh)
            line["sf1_value"] = sf1["value"]
            line["sf1_total_min"] = sf1.get("total_min")
            line["sf1_spread_trimmed_pct"] = sf1.get("total_spread_trimmed_pct")
            if sf1.get("git"):
                line["sf1_git"] = sf1["git"]
        except Exception:
            pass
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
