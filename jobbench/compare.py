"""Compare two sets of benchmark records (``.jobbench/results/*.json``).

    python3 jobbench/compare.py --base A1.json A2.json ... --new B1.json ...

Prints, per metric, each side's median over its records with the base
side's quartiles and the new/base ratio. When one side is traced and the
other is not, it prints the tracing overhead on ``job_s`` instead.

Refuses (exit 2) to compare records taken on different hosts, core
counts, Spark masters, shuffle-partition counts, input sizes, run lengths
or repetition counts: such numbers are not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

MUST_MATCH = ("host", "nproc", "master", "shuffle_partitions", "driver_memory",
              "workload", "size", "seconds", "setup_reps", "keysets")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def mismatches(records: list[dict]) -> list[str]:
    first = records[0]["provenance"]
    bad = []
    for rec in records[1:]:
        for k in MUST_MATCH:
            if rec["provenance"].get(k) != first.get(k):
                bad.append(f"{k}: {first.get(k)!r} vs {rec['provenance'].get(k)!r}")
    return sorted(set(bad))


def medians(records: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for rec in records:
        for name, (value, _unit) in rec["metrics"].items():
            vals.setdefault(name, []).append(value)
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    bad = mismatches(base + new)
    if bad:
        print("refusing to compare records from different set-ups:", file=sys.stderr)
        for b in bad:
            print(f"  {b}", file=sys.stderr)
        return 2
    traced = {bool(r["provenance"]["trace"]) for r in base}, {
        bool(r["provenance"]["trace"]) for r in new}
    if len(traced[0]) > 1 or len(traced[1]) > 1:
        print("each side must be all traced or all untraced", file=sys.stderr)
        return 2
    b, n = medians(base), medians(new)
    if traced[0] != traced[1]:
        plain, tr = (b, n) if True in traced[1] else (n, b)
        off = statistics.median(plain["job_s"])
        on = statistics.median(tr["trace.job_s"])
        print(f"tracing overhead on job_s: {on - off:+.4f} s ({(on - off) / off:+.1%})"
              f" over {len(plain['job_s'])} untraced and {len(tr['trace.job_s'])} traced runs")
        return 0
    print(f"{'metric':34} {'base':>12} {'q1':>10} {'q3':>10} {'new':>12} {'new/base':>9}")
    for name in b:
        if name not in n:
            continue
        bm, nm = statistics.median(b[name]), statistics.median(n[name])
        q1, _, q3 = (statistics.quantiles(b[name], n=4) if len(b[name]) > 1
                     else (bm, bm, bm))
        ratio = f"{nm / bm:9.3f}" if bm else f"{'-':>9}"
        print(f"{name:34} {bm:12.4f} {q1:10.4f} {q3:10.4f} {nm:12.4f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
