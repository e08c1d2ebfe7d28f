#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--json out.json]

Run from the root of a checkout. For every metric it prints the median, the
interquartile range as a share of the median (quartiles as Python's
`statistics.quantiles(values, n=4)` gives them) and min/median. A metric
whose min/median is at most 0.5 has two populations (a fast mode the median
hides) and is flagged BIMODAL instead of being summarised by its median.
Every end-to-end metric, `setup_s` included, is compared with a third of
its bound in BENCHMARK.json. A run that fails or prints no result counts as missing; it
is never averaged in.
"""
import argparse
import json
import statistics
import subprocess
import sys


def spread(values):
    """(median, (q3 - q1) / median) of a list of numbers."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else float("inf"))


def bimodal(values):
    """True when the smallest value is at most half the median."""
    med = statistics.median(values)
    return med > 0 and min(values) / med <= 0.5


def seeds_of(spec):
    """'1-10' or '3,5,8' to a list of ints."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload, seed, seconds):
    """The result object of one untraced run, or None if it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def report(results, bounds):
    """Rows of (metric, n, median, iqr_share, min_share, verdict)."""
    names = sorted({k for r in results for k in r["metrics"]})
    rows = []
    for k in names:
        vals = [r["metrics"][k]["value"] for r in results
                if r["metrics"].get(k, {}).get("value") is not None]
        if len(vals) < 2:
            rows.append((k, len(vals), None, None, None, "too few values"))
            continue
        med, iqr = spread(vals)
        verdict = "BIMODAL" if bimodal(vals) else ""
        if k in bounds:
            ok = iqr < bounds[k] / 3
            verdict = (verdict + " " if verdict else "") + (
                f"ok (< {bounds[k] / 3:.4f})" if ok else f"WIDE (>= {bounds[k] / 3:.4f})")
        rows.append((k, len(vals), med, iqr, min(vals) / med if med else None, verdict))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json", help="write the raw results here")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, missing = [], []
    for s in seeds_of(a.seeds):
        r = run_once(a.workload, s, bench["run_seconds"])
        ok = r is not None and r.get("correct") and r.get("failed") == 0
        print(f"seed {s}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
        (results if ok else missing).append(r if ok else s)
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "results": results,
                       "missing_seeds": missing}, f, indent=1)
    print(f"{a.workload}: {len(results)} runs, missing seeds {missing or 'none'}")
    for k, n, med, iqr, mn, verdict in report(results, bounds):
        if med is None:
            print(f"  {k:32s} n={n} {verdict}")
        else:
            print(f"  {k:32s} n={n} median {med:.6g} iqr/median {iqr:.4f} "
                  f"min/median {mn:.3f} {verdict}")
    return 0 if results and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
