#!/usr/bin/env python3
"""Compare two sets of benchmark runs (a parent and a change).

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--bench BENCHMARK.json] [--json]

Each directory holds the per-run result files run.py writes with
--results. For every workload it prints one row per metric: each side's
median and quartiles, the share of pairs the change wins, and a verdict:

  improved    the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread;
  regressed   the change's median is worse than the parent's by more than
              the metric's bound (per-layer metrics have no bound: the
              change loses 9 of 10 pairs by more than the parent's spread);
  unresolved  the parent's spread is wider than the bound and not every
              change run reads better than every parent run;
  unchanged   otherwise.

Runs pair up by seed where both sides ran the same seeds, else in seed
order. Ties count for neither side. Ratios are shown with their bases,
and each side's calibration median, so a between-boot swing shows.
"""
import argparse
import glob
import json
import os
import statistics
import sys

# ratio metric -> the measured quantities it divides
RATIO_BASES = {
    "rows_per_s": ("rows", "window_s"),
    "jobs_per_s": ("executions", "window_s"),
    "io.scan_amplification": ("io.input_records", "rows_per_execution"),
    "spark.busy_share": ("executor_run_ms", "trace.job_ms", "cores"),
    "spark.stages_skipped_share": ("stages_skipped", "stages_in_jobs"),
}


def load(d):
    """(workload, trace) -> list of run dicts."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def value(run, name):
    if name in run["metrics"]:
        return run["metrics"][name]["value"]
    if name in run.get("bases", {}):
        return run["bases"][name]
    return run.get(name)


def pairs(base, change):
    """Pair runs by seed where the seeds match, else in seed order."""
    bs = {r["seed"]: r for r in base}
    cs = {r["seed"]: r for r in change}
    common = sorted(set(bs) & set(cs))
    if common:
        return [(bs[s], cs[s]) for s in common]
    return list(zip(sorted(base, key=lambda r: r["seed"]),
                    sorted(change, key=lambda r: r["seed"])))


def verdict(base, change, paired, better, bound):
    """Verdict for one metric from its per-run values on each side."""
    sign = 1.0 if better == "lower" else -1.0
    bq1, bm, bq3 = quartiles(base)
    _, cm, _ = quartiles(change)
    iqr = bq3 - bq1
    wins = sum(1 for b, c in paired if sign * (b - c) > 0)
    losses = sum(1 for b, c in paired if sign * (c - b) > 0)
    n = max(len(paired), 1)
    worse_by = sign * (cm - bm) / abs(bm) if bm else (0.0 if cm == bm else float("inf"))
    clear = abs(cm - bm) > iqr
    if bound is not None and worse_by > bound:
        return "regressed", wins / n
    if wins / n >= 0.9 and clear and worse_by < 0:
        return "improved", wins / n
    if bound is None:
        if losses / n >= 0.9 and clear:
            return "regressed", wins / n
        return "unchanged", wins / n
    all_better = all(sign * (b - c) > 0 for b in base for c in change)
    spread = iqr / abs(bm) if bm else 0.0
    if spread > bound and not all_better:
        return "unresolved", wins / n
    return "unchanged", wins / n


def compare(base_runs, change_runs, bench):
    """Rows of (workload, trace, metric, unit, base stats, change stats,
    won share, verdict, bases)."""
    specs = {m["name"]: (m, 0) for m in bench.get("end_to_end", [])}
    specs.update({m["name"]: (m, 1) for m in bench.get("per_layer", [])})
    rows = []
    for key in sorted(set(base_runs) & set(change_runs)):
        workload, trace = key
        base, change = base_runs[key], change_runs[key]
        paired = pairs(base, change)
        names = [n for n, (_, t) in specs.items() if t == trace
                 and all(n in r["metrics"] for r in base + change)]
        for name in names + ["calibration_s"]:
            spec = specs.get(name, ({"unit": "s", "better": "lower"}, trace))[0]
            bv = [value(r, name) for r in base]
            cv = [value(r, name) for r in change]
            pv = [(value(b, name), value(c, name)) for b, c in paired]
            v, won = verdict(bv, cv, pv, spec["better"], spec.get("bound"))
            if name == "calibration_s":
                v = "reference"
            bases = {}
            for b in RATIO_BASES.get(name, ()):
                bb = [value(r, b) for r in base]
                cc = [value(r, b) for r in change]
                if None not in bb + cc:
                    bases[b] = (statistics.median(bb), statistics.median(cc))
            rows.append({"workload": workload, "trace": trace, "metric": name,
                         "unit": spec["unit"], "base": quartiles(bv),
                         "change": quartiles(cv), "won": won, "verdict": v,
                         "bound": spec.get("bound"), "bases": bases,
                         "runs": (len(bv), len(cv))})
    return rows


def fmt(x):
    return f"{x:.4g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        bench = json.load(f)
    rows = compare(load(a.base), load(a.change), bench)
    if not rows:
        print("no workload has runs on both sides", file=sys.stderr)
        return 2
    if a.json:
        print(json.dumps(rows, indent=1))
        return 0
    last = None
    for r in rows:
        if (r["workload"], r["trace"]) != last:
            last = (r["workload"], r["trace"])
            print(f"\n== {r['workload']} (trace {r['trace']}, runs {r['runs'][0]} vs {r['runs'][1]})")
            print(f"{'metric':28} {'unit':7} {'base q1/med/q3':32} {'change q1/med/q3':32} "
                  f"{'won':>5} {'bound':>6}  verdict")
        b, c = r["base"], r["change"]
        print(f"{r['metric']:28} {r['unit']:7} {'/'.join(map(fmt, b)):32} "
              f"{'/'.join(map(fmt, c)):32} {r['won']:5.2f} "
              f"{'-' if r['bound'] is None else r['bound']:>6}  {r['verdict']}")
        for k, (bb, cc) in r["bases"].items():
            print(f"{'':4}base {k}: {fmt(bb)} -> {fmt(cc)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
