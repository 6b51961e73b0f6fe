#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, with the claim and bound verdicts.

    python3 tools/abpairs.py <parent checkout> <change checkout> \\
        --workload queries_mixed --pairs 10 --seeds 301-310 [--log runs.jsonl]
    python3 tools/abpairs.py --from-log runs.jsonl

Pair i runs `perfbench/run.py --workload W --seed S_i` once in each
checkout, for BENCHMARK.json's `run_seconds`, the parent first in odd
pairs and the change first in even ones,
and parses each run's last stdout line (the JSON object with "correct",
"failed" and "metrics"). Every run is appended to --log as one JSON line,
so a stopped series can be re-read with --from-log.

For each metric of BENCHMARK.json the runs report it prints the median and the
quartiles of each side, the pairs the change wins, and two verdicts:
  claim  met when the change is better in at least 9 of 10 pairs (90% of
         the pairs, rounded up) and the medians differ, in the better
         direction, by more than the parent's Q3 - Q1;
  bound  worse when the change's median is worse than the parent's by more
         than the metric's bound (a fraction of the parent's median),
         unresolved when either side's IQR / median exceeds the bound
         and not every change run is better than every parent run,
         else ok.
Quartiles are Python's `statistics.quantiles(values, n=4)` (the exclusive
method), as in the benchmark's baseline.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(specs):
    """['301-303', '9'] -> [301, 302, 303, 9]."""
    out = []
    for spec in specs:
        for part in spec.split(","):
            if "-" in part.strip("-"):
                lo, hi = part.split("-", 1)
                out += list(range(int(lo), int(hi) + 1))
            elif part:
                out.append(int(part))
    return out


def summary(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else list(xs) * 3
    return {"q1": q1, "median": statistics.median(xs), "q3": q3}


def better(change, parent, lower_is_better):
    return change < parent if lower_is_better else change > parent


def verdict(parent, change, lower_is_better, bound):
    """parent/change: per-pair values, same order. Returns the summary
    dict for one metric."""
    assert len(parent) == len(change)
    p, c = summary(parent), summary(change)
    wins = sum(better(cv, pv, lower_is_better) for pv, cv in zip(parent, change))
    gap = (p["median"] - c["median"]) if lower_is_better else (c["median"] - p["median"])
    iqr = p["q3"] - p["q1"]
    claim = wins >= math.ceil(0.9 * len(parent)) and gap > iqr
    worse_frac = -gap / p["median"] if p["median"] else 0.0
    spread = max((s["q3"] - s["q1"]) / s["median"] if s["median"] else 0.0 for s in (p, c))
    apart = all(better(cv, pv, lower_is_better) for pv in parent for cv in change)
    if bound is None:
        bound_v = "-"
    elif spread > bound and not apart:
        bound_v = "unresolved"
    elif worse_frac > bound:
        bound_v = "worse"
    else:
        bound_v = "ok"
    return {"parent": p, "change": c, "wins": wins, "pairs": len(parent), "gap": gap,
            "parent_iqr": iqr, "claim": "met" if claim else "not met",
            "change_frac": (c["median"] - p["median"]) / p["median"] if p["median"] else 0.0,
            "spread": spread, "bound": bound_v}


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_specs():
    """BENCHMARK.json's end-to-end metrics (with bounds), then its per-layer
    ones (a --trace 1 run reports only those)."""
    b = benchmark()
    return b["end_to_end"] + b.get("per_layer", [])


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {
        "correct": False, "attempted": 0, "failed": -1, "metrics": {}}
    steal = None
    for l in lines:
        if l.startswith("# contention "):
            steal = json.loads(l[len("# contention "):]).get("steal_ticks")
    return {"exit": p.returncode, "correct": res["correct"], "failed": res["failed"],
            "steal_ticks": steal,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def run_pairs(a):
    seeds = parse_seeds(a.seeds)
    if len(seeds) < a.pairs:
        raise SystemExit(f"{a.pairs} pairs need {a.pairs} seeds, got {len(seeds)}")
    seconds = benchmark()["run_seconds"]
    runs = []
    for i, seed in enumerate(seeds[:a.pairs]):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        for side, checkout in order:
            r = {"pair": i, "seed": seed, "side": side, "workload": a.workload,
                 **run_once(checkout, a.workload, seed, seconds, a.trace)}
            runs.append(r)
            print(json.dumps(r), flush=True)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(r) + "\n")
    return runs


def read_log(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def report(runs, specs):
    """Prints the per-metric table; returns {metric: verdict dict}."""
    pairs = {}
    for r in runs:
        pairs.setdefault((r["workload"], r["pair"]), {})[r["side"]] = r
    complete = [v for _, v in sorted(pairs.items()) if "parent" in v and "change" in v]
    if not complete:
        print("no complete pair")
        return {}
    bad = [r for v in complete for r in v.values() if not r["correct"] or r["failed"]]
    print(f"pairs {len(complete)}; runs with a failed op or correct=false: {len(bad)}")
    out = {}
    print(f"{'metric':18} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'diff':>7} {'wins':>6} {'claim':>8} {'bound':>10}")
    for spec in specs:
        name = spec["name"]
        have = [v for v in complete
                if name in v["parent"]["metrics"] and name in v["change"]["metrics"]]
        if not have:
            continue
        v = verdict([x["parent"]["metrics"][name] for x in have],
                    [x["change"]["metrics"][name] for x in have],
                    spec.get("better", "lower") == "lower", spec.get("bound"))
        out[name] = v
        p, c = v["parent"], v["change"]
        print(f"{name:18} {p['median']:>10.3f} [{p['q1']:.3f}, {p['q3']:.3f}]"
              f" {c['median']:>10.3f} [{c['q1']:.3f}, {c['q3']:.3f}]"
              f" {100 * v['change_frac']:>+6.1f}% {v['wins']:>3}/{v['pairs']:<2}"
              f" {v['claim']:>8} {v['bound']:>10}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seeds", nargs="+", default=[])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log")
    ap.add_argument("--from-log", dest="from_log")
    a = ap.parse_args(argv)
    if a.from_log:
        runs = read_log(a.from_log)
    else:
        if not (a.parent and a.change and a.workload and a.pairs):
            ap.error("parent, change, --workload and --pairs are required without --from-log")
        runs = run_pairs(a)
    for w in sorted({r["workload"] for r in runs}):
        print(f"== {w}")
        report([r for r in runs if r["workload"] == w], metric_specs())


if __name__ == "__main__":
    main()
