#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarized per metric.

    python3 tools/benchpairs.py PARENT_DIR CHANGE_DIR \
        [--workload gate_serve --workload operator_keys] [--pairs 10] \
        [--seed0 1] [--seconds 15] [--trace 0] [--out pairs.jsonl]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository (e.g. a
`git archive` of the parent commit, and the working tree). For each
workload and each seed seed0 .. seed0+pairs-1, the pair runs
`python3 benchkit/run.py --workload W --seed S --seconds N --trace T`
once in each checkout, one after the other: the parent first on odd
seeds, the change first on even ones, so drift over the session falls
on both sides alike.

Printed per workload and metric (metrics and their better direction
come from CHANGE_DIR/BENCHMARK.json, `end_to_end` or, with --trace 1,
`per_layer`):
  - every run's value, parent / change, in seed order;
  - each side's median [first quartile, third quartile];
  - how many pairs the change won (strictly better in its direction);
  - the parent's quartile distance divided by its median, the noise a
    claimed gain must clear;
  - each run's fail_ratio and whether it checked correct.
A run that exits without a result line counts as failed and is left
out of the statistics. --out appends one JSON record per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run; its result line (or None) and its fail_ratio."""
    cmd = [sys.executable, "benchkit/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    ratio = None
    for l in p.stderr.splitlines():
        if l.startswith("fail_ratio "):
            ratio = float(l.split()[1])
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
    return result, ratio


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    sides = {"parent": a.parent, "change": a.change}

    for w in workloads:
        seeds = list(range(a.seed0, a.seed0 + a.pairs))
        runs = {"parent": {}, "change": {}}
        for s in seeds:
            order = ["parent", "change"] if s % 2 else ["change", "parent"]
            for side in order:
                result, ratio = run(sides[side], w, s, a.seconds, a.trace)
                runs[side][s] = (result, ratio)
                ok = result is not None and result.get("correct")
                print(f"{w} seed {s} {side}: correct={ok} fail_ratio={fmt(ratio)}",
                      file=sys.stderr, flush=True)
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps({"workload": w, "seed": s, "side": side,
                                             "fail_ratio": ratio, "result": result}) + "\n")

        def value(side, s, m):
            result = runs[side][s][0]
            if result is None or not result.get("correct"):
                return None
            return result["metrics"].get(m, {}).get("value")

        print(f"\n== {w}: {a.pairs} pairs, seeds {seeds[0]}-{seeds[-1]}, "
              f"{a.seconds:g} s, trace {a.trace} ==")
        print("fail_ratio parent / change: " +
              " ".join(fmt(runs["parent"][s][1]) for s in seeds) + " / " +
              " ".join(fmt(runs["change"][s][1]) for s in seeds))
        for spec_m in metrics:
            m, higher = spec_m["name"], spec_m["better"] == "higher"
            par = [value("parent", s, m) for s in seeds]
            chg = [value("change", s, m) for s in seeds]
            pv = [v for v in par if v is not None]
            cv = [v for v in chg if v is not None]
            if not pv or not cv:
                print(f"{m}: no complete runs")
                continue
            wins = sum(1 for p, c in zip(par, chg)
                       if p is not None and c is not None and (c > p if higher else c < p))
            pq, cq = quartiles(pv), quartiles(cv)
            pm, cm = statistics.median(pv), statistics.median(cv)
            noise = (pq[1] - pq[0]) / pm if pm else float("nan")
            print(f"{m} ({spec_m['unit']}, {spec_m['better']} is better)")
            print("  per run parent / change: " + " ".join(fmt(v) for v in par) +
                  " / " + " ".join(fmt(v) for v in chg))
            print(f"  median parent {fmt(pm)} [{fmt(pq[0])}, {fmt(pq[1])}]"
                  f" -> change {fmt(cm)} [{fmt(cq[0])}, {fmt(cq[1])}]")
            print(f"  change wins {wins}/{len(seeds)}; |median diff| {fmt(abs(cm - pm))}"
                  f" vs parent quartile distance {fmt(pq[1] - pq[0])}"
                  f" ({noise:.1%} of its median)")


if __name__ == "__main__":
    main()
