#!/usr/bin/env python3
"""Compare two Bench JSON lines (e.g. BENCH_r02.json vs a fresh run):
per-key ratios, new/removed keys, and the worst regressions. Either
side may be a driver artifact: bench/BENCH_driver_latest.json (the last
full run) or bench/BENCH_driver_latest_c<cpus>.json (the last full run
at that core count).
Usage: benchdiff.py <old.json> <new.json> [threshold=1.5]
Exit 1 if any shared key regressed by more than the threshold.
"""
import json, re, sys

def load(path):
    with open(path) as f:
        txt = f.read()
    # driver files may wrap the JSON line in metadata; find the line
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            return json.loads(line)
    d = json.loads(txt)
    if "queries" not in d:
        # driver round files keep only a (possibly truncated) "tail"
        # string — recover whatever per-key timings survive in it
        pairs = re.findall(r'"([A-Za-z0-9_]+)":([0-9.]+)', d.get("tail", ""))
        d["queries"] = {k: float(v) for k, v in pairs}
        d.setdefault("value", sum(d["queries"].values()))
    return d

old, new = load(sys.argv[1]), load(sys.argv[2])
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
oq, nq = old["queries"], new["queries"]
shared = sorted(set(oq) & set(nq))
added, removed = sorted(set(nq) - set(oq)), sorted(set(oq) - set(nq))
rows = [(k, oq[k], nq[k], nq[k] / oq[k] if oq[k] > 0 else float("inf"))
        for k in shared]
rows.sort(key=lambda r: -r[3])
print(f"total: {old['value']:.1f}s ({len(oq)} keys) -> "
      f"{new['value']:.1f}s ({len(nq)} keys)")
print(f"{'key':32} {'old':>8} {'new':>8} {'ratio':>7}")
for k, o, n, r in rows[:15]:
    print(f"{k:32} {o:8.2f} {n:8.2f} {r:6.2f}x")
if added:
    print("added:", ", ".join(f"{k}({nq[k]:.2f}s)" for k in added))
if removed:
    print("removed:", ", ".join(removed))
bad = [(k, r) for k, o, n, r in rows if r > thr and n > 0.5]
if bad:
    print(f"\nREGRESSIONS over {thr}x (and >0.5s):",
          ", ".join(f"{k} {r:.2f}x" for k, r in bad))
sys.exit(1 if bad else 0)
