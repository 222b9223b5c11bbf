#!/usr/bin/env python3
"""Parse a Spark event log into per-job wall-clock attribution.

Usage: evprof.py <eventlog-file> [minsecs]

Prints every job with duration >= minsecs (default 0.05), its job group
(Profile.scala sets `<key>#cold` / `<key>#warm`), callsite, and stage
task/shuffle totals — the measurement evidence for OPTIMIZATION_r22.md.
Jobs from non-main threads (streaming micro-batches, parallel writes)
carry no group; they are attributed to the enclosing key by timestamp
order in the per-key summary.

The per-job lines give each job's own duration. The per-group totals
are the union of that group's job intervals (elapsed time with at least
one of its jobs running), so concurrent jobs in one group are not
counted twice and a total never exceeds the group's wall time.
"""
import json, sys, collections

path = sys.argv[1]
minsecs = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05

jobs = {}          # id -> dict
stage_to_job = {}
stages = {}        # id -> metrics
order = []
execs = {}         # execution id -> description

with open(path) as f:
    for line in f:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "start": e["Submission Time"],
                "group": props.get("spark.jobGroup.id", ""),
                "site": props.get("callSite.short", ""),
                "exec": props.get("spark.sql.execution.root.id",
                                  props.get("spark.sql.execution.id", "")),
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                "end": None,
            }
            for s in e.get("Stage Infos", []):
                stage_to_job[s["Stage ID"]] = jid
            order.append(jid)
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = e["Completion Time"]
        elif ev and ev.endswith("SQLExecutionStart"):
            execs[str(e.get("executionId"))] = e.get("description", "")
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "tasks": si.get("Number of Tasks", 0),
                "name": si.get("Stage Name", ""),
            }


def union_secs(intervals):
    """Seconds covered by at least one (start_ms, end_ms) interval."""
    total, reach = 0, float("-inf")
    for s, e in sorted(intervals):
        total += max(0, e - max(s, reach))
        reach = max(reach, e)
    return total / 1e3


bygroup = collections.defaultdict(list)
print(f"{'secs':>8}  {'group':<34} {'callsite':<40} stages")
for jid in order:
    j = jobs[jid]
    if j["end"] is None:
        continue
    secs = (j["end"] - j["start"]) / 1e3
    bygroup[j["group"]].append((j["start"], j["end"]))
    if secs >= minsecs:
        ntasks = sum(stages.get(s, {}).get("tasks", 0) for s in j["stages"])
        desc = execs.get(j["exec"], "")
        if not desc:
            names = [stages.get(s, {}).get("name", "?").split("\n")[0]
                     for s in sorted(j["stages"])]
            desc = names[-1] if names else "?"
        print(f"{secs:8.2f}  {j['group'][:30]:<30} "
              f"n_stages={len(j['stages'])} tasks={ntasks} job={jid} {desc[:70]}")

totals = {g: union_secs(iv) for g, iv in bygroup.items()}
print("\n-- per-group job-time totals (union of job intervals) --")
for g, t in sorted(totals.items(), key=lambda kv: -kv[1]):
    print(f"{t:8.2f}  {g or '(no group)'}")
