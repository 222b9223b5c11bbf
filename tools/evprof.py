#!/usr/bin/env python3
"""Parse a Spark event log into per-job and per-job-group attribution.

Usage: evprof.py <eventlog> [minsecs]

<eventlog> is an event log file or a rolling `eventlog_v2_*` directory
(its `events_<n>_*` files are read in order). Files compressed with
zstd, Spark's default event-log codec, are read through the `zstd`
command; for other codecs set `-Dspark.eventLog.compress=false`.

`graft.Bench` runs every key under its own job group, `<key>#<run>`.
Turn on Spark's event log with stock confs to get one, e.g.

    mkdir -p /tmp/sparklogs
    SPARK_GRAFT_KEYS=join_skewed sbt 'set javaOptions ++= Seq("-Dspark.eventLog.enabled=true","-Dspark.eventLog.dir=/tmp/sparklogs")' "runMain graft.Bench"
    python3 tools/evprof.py /tmp/sparklogs/eventlog_v2_<app-id>

Prints every job with duration >= minsecs (default 0.05), its job
group, callsite, and stage/task counts. Then, per job group: the union
of its job intervals (elapsed time with at least one of its jobs
running, so concurrent jobs are not counted twice and a total never
exceeds the group's wall time) and its structural counters — jobs,
completed stage attempts, tasks, shuffle write and read bytes, input
bytes and executor CPU seconds, summed from the `internal.metrics.*`
accumulables of each `SparkListenerStageCompleted`. A stage counts
toward the first job that lists it. Jobs started outside any group
(the warm-up, calibration) are listed as `(no group)`.
"""
import collections
import json
import os
import subprocess
import sys

path = sys.argv[1]
minsecs = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05

jobs = {}          # id -> dict
stage_to_job = {}  # stage id -> first job that lists it
stages = {}        # id -> metrics, summed over completed attempts

# counter name -> accumulables summed into it
COUNTERS = {
    "shuffle_write": ("internal.metrics.shuffle.write.bytesWritten",),
    "shuffle_read": ("internal.metrics.shuffle.read.remoteBytesRead",
                     "internal.metrics.shuffle.read.localBytesRead"),
    "input": ("internal.metrics.input.bytesRead",),
    "cpu_ns": ("internal.metrics.executorCpuTime",),
}
order = []
execs = {}         # execution id -> description


def log_lines(path):
    """The event log's lines, across rolling files and zstd frames."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n)
                 for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for p in files:
        if p.endswith(".zstd"):
            out = subprocess.run(["zstd", "-dc", p], check=True,
                                 capture_output=True).stdout
            yield from out.decode("utf-8").splitlines()
        elif p.endswith((".lz4", ".lzf", ".snappy")):
            sys.exit(f"{p}: compressed event log; rerun with "
                     "-Dspark.eventLog.compress=false")
        else:
            with open(p) as f:
                yield from f


for line in log_lines(path):
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
            stage_to_job.setdefault(s["Stage ID"], jid)
        order.append(jid)
    elif ev == "SparkListenerJobEnd":
        jid = e["Job ID"]
        if jid in jobs:
            jobs[jid]["end"] = e["Completion Time"]
    elif ev and ev.endswith("SQLExecutionStart"):
        execs[str(e.get("executionId"))] = e.get("description", "")
    elif ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
        st = stages.setdefault(si["Stage ID"], dict(
            {"attempts": 0, "tasks": 0, "name": si.get("Stage Name", "")},
            **{c: 0 for c in COUNTERS}))
        st["attempts"] += 1
        st["tasks"] += si.get("Number of Tasks", 0)
        for c, names in COUNTERS.items():
            st[c] += sum(int(acc.get(n) or 0) for n in names)


def union_secs(intervals):
    """Seconds covered by at least one (start_ms, end_ms) interval."""
    total, reach = 0, float("-inf")
    for s, e in sorted(intervals):
        total += max(0, e - max(s, reach))
        reach = max(reach, e)
    return total / 1e3


bygroup = collections.defaultdict(list)
counters = collections.defaultdict(collections.Counter)
print(f"{'secs':>8}  {'group':<34} {'callsite':<40} stages")
for jid in order:
    j = jobs[jid]
    if j["end"] is None:
        continue
    secs = (j["end"] - j["start"]) / 1e3
    bygroup[j["group"]].append((j["start"], j["end"]))
    g = counters[j["group"]]
    g["jobs"] += 1
    for sid in j["stages"]:
        st = stages.get(sid)
        if st is not None and stage_to_job.get(sid) == jid:
            g["stages"] += st["attempts"]
            g["tasks"] += st["tasks"]
            for c in COUNTERS:
                g[c] += st[c]
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
print("\n-- per group: job time (union of job intervals), stage counters --")
print(f"{'secs':>8} {'jobs':>5} {'stages':>6} {'tasks':>6} {'shufW_KB':>9} "
      f"{'shufR_KB':>9} {'input_KB':>9} {'cpu_s':>7}  group")
for g, t in sorted(totals.items(), key=lambda kv: -kv[1]):
    c = counters[g]
    print(f"{t:8.2f} {c['jobs']:5d} {c['stages']:6d} {c['tasks']:6d} "
          f"{c['shuffle_write'] / 1024:9.1f} {c['shuffle_read'] / 1024:9.1f} "
          f"{c['input'] / 1024:9.1f} {c['cpu_ns'] / 1e9:7.2f}  {g or '(no group)'}")
