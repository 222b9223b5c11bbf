#!/usr/bin/env python3
"""Run one benchmark workload against the checkout this file sits in.

    python3 benchkit/run.py --workload gate_serve --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source with sbt (once per
source fingerprint, into .bench_build/), runs the workload in its own
JVM, checks every answer, appends the full record to
benchkit/results/runs.jsonl and prints one JSON result line last.
Exits non-zero on any failed check.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(HERE, "results")
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
# the workload JVM and the DuckDB oracle each get a budget of their
# own; together they stay inside the 180 s a run may take
JVM_BUDGET_S = 125
ORACLE_BUDGET_S = 45
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"benchkit: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build(fp, log):
    """Compile with sbt and cache the runtime classpath per fingerprint."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            c = json.load(fh)
        if c.get("fingerprint") == fp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       800, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "sbt-target" not in cp or cp.startswith("["):
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def localcheck(keys_dir, keys, log):
    """The DuckDB oracle compare of tools/localcheck.py: {key: verdict},
    where the verdict is PASS or the kind of mismatch it printed. A
    timeout, a crash or a key without a verdict is a harness failure,
    never a wrong answer."""
    with open(log, "w") as out:
        rc = run_group([sys.executable, os.path.join(ROOT, "tools", "localcheck.py"), SF_DIR,
                        keys_dir], ORACLE_BUDGET_S, cwd=os.path.dirname(keys_dir), stdout=out,
                       stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"DuckDB oracle timed out after {ORACLE_BUDGET_S} s; see {log}")
    res = {}
    with open(log) as fh:
        for line in fh:
            m = re.match(r"^(PASS|MISSING|ERROR|SCHEMA|ROWS|VALUES)\s+(\w+)", line)
            if m:
                res[m.group(2)] = m.group(1)
    # localcheck exits 1 exactly when it printed a failed key
    if rc not in (0, 1) or (rc == 1) != any(v != "PASS" for v in res.values()):
        fail(f"DuckDB oracle crashed (exit {rc}); see {log}")
    if set(res) != set(keys):
        fail(f"DuckDB oracle gave no verdict for {sorted(set(keys) - set(res))}; see {log}")
    return res


def finite(v):
    """`v` with every NaN or infinity replaced by None (strict JSON).
    The JVM writes non-finite doubles as the strings "NaN"/"Infinity"."""
    if isinstance(v, float) and not math.isfinite(v) or v in ("NaN", "Infinity", "-Infinity"):
        return None
    if isinstance(v, dict):
        return {k: finite(x) for k, x in v.items()}
    if isinstance(v, list):
        return [finite(x) for x in v]
    return v


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(RESULTS, "traces"), exist_ok=True)
    files = sources()
    fp = fingerprint(files)
    cp = build(fp, os.path.join(BUILD, "sbt-build.log"))
    t_built = time.time()

    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "benchkit.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf", SF_DIR, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_group(java, JVM_BUDGET_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload JVM exited with {rc}; log kept in {work}")
    with open(out) as fh:
        r = finite(json.load(fh))

    attempted, failed = r["attempted"], r["failed"]
    failures = list(r["failures"])
    oracle = None
    if "keys_dir" in r["detail"]:
        oracle = localcheck(r["detail"]["keys_dir"], r["detail"]["key_rows"],
                            os.path.join(work, "localcheck.log"))
        for k, verdict in oracle.items():
            attempted += 1
            if verdict != "PASS":
                failed += 1
                failures.append(f"{k}: DuckDB oracle {verdict}")

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r.get("layer", {}) if a.trace else r["e2e"]
    metrics, missing = {}, []
    for m in names:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and attempted > 0
    final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}

    spans = r.get("spans_file")
    if spans and os.path.exists(spans):
        kept = os.path.join(RESULTS, "traces", run_id + ".spans.jsonl")
        shutil.move(spans, kept)
        r["spans_file"] = os.path.relpath(kept, ROOT)
    record = dict(r, run_id=run_id, time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                  seconds=a.seconds, git_commit=git_commit(), source_sha256=fp,
                  build_s=round(t_built - t_start, 3), total_s=round(time.time() - t_start, 3),
                  oracle=oracle, attempted=attempted, failed=failed,
                  fail_ratio=failed / attempted if attempted else 1.0,
                  failures=failures, not_exercised=missing, result=final)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"fail_ratio {record['fail_ratio']:.6f} ({failed}/{attempted})", file=sys.stderr)
    print(json.dumps(final))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
