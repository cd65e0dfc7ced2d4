#!/usr/bin/env python3
"""Job-level benchmark of the graft library: one workload per run, driven
through the library's public entry points in one JVM at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Every input is generated
from --seed under .bench_build/ and removed after the run. The last line of
standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. A correctness mismatch prints the result
with "correct": false and exits 1; a run that cannot finish exits non-zero
without a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("daily_merge", "stream_ingest", "operator_mix")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# A run ends within 180 s, its build (first run in a checkout) within 900 s.
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 800
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads, relative to the checkout root."""
    roots = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project", "build.properties")]
    files = [r for r in roots if os.path.isfile(os.path.join(ROOT, r))]
    for d in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    return sorted(files)


def build():
    """Compile the library and the benchmark once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("run from the root of a checkout of the library: src/main/scala/graft and build.sbt are missing")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            if fh.read() == stamp:
                cp = cf.read()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] if os.path.isfile(repos) else [])
        + ["-Dsbt.offline=true", "-Xmx2g"]))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=out, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = next((ln.strip() for ln in reversed(lines) if os.pathsep in ln and ".jar" in ln), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log at {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout or
    interruption kill the whole group and wait for it to end. Returns the
    exit code, -9 after a timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    cp = build()
    built = time.time()

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    log = os.path.join(BUILD, f"{a.workload}.log")
    cpus = len(os.sched_getaffinity(0))
    java = shutil.which("java") or die("java not found")
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--work", work, "--out", raw_path]
    try:
        with open(log, "w") as out:
            rc = run_child(cmd, timeout=RUN_LIMIT_S - (time.time() - built),
                           stdout=out, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.isfile(raw_path):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"{a.workload} run failed (exit {rc}); log at {log}", 1)
        ran = time.time()
        with open(raw_path) as fh:
            raw = json.load(fh)
        facts = gate.GATES[a.workload](raw) if raw["gate"].get("ok", True) else \
            {"ok": False, "detail": raw["gate"].get("detail", ""), "delivered": {}}
        if a.trace:
            trace_out = os.path.join(BUILD, f"trace-{a.workload}.json")
            with open(trace_out, "w") as fh:
                json.dump({"spans": raw.get("spans", []), "listener": raw.get("listener", {})}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for o in raw["ops"] if o["id"] >= 0]
    failed_rows = facts.get("failed_rows")
    if not facts["ok"]:
        failed = len(ops) if failed_rows is None else sum(1 for o in ops if o["name"] in failed_rows)
    else:
        failed = sum(1 for o in ops if not o["ok"])
    correct = bool(facts["ok"]) and failed == 0 and raw["failure"] is None
    chosen = metrics.per_layer(raw, facts) if a.trace else metrics.end_to_end(raw)
    setups = "/".join(f"{x / 1e3:.1f}" for x in raw["setup_ms"])
    walls = "/".join(f"{(p['end'] - p['start']) / 1e3:.1f}" for p in raw["passes"])
    op_ms = "/".join(f"{(o['end'] - o['start']) / 1e3:.2f}" for o in raw["ops"])
    print(f"perfbench: {a.workload} seed {a.seed}: session {raw['session_ms'] / 1e3:.1f} s, "
          f"set-up {setups} s, cold op {raw['cold_ms'] / 1e3:.1f} s, passes {walls} s, "
          f"gate {raw['gate_ms'] / 1e3:.1f} s; build {built - started:.1f} s, JVM {ran - built:.1f} s, "
          f"DuckDB gate {time.time() - ran:.1f} s; ops {op_ms} s")
    print(f"perfbench: {len(ops)} timed ops, gate {'ok' if facts['ok'] else 'FAILED'}: {facts['detail']}")
    if raw["failure"]:
        print(f"perfbench: op failed: {raw['failure']}")
    print(json.dumps({"correct": correct, "attempted": max(len(ops), 1), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
