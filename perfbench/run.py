#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <cdc_stream|cdc_backfill|query_mix> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The measured JVM is launched
directly, never through sbt, with the engine build's fork flags. Each run
gets a fresh directory under .bench_build/runs that holds its topic,
checkpoints, sinks, Spark scratch space and temp fixtures, and is deleted
when the run ends; directories a killed earlier run left behind are
deleted before the run starts. Reports (and, traced, spans) are kept in
.bench_build/reports.
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
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
WORKLOADS = ("cdc_stream", "cdc_backfill", "query_mix")

# build.sbt's fork options, with a fixed heap: the add-opens Spark needs
# on JDK 17, the UI off, UTC sessions, and ParallelGC (default G1 measures
# a different JVM: executor CPU up to 16x on allocation-heavy queries).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx4g", "-XX:+UseParallelGC"]

RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and the harness; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            if f.read() == digest:
                return g.read()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1, deadline - time.time()), stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def clear_stale_runs(runs):
    """Delete run directories whose owning process is gone (a killed run)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        d = os.path.join(runs, name)
        try:
            with open(os.path.join(d, "owner.pid")) as f:
                pid = int(f.read().strip())
        except (OSError, ValueError):
            pid = -1
        if pid <= 0 or not pid_alive(pid):
            shutil.rmtree(d, ignore_errors=True)
            log(f"removed stale run directory {name}")


def check_result(line, trace):
    r = json.loads(line)
    if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
        raise ValueError(f"result keys {sorted(r)}")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    if got != want:
        raise ValueError(f"metrics or units differ from BENCHMARK.json: "
                         f"{sorted(set(got.items()) ^ set(want.items()))}")
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala/graft); "
            "run from the root of a full checkout")
        return 2
    first_build = not os.path.exists(os.path.join(BUILD, "stamp"))
    deadline = started + (BUILD_LIMIT_S if first_build else RUN_LIMIT_S)
    cp = build(deadline)
    if first_build:
        deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)

    runs = os.path.join(BUILD, "runs")
    clear_stale_runs(runs)
    run_dir = os.path.join(runs, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "owner.pid"), "w") as f:
        f.write(str(os.getpid()))
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    report = os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}.json")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", run_dir,
           "--data", os.path.join(HERE, "testdata"),
           "--queries", os.path.join(HERE, "query_mix.txt"), "--report", report]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("run exceeded its time limit")
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"run failed with exit code {proc.returncode}")
        return 1
    try:
        r = check_result(lines[-1], a.trace)
    except ValueError as e:
        log(f"malformed result: {e}")
        return 1
    log(f"report: {os.path.relpath(report, REPO)}")
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
