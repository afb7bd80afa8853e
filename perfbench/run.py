#!/usr/bin/env python3
"""Run one workload of the kinbakuspark benchmark and print its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 8 --trace 0

The first run builds the engine (src/main/scala) and the benchmark driver
(perfbench/src) with sbt into .bench_build/; later runs reuse the build
while the sources are unchanged. The JVM runs Spark local[4] with one
client thread. All stores and inputs of a run live in one scratch
directory under .bench_build/perfbench/, deleted when the run ends. The
full result (sample counts, tail percentile, load averages, failures) is
written to .bench_build/perfbench/out/result-<workload>-s<seed>-t<trace>.json;
a traced run also writes its spans there as trace-*.jsonl. The last line
on stdout is the result as one JSON object with the keys correct,
attempted, failed and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["point_reads", "store_mixed", "analytics"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700  # a building run stays within 900 s: build + RUN_LIMIT_S
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, log_path, limit_s, **kw):
    """Run cmd in its own process group, output to log_path; kill the whole
    group if it outlives limit_s. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(deadline):
    """Compile with sbt unless the classes for these sources exist. Returns
    the runtime classpath and whether this call built it."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    props = [
        "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
    ]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    code = run_bounded(["sbt", "--batch"] + props + ["compile", "export Runtime/fullClasspath"],
                       log, deadline - time.time(), cwd=BENCH, env=env)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if "perfbench" not in cp or cp.startswith("["):
        fail(f"no classpath in build output; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def sweep_stale_runs():
    """Delete scratch directories of earlier runs whose process is gone."""
    for d in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if d.startswith("run-") and d[4:].isdigit() and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)


def main():
    # a terminated run still removes its scratch directory and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    started = time.time()
    cp, built = build(started + BUILD_LIMIT_S)
    sweep_stale_runs()
    # a run that built may take the build's time on top; otherwise the whole
    # invocation stays within RUN_LIMIT_S
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - started)
    out = os.path.join(BUILD, "out")
    logs = os.path.join(BUILD, "logs")
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    for d in (out, logs, work):
        os.makedirs(d, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    result_file = os.path.join(out, f"result-{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--pins", os.path.join(BENCH, "pins.json")])
    log = os.path.join(logs, f"{tag}.log")
    try:
        code = run_bounded(cmd, log, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"run failed (exit {code}); log: {log}")
    with open(result_file) as f:
        result = json.load(f)
    print(f"perfbench: {tag} samples={result['samples']} loadavg start={result['loadavg_start']!r} "
          f"end={result['loadavg_end']!r} result={result_file}")
    for msg in result["first_failures"]:
        print(f"perfbench: FAILED {msg}")
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
