#!/usr/bin/env python3
"""Benchmark entry point: builds graft and the benchmark from the
checkout's sources (once per source state), then runs one workload in a
fresh JVM and relays its report. The last stdout line is the result JSON.

    python3 perfbench/run.py --workload serve|ingest|curate|all \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. Build output and every file a run
writes stay under .bench_build/ in that checkout.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["serve", "ingest", "curate"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

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


def source_files():
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            yield path
        for base, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(base, f)


def source_stamp():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; kills the
    group on timeout, or when this process is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def spark_jars():
    """The Spark jars directory: the one the root build.sbt compiles
    against (its unmanagedBase), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars directory at {jars!r}")
    return jars


def build():
    """Compiles graft + the benchmark with sbt; returns the classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read()
        env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
        if code != 0:
            sys.stderr.write(out or "")
            fail("build failed" if code is not None else "build timed out")
        lines = [l for l in out.splitlines() if not l.startswith("[") and ".jar" in l]
        if not lines:
            sys.stderr.write(out)
            fail("build printed no classpath")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(classpath)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classpath


def run_jvm(classpath, args, timeout):
    """One workload in a fresh JVM with its own work directory."""
    work = os.path.join(OUT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", classpath]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main"] + args + ["--work", work])
    try:
        code, out = run_bounded(cmd, timeout, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run timed out after {timeout:.0f}s")
    return code, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    started = time.monotonic()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    classpath = build()
    built_s = time.monotonic() - started
    if a.selftest:
        code, out = run_jvm(classpath, ["--selftest"], RUN_TIMEOUT_S)
        sys.stdout.write(out)
        sys.exit(code)
    # a run that had to build gets the build's time on top of its own
    budget = RUN_TIMEOUT_S + (built_s if built_s > 5 else 0)
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in workloads:
        left = budget - (time.monotonic() - started) if a.workload != "all" else RUN_TIMEOUT_S
        code, out = run_jvm(classpath, ["--workload", w, "--seed", str(a.seed),
                                        "--seconds", str(a.seconds), "--trace", str(a.trace)], left)
        lines = out.rstrip("\n").splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            sys.stdout.write(out)
            fail(f"{w}: the run printed no result (exit {code})")
        if len(workloads) == 1:
            sys.stdout.write(out)
            sys.exit(code)
        for l in lines[:-1]:
            print(f"{w} {l}")
        results[w] = (code, result)
    # --workload all: one combined line, metrics prefixed by workload
    print(json.dumps({
        "correct": all(r["correct"] for _, r in results.values()),
        "attempted": sum(r["attempted"] for _, r in results.values()),
        "failed": sum(r["failed"] for _, r in results.values()),
        "metrics": {f"{w}.{k}": v for w, (_, r) in results.items() for k, v in r["metrics"].items()},
    }))
    sys.exit(max(c for c, _ in results.values()))


if __name__ == "__main__":
    main()
