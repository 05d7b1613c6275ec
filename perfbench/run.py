#!/usr/bin/env python3
"""Runs one benchmark workload of the graft dedup engine and prints its result.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 15 --trace 0

Run it from the repository root, with SPARK_HOME naming the Spark
distribution the engine builds against. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) from source with the Scala
compiler in $SPARK_HOME/jars, into .bench_build/perfbench/; later runs reuse
those classes while no source changed.
The benchmark itself runs in one JVM (perfbench.Main, see METHOD.md). Its
progress goes to stderr; the last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics.
"""

import argparse
import fcntl
import glob
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("web_mix", "dup_heavy")
RUN_LIMIT_S = 175  # each run must end within 180 s once built
BUILD_LIMIT_S = 840
HEAP = "1536m"
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


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME: the engine's only
    compile dependencies, and the Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail("SPARK_HOME must name a Spark distribution whose jars/ holds scala-compiler")
    return jars


def sources():
    """Every Scala source the build compiles: the engine's and the benchmark's."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources missing next to perfbench/: {engine}")
    files = []
    for top in (engine, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, limit, stdout, env=None):
    """Runs cmd in its own process group and waits for it. The group is
    killed on timeout, and when this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, env=env,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {limit:.0f} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def classpath():
    """The benchmark's runtime classpath, compiling engine and benchmark
    first when their classes are missing or stale. The build writes only
    under .bench_build/, so a checkout moved or copied elsewhere rebuilds
    or reuses its own classes, never another checkout's."""
    jars = spark_jars()
    files = sources()
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(files, jars)
        fresh = (os.path.isdir(classes) and os.path.exists(stamp_file)
                 and open(stamp_file).read() == want)
        if not fresh:
            print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr)
            tmp = os.path.join(BUILD_DIR, "classes-tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            code, _ = run_child(
                ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(jars),
                 "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                 "-classpath", os.pathsep.join(jars)] + files,
                ROOT, BUILD_LIMIT_S, None)
            if code != 0:
                fail(f"compilation failed (exit {code})")
            shutil.rmtree(classes, ignore_errors=True)
            os.rename(tmp, classes)
            with open(stamp_file, "w") as f:
                f.write(want)
        return os.pathsep.join([classes] + jars)


def check_result(line):
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(r)}")
    if not isinstance(r["correct"], bool) or r["attempted"] < 1 or r["failed"] < 0:
        raise ValueError("bad correct/attempted/failed")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return r


def check_names(result, trace):
    """The printed metrics must be exactly those BENCHMARK.json declares."""
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        return
    with open(spec_file) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if want != got:
        diff = sorted(set(want.items()) ^ set(got.items()))
        fail(f"metrics differ from BENCHMARK.json: {diff[:10]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    start = time.monotonic()
    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap: peak RSS then moves with what the run holds
    # outside the heap, not with how far the collector happened to grow it
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
            "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    try:
        # Spark binds its driver to loopback, whatever the host's name resolves to
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        code, out = run_child(cmd, ROOT, RUN_LIMIT_S - (time.monotonic() - start),
                              subprocess.PIPE, env)
        lines = out.decode().strip().splitlines()
        if code != 0 or not lines:
            fail(f"benchmark JVM exited with {code}")
        try:
            result = check_result(lines[-1])
        except (ValueError, KeyError, TypeError) as e:
            fail(f"malformed result line ({e}): {lines[-1][:300]}")
        check_names(result, a.trace)
        traces = os.path.join(BUILD_DIR, "traces")
        for n in os.listdir(work):
            if n.startswith("spans-"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, n), os.path.join(traces, n))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
