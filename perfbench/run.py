#!/usr/bin/env python3
"""Run one benchmark workload against the sync engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale <x>]

Run from the root of a source checkout. The first run builds the engine and
the benchmark driver from source with sbt (offline) and caches the classpath
under perfbench/target; later runs reuse it while no source file changed.
Each run gets a fresh work directory under perfbench/.work, which is removed
afterwards; traced runs keep their span file under perfbench/.traces.

The last line on stdout is the result object
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
the run completed and every correctness check passed.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-classpath.json")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside spark-submit
# (the engine's build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    stamp = source_stamp()
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        return None
    log("building engine and benchmark driver (sbt, offline)")
    t0 = time.time()
    code, out = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        HERE, sbt_env(), BUILD_TIMEOUT_S, subprocess.PIPE)
    if code != 0:
        log(f"build failed (exit {code})")
        return None
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        log("build printed no classpath")
        return None
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on every input size (the smoke check uses 0.01)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
        return 2
    cp = classpath()
    if cp is None:
        return 2

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    # The engine's own JVM settings (its build.sbt javaOptions): the default
    # tiered JIT and collector, and the same heap ceiling.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = [java, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--scale", str(a.scale)]
    try:
        code, out = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE)
        if a.trace == "1":
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            for n in os.listdir(work):
                if n.startswith("trace-"):
                    shutil.move(os.path.join(work, n), os.path.join(traces, n))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        return 1
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"benchmark process ended (exit {code}) without a result line")
        return 1
    if code != 0:
        log(f"benchmark process exited {code}")
        return 1
    print(lines[-1], flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
