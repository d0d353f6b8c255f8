#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload lake_dml --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one fresh JVM, so
no process-wide cache survives from one run to the next.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The full run
report (generator parameters, sample counts, all metrics) and, for a
traced run, its spans are written under perfbench/out/. The exit code is
0 only if every correctness check passed.
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
WORKLOADS = ("lake_dml", "corpus_dedup", "ingest_serve")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# heap cap only, not preset: memory is reported as the live heap after a
# full collection, and a preset heap would keep soft references alive that
# a heap grown to fit the data clears
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sbt_env():
    env = os.environ.copy()
    env["GRAFTBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile library + harness if the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found; run from a repository checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(target, exist_ok=True)
    log_path = os.path.join(target, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "writeClasspath"]
    with open(log_path, "w") as log:
        rc = run_child(cmd, HERE, sbt_env(), log, log, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log_path) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"build failed (exit {rc}); log: {log_path}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run a child in its own process group and wait for it. The group is
    killed on timeout, and also if this process is interrupted or terminated.
    """
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, "work", a.workload)
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    stdout_path = os.path.join(out, f"{tag}.stdout")
    log_path = os.path.join(out, f"{tag}.log")
    t0 = time.time()
    with open(stdout_path, "w") as so, open(log_path, "w") as se:
        rc = run_child(cmd, REPO, os.environ.copy(), so, se, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    with open(stdout_path) as fh:
        lines = [l for l in fh if l.startswith("GRAFTBENCH_RESULT ")]
    if rc != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}) after {time.time() - t0:.0f}s; log: {log_path}", 3)
    result = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
