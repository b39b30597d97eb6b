#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine from the
checkout's sources together with the harness (sbt, in perfbench/); later runs
reuse the build while the sources are unchanged. The harness JVM's last
stdout line is the result object; the exit code is non-zero when a
correctness check failed or the run could not start. Spark runs on
local[n], n being the CPUs the JVM may use.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout stops the whole group
    and waits for it. Returns (exit code or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def source_files():
    """Every file the build reads: the engine's sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution: set SPARK_HOME (its jars/ directory is the classpath)")
    return home


def build(src_digest, env):
    """Compiles engine + harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == src_digest:
            return cp.strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    print(f"perfbench: building engine + harness (log: {os.path.relpath(log, ROOT)})", file=sys.stderr)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(env, SBT_OPTS=f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip())
    with open(log, "w") as fh:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        fh.write(out or "")
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in out:
        die(f"build failed (exit {code}); see {log}", 3)
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(src_digest + "\n" + cp + "\n")
    return cp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["tile_join", "knn", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala/graft: "
            "run from the root of a full checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    files = source_files()
    src_digest = digest(files)
    cp = build(src_digest, env)

    # each run starts from empty data and spark scratch directories
    for d in ("data", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.digest={src_digest}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", WORK])
    try:
        code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    finally:
        for d in ("data", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    if code is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
