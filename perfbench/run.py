#!/usr/bin/env python3
"""Run one benchmark workload: build on first use, then one JVM run.

    python3 perfbench/run.py --workload dag_season --seed 3 --seconds 20 --trace 0

Run from the root of a checkout. The first call compiles the engine's
sources together with the benchmark driver (sbt, offline, into
.bench_build/); later calls reuse the build while the sources are
unchanged. The last line of stdout is the result JSON; everything else
goes to stderr. Exits non-zero, without a result, when the build or the
run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HERE = os.path.join(ROOT, "perfbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source file the build compiles."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no engine sources (src/main/scala) in this directory")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:  # the first Spark installation on PATH
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        home = next((h for h in homes if os.path.isdir(os.path.join(h, "jars"))), None)
        if home:
            env["SPARK_HOME"] = home
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt_tmp = os.path.join(BUILD, "tmp", "sbt")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp} -Djna.tmpdir={sbt_tmp}"
    t0 = time.time()
    log("building (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    train_class_archive(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# Spark's scratch space stays in the checkout (spark.local.dir), which
# this variable would override
JAVA_ENV = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}


def java_cmd(cp, main_args, archive_flag):
    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr", archive_flag]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + main_args, tmp


def train_class_archive(cp):
    """Dump the classes one short run loads into a class-data-sharing
    archive, so every later JVM maps them instead of loading and
    verifying them again (a cold run's start-up cost, not its work).
    A failed training run fails the build, so every run of a build
    starts the same way."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    cmd, tmp = java_cmd(cp, ["--workload", "ops_mix", "--seed", "0", "--seconds", "1", "--trace", "0"],
                        f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=JAVA_ENV, stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"class archive training failed (exit {p.returncode})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ops_mix", "dag_daily"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the output digests of every input variant (no result line)")
    a = ap.parse_args()
    try:
        cp = build()
    except Exception as e:  # no result line: the driver sees a failed run
        log(str(e))
        return 2
    main_args = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.record:
        main_args.append("--record")
    cmd, tmp = java_cmd(cp, main_args, f"-XX:SharedArchiveFile={ARCHIVE}")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=JAVA_ENV, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S * (20 if a.record else 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.record:
        return proc.returncode
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        log("run printed no result line")
        return 5
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
