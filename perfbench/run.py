#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine's
main sources together with the benchmark (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while no source changed. One
JVM then sets up the workload, measures it for --seconds (with
--trace 1: half untraced, half traced) and checks every answer.

Stdout ends with the full result (metrics plus provenance) on one line
and then, as the last line, the result object with exactly the keys
correct, attempted, failed and metrics. A copy of the full result is
kept in .bench_build/results/. Workloads: candy_etl, query_floor.
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
import zipfile

BUILD = ".bench_build"
WORKLOADS = ("candy_etl", "query_floor")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles, in a stable order."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out) + ["perfbench/build.sbt", "perfbench/project/build.properties"]


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return None


def java_cmd(jars, classpath, *jvm):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java] + opens + ["-Xmx3g", "-Dspark.ui.enabled=false"] + list(jvm) + [
        "-cp", f"{classpath}:{jars}/*"]


def build(digest, jars):
    """Compile, pack the classes into one jar, and record a class-data
    archive of a training run. The build is reused only while its stamp
    matches the sources and the jar and archive are both there; a failed
    training run fails the build and leaves no stamp."""
    stamp = os.path.join(BUILD, "source.sha256")
    jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "classes.jsa")
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(jar) and os.path.exists(archive)):
        return jar, archive
    if os.path.exists(stamp):
        os.remove(stamp)
    log("compiling engine and benchmark (sbt)")
    t0 = time.time()
    if run(["sbt", "-batch", "compile"], 850, cwd="perfbench",
           stdout=sys.stderr, stderr=sys.stderr) != 0:
        sys.exit("perfbench: build failed")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.abspath(os.path.join(BUILD, "work", "train"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        code = run(java_cmd(jars, jar, f"-XX:ArchiveClassesAtExit={archive}",
                            f"-Djava.io.tmpdir={work}/tmp") + ["perfbench.Train", work],
                   600, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        if os.path.exists(archive):
            os.remove(archive)
        sys.exit(f"perfbench: training run failed (exit {code}); no class-data archive")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f}s")
    return jar, archive


def spark_jars():
    """Spark's jars; SPARK_HOME is set for the build from PATH if needed."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    os.environ["SPARK_HOME"] = home
    return jars


def git_info():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               capture_output=True, text=True, check=True).stdout.strip()
        return sha, "true" if dirty else "false"
    except (OSError, subprocess.CalledProcessError):
        return "unknown", "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala") or not os.path.isfile("perfbench/build.sbt"):
        sys.exit("perfbench: run from the root of a checkout holding src/main/scala")
    digest = source_digest(sources())
    jars = spark_jars()
    jar, archive = build(digest, jars)
    sha, dirty = git_info()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD, "work", tag))
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{tag}.json")
    # -Xshare:on: an archive that does not match the build stops the JVM
    # instead of being skipped silently
    cmd = java_cmd(jars, jar, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
                   f"-Djava.io.tmpdir={work}/tmp",
                   f"-Dderby.system.home={work}") + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--result", result,
        "--git-sha", sha, "--git-dirty", dirty, "--source-sha256", digest]
    try:
        code = run(cmd, 170, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None or not os.path.exists(result):
        sys.exit(f"perfbench: run failed (exit {code})")
    with open(result) as fh:
        full = json.load(fh)
    print(json.dumps(full))
    print(json.dumps({k: full[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(code)


if __name__ == "__main__":
    main()
