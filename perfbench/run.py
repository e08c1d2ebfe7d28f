#!/usr/bin/env python3
"""Run one workload of the repo benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default `.bench_build`) and caches the classpath,
keyed by a hash of every source and build file; later runs start the JVM
directly. The first run after a build also dumps the classes it loaded
into a class-data-sharing archive that later runs map, so JVM class
loading does not dominate session start. All inputs, stores and Spark
scratch space live under the build directory. The last line of standard
output is the JSON result; build and Spark logs go to standard error.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("sweep", "crawl_refresh")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build depends on, in a stable order."""
    out = []
    for top in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(root, "perfbench", p)
            for p in ("build.sbt", "project/build.properties", "run.py")]
    return sorted(out)


def fingerprint(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env(build):
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root, build):
    """Build if any source changed since the cached classpath; return it."""
    cp_file = os.path.join(build, "classpath.txt")
    fp_file = os.path.join(build, "fingerprint.txt")
    fp = fingerprint(root)
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    print("perfbench: building engine and benchmark (sbt, offline)",
          file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(build),
            stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"build failed with code {r.returncode}")
    # class-data sharing needs jars only: the benchmark is packaged too
    lines = [ln for ln in r.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(build, exist_ok=True)
    # artifact hashes recorded by runs of the previous build do not apply
    shutil.rmtree(os.path.join(build, "work", "hashes"), ignore_errors=True)
    # so does the class archive, which names the jars it was made from
    if os.path.exists(archive_path(build)):
        os.remove(archive_path(build))
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(fp_file, "w") as f:
        f.write(fp + "\n")
    return cp


def archive_path(build):
    return os.path.join(build, "classes.jsa")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; "
             "run from the root of a full checkout")
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = classpath(root, build)

    work = os.path.join(build, "work")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    archive = archive_path(build)
    dumping = not os.path.exists(archive)
    cds = []
    # the JVM refuses to archive from a classpath with directories on it
    if all(p.endswith(".jar") for p in cp.split(os.pathsep)):
        cds = [f"-XX:ArchiveClassesAtExit={archive}" if dumping
               else f"-XX:SharedArchiveFile={archive}"]
    # JVM warnings (the archive dump's among them) go to standard error,
    # so the result stays the last line of standard output
    cmd = (["java", "-Xlog:disable", "-Xlog:all=warning:stderr"] + cds
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--cores", str(cores)])
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE=os.path.join(work, "run", "warehouse"))
    p = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = 3
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    if cds and dumping and code != 0 and os.path.exists(archive):
        os.remove(archive)  # possibly partial: the next run dumps again
    sys.exit(code)


if __name__ == "__main__":
    main()
