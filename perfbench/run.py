#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It compiles the engine's sources
(`src/main/scala`) together with the benchmark program (`perfbench/src`)
into `.bench_build/`, generates the seeded inputs, runs the benchmark JVM
and prints, as the last line of standard output, one JSON object with
the keys `correct`, `attempted`, `failed` and `metrics`. The lines above
it name every metric with its unit and stamp the provenance of the run.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of build output
import gen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ("serve", "reference")
# Wall-clock guard for the benchmark JVM: a run must end within 180 s.
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the set build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every input of the build: engine sources and resources, benchmark sources."""
    files = []
    for root in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (`unmanagedBase` in build.sbt); it also holds the Scala compiler."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(files, stamp, jars):
    """Compile engine + benchmark with scalac into .bench_build/classes,
    unless a build of exactly these sources is already there."""
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    log("compiling engine and benchmark sources")
    t0 = time.time()
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", f"{jars}/*", "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    res_root = "src/main/resources"
    for f in files:
        if f.startswith(res_root + os.sep):
            dst = os.path.join(tmp, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def git_commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        if res.returncode == 0:
            return res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    files = sources()
    if not any(f.endswith(".scala") for f in files if f.startswith("src/")) \
            or not any(f.endswith(".scala") for f in files if f.startswith("perfbench/")):
        raise SystemExit("perfbench: run from the root of a checkout that holds "
                         "src/main/scala and perfbench/src")
    jars = spark_jars()
    if not glob.glob(f"{jars}/spark-sql_*.jar"):
        raise SystemExit(f"perfbench: Spark jars not found under {jars}")

    load_start = os.getloadavg()
    stamp = stamp_of(files)
    classes = build(files, stamp, jars)

    cores = os.cpu_count() or 1
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, work)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{os.path.abspath(classes)}:{jars}/*",
                  "graft.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", work, "--cores", str(cores),
                  "--traces", os.path.abspath(os.path.join(BUILD, "traces"))])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        if proc.returncode != 0:
            sys.stderr.write(out)
            raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
        lines = out.rstrip("\n").split("\n")
        result = json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in lines[:-1]:
        print(line)
    load_end = os.getloadavg()
    print("provenance: " + json.dumps({
        "cores": cores,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "heap_max": HEAP,
        "git_commit": git_commit(),
        "source_sha256": stamp,
    }, sort_keys=True))
    print(json.dumps(result, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
