#!/usr/bin/env python3
"""Layered benchmark of the graft Spark library.

Builds the library (src/main/scala) and the benchmark (perfbench/scala) with
the Scala compiler shipped in the Spark distribution, then runs one workload
in a fresh JVM at local[nproc]:

    python3 perfbench/run.py --workload graph --seed 1 --seconds 20 --trace 0

Run it from the repository root. The registry workloads read the fixed tables
in perfbench/data/sf0.01, whose SHA-256 sums are checked first, and never
write there. Everything the benchmark writes (classes, Spark scratch, result
and span files) goes under the build directory: $CARGO_TARGET_DIR when set,
else .bench_build. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones.

Other modes:
    --selftest   inject a throwing call, a tampered fingerprint and a failing
                 warm-up step, and check that exactly those are counted
    --record     run the registry workloads twice and rewrite
                 perfbench/expected.tsv with their output fingerprints
    --curve N    run N passes of --workload with no warm-up, to measure the
                 per-pass warm-up curve (result file only, no summary line)
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

WORKLOADS = ("monoid", "graph", "dedup")
RUN_LIMIT_S = 170
# Heap and collector are constants: a fixed-size heap with a fixed young
# generation (no adaptive resizing), the parallel collector and a fixed
# number of GC threads on every run.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
             "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4"]
TABLES = os.path.join("perfbench", "data", "sf0.01")
BUILD_LIMIT_S = 800
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark jars the project builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    jars = None
    if os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars:
        fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    compiler = [os.path.join(jars, f"scala-{m}-2.13.17.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        fail(f"Scala 2.13.17 compiler jars not found in {jars}")
    return jars, compiler


def run_checked(cmd, limit, what):
    proc = subprocess.Popen(cmd)
    try:
        rc = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{what} exceeded {limit} s")
    if rc != 0:
        fail(f"{what} failed with exit code {rc}")


def digest(paths):
    h = hashlib.sha256()
    for path in paths:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile the library, then the benchmark, each unless its sources
    (and, for the benchmark, the library's) are unchanged."""
    lib_src, bench_src = scala_sources("src/main/scala"), scala_sources("perfbench/scala")
    if not lib_src:
        fail("src/main/scala not found: run from the repository root")
    if not bench_src:
        fail("perfbench/scala not found")
    jars, compiler = spark_jars()
    lib_sha = digest(lib_src)
    source_sha = digest(lib_src + bench_src)
    classes = os.path.join(build_dir, "classes")
    t0 = time.time()
    for sub, srcs, cp, sha in (("lib", lib_src, f"{jars}/*", lib_sha),
                               ("bench", bench_src, f"{jars}/*:{classes}/lib", source_sha)):
        out = os.path.join(classes, sub)
        stamp = out + ".sha256"
        if os.path.isfile(stamp) and open(stamp).read().strip() == sha:
            continue
        subprocess.run(["rm", "-rf", out, stamp], check=True)
        os.makedirs(out)
        argfile = os.path.join(build_dir, f"{sub}.sources")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        run_checked(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                     "-cp", ":".join(compiler), "scala.tools.nsc.Main",
                     "-usejavacp", "-nowarn", "-d", out, "-cp", cp,
                     "@" + argfile], BUILD_LIMIT_S, f"compiling {sub}")
        with open(stamp, "w") as f:
            f.write(sha + "\n")
        print(f"perfbench: built {sub} in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, source_sha


def check_tables():
    """Every fixture table must match the SHA-256 recorded beside it."""
    sums = os.path.join(TABLES, "SHA256SUMS")
    if not os.path.isfile(sums):
        fail(f"{sums} not found")
    for line in open(sums):
        want, name = line.split()
        path = os.path.join(TABLES, name)
        if not os.path.isfile(path):
            fail(f"{path} not found")
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                fail(f"{path} does not match its recorded SHA-256")


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    # a checkout that is not a git repository must not report an enclosing one
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--curve", type=int, default=0)
    args = ap.parse_args()
    if not (args.workload or args.selftest or args.record):
        ap.error("one of --workload, --selftest, --record is required")
    if args.curve and not args.workload:
        ap.error("--curve needs --workload")

    # $CARGO_TARGET_DIR may be absolute or relative; either way it must lie
    # inside the checkout, and is used relative to it from here on
    build_dir = os.path.relpath(os.path.realpath(
        os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    if build_dir == os.curdir or build_dir.split(os.sep)[0] == os.pardir:
        fail(f"the build directory {build_dir} must lie inside the checkout")
    classes, source_sha = build(build_dir)
    check_tables()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars, _ = spark_jars()
    cores = len(os.sched_getaffinity(0))
    result = os.path.join(build_dir, "results", "last.json")
    os.makedirs(os.path.dirname(result), exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java"] + JVM_FLAGS + ["-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    cmd += [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{classes}/bench:{classes}/lib:{jars}/*", "perfbench.Main",
            "--build-dir", build_dir, "--result", result,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--jvm", " ".join(JVM_FLAGS), "--tables", os.path.abspath(TABLES),
            "--source-sha", source_sha, "--git-commit", git_commit() or "none",
            "--expected", "perfbench/expected.tsv"]
    if args.selftest:
        cmd[cmd.index("--seconds") + 1] = "0"
        cmd += ["--workload", "monoid", "--selftest"]
    elif args.record:
        cmd += ["--record"]
    else:
        cmd += ["--workload", args.workload, "--curve", str(args.curve)]

    limit = RUN_LIMIT_S if not args.curve else 60 * args.curve
    jiffies0 = cpu_jiffies()
    proc = subprocess.Popen(cmd, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(3)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {limit} s")
    if rc != 0:
        fail(f"benchmark JVM exited with code {rc}")
    if args.selftest or args.record or args.curve:
        return
    try:
        with open(result) as f:
            doc = json.load(f)
        summary = doc["summary"]
    except (OSError, ValueError, KeyError) as e:
        fail(f"no result written: {e}")
    # share of CPU time the hypervisor gave to other guests during the run:
    # a contention diagnostic kept beside the calibration probe
    jiffies1 = cpu_jiffies()
    if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
        doc["env"]["steal_share"] = (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1])
    named = os.path.join(os.path.dirname(result),
                         f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    for path in (result, named):
        with open(path, "w") as f:
            json.dump(doc, f)
    sys.stdout.flush()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
