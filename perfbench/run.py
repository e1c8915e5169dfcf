#!/usr/bin/env python3
"""Build the program and the benchmark from source, run one workload,
and relay the benchmark's JSON result as the last line of stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Compiled classes go to
.bench_build/perfbench-<source hash>/ and are reused while the sources
are unchanged; each run works in .bench_work/ and removes it.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_trickle", "index_bulk", "cdc_trickle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# a pinned heap and young generation keep GC sizing identical from run to run
HEAP = "2g"
YOUNG = "512m"
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


def spark_jars():
    """$SPARK_HOME/jars, else the jars bundled with an installed pyspark."""
    homes = [os.environ.get("SPARK_HOME")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return os.path.join(jars, "*")
    fail("no Spark jars found; set SPARK_HOME")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail("program sources (src/main/scala) not found; run from a checkout of the repository")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return prog + bench


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", jars] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"build failed: {e}")
    os.rename(tmp, out)
    return out


def run_jvm(main, args, work):
    jars = spark_jars()
    classes = build(jars)
    resources = os.path.join(ROOT, "src/main/resources")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # no hsperfdata file in the system temp dir: the run writes only under the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", os.pathsep.join([classes, resources, jars]),
        main,
    ] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload or 'selftest'}-{os.getpid()}")
    if a.selftest:
        code, out = run_jvm("perfbench.SelfTest", ["--work", work], work)
        sys.stdout.write(out)
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    code, out = run_jvm("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work], work)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail(f"no result line (exit code {code})", code or 1)
    for l in lines:
        print(l)
    sys.exit(code)


if __name__ == "__main__":
    main()
