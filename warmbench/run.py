#!/usr/bin/env python3
"""Warm-pass benchmark of paper2tablespark's entry points.

Usage, from the root of a checkout:

    python3 warmbench/run.py --workload extract_warc --seed 1 --seconds 10 --trace 0
    python3 warmbench/run.py --selftest

Builds the program and the benchmark from source with sbt (once per
source state, into .bench_build/), generates the workload's inputs from
the seed in a separate JVM (cached by seed and size under
.bench_build/inputs/), then runs the measured JVM. The last line of
stdout is the JSON result. See warmbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Documents per pass: sized so a warm pass takes one to two seconds (a few
# for curate_chain, whose pass is bound by its ~40 jobs, not its input).
SIZES = {"extract_warc": 6000, "extract_resume": 8000, "curate_chain": 800, "merge_runs": 2000}
WORKLOADS = tuple(SIZES)

# The JDK 17 module opens spark-submit adds to the JVMs it launches
# (Spark's JavaModuleOptions); a plain `java` launch needs them too.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[warmbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def run_child(cmd, timeout, capture=False, env=None, cwd=None):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interruption, and waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr, stderr=sys.stderr)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, (out.decode() if capture else "")
    except BaseException as e:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"child process timed out after {timeout} s")
        raise


def build(home):
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, SPARK_HOME=home)
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], timeout=840, capture=True, env=env, cwd=HERE)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, stamp


def heap_gb():
    """A quarter of physical memory, between 2 and 8 GB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2, min(8, total // (4 << 30)))


def java_cmd(cp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            *opens, "-cp", cp, "graft.warmbench.WarmBench"]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="input size (documents); default per workload")
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[k] threads (default: min(4, cpus))")
    ap.add_argument("--selftest", action="store_true", help="run the checker self-tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")

    cp, stamp = build(spark_home())
    base = java_cmd(cp)
    cores = ["--cores", str(a.cores)]
    # Inputs are cached per source state, since the program makes some of
    # them; caches of other source states are dropped.
    inputs = os.path.join(BUILD, "selftest" if a.selftest else "inputs")
    cache = os.path.join(inputs, stamp[:16])
    for d in os.listdir(inputs) if os.path.isdir(inputs) else []:
        if d != stamp[:16]:
            shutil.rmtree(os.path.join(inputs, d), ignore_errors=True)
    if a.selftest:
        work = os.path.join(BUILD, "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        try:
            code, _ = run_child(base + ["selftest", "--seed", str(a.seed), "--cache", cache, "--work", work] + cores,
                                timeout=900)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)

    size = a.size or SIZES[a.workload]
    common = ["--workload", a.workload, "--seed", str(a.seed), "--size", str(size), "--cache", cache] + cores
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    # a run must end within 180 s, input generation included
    deadline = time.time() + 175
    try:
        if not os.path.exists(os.path.join(cache, f"{a.workload}-s{a.seed}-n{size}", "_READY")):
            t0 = time.time()
            code, _ = run_child(base + ["gen", "--work", work] + common, timeout=600)
            if code != 0:
                fail(f"input generation failed (exit {code})")
            log(f"inputs ready in {time.time() - t0:.1f} s")
        code, out = run_child(base + ["run", "--work", work, "--seconds", str(a.seconds),
                                      "--trace", str(a.trace)] + common,
                              timeout=max(10, deadline - time.time()), capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"benchmark run failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
