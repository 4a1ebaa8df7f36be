#!/usr/bin/env python3
"""Benchmark runner for graft: builds the program from source, runs one
workload in a fresh JVM and prints its result as the last stdout line.

    python3 perfbench/run.py --workload hep --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Workloads: hep, doc_dedup (see perfbench/README.md).
The build compiles src/main/scala and perfbench/src with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, else the
unmanagedBase directory build.sbt declares) into .bench_build/, and is
skipped when no source changed. All run state lives under .bench_build/ and is removed after
the run.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("hep", "doc_dedup")
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The directory of Spark's jars, which also holds the Scala compiler."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root, ext=".scala"):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + srcs
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        fail(f"compilation of {len(srcs)} files into {out} failed")


def build(jars):
    """Compiles the program and the benchmark; returns the classpath."""
    prog = sources(os.path.join(PROGRAM_SRC, "scala"))
    bench = sources(BENCH_SRC)
    if not prog:
        fail(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        fail(f"no benchmark sources under {BENCH_SRC}")
    resources = os.path.join(PROGRAM_SRC, "resources")
    res = [p for d, _, fs in os.walk(resources) for p in (os.path.join(d, f) for f in fs)]
    stamp = digest(prog + bench + sorted(res))
    classes = os.path.join(BUILD, "classes")
    prog_out = os.path.join(classes, "program")
    bench_out = os.path.join(classes, "bench")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return f"{bench_out}:{prog_out}:{jars}"
    shutil.rmtree(classes, ignore_errors=True)
    t0 = time.time()
    scalac(jars, jars, prog_out, prog)
    if os.path.isdir(resources):
        shutil.copytree(resources, prog_out, dirs_exist_ok=True)
    scalac(jars, f"{prog_out}:{jars}", bench_out, bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(prog)}+{len(bench)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return f"{bench_out}:{prog_out}:{jars}"


def commit():
    """The source revision, when the tree is a git checkout."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def java(cp, main, args, work, capture=True):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1", HOME=work)
    # the engine reads its tuning from SPARK_GRAFT_* variables; runs use its defaults
    for k in [k for k in env if k.startswith("SPARK_GRAFT_")]:
        del env[k]
    return subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE if capture else None,
                          text=True, timeout=170)


def run(args):
    cp = build(spark_jars())
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = ["--corrupt", args.corrupt] if args.corrupt else []
        r = java(cp, "perfbench.Main",
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--commit", commit()] + extra, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(r.stdout)
        fail(f"workload {args.workload} exited with {r.returncode} and no result")
    print("\n".join(lines[-2:]))
    return lines[-1]


def self_test():
    """Unit checks of the generators and checkers, then one short run with
    a deliberately corrupted result that must be reported as failed."""
    import json
    cp = build(spark_jars())
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        r = java(cp, "perfbench.SelfTest", [], work, capture=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        fail("SelfTest failed")
    args = argparse.Namespace(workload="hep", seed=7, seconds=1, trace=0, corrupt="lookup")
    res = json.loads(run(args))
    if res["correct"] or res["failed"] < 1:
        fail(f"a corrupted lookup result was not reported as failed: {res}")
    print(f"perfbench: corrupted lookup results reported as failed "
          f"({res['failed']} of {res['attempted']})", file=sys.stderr)
    print("perfbench: self-test passed", file=sys.stderr)


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", help=argparse.SUPPRESS)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args()
    if args.self_test:
        self_test()
    elif args.workload:
        run(args)
    else:
        p.error("--workload or --self-test is required")


if __name__ == "__main__":
    main()
