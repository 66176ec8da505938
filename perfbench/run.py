#!/usr/bin/env python3
"""Pipeline benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload lake_rw --seed 1 --seconds 15 --overhead
    python3 perfbench/run.py --check-generators

Builds the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler shipped in the Spark distribution, into .bench_build/ (cached
by a digest of the sources), then runs one workload in a fresh JVM. The last
line of standard output is the JSON result; the process exits non-zero when
an output check fails or the build is impossible.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 175
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the sbt build compiles against: $SPARK_HOME/jars, else
    the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        if os.path.isdir(d):
            jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
            if jars:
                return jars
    die("no Spark jars found (set SPARK_HOME)")


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, srcs, out):
    lib = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(lib) != 3:
        die("scala compiler jars not found next to the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-cp", ":".join(lib),
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath)] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"compilation of {len(srcs)} files into {out} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile engine + harness unless the cached build matches the sources."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        die("src/main/scala not found: run from the root of a checkout of the engine")
    jars = spark_jars()
    mains, benches = sources(main_src), sources(os.path.join(HERE, "src"))
    if not mains or not benches:
        die("no sources to build")
    h = hashlib.sha256()
    for f in mains + benches:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    main_out, bench_out = os.path.join(BUILD, "main"), os.path.join(BUILD, "bench")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return [bench_out, main_out] + jars
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    scalac(jars, jars, mains, main_out)
    scalac(jars, [main_out] + jars, benches, bench_out)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return [bench_out, main_out] + jars


def jvm(classpath, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the heap is pinned and pre-touched at start-up, so neither G1's sizing
    # nor first-touch page faults land in the timed phase
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", ":".join(classpath), "graftbench.Main", "--work", work] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, cwd=ROOT,
                           env=env, timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s and was killed", 3)
    return r.returncode, r.stdout.splitlines()


def run_once(classpath, a, trace):
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, lines = jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                      "--seconds", str(a.seconds), "--trace", str(trace)], work)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(spans, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in lines if l.startswith('{"correct"')]
    return code, [l for l in lines if not l.startswith('{"correct"')], results


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--overhead", action="store_true",
                   help="run untraced then traced and report the tracing overhead")
    p.add_argument("--check-generators", action="store_true",
                   help="same seed -> identical inputs, other seed -> different inputs")
    a = p.parse_args()
    classpath = build()

    if a.check_generators:
        work = os.path.join(BUILD, "work", f"gencheck-{os.getpid()}")
        try:
            code, lines = jvm(classpath, ["--check-generators"], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        sys.exit(code)

    if not a.workload:
        die("--workload is required")
    if a.overhead:
        out = {}
        for trace in (0, 1):
            code, lines, results = run_once(classpath, a, trace)
            print("\n".join(lines))
            if code != 0 or not results:
                die(f"trace={trace} run failed (exit {code})", code or 1)
            out[trace] = json.loads(results[-1])["metrics"]
        base, traced = out[0]["op_p50_s"]["value"], out[1]["trace.op_p50_s"]["value"]
        print(f"tracing overhead {a.workload}: op_p50_s untraced {base:.4f} s, "
              f"traced {traced:.4f} s, overhead {traced - base:+.4f} s "
              f"({(traced - base) / base * 100:+.1f}%)")
        return

    code, lines, results = run_once(classpath, a, a.trace)
    print("\n".join(lines))
    if not results:
        die(f"no result line (exit {code})", code or 1)
    print(results[-1])
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
