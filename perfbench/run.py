#!/usr/bin/env python3
"""Benchmark command for the graft library.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 12 --trace 0

It builds the library and the harness in `perfbench/harness` with sbt (once
per checkout; the classpath is kept in `.bench_build/`), runs one workload
in one JVM, and prints the harness's result as the last stdout line: a JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 1` it also prints a per-layer self-time report to stderr, read
from the span file the harness writes. Exits 1 when an output check fails,
2 when the checkout or the build is unusable.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (the root build.sbt passes the same set to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")):
        if os.path.isfile(top):
            if os.path.getmtime(top) > stamp:
                return True
            continue
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build():
    if os.path.isfile(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export harness/Runtime/fullClasspath"],
        timeout=850, cwd=HARNESS, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1].strip()


def span_report(path, result):
    """Self time per layer: a span's duration minus what its children cover."""
    spans = [json.loads(l) for l in open(path)]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def covered(parent):
        iv = sorted((max(c["start_us"], parent["start_us"]), min(c["end_us"], parent["end_us"]))
                    for c in children[parent["id"]])
        total, end = 0, None
        for a, b in iv:
            if end is None or a > end:
                total, end = total + max(0, b - a), b
            elif b > end:
                total, end = total + b - end, b
        return total

    self_s = defaultdict(float)
    for s in spans:
        self_s[s["layer"]] += (s["end_us"] - s["start_us"] - covered(s)) / 1e6
    unattributed = sum(s["end_us"] - s["start_us"] for s in children[0]
                       if s["layer"] == "spark") / 1e6
    err = sys.stderr
    print("perfbench: self time per layer, all traced passes (s)", file=err)
    for layer, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<10} {v:10.3f}", file=err)
    print(f"  {'unattributed Spark jobs':<24} {unattributed:.3f}", file=err)
    overhead = result.get("metrics", {}).get("trace.overhead_s", {}).get("value")
    if overhead is not None:
        print(f"  tracing overhead (traced minus untraced pass wall): {overhead:.3f}", file=err)

    steps = defaultdict(list)
    for s in spans:
        if s["layer"] == "step":
            jobs = [c for c in children[s["id"]] if c["layer"] == "spark"]
            steps[s["name"]].append((
                (s["end_us"] - s["start_us"]) / 1e6, len(jobs),
                sum(j["attrs"].get("executor_cpu_s", 0.0) for j in jobs)))
    if steps:
        print("perfbench: steps, median over traced passes", file=err)
        print(f"  {'step':<34} {'wall_s':>8} {'jobs':>6} {'executor_cpu_s':>15}", file=err)
        for name, xs in steps.items():
            print(f"  {name:<34} {median(x[0] for x in xs):8.3f} {median(x[1] for x in xs):6.0f}"
                  f" {median(x[2] for x in xs):15.3f}", file=err)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{ROOT} is not a source checkout of the library ({need} is missing)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark installation")
    classpath = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(work, "spans.jsonl")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", work, "--spans", spans])
    t0 = time.time()
    try:
        code, out = run_group(cmd, timeout=175, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
        lines = [l for l in out.splitlines() if l.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if result is None:
            sys.stderr.write(out[-4000:])
            print(f"perfbench: the harness printed no result (exit {code})", file=sys.stderr)
            sys.exit(code or 2)
        print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)
        if a.trace and os.path.isfile(spans):
            span_report(spans, result)
        print(json.dumps(result))
        sys.exit(code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
