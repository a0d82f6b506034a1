#!/usr/bin/env python3
"""Run one graft benchmark workload, building the benchmark first if needed.

    python3 perfbench/run.py --workload session_10k --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles the library and the
benchmark program with sbt (perfbench/build.sbt) and records the classpath
and the library's JVM flags in perfbench/target/launch.json; later runs
start one JVM directly. The last line of standard output is the result
object; everything else a run writes stays under perfbench/target/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
WORKLOADS = ("session_10k", "corpus_ingest")
RUN_LIMIT_S = 170        # a run, from process start
FIRST_RUN_LIMIT_S = 880  # a run that had to build first
BUILD_LIMIT_S = 700


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_newest():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile when the sources are newer than the launch file; returns
    whether a build ran."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("library sources not found next to perfbench/ (run from a graft checkout)")
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= sources_newest():
        return False
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "benchLaunch"]
    code = run_bounded(cmd, BUILD_LIMIT_S, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.isfile(LAUNCH):
        die("build failed (sbt exit %s)" % code, 3)
    return True


def testdata_dir():
    d = os.environ.get("GRAFT_TESTDATA") or os.path.join(os.path.expanduser("~"), "testdata")
    if not os.path.isdir(os.path.join(d, "sf0.01")):
        die("testdata not found at %s (set GRAFT_TESTDATA)" % d)
    return d


def run_java(args, extra, limit):
    launch = json.load(open(LAUNCH))
    work = os.path.join(TARGET, "work", "%s-%d" % (args.workload, os.getpid()))
    local = os.path.join(TARGET, "spark-local-%d" % os.getpid())
    os.makedirs(work, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java"] + launch["java_options"] + ["-cp", os.pathsep.join(launch["classpath"]),
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           # set-up is timed from here: a build before it is not set-up
           "--t0-ms", str(int(time.time() * 1000)), "--work", work, "--testdata", testdata_dir(),
           "--trace-out", os.path.join(TARGET, "traces", "%s-%d.tsv" % (args.workload, args.seed))]
           + extra)
    try:
        code = run_bounded(cmd, limit, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(local, ignore_errors=True)
    if code is None:
        die("run exceeded %d s and was stopped" % limit, 4)
    return code


def smoke():
    """Every workload at a tiny size, traced: every metric is printed and
    every output check passes."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ok = True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
               "--seconds", "3", "--trace", "1", "--smoke-size"]
        t = time.time()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if out.returncode != 0 or len(lines) < 2:
            print("smoke %s: exit %d" % (w, out.returncode)); ok = False; continue
        info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
        problems = []
        for got, want, kind in ((info["end_to_end"], e2e, "end-to-end"),
                                (result["metrics"], layer, "per-layer")):
            units = {k: v["unit"] for k, v in got.items()}
            if units != want:
                problems.append("%s metrics differ from BENCHMARK.json: %s" % (
                    kind, sorted(set(units.items()) ^ set(want.items()))))
        if not result["correct"] or result["failed"]:
            problems.append("checks failed: %s" % info["problems"])
        print("smoke %s: %s (%.1f s)" % (w, "; ".join(problems) or "ok", time.time() - t))
        ok = ok and not problems
    sys.exit(0 if ok else 1)


def main():
    # a stopped run stops its JVM too (run_bounded kills the process group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run all workloads tiny and check outputs")
    ap.add_argument("--smoke-size", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    built = build()
    if args.smoke:
        smoke()
    if not args.workload:
        die("--workload is required")
    extra = ["--smoke", "1"] if args.smoke_size else []
    left = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - T0)
    sys.stdout.flush()
    sys.exit(run_java(args, extra, max(10, left)))


if __name__ == "__main__":
    main()
