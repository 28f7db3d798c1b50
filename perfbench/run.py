#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload flow --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run
  1. compiles the engine (src/main/scala) and the recorder (perfbench/scala)
     with scalac against $SPARK_HOME/jars, once per source hash;
  2. generates the workload's input from the seed (gen.py);
  3. runs the recorder in one JVM on local[<cores>] (Harness.scala): a
     verify pass and a warm pass, then the timed op runs (taking at least
     --seconds);
  4. checks every op's output against the DuckDB oracle (oracle.py);
  5. prints a summary and, as the last stdout line, one JSON object with
     `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
     with --trace 0, the per-layer metrics (layers.py) with --trace 1. A
     traced run also writes its spans and metrics to
     perfbench/work/trace-<workload>-<seed>.json.

Build output, inputs and per-run files all live under perfbench/work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen
import layers
import oracle
import stats
from workloads import END_TO_END, PREDICTIONS, WORKLOADS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
JVM_TIMEOUT_S = 150
HEAP = "3g"
YOUNG = "1g"   # fixed young generation: G1's adaptive eden made peak RSS bimodal
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark distribution (with jars/)")
    return os.path.join(home, "jars")


def build():
    """Compiles engine + recorder once per source hash; returns the class dir."""
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from a source checkout")
    srcs = main + sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    jars = spark_jars()
    scala = [os.path.join(jars, f"scala-{m}-") for m in ("compiler", "library", "reflect")]
    compiler_cp = [g for prefix in scala for g in glob.glob(prefix + "*.jar")]
    if len(compiler_cp) != 3:
        fail(f"scala compiler/library/reflect jars not found in {jars}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    rc = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler_cp),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", classes, "@" + argfile]).returncode
    if rc != 0:
        fail(f"compile failed (scalac exit {rc})")
    with open(os.path.join(out, "ok"), "w") as f:
        f.write(f"{time.time() - t0:.1f}s\n")
    return classes


def run_jvm(classes, wl, data, run_dir, seconds, trace, cores):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = [java(), "-XX:-UsePerfData", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
           "perfbench.Harness", "--data", data, "--out", run_dir,
           "--ops", ",".join(wl.ops), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"recorder JVM failed ({rc}); log: {log_path}")
    with open(os.path.join(run_dir, "harness.json")) as f:
        return spawn, json.load(f)


def end_to_end(h, spawn, ok_samples):
    lat = [(s["end"] - s["start"]) / 1000.0 for s in ok_samples]
    return {
        "setup_s": h["first_timed_ms"] / 1000.0 - spawn,
        "wall_s": stats.median(stats.pass_walls(h["samples"])),
        "op_p50_s": stats.op_median(ok_samples),
        "peak_rss_mb": h["peak_rss_kb"] / 1024.0,
    }


def op_tail(ok_samples):
    """op_tail_s as a summary line: the highest percentile with ten samples
    beyond it, or n/a when the run took too few samples for one."""
    lat = [(s["end"] - s["start"]) / 1000.0 for s in ok_samples]
    if len(lat) <= stats.TAIL_BEYOND:
        return (f"  op_tail_s             n/a ({len(lat)} op samples; a tail needs more "
                f"than {stats.TAIL_BEYOND})")
    p = stats.tail_percentile(len(lat))
    return f"  op_tail_s    {stats.nearest_rank(lat, p):12.4f} s (p{p} of {len(lat)} op samples)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    classes = build()
    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}")
    manifest = gen.write(data, a.seed, wl.scale)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    spawn, h = run_jvm(classes, wl, data, run_dir, a.seconds, a.trace, cores)

    verdicts = oracle.check(wl.ops, data, os.path.join(run_dir, "verify"),
                            h["oracle_sql"], h["verify_errors"])
    bad = {op: why for op, why in verdicts.items() if why}
    attempted, failed = stats.count_failures(h["samples"], bad)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {len(wl.ops)} ops, "
          f"{len(h['samples'])} timed op runs, {cores} cores, input {manifest['generator']} "
          f"{manifest['rows']}")
    print(f"  failed_frac  {failed / attempted:12.4f} ({failed} of {attempted} op runs)")
    for op, why in sorted(bad.items()):
        print(f"  FAILED {op}: {why}")
    for s in h["samples"]:
        if s.get("error"):
            print(f"  THREW {s['op']} (pass {s['pass']}): {s['error']}")

    if a.trace:
        metrics = layers.per_layer(h)
        drift = layers.untraced_drift(h)
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "input": manifest,
                       "untraced_drift": drift,
                       "metrics": {k: {"value": v, "unit": u, "should_move": PREDICTIONS[k]}
                                   for k, (v, u) in metrics.items()},
                       "spans": layers.spans(h)}, f)
        for name, (v, unit) in metrics.items():
            print(f"  {name:26s} {v:16.4f} {unit:9s} should move: {PREDICTIONS[name]}")
        overhead = metrics["trace.overhead_frac"][0]
        print(f"  trace.overhead_frac is {'' if abs(overhead) > abs(drift) else 'un'}resolved: "
              f"the untraced passes of a round differ by {drift:+.4f}")
    else:
        ok = [s for s in h["samples"] if not s.get("error") and s["op"] not in bad]
        if not ok:
            fail("no op succeeded; nothing to time")
        e2e = end_to_end(h, spawn, ok)
        for name, unit in END_TO_END.items():
            print(f"  {name:12s} {e2e[name]:12.4f} {unit}")
        # too few samples for a real tail: printed, not in the metric line
        print(op_tail(ok))
        walls = stats.pass_walls(h["samples"])
        print("  timed passes " + ", ".join(f"{w:.2f} s" for w in walls)
              + f" (last / first - 1 = {walls[-1] / walls[0] - 1:+.3f})")
        verify_s = sum(h["verify_s"].values())
        warm_s = (h["first_timed_ms"] - h["session_ready_ms"]) / 1000.0 - verify_s
        print(f"  setup_s = session start {h['session_ready_ms'] / 1000.0 - spawn:.1f} s + "
              "verify pass " + ", ".join(f"{op.split('_')[0]} {t:.1f} s"
                                         for op, t in h["verify_s"].items())
              + f" + warm pass {warm_s:.1f} s")
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    for sub in ("tmp", "verify", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(stats.result_line(not bad and failed == 0, attempted, failed, metrics))


if __name__ == "__main__":
    main()
