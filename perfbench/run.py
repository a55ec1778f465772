"""Runs one benchmark workload for one seed and reports its metrics.

    python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (build.py), starts one JVM at
local[nproc] that sets up, runs timed reps and checks the outputs
(perfbench.PerfBench), then prints for each metric its name, unit, n,
median, quartiles and bound, the ops attempted and failed, and as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract-mixed", "extract-containers")
# Spark on JDK 17 outside spark-submit needs these (the same list build.sbt
# passes to forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build.build()
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build.BUILD, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.PerfBench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work", work, "--result", result,
        "--spans", os.path.join(traces, "%s-%d.tsv" % (args.workload, args.seed))]
    # Spark's local dirs come from --work alone, so the run writes nowhere else
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        lines = open(log, errors="replace").read().splitlines()
        notes = [ln for ln in lines if ln.startswith(("[setup]", "[rep]"))]
        checks = [ln for ln in lines if ln.startswith("[check]")]
        print("\n".join(notes + checks[:20]), file=sys.stderr)
        if len(checks) > 20:
            print("[check] ... %d more" % (len(checks) - 20), file=sys.stderr)
        if rc != 0 or not os.path.exists(result):
            print("\n".join(lines[-40:]), file=sys.stderr)
            sys.exit("run: the benchmark JVM failed (%s)" % rc)
        res = json.load(open(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("workload %s  seed %d  cores %d  docs/rep %d  warm-up reps %s  timed reps %d"
          % (args.workload, args.seed, cores, res["docs_per_rep"],
             ["%.2f" % w for w in res["warmup_s"]], res["reps"]))
    if res["makeup"]:
        docs = sum(n for n, _ in res["makeup"].values())
        size = sum(b for _, b in res["makeup"].values())
        print("input make-up: kind, docs, payload chars, share of docs, share of chars")
        for kind, (n, b) in sorted(res["makeup"].items(), key=lambda kv: -kv[1][0]):
            print("  %-10s %7d %12d %6.1f%% %6.1f%%" % (kind, n, b, 100.0 * n / docs, 100.0 * b / size))
    metrics = {}
    print("%-34s %-6s %3s %12s %12s %12s %6s" % ("metric", "unit", "n", "median", "q1", "q3", "bound"))
    for m in spec["end_to_end"]:
        xs = res["e2e"][m["name"]]
        med = statistics.median(xs)
        q1, q3 = quartiles(xs)
        print("%-34s %-6s %3d %12.5g %12.5g %12.5g %6.2f"
              % (m["name"], m["unit"], len(xs), med, q1, q3, m["bound"]))
        if args.trace == 0:
            metrics[m["name"]] = {"value": med, "unit": m["unit"]}
    if args.trace == 1:
        for m in spec["per_layer"]:
            v = res["layers"][m["name"]]
            print("%-34s %-6s %3d %12.5g" % (m["name"], m["unit"], 1, v))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("attempted %d  failed %d" % (res["attempted"], res["failed"]))
    print(json.dumps({"correct": res["attempted"] > 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
