"""The repository's benchmark: one workload per call, in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <crawl_grow|frontier_scan> --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py) on first use, runs
the workload at local[nproc] with the engine's own session defaults, checks
its outputs against independent references and prints, as the last line of
standard output, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": v, "unit": u}}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the run is instrumented and the metrics are the per-layer ones.
Everything the run writes stays under the build directory.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
DRIVER_HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these (the launcher's defaults).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.exit(f"perfbench: {msg}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build: {e}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD_DIR, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(build.BUILD_DIR, "traces", tag + ".jsonl")

    cmd = (
        ["java", f"-Xmx{DRIVER_HEAP}", "-Xss8m"]
        + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + [
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out, "--trace-out", trace_out,
        ]
    )
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    try:
        with open(os.path.join(logs, tag + ".log"), "w") as log:
            proc = subprocess.run(cmd, cwd=build.ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            fail(f"workload JVM exited with {proc.returncode}; see {os.path.relpath(log.name, build.ROOT)}")
        with open(out) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        fail(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        # a layer the workload does not call has nothing to report: it reads 0
        v = got.get(m["name"], 0.0 if args.trace else None)
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not a number: {v!r}")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    print(json.dumps({"host": res["host"], "workload": args.workload, "seed": args.seed}))
    for failure in res["failures"]:
        print(f"check failed: {failure}")
    if args.trace:
        print(f"trace: {os.path.relpath(trace_out, build.ROOT)}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
