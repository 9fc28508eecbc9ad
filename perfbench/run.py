"""Subgraph build and update benchmark.

    python3 perfbench/run.py --workload build-wide --seed 1 --seconds 40 --trace 0

Builds the engine and the benchmark's JVM side from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs them in a fresh JVM, checks every output, and
prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See perfbench/NOTES.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

END_TO_END = [("setup_s", "s"), ("build_s", "s"), ("build_rec_per_s", "1/s"),
              ("build_cpu_s", "s"), ("peak_rss_mb", "MB")]
LAYERS = ["ingest", "normalise", "identity.cc", "identity.groups", "identity.assign",
          "merge", "index", "materialise", "sinks", "incremental.update",
          "incremental.refresh_kv", "kv.lookup", "query.search"]
LAYER_METRICS = [("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
                 ("rows_out", "count")]
PER_LAYER = [("%s.%s" % (l, m), u) for l in LAYERS for m, u in LAYER_METRICS] + [
    ("run.steal_frac", "ratio"), ("run.gc_s", "s"), ("trace.overhead_s", "s")]

# JDK 17 module opens Spark needs outside spark-submit (the list the engine's
# build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
# input generations per run; setup_s counts their median
SETUP_REPS = 3
# the traced run's warm-up build: build-wide's shape (all four adapter
# formats, two CC rounds) at this share of its size, for every workload
WARM_WORKLOAD = "build-wide"
WARM_SCALE = 0.05
# a run must end within 180 s once the build is cached
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the run's length: one build in a fresh JVM, which fills it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the tests use small scales)")
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit("build failed: %s" % e)
    deadline = time.time() + JVM_TIMEOUT_S

    work = os.path.join(build.BUILD_DIR, "work-%s" % a.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen_s = []
        # a traced run reports no setup_s, so it generates once
        for _ in range(1 if a.trace else SETUP_REPS):
            t = time.time()
            shutil.rmtree(data, ignore_errors=True)
            gen.generate(a.workload, a.seed, data, a.scale)
            gen_s.append(time.time() - t)
        warm = "-"
        if a.trace:
            warm = os.path.join(work, "warm")
            gen.generate(WARM_WORKLOAD, a.seed, warm, a.scale * WARM_SCALE)
        # setup_s = the median generation time + JVM start to the timed build
        t0 = time.time() - statistics.median(gen_s)
        res = run_jvm(a.workload, "trace" if a.trace else "build", data, warm, work, t0,
                      classes, jars, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = PER_LAYER if a.trace else END_TO_END
    got = res["metrics"]
    missing = [n for n, _ in wanted if n not in got]
    if missing:
        sys.exit("the benchmark JVM did not report %s" % ", ".join(missing))
    print(json.dumps({"failures": res["failures"],
                      "extra": {k: v for k, v in got.items() if k not in dict(wanted)}}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": got[n][0], "unit": u} for n, u in wanted},
    }))


def run_jvm(workload, mode, data, warm, work, t0, classes, jars, deadline):
    cores = max(1, min(4, os.cpu_count() or 1))
    run_dir = os.path.join(work, mode)
    os.makedirs(run_dir)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.SubgraphBench", mode, data, warm, run_dir, str(cores),
            str(int(t0 * 1000))])
    log = os.path.join(build.BUILD_DIR, "%s-%s.log" % (workload, mode))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=run_dir)
        try:
            stdout, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("the benchmark JVM timed out, log in %s" % log)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        sys.exit("the benchmark JVM failed (exit %d), log in %s" % (p.returncode, log))
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


if __name__ == "__main__":
    main()
