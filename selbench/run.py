#!/usr/bin/env python3
"""Selector benchmark: discretize -> select -> transform on Spark local[nproc].

    python3 selbench/run.py --workload dense-tall --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source (selbench/build.py), then
runs one JVM that generates the workload's inputs from the seed, writes them
at rest, computes the expected outputs with a brute-force oracle, warms up,
and runs operations back to back (closed loop, one client) for --seconds.
Every operation's outputs are checked. With --trace 1 the operations are
traced per layer instead, and the per-layer metrics are reported.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import build
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "selbench")

# Row counts keep one operation near a second on a 4-core host, so a run
# holds enough operations for a median and a tail.
ROWS = {"dense-tall": 50_000, "reference-fits": 8_000, "sparse-libsvm": 4_000}

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()

    try:
        classpath, built = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    budget = (880 if built else 175) - (time.time() - t0)

    data = os.path.join(WORK, "data")
    out_dir = os.path.join(WORK, "out")
    tmp = os.path.join(WORK, "tmp")
    for d in (data, out_dir, tmp):
        os.makedirs(d, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    raw_path = os.path.join(out_dir, tag + ".json")
    log_path = os.path.join(out_dir, tag + ".log")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    # A fixed heap and the throughput collector: with G1 and a growing heap,
    # fit medians of separate runs spread about twice as wide.
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graft.selbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--reps", "1" if a.trace else "3", "--rows", str(ROWS[a.workload]),
            "--data", data, "--out", raw_path]
    with open(log_path, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch
        # files inside the checkout either way.
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(data, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=WORK, env=env)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"benchmark JVM timed out after {budget:.0f} s; log: {log_path}",
                  file=sys.stderr)
            return 1
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"benchmark JVM exited with {code}; log: {log_path}", file=sys.stderr)
        return 1

    with open(raw_path) as f:
        raw = json.load(f)
    ops = raw["ops"]
    failed = [o for o in ops if o["error"] is not None]
    host = raw["host"]
    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
          + ", ".join(f"{k}={v}" for k, v in raw["shape"].items()))
    print(f"# host nproc={host['nproc']} load_start={host['load_start']} "
          f"load_end={host['load_end']} steal={100 * host['steal_share']:.1f}% "
          f"java={host['java']} spark={host['spark']} "
          f"scala={host['scala']}")
    print(f"# operations attempted={len(ops)} failed={len(failed)} "
          f"error_rate={len(failed) / max(len(ops), 1):.4g} loop_s={raw['loop_s']:.3f}")
    for o in failed[:5]:
        print(f"# failed op {o['op']} ({o['criterion']}): {o['error']}")

    if a.trace:
        metrics, table = stats.per_layer(raw)
        units = stats.PER_LAYER
        print("# layer                    self_s   share  jobs  tasks  shuffle_B  result_B  input_B")
        for r in table:
            share = "-" if r["share"] is None else f"{100 * r['share']:.1f}%"
            print(f"# {r['layer']:<24} {r['self_s']:7.3f} {share:>7} {r['jobs']:5g} "
                  f"{r['tasks']:6g} {r['shuffle_write_bytes']:10.0f} "
                  f"{r['result_bytes']:9.0f} {r['input_bytes']:8.0f}")
    else:
        metrics, notes = stats.end_to_end(raw)
        units = stats.END_TO_END
        print(f"# fit_tail_s = {fmt(metrics['fit_tail_s'])} s ({notes['fit_tail']}); "
              f"setup repetitions (s): {notes['setup_reps_s']}")
    for k in units:
        print(f"# {k} = {fmt(metrics[k])} {units[k]}")

    result = {
        "correct": len(ops) > 0 and not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
