#!/usr/bin/env python3
"""Writes the traced-run table of every workload to selbench/RESULTS.md.

    python3 selbench/report.py --seed 1 --seconds 12

For each workload it runs the benchmark untraced and traced on the same seed
and reports each layer's self-time share and counts, the dominant layer, and
the tracing overhead as traced over untraced fit_p50_s.
"""
import argparse
import json
import os
import subprocess
import sys

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(run.WORK, "out", f"{workload}-s{seed}-t{trace}.json")) as f:
        return result, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--out", default=os.path.join(HERE, "RESULTS.md"))
    a = ap.parse_args()
    lines = []
    for w in sorted(run.ROWS):
        plain, _ = bench(w, a.seed, a.seconds, 0)
        traced, raw = bench(w, a.seed, a.seconds, 1)
        metrics, table = stats.per_layer(raw)
        host = raw["host"]
        untraced = plain["metrics"]["fit_p50_s"]["value"]
        traced_fit = metrics["fit.traced_p50_s"]
        top = max((r for r in table if r["share"] is not None), key=lambda r: r["share"])
        lines += [
            f"## {w}", "",
            "Shape: " + ", ".join(f"{k}={v}" for k, v in raw["shape"].items()) + ".",
            f"Host: nproc={host['nproc']}, load {host['load_start']} -> {host['load_end']}, "
            f"Java {host['java']}, Spark {host['spark']}, Scala {host['scala']}.",
            f"Operations: untraced {plain['attempted']} attempted, {plain['failed']} failed; "
            f"traced {traced['attempted']} attempted, {traced['failed']} failed "
            "(a traced operation fails when the replayed path differs from fit's).",
            "",
            "| layer | self s/op | share | jobs | tasks | shuffle write B | result B | input B |",
            "|---|---:|---:|---:|---:|---:|---:|---:|",
        ]
        for r in table:
            share = "(same work as the replay)" if r["share"] is None else f"{100 * r['share']:.1f} %"
            lines.append(
                f"| {r['layer']} | {r['self_s']:.3f} | {share} | {r['jobs']:g} | {r['tasks']:g} "
                f"| {r['shuffle_write_bytes']:.0f} | {r['result_bytes']:.0f} | {r['input_bytes']:.0f} |")
        m = metrics
        share = {r["layer"]: r["share"] or 0.0 for r in table}
        lines += [
            "",
            f"Dominant layer by self time: **{top['layer']}** ({100 * top['share']:.1f} %); "
            f"scan side (ml.FrequencyDiscretizer + core.Columnar) "
            f"{100 * (share.get('ml.FrequencyDiscretizer', 0) + share.get('core.Columnar', 0)):.1f} %.",
            f"Layers: discretizer fit {m['disc.fit_s']:.3f} s + transform {m['disc.transform_s']:.3f} s; "
            f"transpose {m['columnar.transpose_s']:.3f} s ({m['columnar.records']:g} feature x block "
            f"records, {m['columnar.cached_bytes']:.0f} B cached); relevance pass "
            f"{m['hist.relevance_s']:.3f} s; {m['hist.rounds']:g} rounds of "
            f"{m['hist.round_p50_s']:.3f} s wall and {m['hist.executor_cpu_s_per_round']:.3f} s "
            f"executor CPU over {host['nproc']} cores, {m['infotheory.tables_per_round']:g} tables "
            f"each, task max/p50 {m['hist.task_max_over_p50']:.2f}; criterion fold "
            f"{1e3 * m['criterion.fold_s']:.2f} ms over {m['criterion.candidates']:g} candidates.",
            f"fit: {m['fit.jobs']:g} jobs ({traced_fit / max(m['fit.jobs'], 1):.3f} s of wall "
            f"per job), {m['fit.tasks']:g} tasks, driver-only {m['fit.driver_only_s']:.3f} s "
            f"of {traced_fit:.3f} s, executor run {m['fit.executor_run_s']:.3f} s.",
            f"Tracing overhead: traced fit_p50_s {traced_fit:.3f} s vs untraced "
            f"{untraced:.3f} s ({100 * (traced_fit / untraced - 1):+.1f} %).",
            "",
        ]
    with open(a.out, "w") as f:
        f.write("# Selector benchmark: traced-run tables\n\n"
                "Generated by `python3 selbench/report.py "
                f"--seed {a.seed} --seconds {a.seconds:g}`. Self time is a span's "
                "duration minus its child spans; shares are of the traced "
                "operation without the traced `InfoThSelector.fit`, whose work "
                "the replay repeats layer by layer. Counts are medians per "
                "operation. `bench` is the operation's own glue plus the "
                "benchmark's untimed counting jobs.\n\n" + "\n".join(lines))
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
