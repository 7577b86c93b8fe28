"""Arithmetic of the selector benchmark: percentiles, interval unions, span
self time, and the end-to-end and per-layer metrics derived from one run's
raw record (written by graft.selbench.Main)."""
import statistics

# Gated end-to-end metrics. fit_tail_s and error_rate are reported beside
# them but not gated: with about ten fits per run the tail rule yields the
# maximum or a percentile below the median, and error_rate is 0 in a correct
# run, so neither has a median a relative bound can hold.
END_TO_END = {
    "fit_p50_s": "s",
    "fits_per_s": "1/s",
    "pipeline_p50_s": "s",
    "transform_rows_per_s": "rows/s",
    "setup_s": "s",
}

# Layers in pipeline order, named after the modules.
LAYERS = [
    "io.LibSvm", "ml.FrequencyDiscretizer", "core.Columnar", "core.Histograms",
    "core.InfoTheory", "core.InfoThCriterion", "ml.InfoThSelector",
    "ml.InfoThSelectorModel", "bench",
]
# The traced fit runs the same work the replay splits into layers, so layer
# shares are taken over the operation without it.
FIT = "ml.InfoThSelector"

PER_LAYER = {
    "disc.fit_s": "s", "disc.transform_s": "s", "disc.jobs": "count",
    "disc.sample_rows": "count",
    "columnar.transpose_s": "s", "columnar.jobs": "count",
    "columnar.tasks": "count", "columnar.shuffle_write_bytes": "bytes",
    "columnar.cached_bytes": "bytes", "columnar.records": "count",
    "hist.relevance_s": "s", "hist.round_p50_s": "s", "hist.rounds": "count",
    "hist.shuffle_write_bytes_per_round": "bytes",
    "hist.result_bytes_per_round": "bytes",
    "hist.executor_cpu_s_per_round": "s", "hist.task_max_over_p50": "ratio",
    "infotheory.score_s": "s", "infotheory.tables_per_round": "count",
    "criterion.fold_s": "s", "criterion.candidates": "count",
    "fit.jobs": "count", "fit.tasks": "count", "fit.driver_only_s": "s",
    "fit.executor_run_s": "s", "fit.traced_p50_s": "s",
    "model.transform_s": "s", "model.gather_rows": "count",
    "libsvm.read_s": "s", "libsvm.input_bytes": "bytes",
}
PER_LAYER.update({f"self_share.{layer}": "ratio" for layer in LAYERS if layer != FIT})


COUNTS = ["jobs", "tasks", "shuffle_write_bytes", "result_bytes", "input_bytes"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples, beyond). With ten samples or fewer
    no percentile qualifies, and the maximum is returned with beyond = 0."""
    s = sorted(xs)
    n = len(s)
    if n > 10:
        rank = n - 10
        return s[rank - 1], 100.0 * rank / n, n, 10
    return s[-1], 100.0, n, 0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_time(span, children):
    """Span duration minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - union_length(clipped(children, lo, hi))


def driver_only(span, job_intervals):
    """Wall time of a span minus the union of the job intervals inside it."""
    return self_time(span, job_intervals)


def end_to_end(raw):
    ops = [o for o in raw["ops"] if o["error"] is None]
    fits = [o["fit_s"] for o in ops]
    value, pct, n, beyond = tail(fits) if fits else (0.0, 0.0, 0, 0)
    setup = raw["setup"]
    reps = [r["generate_s"] + r["reference_s"] for r in setup["reps"]]
    metrics = {
        "fit_p50_s": median(fits),
        "fit_tail_s": value,
        "fits_per_s": len(ops) / raw["loop_s"],
        "pipeline_p50_s": median([o["pipeline_s"] for o in ops]),
        "transform_rows_per_s": median([o["rows"] / o["transform_s"] for o in ops]),
        "setup_s": setup["session_s"] + median(reps) + setup["warmup_s"],
    }
    notes = {"fit_tail": f"p{pct:.1f} of {n} fits, {beyond} beyond",
             "setup_reps_s": [round(r, 3) for r in reps]}
    return metrics, notes


class Trace:
    """Index over one traced run: spans, their jobs and the jobs' stages."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = {}
        for j in trace["jobs"]:
            self.jobs.setdefault(j["span"], []).append(j)
        self.stages = {}
        for st in trace["stages"]:
            self.stages.setdefault(st["job"], []).append(st)

    @staticmethod
    def interval(s):
        return (s["start_ms"], s["end_ms"])

    def duration_s(self, s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def self_s(self, s):
        kids = [self.interval(c) for c in self.children.get(s["id"], [])]
        return self_time(self.interval(s), kids) / 1e3

    def span_jobs(self, s):
        return self.jobs.get(s["id"], [])

    def span_stages(self, s):
        return [st for j in self.span_jobs(s) for st in self.stages.get(j["id"], [])]

    def stage_sum(self, s, key):
        return sum(st[key] for st in self.span_stages(s))

    def counts(self, s):
        c = {k: self.stage_sum(s, k) for k in COUNTS if k != "jobs"}
        c["jobs"] = len(self.span_jobs(s))
        return c

    def descendants(self, s):
        out = []
        for c in self.children.get(s["id"], []):
            out.append(c)
            out.extend(self.descendants(c))
        return out

    def ops(self):
        return [s for s in self.spans if s["layer"] == "bench" and s["phase"] == "op"]


def task_skew(stages):
    """max / p50 of task run time on the stage that ran longest."""
    runs = [st for st in stages if st["task_run_ms"]]
    if not runs:
        return None
    st = max(runs, key=lambda x: x["run_ms"])
    p50 = max(statistics.median(st["task_run_ms"]), 1)
    return max(st["task_run_ms"]) / p50


def _per_op(tr, op):
    spans = tr.descendants(op)

    def of(layer, phase=None):
        return [s for s in spans if s["layer"] == layer and (phase is None or s["phase"] == phase)]

    def attr(name):
        vals = [s["attrs"][name] for s in spans if name in s["attrs"]]
        return vals[0] if vals else 0

    m = {}
    disc = of("ml.FrequencyDiscretizer")
    m["disc.fit_s"] = sum(tr.duration_s(s) for s in of("ml.FrequencyDiscretizer", "fit"))
    m["disc.transform_s"] = sum(tr.duration_s(s) for s in of("ml.FrequencyDiscretizer", "transform"))
    m["disc.jobs"] = sum(len(tr.span_jobs(s)) for s in disc)
    m["disc.sample_rows"] = attr("sample_rows")

    col = of("core.Columnar")[0]
    c = tr.counts(col)
    m["columnar.transpose_s"] = tr.duration_s(col)
    m["columnar.jobs"] = c["jobs"]
    m["columnar.tasks"] = c["tasks"]
    m["columnar.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    m["columnar.cached_bytes"] = attr("cached_bytes")
    m["columnar.records"] = attr("records")

    rounds = of("core.Histograms", "round")
    m["hist.relevance_s"] = tr.duration_s(of("core.Histograms", "relevance")[0])
    m["hist.rounds"] = len(rounds)
    if rounds:
        per = [tr.counts(s) for s in rounds]
        m["hist.round_p50_s"] = median([tr.duration_s(s) for s in rounds])
        m["hist.shuffle_write_bytes_per_round"] = median([p["shuffle_write_bytes"] for p in per])
        m["hist.result_bytes_per_round"] = median([p["result_bytes"] for p in per])
        m["hist.executor_cpu_s_per_round"] = median(
            [tr.stage_sum(s, "cpu_ns") / 1e9 for s in rounds])
        skews = [k for k in (task_skew(tr.span_stages(s)) for s in rounds) if k is not None]
        m["hist.task_max_over_p50"] = median(skews)

    scores = of("core.InfoTheory")
    m["infotheory.score_s"] = median([tr.duration_s(s) for s in scores])
    m["infotheory.tables_per_round"] = median([s["attrs"]["tables"] for s in scores])
    folds = of("core.InfoThCriterion", "fold")
    if folds:
        m["criterion.fold_s"] = median([tr.duration_s(s) for s in folds])
    m["criterion.candidates"] = attr("candidates")

    fit = of(FIT)[0]
    fc = tr.counts(fit)
    jobs = [(j["start_ms"], j["end_ms"]) for j in tr.span_jobs(fit)]
    m["fit.jobs"] = fc["jobs"]
    m["fit.tasks"] = fc["tasks"]
    m["fit.driver_only_s"] = driver_only(tr.interval(fit), jobs) / 1e3
    m["fit.executor_run_s"] = tr.stage_sum(fit, "run_ms") / 1e3
    m["fit.traced_p50_s"] = tr.duration_s(fit)

    model = of("ml.InfoThSelectorModel")[0]
    m["model.transform_s"] = tr.duration_s(model)
    m["model.gather_rows"] = model["attrs"].get("gather_rows", 0)

    lib = of("io.LibSvm")
    m["libsvm.read_s"] = sum(tr.duration_s(s) for s in lib)
    m["libsvm.input_bytes"] = sum(tr.stage_sum(s, "input_bytes") for s in lib)

    self_by_layer = {layer: 0.0 for layer in LAYERS}
    counts_by_layer = {layer: dict.fromkeys(COUNTS, 0) for layer in LAYERS}
    for s in [op] + spans:
        self_by_layer[s["layer"]] += tr.self_s(s)
        for k, v in tr.counts(s).items():
            counts_by_layer[s["layer"]][k] += v
    total = sum(v for k, v in self_by_layer.items() if k != FIT)
    for layer in LAYERS:
        if layer != FIT:
            m[f"self_share.{layer}"] = self_by_layer[layer] / total
    return m, self_by_layer, counts_by_layer


def per_layer(raw):
    """Per-layer metrics and table rows, each the median over the traced
    operations that passed their checks."""
    tr = Trace(raw["trace"])
    ok = {o["op"] for o in raw["ops"] if o["error"] is None}
    per_op = [_per_op(tr, s) for s in tr.ops() if s["op"] in ok]
    metrics = {name: median([m[name] for m, _, _ in per_op if name in m])
               for name in PER_LAYER}
    table = []
    for layer in LAYERS:
        if not any(sl[layer] > 0 for _, sl, _ in per_op):
            continue
        row = {"layer": layer,
               "self_s": median([sl[layer] for _, sl, _ in per_op]),
               "share": metrics.get(f"self_share.{layer}")}
        for k in COUNTS:
            row[k] = median([c[layer][k] for _, _, c in per_op])
        table.append(row)
    return metrics, table
