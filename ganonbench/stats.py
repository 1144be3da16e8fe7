"""Turns one raw run of the harness into the benchmark's metrics.

End-to-end metrics come from untraced runs; per-layer metrics from traced
runs. Every metric below is reported on every workload: a layer a workload
does not call reports 0 for its shares and counts. Module times are given
as shares of the traced cycle so no time is a constant 0; absolute span
times are in the full result file.
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cycle_s", "s", "lower"),
    ("bound_ratio_max", "ratio", "lower"),
]

# cycle stages, by module: their share of the traced cycle
STAGE_SHARES = [
    ("build", "build.share"),
    ("classify", "classify.share"),
    ("outputs", "classify.outputs_share"),
    ("em", "em.share"),
    ("report", "report.share"),
    ("store.update", "store.update_share"),
    ("store.load", "store.load_share"),
    ("store.classify", "store.classify_share"),
    ("store.gc", "store.gc_share"),
    ("udaf.hll", "udaf.hll_share"),
    ("udaf.cms", "udaf.cms_share"),
    ("udaf.kll", "udaf.kll_share"),
    ("udaf.tdigest", "udaf.tdigest_share"),
]

# per-cycle counts recorded by the harness
CYCLE_COUNTS = [
    ("classify.matches_per_read", "count", "lower"),
    ("classify.multi_frac", "ratio", "lower"),
    ("em.multi_reads", "count", "lower"),
    ("store.groups_rewritten", "count", "lower"),
    ("store.groups_total", "count", "lower"),
    ("store.bytes_written_per_delta_byte", "ratio", "lower"),
    ("store.gc_bytes_freed", "bytes", "higher"),
    ("store.live_bytes", "bytes", "lower"),
]

# samples recorded once or per traced cycle by the harness
LAYER_SAMPLES = [
    ("kernel.shingle_s", "s", "lower"),
    ("kernel.mb_per_core_s", "MB/s", "higher"),
    ("kernel.hashes_per_row", "count", "lower"),
    ("build.hll_rel_err", "ratio", "lower"),
    ("build.fpr_realized", "ratio", "lower"),
    ("build.fpr_planned", "ratio", "lower"),
    ("build.db_bytes", "bytes", "lower"),
    ("build.bits_per_distinct_hash", "bits", "lower"),
    ("udaf.hll_err_ratio", "ratio", "lower"),
    ("udaf.cms_err_ratio", "ratio", "lower"),
    ("udaf.kll_err_ratio", "ratio", "lower"),
    ("udaf.tdigest_err_ratio", "ratio", "lower"),
]

PER_LAYER = (
    [("trace.cycle_s", "s", "lower"),
     ("spark.executor_busy_s", "s", "lower"),
     ("spark.gc_s", "s", "lower"),
     ("spark.tasks", "count", "lower"),
     ("spark.shuffle_read_bytes", "bytes", "lower"),
     ("spark.spill_bytes", "bytes", "lower"),
     ("jvm.retained_heap_mb", "MB", "lower")]
    + [(m, "ratio", "lower") for _, m in STAGE_SHARES]
    + [("build.pass1_frac", "ratio", "lower"),
       ("build.plan_frac", "ratio", "lower"),
       ("build.pass2_frac_derived", "ratio", "lower"),
       ("build.shuffle_bytes", "bytes", "lower"),
       ("build.tasks", "count", "lower"),
       ("classify.probe_frac", "ratio", "lower"),
       ("udaf.shuffle_bytes", "bytes", "lower")]
    + CYCLE_COUNTS + LAYER_SAMPLES
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value): the value with exactly ten samples above it, and
    the share of samples at or below it. None below 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return (100.0 * (i + 1) / n, xs[i])


def ok_cycles(raw):
    """Cycles whose every operation completed and held its invariants; a
    failed cycle never enters a timing statistic."""
    return [c for c in raw["cycles"] if c["ok"]]


def cycle_totals(raw):
    return [sum(c["stages"].values()) for c in ok_cycles(raw)]


def cycle_median(raw):
    """A cycle's time as the sum of each stage's median over the good
    cycles: one stage's outlier in one cycle does not move it."""
    stages = {}
    for c in ok_cycles(raw):
        for k, v in c["stages"].items():
            stages.setdefault(k, []).append(v)
    return sum(median(v) for v in stages.values())


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover (children may overlap each other; the union is taken)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            a = max(c["start_s"], s["start_s"])
            b = min(c["end_s"], s["end_s"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def subtree(spans, root_id):
    ids = {root_id}
    changed = True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                changed = True
    return ids


def measured_spans(spans):
    """Spans of the measured loop and after: the set-up reps and the
    warm-up cycle (with everything under them) are left out."""
    skip = set()
    for s in spans:
        if s["name"] in ("setup", "warmup"):
            skip |= subtree(spans, s["id"])
    return [s for s in spans if s["id"] not in skip]


def end_to_end(raw):
    return {
        "setup_s": median(raw["setup_s"]),
        "cycle_s": cycle_median(raw),
        "bound_ratio_max": max(raw["bounds"].values()) if raw["bounds"] else 0.0,
    }


def per_layer(raw):
    spans = measured_spans(raw["spans"])
    tasks = raw["span_tasks"]
    cycles = ok_cycles(raw)
    totals = cycle_totals(raw)
    m = {"trace.cycle_s": cycle_median(raw),
         "jvm.retained_heap_mb": raw["retained_heap_mb"]}

    # engine totals per cycle span (the cycle and every span under it)
    per_cycle = {"busy": [], "gc": [], "tasks": [], "shuffle": [], "spill": []}
    for s in spans:
        if s["name"] != "cycle":
            continue
        ids = subtree(spans, s["id"])
        t = [tasks[str(i)] for i in ids if str(i) in tasks]
        per_cycle["busy"].append(sum(x["busy_ms"] for x in t) / 1e3)
        per_cycle["tasks"].append(sum(x["tasks"] for x in t))
        per_cycle["shuffle"].append(sum(x["shuffle_read_bytes"] for x in t))
        per_cycle["spill"].append(sum(x["spill_bytes"] for x in t))
        per_cycle["gc"].append(s["gc_s"])
    m["spark.executor_busy_s"] = median(per_cycle["busy"])
    m["spark.gc_s"] = median(per_cycle["gc"])
    m["spark.tasks"] = median(per_cycle["tasks"])
    m["spark.shuffle_read_bytes"] = median(per_cycle["shuffle"])
    m["spark.spill_bytes"] = median(per_cycle["spill"])

    for stage, name in STAGE_SHARES:
        m[name] = median([c["stages"].get(stage, 0.0) / t
                          for c, t in zip(cycles, totals) if t > 0])

    layer = raw["layer"]
    build_s = median([c["stages"]["build"] for c in cycles if "build" in c["stages"]])
    pass1 = median(layer.get("build.pass1.s", []))
    plan = median(layer.get("build.plan.s", []))
    if build_s > 0:
        m["build.pass1_frac"] = pass1 / build_s
        m["build.plan_frac"] = plan / build_s
        m["build.pass2_frac_derived"] = 1.0 - (pass1 + plan) / build_s
    else:
        m["build.pass1_frac"] = m["build.plan_frac"] = m["build.pass2_frac_derived"] = 0.0
    classify_s = median([c["stages"]["classify"] for c in cycles
                         if "classify" in c["stages"]])
    probe = median(layer.get("classify.probe.s", []))
    m["classify.probe_frac"] = probe / classify_s if classify_s > 0 else 0.0

    def span_task_median(pred, key):
        vals = []
        for s in spans:
            if pred(s["name"]):
                t = tasks.get(str(s["id"]))
                vals.append(t[key] if t else 0)
        return median(vals)

    m["build.shuffle_bytes"] = span_task_median(lambda n: n == "build", "shuffle_read_bytes")
    m["build.tasks"] = span_task_median(lambda n: n == "build", "tasks")
    m["udaf.shuffle_bytes"] = median([
        sum(tasks.get(str(s["id"]), {}).get("shuffle_read_bytes", 0)
            for s in spans if s["name"].startswith("udaf.") and s["parent"] == c["id"])
        for c in spans if c["name"] == "cycle"])

    for name, _, _ in CYCLE_COUNTS:
        m[name] = median([c["counts"][name] for c in cycles if name in c["counts"]])
    for name, _, _ in LAYER_SAMPLES:
        m[name] = median(layer.get(name, []))
    return m


def layer_spans(raw):
    """Per span name: sample count, median duration and median self time."""
    spans = raw["spans"]
    selfs = self_times(spans)
    by = {}
    for s in spans:
        d = by.setdefault(s["name"], {"dur": [], "self": []})
        d["dur"].append(s["end_s"] - s["start_s"])
        d["self"].append(selfs[s["id"]])
    return {k: {"n": len(v["dur"]), "median_s": median(v["dur"]),
                "self_median_s": median(v["self"])} for k, v in sorted(by.items())}


def summarize(raw, trace):
    cycles = ok_cycles(raw)
    values = per_layer(raw) if trace else end_to_end(raw)
    metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}
    correct = raw["failed"] == 0 and len(cycles) > 0
    return {"correct": correct, "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}
