"""Turns the JVM's raw run record into the benchmark's metrics.

Pure functions over plain data, so the self-tests in test_metrics.py can
drive them without Spark.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

WORKLOADS = ("etl_api", "llm_release", "graph_iter")

# Library layers the benchmark calls into; `spark` (engine execution) is
# seen through the listener instead.
CALL_LAYERS = ("io.sources", "io.sinks", "api", "ops", "ext.dedup",
               "ext.textops", "ext.bpe", "ext.graph", "ckpt")

END_TO_END = [
    ("op_p50_s", "s", "lower"),
    ("units_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

PER_LAYER = (
    [(f"{l}.{m}", u, b) for l in CALL_LAYERS for (m, u, b) in (
        ("calls", "count/op", "lower"),
        ("build_frac", "ratio", "lower"),
        ("eager_jobs", "count/op", "lower"),
        ("failed", "count", "lower"))]
    + [
        ("spark.driver_gap_s", "s/op", "lower"),
        ("spark.outside_stage_frac", "ratio", "lower"),
        ("spark.in_task_frac", "ratio", "higher"),
        ("spark.jobs", "count/op", "lower"),
        ("spark.stages", "count/op", "lower"),
        ("spark.task_run_s", "s/op", "lower"),
        ("spark.task_cpu_s", "s/op", "lower"),
        ("spark.gc_frac", "ratio", "lower"),
        ("spark.shuffle_read_bytes", "B/op", "lower"),
        ("spark.shuffle_write_bytes", "B/op", "lower"),
        ("spark.input_bytes", "B/op", "lower"),
        ("spark.output_bytes", "B/op", "lower"),
        ("spark.spill_bytes", "B/op", "lower"),
        ("spark.failed_tasks", "count", "lower"),
        ("spark.slot_idle_frac", "ratio", "lower"),
        ("ckpt.pinned_peak_bytes", "B", "lower"),
        ("ext.dedup.verified_per_candidate", "ratio", "higher"),
        ("setup.sinks_frac", "ratio", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ])

TAIL_LADDER = (90.0, 95.0, 99.0, 99.9)


def tail_percentile(values):
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it, as (percentile, nearest-rank value); None when the sample
    is too small for even the first rung."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            best = p
    if best is None:
        return None
    xs = sorted(values)
    return best, xs[max(0, math.ceil(best / 100.0 * n) - 1)]


def count_failures(ops, oracle_failed=()):
    """(attempted, failed): an op fails when it raised, its output check
    failed, or the DuckDB replay of its variant disagreed."""
    bad = set(oracle_failed)
    failed = sum(1 for o in ops if o["error"] is not None or o["label"] in bad)
    return len(ops), failed


def end_to_end(rec, oracle_failed=()):
    ops = rec["window"]["ops"]
    bad = set(oracle_failed)
    ok = [o for o in ops if o["error"] is None and o["label"] not in bad]
    lat = [o["latency_s"] for o in ops]
    return {
        "op_p50_s": statistics.median(lat),
        "units_per_s": sum(o["units"] for o in ok) / sum(lat),
        # repetition 1 also holds JVM start and class loading
        "setup_s": statistics.median(rec["setup_s"][1:]),
        "peak_rss_mb": rec["window"]["peak_rss_mb"],
    }


def _union(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part covered by its child spans (ns)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = _union([(c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], [])],
                          s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - cover
    return out


def tracing_overhead(ops):
    """Median over op labels of traced / untraced median latency, minus 1.
    Labels pair on their template name (the part before ':')."""
    by = {}
    for o in ops:
        by.setdefault(o["label"].split(":")[0], ([], []))[0 if o["traced"] else 1].append(o["latency_s"])
    ratios = [statistics.median(t) / statistics.median(u) for t, u in by.values() if t and u]
    return statistics.median(ratios) - 1 if ratios else 0.0


def per_layer(rec):
    ops = [o for o in rec["window"]["ops"] if o["traced"]]
    n = max(len(ops), 1)
    op_ids = {o["k"] for o in ops}
    op_ns = sum(o["latency_s"] for o in ops) * 1e9
    spans = [s for s in rec["spans"] if s["op"] in op_ids]
    by_id = {s["id"]: s for s in spans}
    selft = self_times(spans)
    stages = {s["id"]: s for s in rec["stages"]}

    def span_of(group):
        try:
            op, sid = group[2:].split("/")
            return by_id.get(int(sid)) if int(op) in op_ids else None
        except ValueError:
            return None

    jobs = [(j, span_of(j["group"])) for j in rec["jobs"]]
    jobs = [(j, s) for j, s in jobs if s is not None]
    ran = {sid for j, _ in jobs for sid in j["stages"] if stages.get(sid, {}).get("submit_ms", 0) > 0}
    st = [stages[i] for i in ran]
    cpus = rec["cpus"]

    m = {}
    for layer in CALL_LAYERS:
        ls = [s for s in spans if s["layer"] == layer]
        ns = sum(selft[s["id"]] for s in ls)
        m[f"{layer}.calls"] = len(ls) / n
        m[f"{layer}.build_frac"] = ns / op_ns
        m[f"{layer}.eager_jobs"] = sum(1 for _, s in jobs if s["layer"] == layer) / n
        m[f"{layer}.failed"] = sum(1 for s in ls if s["failed"])

    # action wall time with no stage of the op running
    gap_ns = 0.0
    for s in spans:
        if s["layer"] != "spark":
            continue
        iv = [(stages[i]["submit_ms"] * 1e6, stages[i]["done_ms"] * 1e6)
              for j, js in jobs if js["id"] == s["id"] for i in j["stages"] if i in ran]
        gap_ns += (s["end_ns"] - s["start_ns"]) - _union(iv, s["start_ns"], s["end_ns"])
    # op wall time with no stage of any of the op's jobs running
    outside_ns = 0.0
    for o in ops:
        lo, hi = o["start_ns"], o["start_ns"] + o["latency_s"] * 1e9
        iv = [(stages[i]["submit_ms"] * 1e6, stages[i]["done_ms"] * 1e6)
              for j, js in jobs if js["op"] == o["k"] for i in j["stages"] if i in ran]
        outside_ns += (hi - lo) - _union(iv, lo, hi)
    run_s = sum(x["run_ms"] for x in st) / 1e3
    ex = rec.get("extras", {})
    setup = rec.get("setup_spans", [])
    setup_self = self_times(setup)
    setup_ns = rec["setup_s"][-1] * 1e9
    m.update({
        "spark.driver_gap_s": gap_ns / 1e9 / n,
        "spark.outside_stage_frac": outside_ns / op_ns,
        "spark.in_task_frac": run_s / cpus / (op_ns / 1e9),
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(ran) / n,
        "spark.task_run_s": run_s / n,
        "spark.task_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9 / n,
        "spark.gc_frac": sum(x["gc_ms"] for x in st) / max(sum(x["run_ms"] for x in st), 1),
        "spark.shuffle_read_bytes": sum(x["shuffle_read"] for x in st) / n,
        "spark.shuffle_write_bytes": sum(x["shuffle_write"] for x in st) / n,
        "spark.input_bytes": sum(x["input"] for x in st) / n,
        "spark.output_bytes": sum(x["output"] for x in st) / n,
        "spark.spill_bytes": sum(x["spill"] for x in st) / n,
        "spark.failed_tasks": sum(x["failed_tasks"] for x in st),
        "spark.slot_idle_frac": 1 - sum(x["busy_ms"] for x in st) / 1e3 / (op_ns / 1e9 * cpus),
        "ckpt.pinned_peak_bytes": rec["pinned_peak_bytes"],
        "ext.dedup.verified_per_candidate":
            ex.get("verified_pairs", 0) / ex["candidate_pairs"] if ex.get("candidate_pairs") else 0.0,
        "setup.sinks_frac":
            sum(setup_self[s["id"]] for s in setup if s["layer"] == "io.sinks") / setup_ns,
        "trace.overhead_frac": tracing_overhead(rec["window"]["ops"]),
    })
    return m


def result(rec, trace, oracle_failed=()):
    """The benchmark's last stdout line, as a dict."""
    attempted, failed = count_failures(rec["window"]["ops"], oracle_failed)
    if trace:
        values, spec = per_layer(rec), PER_LAYER
    else:
        values, spec = end_to_end(rec, oracle_failed), END_TO_END
    metrics = {}
    for name, unit, _ in spec:
        metrics[name] = {"value": values[name], "unit": unit}
    check_names(metrics)
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def check_names(metrics):
    for name, v in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(v["unit"]):
            raise ValueError(f"bad metric name or unit: {name} [{v['unit']}]")
        if not isinstance(v["value"], (int, float)) or isinstance(v["value"], bool) \
                or not math.isfinite(v["value"]):
            raise ValueError(f"metric {name} is not a finite number: {v['value']!r}")
