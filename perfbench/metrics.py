"""Metric math for the benchmark: from the raw run record the JVM writes
to the named end-to-end and per-layer metrics `run.py` prints.

Everything here is pure (no I/O beyond the record helpers) so the tests
in `perfbench/tests` can pin it down.
"""
import json
import os
import statistics

WORKLOADS = ("clearvue_job", "iterative_loops")

# The memo build's lazy prefixes, in chain order, then the pin itself.
# Each entry is cumulative: it recomputes everything before it, so a
# stage's own share is its difference from the previous entry.
PREFIX_CHAIN = ("sources.read", "queries.merged", "clean.pipeline",
                "fincal.calendar", "metrics.derive", "std.memo_build")

SPANS = {
    "clearvue_job": PREFIX_CHAIN + ("queries.bi", "sinks.jsonl",
                                    "sinks.csv", "sinks.xlsx"),
    "iterative_loops": ("ext.graph_pagerank", "ext.graph_betweenness",
                        "ext.kmeans_elbow"),
}

# per-span counters: (suffix, unit, record field or None when derived)
SPAN_COUNTERS = (
    ("s", "s", "wall_s"),
    ("jobs", "count", "jobs"),
    ("task_cpu_s", "s", "task_cpu_s"),
    ("shuffle_write_mb", "MB", "shuffle_write_mb"),
    ("spill_mb", "MB", "spill_mb"),
    ("core_util", "ratio", None),
)
# counters that are cumulative along PREFIX_CHAIN
CHAIN_FIELDS = ("wall_s", "jobs", "task_s", "task_cpu_s", "shuffle_write_mb",
                "spill_mb")

EXTRA_LAYER = (
    # (name, unit, span, record field)
    ("sources.read.input_rows", "count", "sources.read", "input_rows"),
    ("sources.read.input_mb", "MB", "sources.read", "input_mb"),
    ("queries.merged.exchanges", "count", "queries.merged", "exchanges"),
    ("queries.bi.exchanges", "count", "queries.bi", "exchanges"),
    ("queries.bi.plan_s", "s", "queries.bi", "plan_s"),
    ("ext.graph_pagerank.exchanges", "count", "ext.graph_pagerank", "exchanges"),
    ("ext.graph_betweenness.exchanges", "count", "ext.graph_betweenness",
     "exchanges"),
    ("sinks.jsonl.output_mb", "MB", "sinks.jsonl", "output_mb"),
    ("sinks.csv.output_mb", "MB", "sinks.csv", "output_mb"),
    ("sinks.xlsx.output_mb", "MB", "sinks.xlsx", "output_mb"),
    ("ext.kmeans_elbow.gc_s", "s", "ext.kmeans_elbow", "gc_s"),
)

RUN_LAYER = (
    ("std.memo.hit_ratio", "ratio"),
    ("std.memo.lookups", "count"),
    ("std.pins_peak", "count"),
    ("std.storage_mb", "MB"),
    ("clearvue_job.prefix_negative_s", "s"),
    ("clearvue_job.other_s", "s"),
    ("iterative_loops.other_s", "s"),
    ("trace.overhead_s", "s"),
    ("export_mb", "MB"),
    ("fail_ratio", "ratio"),
)

END_TO_END = (
    ("setup_s", "s"),
    ("iter_s.p50", "s"),
    ("cpu_s.p50", "s"),
    ("peak_storage_mb", "MB"),
)


def per_layer_catalogue():
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = []
    for wl in WORKLOADS:
        for span in SPANS[wl]:
            out += [(f"{span}.{suffix}", unit)
                    for suffix, unit, _ in SPAN_COUNTERS]
    out += [(n, u) for n, u, _, _ in EXTRA_LAYER]
    out += list(RUN_LAYER)
    return out


def median_n(values):
    """(median, sample count); (None, 0) for no samples."""
    xs = [v for v in values if v is not None]
    if not xs:
        return None, 0
    return statistics.median(xs), len(xs)


def ratio(num, den):
    """A ratio with its base: {"value": num/den, "base": den}; the value
    is None when the base is 0, never a division error."""
    return {"value": (num / den) if den else None, "base": den}


def prefix_self(cumulative):
    """Self values from cumulative prefix values.

    `cumulative` is [(name, value), ...] in chain order, each value
    including everything before it. Returns ({name: self}, negative),
    where a negative difference (noise: a later prefix ran faster than
    an earlier one) is clamped to 0 and its magnitude summed into
    `negative`, so it is reported instead of hidden.
    """
    selfs, negative, prev = {}, 0.0, 0.0
    for name, value in cumulative:
        d = value - prev
        if d < 0:
            negative += -d
            d = 0.0
        selfs[name] = d
        prev = value
    return selfs, negative


def span_self(spans, cores):
    """Per-span self values for one traced iteration's spans.

    Returns ({span: {field: value}}, negative_wall_s). Chain spans get
    differences of consecutive prefixes; other spans keep their own
    values. core_util = task time / (self wall x cores).
    """
    by_name = {s["name"]: s for s in spans}
    out = {n: dict(s) for n, s in by_name.items()}
    negative = 0.0
    chain = [n for n in PREFIX_CHAIN if n in by_name]
    if chain:
        for field in CHAIN_FIELDS:
            selfs, neg = prefix_self(
                [(n, float(by_name[n].get(field, 0.0))) for n in chain])
            for n in chain:
                out[n][field] = selfs[n]
            if field == "wall_s":
                negative = neg
    for vals in out.values():
        wall = vals.get("wall_s", 0.0)
        vals["core_util"] = (vals.get("task_s", 0.0) / (wall * cores)
                             if wall > 0 and cores else 0.0)
    return out, negative


def summarize(record, trace):
    """The metrics for one run: {name: (value, unit, samples)}.

    trace=False: the end-to-end metrics, from the untraced iterations.
    trace=True: every per-layer metric; those of spans the workload does
    not run read 0.
    """
    its = record["iterations"]
    plain = [i for i in its if not i["traced"]]
    traced = [i for i in its if i["traced"]]
    if not trace:
        out = {}
        v, n = median_n(record["setup_s"])
        out["setup_s"] = (v, "s", n)
        for name, field, unit in (("iter_s.p50", "wall_s", "s"),
                                  ("cpu_s.p50", "cpu_s", "s"),
                                  ("peak_storage_mb", "peak_storage_mb",
                                   "MB")):
            v, n = median_n([i[field] for i in plain])
            out[name] = (v, unit, n)
        return out

    cores = int(record["provenance"]["cores"])
    workload = record["provenance"]["workload"]
    per_iter, negatives = [], []
    for i in traced:
        selfs, neg = span_self(i["spans"], cores)
        per_iter.append(selfs)
        negatives.append(neg)

    def span_median(span, field):
        v, n = median_n([s[span].get(field, 0.0) for s in per_iter
                         if span in s])
        return (v if v is not None else 0.0), n

    out = {}
    for wl in WORKLOADS:
        for span in SPANS[wl]:
            for suffix, unit, field in SPAN_COUNTERS:
                v, n = span_median(span, field or suffix)
                out[f"{span}.{suffix}"] = (v, unit, n)
    for name, unit, span, field in EXTRA_LAYER:
        v, n = span_median(span, field)
        out[name] = (v, unit, n)

    hits = sum(i["memo_hits"] for i in traced)
    lookups = hits + sum(i["memo_builds"] for i in traced)
    r = ratio(hits, lookups)
    out["std.memo.hit_ratio"] = (r["value"] or 0.0, "ratio", len(traced))
    v, n = median_n([i["memo_hits"] + i["memo_builds"] for i in traced])
    out["std.memo.lookups"] = (v or 0, "count", n)
    v, n = median_n([i["pins_peak"] for i in traced])
    out["std.pins_peak"] = (v or 0, "count", n)
    v, n = median_n([i["peak_storage_mb"] for i in traced])
    out["std.storage_mb"] = (v or 0.0, "MB", n)

    v, n = median_n(negatives)
    out["clearvue_job.prefix_negative_s"] = (v or 0.0, "s", n)
    untraced_p50, _ = median_n([i["wall_s"] for i in plain])
    traced_p50, _ = median_n([i["wall_s"] for i in traced])
    for wl in WORKLOADS:
        other = 0.0
        if wl == workload and untraced_p50 is not None:
            sums = [sum(s[span]["wall_s"] for span in SPANS[wl] if span in s)
                    for s in per_iter]
            other = untraced_p50 - (median_n(sums)[0] or 0.0)
        out[f"{wl}.other_s"] = (other, "s", len(per_iter))
    overhead = (traced_p50 - untraced_p50
                if None not in (traced_p50, untraced_p50) else 0.0)
    out["trace.overhead_s"] = (overhead, "s", len(traced))
    v, n = median_n([i["export_mb"] for i in traced])
    out["export_mb"] = (v or 0.0, "MB", n)
    r = ratio(record["failed"], record["attempted"])
    out["fail_ratio"] = (r["value"] or 0.0, "ratio", record["attempted"])
    return out


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: {"correct", "attempted", "failed", "metrics"}."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()}})


def dump_record(record, path):
    """Write the run record; raises on failure (the caller exits non-zero)."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def load_record(path):
    with open(path) as f:
        return json.load(f)
