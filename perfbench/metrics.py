"""Arithmetic on the harness's raw samples: percentiles with sample
counts, span self time, per-layer counters, recall and the ratios the
benchmark reports. Pure functions over plain data, tested by
test_metrics.py."""
import math
import statistics

import numpy as np

LAYERS = ["sources", "enrich", "filters", "fetch", "images", "etl", "text",
          "dedup", "similarity", "analytics"]
LAYER_STATS = ["calls", "busy_s", "jobs", "tasks", "task_cpu_s",
               "idle_core_s", "shuffle_write_mb", "spill_mb", "failed_tasks"]
LAYER_EXTRAS = [
    "filters.keep_frac", "text.keep_frac", "dedup.keep_frac",
    "fetch.ok_frac", "images.ok_frac",
    "etl.bytes_written_mb", "etl.files_written",
    "similarity.rows_scanned_per_result", "similarity.index_files",
    "similarity.bytes_written_mb",
    "text.persisted_rdds_delta", "dedup.persisted_rdds_delta",
    "similarity.persisted_rdds_delta", "analytics.persisted_rdds_delta",
]
TRACE_EXTRAS = ["tracing_overhead_s", "unattributed_jobs"]
MB = 1 << 20


def per_layer_names():
    return ([f"{layer}.{s}" for layer in LAYERS for s in LAYER_STATS]
            + LAYER_EXTRAS + TRACE_EXTRAS)


def per_layer_unit(name):
    stat = name.split(".", 1)[-1]
    if stat.endswith("_frac"):
        return "ratio"
    if stat.endswith("_mb"):
        return "MB"
    if stat.endswith("_s"):
        return "s"
    if stat == "rows_scanned_per_result":
        return "rows/result"
    return "count"


# ------------------------------------------------------------ samples

def latencies(ops):
    """Op latencies, with a failed op counted as missing every bound."""
    return [o["t1"] - o["t0"] if o["ok"] else math.inf for o in ops]


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it. Returns (value, n, n_beyond),
    n_beyond being the samples strictly after its rank."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1], len(xs), len(xs) - rank


def median(values):
    return statistics.median(values)


def throughput(ops):
    """Input rows of the successful ops per second of all ops' time."""
    busy = sum(o["t1"] - o["t0"] for o in ops)
    return sum(o["rows"] for o in ops if o["ok"]) / busy


def write_amp(written_bytes, input_bytes):
    if input_bytes <= 0:
        raise ValueError("write amplification needs input bytes")
    return written_bytes / input_bytes


def recall_at_k(found, exact, k):
    """Share of the exact top-k ids that the approximate search found."""
    want = list(exact)[:k]
    if not want:
        raise ValueError("recall against an empty exact result")
    return len(set(found) & set(want)) / len(want)


def exact_top_k(ids, vecs, query, k):
    """Exact cosine top-k as `Ann.bruteForceTopK` defines it: cosine
    rounded to 4 decimals, ties broken by the lower id."""
    v = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    cos = np.round(v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q)),
                   4)
    order = np.lexsort((np.asarray(ids), -cos))[:k]
    return [int(ids[i]) for i in order], [float(cos[i]) for i in order]


def ivf_top_k(ids, vecs, cells, cids, centroids, query, k, n_probe):
    """Reference IVF search over a given partition: probe the `n_probe`
    cells whose centroid has the highest cosine with the query (ties by
    the lower cell id), then the exact top-k over the vectors of those
    cells. `cells[i]` is the cell of `ids[i]`."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    cs = c @ q / (np.linalg.norm(c, axis=1) * np.linalg.norm(q))
    probed = np.asarray(cids)[np.lexsort((np.asarray(cids), -cs))[:n_probe]]
    mask = np.isin(np.asarray(cells), probed)
    return exact_top_k(np.asarray(ids)[mask], np.asarray(vecs)[mask], q, k)


# -------------------------------------------------------------- spans

def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> duration minus the time its children cover. Children
    may overlap each other (`Overlap.both` runs two at once); the union
    of their intervals is subtracted, never the sum."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def attribute_jobs(spans, jobs):
    """Split jobs into those attributed to a span (span id -> jobs) and
    the unattributed rest. A job belongs to span N when its group is
    `pb-N` and it started while span N was open (wall-clock ms, which
    both the span and Spark's job event carry)."""
    by_id = {s["id"]: s for s in spans}
    owned, loose = {}, []
    for j in jobs:
        g = j.get("group") or ""
        s = by_id.get(int(g[3:])) if g.startswith("pb-") else None
        if s is not None and s["start_ms"] <= j["start_ms"] <= s["end_ms"]:
            owned.setdefault(s["id"], []).append(j)
        else:
            loose.append(j)
    return owned, loose


def idle_core_s(self_time, cores, jobs):
    """Core-seconds of a span not spent running its tasks: self time x
    cores minus the executor run time of the span's own jobs."""
    return self_time * cores - sum(j["run_s"] for j in jobs)


def layer_of(name):
    return name.split(".", 1)[0]


def layer_stats(spans, jobs, cores):
    """Per-layer counters over the given spans (benchmark-internal
    `bench.*` spans are not a layer)."""
    selfs = self_times(spans)
    owned, _ = attribute_jobs(spans, jobs)
    out = {f"{layer}.{s}": 0.0 for layer in LAYERS for s in LAYER_STATS}
    for s in spans:
        layer = layer_of(s["name"])
        if layer not in LAYERS:
            continue
        js = owned.get(s["id"], [])
        p = f"{layer}."
        out[p + "calls"] += 1
        out[p + "busy_s"] += selfs[s["id"]]
        out[p + "jobs"] += len(js)
        out[p + "tasks"] += sum(j["tasks"] for j in js)
        out[p + "task_cpu_s"] += sum(j["cpu_s"] for j in js)
        out[p + "idle_core_s"] += idle_core_s(selfs[s["id"]], cores, js)
        out[p + "shuffle_write_mb"] += sum(
            j["shuffle_write_bytes"] for j in js) / MB
        out[p + "spill_mb"] += sum(j["spill_bytes"] for j in js) / MB
        out[p + "failed_tasks"] += sum(j["failed_tasks"] for j in js)
    return out


def ratio(num, den):
    return num / den if den else 0.0


def span_sum(spans, name_prefix, attr):
    return sum(s["attrs"].get(attr, 0.0) for s in spans
               if s["name"].startswith(name_prefix))


def tracing_overhead(ops):
    """Mean over op names of (median traced - median untraced latency),
    from the alternating traced/untraced cycles of one traced run. Cycle
    0 is left out: in a workload without warm-up it runs cold."""
    ops = [o for o in ops if o["cycle"] >= 1 and o["ok"]]
    diffs = []
    for name in sorted({o["name"] for o in ops}):
        t = [o["t1"] - o["t0"] for o in ops if o["name"] == name
             and o["traced"]]
        u = [o["t1"] - o["t0"] for o in ops if o["name"] == name
             and not o["traced"]]
        if t and u:
            diffs.append(median(t) - median(u))
    return sum(diffs) / len(diffs) if diffs else 0.0


def in_traced_ops(jobs, ops):
    """Jobs that started inside a traced op's wall-clock window."""
    wins = [(o["t0_ms"], o["t1_ms"]) for o in ops if o["traced"]]
    return [j for j in jobs
            if any(a <= j["start_ms"] <= b for a, b in wins)]
