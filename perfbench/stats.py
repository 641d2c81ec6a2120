"""Arithmetic of the benchmark's metrics: percentiles, spreads, the
failure share, and per-layer numbers from the harness's spans and
task records. Pure functions over plain lists; see tests/test_stats.py.
"""
import statistics
from collections import defaultdict

ETL_LAYERS = ["ingest.scan", "ingest.enrich", "validate", "dedup", "sink",
              "ingest.metadata", "views", "warehouse.export", "warehouse.setup"]
Q_LAYERS = ["q.agg", "q.pipeline", "q.text", "q.text_dedup", "q.sim", "q.curation",
            "q.multimodal"]
MEASURES = ["s", "driver_s", "task_cpu_s", "tasks", "shuffle_bytes", "spill_bytes"]
ETL_ONLY_MEASURES = ["files_out", "task_skew"]
ANALYTICS_FAMILIES = set("a d i j m p s u w".split())
CURATION_FAMILIES = set("t td tp v mm".split())


def percentile(values, p, beyond=10):
    """The p-th percentile (nearest rank) of values, or None when fewer
    than `beyond` samples lie above it: a percentile is only reported
    with at least ten samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or n * (100 - p) / 100.0 < beyond:
        return None
    rank = max(1, -(-p * n // 100))  # ceil(p/100 * n)
    return xs[int(rank) - 1]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def fail_share(ops):
    """Failed or wrong operations over attempted ones; ops are dicts
    with a boolean `ok`."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)


def _union(intervals):
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(intervals, cut):
    """intervals minus the union of cut (both lists of [a, b])."""
    cut = _union(cut)
    out = []
    for a, b in intervals:
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append([a, c])
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append([a, b])
    return out


def _length(intervals):
    return sum(b - a for a, b in intervals)


def self_intervals(spans):
    """Per span id: its [start, end] minus what its child spans cover.
    spans: list of (id, parent, name, detail, start_ms, end_ms, files)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s[1]].append([s[4], s[5]])
    return {s[0]: _subtract([[s[4], s[5]]], kids[s[0]]) for s in spans}


def self_seconds(spans):
    """Per span id: self time in seconds."""
    return {k: _length(v) / 1e3 for k, v in self_intervals(spans).items()}


def layer_metrics(trace, layers, with_files):
    """Per-layer sums over the spans named after each layer.

    trace: {"spans": [...], "tasks": [[span, stage, launch_ms, finish_ms,
    cpu_ns, run_ms, shuffle_bytes, spill_bytes], ...]}. A span's files
    are the data files that appeared under its output dir."""
    spans, tasks = trace["spans"], trace["tasks"]
    name = {s[0]: s[2] for s in spans}
    selfs = self_intervals(spans)
    self_s = self_seconds(spans)
    busy = _union([[k[2], k[3]] for k in tasks])
    out = {}
    for layer in layers:
        ids = [s[0] for s in spans if s[2] == layer]
        mine = [k for k in tasks if name.get(k[0]) == layer]
        m = {
            "s": sum(self_s[i] for i in ids),
            "driver_s": sum(_length(_subtract(selfs[i], busy)) for i in ids) / 1e3,
            "task_cpu_s": sum(k[4] for k in mine) / 1e9,
            "tasks": len(mine),
            "shuffle_bytes": sum(k[6] for k in mine),
            "spill_bytes": sum(k[7] for k in mine),
        }
        if with_files:
            m["files_out"] = sum(s[6] for s in spans if s[2] == layer)
            m["task_skew"] = task_skew(mine)
        out[layer] = m
    return out


def task_skew(tasks):
    """Max over median task time in the stage holding most task time
    (1.0 when that stage ran a single task, 0 with no tasks)."""
    by_stage = defaultdict(list)
    for k in tasks:
        by_stage[k[1]].append(k[3] - k[2])
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
