"""Per-layer metric names (traced runs) and how they are derived from
the tracer's call records. A layer a workload never calls reports 0."""

from __future__ import annotations

import statistics

# (metric, unit, layer record name, field, reducer)
#   reducer "median": median over calls; "mean": mean per call;
#   field "s" is the call's wall time in seconds, "ms" in milliseconds
_INTERACTIVE = ("build_ms", "exec_ms", "jobs", "tasks", "executor_cpu_ms",
                "driver_gap_ms", "input_bytes", "files_listed")
_UNITS = {"build_ms": "ms", "exec_ms": "ms", "driver_gap_ms": "ms", "ms": "ms",
          "executor_cpu_ms": "ms", "s": "s", "jobs": "count", "tasks": "count",
          "input_bytes": "B", "output_bytes": "B", "shuffle_bytes": "B",
          "files_listed": "count"}


def _family(prefix: str, layer: str, fields) -> list:
    return [(f"{prefix}.{f}", _UNITS[f], layer, f) for f in fields]


CALL_METRICS = (
    _family("router.ann_search", "router.ann_search",
            ("build_ms", "exec_ms", "jobs", "driver_gap_ms"))
    + [("router.route_ms", "ms", "router.route", "ms")]
    + _family("index.search", "index.search", _INTERACTIVE)
    + _family("index.search_batch", "index.search_batch",
              ("s", "jobs", "executor_cpu_ms", "shuffle_bytes"))
    + _family("index.build", "index.build",
              ("s", "jobs", "executor_cpu_ms", "shuffle_bytes", "output_bytes"))
    + _family("index.add_delta", "index.add_delta", ("ms", "jobs"))
    + _family("index.delete", "index.delete", ("ms", "jobs"))
    + _family("index.fold_delta", "index.fold_delta", ("s", "jobs", "output_bytes"))
    + [("index.validate.s", "s", "index.validate", "s")]
    + _family("index.search_delta", "index.search_delta", ("ms", "jobs", "files_listed"))
    + _family("hnsw.search", "hnsw.search", _INTERACTIVE[:6])
    + _family("hnsw.search_batch", "hnsw.search_batch",
              ("s", "jobs", "executor_cpu_ms", "shuffle_bytes"))
    + _family("hnsw.build", "hnsw.build", ("s", "jobs", "executor_cpu_ms", "output_bytes"))
    + _family("hnsw.add_delta", "hnsw.add_delta", ("ms", "jobs"))
    + _family("hnsw.fold_delta", "hnsw.fold_delta", ("s", "jobs", "output_bytes"))
    + [("hnsw.validate.s", "s", "hnsw.validate", "s")]
    + _family("hnsw.search_delta", "hnsw.search_delta", ("ms", "jobs"))
    + _family("knn.knn_search", "knn.knn_search",
              ("build_ms", "exec_ms", "jobs", "tasks", "executor_cpu_ms", "input_bytes"))
    + _family("bm25.build", "bm25.build", ("s", "jobs", "executor_cpu_ms", "shuffle_bytes"))
    + _family("bm25.search", "bm25.search", ("build_ms", "exec_ms", "jobs", "executor_cpu_ms"))
    + _family("curate.curate_corpus", "curate.curate_corpus",
              ("s", "jobs", "executor_cpu_ms", "shuffle_bytes"))
    + _family("dedup.near_dedup", "dedup.near_dedup",
              ("s", "jobs", "executor_cpu_ms", "shuffle_bytes"))
    + _family("textstats.text_stats", "textstats.text_stats", ("s", "executor_cpu_ms"))
)

# metrics computed from the workload's own detail record
DETAIL_METRICS = [
    ("router.path.ivf", "count"), ("router.path.hnsw", "count"),
    ("router.path.exact", "count"),
    ("index.fold_delta.lists_rewritten", "count"),
    ("hnsw.build.shards", "count"),
    ("curate.curate_corpus.survivors", "count"),
    ("dedup.near_dedup.candidate_pairs", "count"),
    ("dedup.near_dedup.removed", "count"),
    ("dedup.near_dedup.verify_yield", "ratio"),
]

RUNTIME_METRICS = [
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("jvm.codegen_compiles", "count"),
    ("jvm.codegen_compile_ms", "ms"), ("jvm.files_discovered", "count"),
    ("host.steal_s", "s"), ("host.load_avg_1m", "1"),
    ("trace.overhead_pct", "%"), ("trace.client_self_ms", "ms"),
]

PER_LAYER = ([(m, u) for m, u, _l, _f in CALL_METRICS] + DETAIL_METRICS
             + RUNTIME_METRICS)

_MEDIAN_FIELDS = {"build_ms", "exec_ms", "driver_gap_ms", "executor_cpu_ms", "ms", "s"}

# layers of the measured search mix: reduced over window calls only, so
# warm-up calls do not enter them (searches over a live delta are logged
# as their own layers, ``*.search_delta``)
WINDOW_LAYERS = {"router.ann_search", "router.route", "index.search", "hnsw.search",
                 "knn.knn_search", "bm25.search"}


def from_calls(calls) -> dict:
    """Per-layer values from traced call records: times are medians over
    calls, counts are means per call. Search-mix layers use the measured
    window's calls; the others (builds, batch calls, writes, folds) use
    every call."""
    by_layer: dict = {}
    for c in calls:
        if c.get("traced") and (c["layer"] not in WINDOW_LAYERS or c.get("in_window")):
            by_layer.setdefault(c["layer"], []).append(c)
    out = {}
    for metric, _unit, layer, field in CALL_METRICS:
        recs = by_layer.get(layer, [])
        if not recs:
            out[metric] = 0.0
            continue
        if field == "s":
            vals = [r["ms"] / 1e3 for r in recs]
        else:
            vals = [float(r[field]) for r in recs]
        if field in _MEDIAN_FIELDS:
            out[metric] = float(statistics.median(vals))
        else:
            out[metric] = sum(vals) / len(vals)
    return out


def count_signature(calls) -> list:
    """Per-call counts that must repeat exactly across traced runs of
    one seed: (layer, jobs, tasks, codegen_compiles)."""
    return [[c["layer"], c["jobs"], c["tasks"], c["codegen_compiles"]]
            for c in calls if c.get("traced")]
