"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_serving --seed 1 --seconds 10 --trace 0

Runs one workload in one process with one closed-loop client, checks
every answer, and prints a detail report line followed by the result as
the last line of standard output (JSON with correct, attempted, failed
and metrics). ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics. See perfbench/README.md."""

import time

T0 = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("vector_serving", "text_curation")
CORES = 4  # local[k] with k <= nproc; the host has 4

END_TO_END = {  # name -> unit
    "setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s",
    "batch_items_per_s": "1/s", "build_items_per_s": "1/s",
    "recall_at10": "ratio", "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    program importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [HERE, ROOT]


def end_to_end(res: dict, jvm_s: float, peak_mb: float) -> dict:
    vals = {
        "setup_s": jvm_s + statistics.median(res["setup_rep_s"]),
        # median over window rounds of the round's mean call latency: a
        # round holds one call of each kind, so the statistic cannot jump
        # between the kinds' latency modes the way a pooled median does
        "query_p50_ms": statistics.median(res["round_ms"]) if res["round_ms"] else 0.0,
        "queries_per_s": res["queries_per_s"],
        "batch_items_per_s": res["batch_items_per_s"],
        "build_items_per_s": res["build_items_per_s"],
        "recall_at10": res["recall_at10"],
        "peak_rss_mb": peak_mb,
    }
    return {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(run, jvm0: dict, jvm1: dict, steal_s: float, load_end: float) -> dict:
    import layers
    from stats import self_times

    vals = layers.from_calls(run.tracer.calls)
    d = run.detail
    rewritten = d.get("lists_rewritten") or [0]
    vals.update({
        "router.path.ivf": run.path_counts.get("ivf", 0),
        "router.path.hnsw": run.path_counts.get("hnsw", 0),
        "router.path.exact": run.path_counts.get("exact", 0),
        "index.fold_delta.lists_rewritten": sum(rewritten) / len(rewritten),
        "hnsw.build.shards": d.get("hnsw_shards", 0),
        "curate.curate_corpus.survivors": d.get("curate_survivors", 0),
        "dedup.near_dedup.candidate_pairs": d.get("dedup_candidate_pairs", 0),
        "dedup.near_dedup.removed": d.get("near_dedup_removed", 0),
        "dedup.near_dedup.verify_yield": d.get("dedup_verify_yield", 0.0),
        "host.steal_s": steal_s,
        "host.load_avg_1m": load_end,
    })
    for k in ("gc_ms", "jit_ms", "codegen_compiles", "codegen_compile_ms",
              "files_discovered"):
        vals[f"jvm.{k}"] = jvm1[k] - jvm0[k]
    # window rounds alternate traced (even) and untraced (odd)
    on, off = run.round_ms[0::2], run.round_ms[1::2]
    vals["trace.overhead_pct"] = (
        (statistics.median(on) / statistics.median(off) - 1.0) * 100.0
        if on and off else 0.0)
    spans = run.tracer.spans
    selfs = self_times(spans)
    # request spans are their own request id; calls outside a request
    # (set-up builds, batch calls) are roots too but not requests
    req = [selfs[s["id"]] * 1e3 for s in spans if s["req"] == s["id"]]
    vals["trace.client_self_ms"] = statistics.median(req) if req else 0.0
    units = dict(layers.PER_LAYER)
    return {k: {"value": float(vals[k]), "unit": units[k]} for k, _u in layers.PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lantern_spark", "__init__.py")):
        print("perfbench: the lantern_spark package is missing from the checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import probe
    from harness import Run

    cores = max(1, min(CORES, len(os.sched_getaffinity(0))))
    load0, steal0 = probe.loadavg(), probe.steal_seconds()
    spark = probe.start_session(work, cores)
    try:
        jvm_s = time.perf_counter() - T0
        counters = probe.JvmCounters(spark)
        jvm0 = counters.snapshot()
        tracer = probe.Tracer(spark, bool(args.trace))
        run = Run(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
        if args.workload == "text_curation":
            from text import text_curation as fn
        else:
            from vector import vector_serving as fn
        res = fn(run)
        jvm1 = counters.snapshot()
        peak_mb = probe.vm_hwm_mb(probe.jvm_pid(spark)) + probe.vm_hwm_mb("self")
        host = probe.host_record(spark, cores, work)
    finally:
        probe.stop_session(spark)
    load1, steal_s = probe.loadavg(), probe.steal_seconds() - steal0

    from stats import latency_summary

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "jvm_start_s": jvm_s,
        "setup_rep_s": res["setup_rep_s"],
        "query_latency_ms": latency_summary(res["query_ms"]),
        "query_round_ms": latency_summary(res["round_ms"]),
        "query_ms_by_layer": {k: latency_summary(v) for k, v in run.lat_by_layer.items()},
        "write_latency_ms": latency_summary(run.lat.get("write", [])),
        "phases": run.phases, "detail": run.detail,
        "host": dict(host, load_avg_start=load0, load_avg_end=load1,
                     steal_s=steal_s),
        "jvm": {k: jvm1[k] - jvm0[k] for k in jvm0},
        "errors": run.errors[:20],
    }
    if args.trace:
        import layers

        report["count_signature"] = layers.count_signature(tracer.calls)
        report["router_paths"] = run.path_counts
        metrics = per_layer(run, jvm0, jvm1, steal_s, load1)
    else:
        metrics = end_to_end(res, jvm_s, peak_mb)
    print(json.dumps({"perfbench_report": report}, default=float))
    for m in metrics.values():  # a failed stage leaves NaN; JSON has none
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
