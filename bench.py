#!/usr/bin/env python
"""Benchmark harness: runs a table of entries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "quality", ...}.

An entry (:class:`Entry`) is a name, a callable, a repetition count and
a flag: headline entries (the one-time artifact builds and the headline
queries) are summed into ``value`` and reported under ``queries``;
telemetry entries return ``quality`` keys. Every entry runs through
:meth:`Bench.run`, which measures it with perfbench's ``Tracer.call``
(one Spark job group per call, read back from Spark's status store).
``BENCH_FULL.json`` gets the full payload plus a ``layers`` block: per
entry jobs, tasks, executor CPU, driver gap and codegen compiles, and
the host's steal time at start and end.

The headline set covers every operator family: exact KNN + KNN join,
weighted search, IVF ANN, PQ/SQ quantization, BM25, dedup (exact,
minhash/LSH), text analysis, embedding generation, and the relational
substrate (TPC-H-style agg, joins, sessionization).
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import tempfile
from dataclasses import dataclass
from typing import Callable

# module-level so pandas_udf type-hint inference (which resolves the
# stringified hints against module globals under
# `from __future__ import annotations`) can see it
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# perfbench's status-store reader, imported read-only; appended so its
# module names never shadow an installed package
sys.path.append(os.path.join(HERE, "perfbench"))

import probe  # noqa: E402

HEADLINE = """
    knn_l2sq_top10 knn_cos_top10 knn_join_top3 weighted_search_exact
    weighted_search_approx sq_b1_hamming_top10 ivf_delta_tombstone_top10
    maxsim_top10 ivf_pruned_top10 ivf_filtered_top5 pq_adc_topk
    ivf_pq_adc_top10 sq_i8_roundtrip pii_redact_docs hnsw_top10
    bm25_search_top20 bm25_consolidated_top20 bm25_approx_top20
    bloom_term_postings hybrid_rrf_top10 tokenize_docs dedup_prefix_groups
    url_dedup_docs substr_dup_windows_docs semdedup_survivors
    lsh_candidate_pairs dedup_components embedding_near_pairs
    simhash_near_pairs domain_link_graph_edges seed_expansion_hops
    doc_domain_hop_prior text_stats_all token_counts
    asof_purchase_attribution events_rollup_type_hour wet_documents_docs
    packed_ids_export tpch_q1_pricing_summary tpch_q3_shipping_priority
    tpch_q10_returned_items revenue_by_nation events_sessionization
""".split()

# Queries retired from the oracle roster (the driver caps it at 50) stay
# TIMED so the headline series remains comparable across rounds: name →
# module. Swaps: r8 knn_cos_top10 / tpch_q10 out; r11
# events_rollup_type_hour / pq_adc_topk out; r14 bloom_term_postings out
# (bm25_approx_top20 hashes the same bloom kernels). ivf_fullprobe_top10
# (r12) is timed OUTSIDE the total, as telemetry, so the total's
# composition stays comparable to the r11 series. Cross-round totals
# compare on the intersection of keys.
RETIRED = {
    "knn_cos_top10": "lantern_spark.queries.vector",
    "tpch_q10_returned_items": "lantern_spark.queries.relational",
    "events_rollup_type_hour": "lantern_spark.queries.relational",
    "pq_adc_topk": "lantern_spark.queries.quantize",
    "bloom_term_postings": "lantern_spark.queries.text",
}

#: per-entry fields kept from the tracer's record in the ``layers`` block
LAYER_FIELDS = ("jobs", "tasks", "executor_cpu_ms", "driver_gap_ms",
                "codegen_compiles")


def headline_queries() -> dict:
    """HEADLINE name → query callable ``(spark, sf_dir) -> DataFrame``:
    the registry roster plus the retired-but-timed table."""
    from lantern_spark import registry

    qs = registry.queries()
    for name, module in RETIRED.items():
        qs.setdefault(name, getattr(importlib.import_module(module), name))
    return {name: qs[name] for name in HEADLINE if name in qs}


@dataclass(frozen=True)
class Entry:
    """One bench entry. ``fn(bench)`` returns a DataFrame (materialized
    by hashing every column), a dict of ``quality`` keys (telemetry), or
    anything else (ignored). ``reps`` runs back to back and the minimum
    is reported; ``headline`` entries are summed into the total."""

    name: str
    fn: Callable
    reps: int = 1
    headline: bool = False


def _materialize(value):
    """Hash EVERY column of a DataFrame result: a bare count() lets
    Catalyst prune the computed columns on map-only queries, timing a
    parquet row count instead of the operator. bit_xor, not sum: ANSI
    mode raises on int64 sum overflow."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    if isinstance(value, DataFrame):
        value.select(
            F.xxhash64(*[F.col(c) for c in value.columns]).alias("__h")
        ).agg(F.expr("bit_xor(__h)")).collect()
    return value


class Bench:
    """Runs entries and keeps what they measured. The one place that
    times, sets job groups (through ``probe.Tracer``), takes the minimum
    over repetitions, materializes results, isolates failures and
    attributes codegen failures."""

    def __init__(self, tracer, sf_dir: str, monitor):
        # one tracer per SparkContext: its job groups are numbered from 1,
        # so a second tracer would read the first one's jobs
        self.tracer, self.spark = tracer, tracer.spark
        self.sf_dir, self.monitor = sf_dir, monitor
        self.timings, self.runs, self.quality = {}, {}, {}
        self.layers, self.codegen_failures = {}, {}
        self.total = 0.0

    def _repeat(self, layer: str, fn, reps: int):
        """``reps`` back-to-back calls; (last value, seconds per call,
        the fastest call's tracer record)."""
        value, samples, best = None, [], None
        for _ in range(reps):
            value, rec = self.tracer.call(layer, fn, _materialize)
            samples.append(rec["ms"] / 1e3)
            if best is None or rec["ms"] < best["ms"]:
                best = rec
        return value, samples, best

    def time(self, fn, reps: int = 1):
        """(value, min seconds over ``reps`` calls) of a step inside an
        entry. The entry's job group stays set, so the step's jobs count
        toward the entry's layer record."""
        self.tracer.active = False
        try:
            value, samples, _ = self._repeat("", fn, reps)
        finally:
            self.tracer.active = True
        return value, min(samples)

    def run(self, entry: Entry) -> None:
        """Measure one entry. A failure records -1 (and the error on
        stderr); the run goes on."""
        steal0 = probe.steal_seconds()
        try:
            value, samples, rec = self._repeat(
                f"bench:{entry.name}", lambda: entry.fn(self), entry.reps
            )
        except Exception as e:
            print(f"# bench {entry.name} FAILED: {e}", file=sys.stderr)
            self.layers[entry.name] = {"s": -1.0}
            if entry.headline:
                self.timings[entry.name] = -1.0
        else:
            best = min(samples)
            self.layers[entry.name] = {
                "s": round(best, 3),
                **{k: round(rec[k], 1) for k in LAYER_FIELDS},
                "steal_s": round(probe.steal_seconds() - steal0, 2),
            }
            if entry.headline:
                self.timings[entry.name] = round(best, 3)
                self.runs[entry.name] = [round(s, 3) for s in samples]
                self.total += best
            if isinstance(value, dict):
                self.quality.update(value)
        hits = self.monitor.advance()
        if hits:
            self.codegen_failures[entry.name] = len(hits)
            print(
                f"# bench CODEGEN FAILURE under {entry.name}: {hits[0]}",
                file=sys.stderr,
            )


# Load average + uptime at a point in time — the bench runs on a shared
# VM whose load swings per-query wall times 2-3× with no plan change;
# recording host conditions in the artifact makes noise
# machine-adjudicable.
def _host_snapshot() -> dict:
    snap = {}
    try:
        snap["load_avg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/uptime") as fh:
            snap["uptime_s"] = round(float(fh.read().split()[0]), 1)
    except OSError:
        pass
    return snap


# -- entries ----------------------------------------------------------


# Warm-up (warmup_version 4; in no total or quality key): initialize
# codegen/Arrow and touch every table's footer so entry timings reflect
# steady state, not first-JVM session costs.
def _warmup(b: Bench) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = b.spark
    spark.range(8).select(F.sum("id")).collect()
    # first-use machinery that otherwise lands inside whatever entry
    # touches it first (measured ~5 s inside build:ivf_pq_index at r7):
    # Python-worker + Arrow-batch spin-up for pandas UDFs, and the
    # partitioned-write committer path
    @F.pandas_udf(T.DoubleType())
    def _warm_udf(v: pd.Series) -> pd.Series:
        return v * 1.0

    spark.range(64).select(_warm_udf(F.col("id").cast("double"))).collect()
    # v4 (r14): first-use CODEGEN classes for the string/regex/
    # higher-order-function/explode/aggregate family cost ~1-3 s of
    # one-time janino/class-load work and otherwise land inside
    # whichever timed entry runs one first
    (
        spark.range(4)
        .select(
            F.concat(F.lit("a b,C "), F.col("id").cast("string")).alias("s")
        )
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower("s"), "[^a-z0-9]+"), lambda t: t != ""
                )
            ).alias("t"),
            F.md5("s").alias("m"),
            F.xxhash64("s").alias("x"),
            F.size(
                F.transform(F.split("s", " "), lambda w: F.length(w))
            ).alias("n"),
            F.aggregate(
                F.split("s", " "),
                F.lit(0).cast("long"),
                lambda acc, w: acc + F.length(w),
            ).alias("agg"),
            F.regexp_replace("s", "[^a-z]", "").alias("r"),
        )
        .groupBy("t")
        .agg(F.count("*").alias("c"), F.min("m"), F.min("x"))
        .collect()
    )

    # Arrow list<double> UDF lane (vector columns cross here first)
    @F.pandas_udf(T.IntegerType())
    def _warm_vec_udf(v: pd.Series) -> pd.Series:
        return v.map(lambda a: 0 if a is None else len(a))

    spark.range(8).select(
        _warm_vec_udf(F.array(F.col("id").cast("double"), F.lit(1.0)))
    ).collect()
    with tempfile.TemporaryDirectory(prefix="bench_warm_") as wdir:
        (
            spark.range(8)
            .withColumn("p", (F.col("id") % 2).cast("int"))
            .repartition(F.col("p"))
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(f"{wdir}/t")
        )
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = f"{b.sf_dir}/{t}.parquet"
        if os.path.exists(path):
            spark.read.parquet(path).limit(1).collect()


# One-time artifact builds, timed as separate entries so query timings
# measure SEARCH, not first-call build. Order matters: the queries after
# them hit warm caches.
def _builds() -> list:
    from lantern_spark.queries.ann import _hnsw_for, _index_for
    from lantern_spark.queries.lifecycle import _lifecycle_index_for
    from lantern_spark.queries.text import _stats_for

    return [
        Entry("build:ivf_pq_index",
              lambda b: _index_for(b.spark, b.sf_dir), headline=True),
        Entry("build:lifecycle_index",
              lambda b: _lifecycle_index_for(b.spark, b.sf_dir),
              headline=True),
        Entry("build:bm25_postings",
              lambda b: _stats_for(b.spark, b.sf_dir, stem=False),
              headline=True),
        Entry("build:hnsw_index",
              lambda b: _hnsw_for(b.spark, b.sf_dir), headline=True),
    ]


def _retired_fullprobe(b: Bench) -> dict:
    from lantern_spark.queries.ann import ivf_fullprobe_top10

    _, s = b.time(lambda: ivf_fullprobe_top10(b.spark, b.sf_dir), reps=2)
    return {"retired_ivf_fullprobe_top10_s": round(s, 3)}


# ANN recall and scan fraction on the shared scale fixture
# (lantern_spark/fixtures.py: embeddings × 30 replicas perturbed at
# nearest-neighbor scale, ~60k rows at sf0.1) with probes HELD OUT of
# the index. Scan economics are a scale property, and the instrument can
# fail: ``ivf_recall_at10_nprobe1`` must LOSE recall here (if it ever
# reads 1.0 again, the fixture regressed). IVF runs at its tuned
# operating point: √n-scaled nlist + the smallest nprobe reaching 0.95
# recall@10 (tune_nprobe). Then the router's decisions over the measured
# indexes, and delta maintenance (fold vs rebuild).
def _ann_quality(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.fixtures import held_out_probes, replicated_corpus
    from lantern_spark.operators.autotune import tune_nprobe
    from lantern_spark.operators.hnsw import (
        HNSWIndex,
        hnsw_recall_and_scan_fraction,
    )
    from lantern_spark.operators.index import IVFIndex, recall_at_k
    from lantern_spark.operators.ivf_graph import (
        IVFGraphIndex,
        ivf_graph_recall_and_scan_fraction,
    )
    from lantern_spark.plans.router import IndexCatalog, route, route_batch
    from lantern_spark.queries.common import load_table

    spark, q = b.spark, {}
    emb = load_table(spark, b.sf_dir, "embeddings")
    big, probes = held_out_probes(replicated_corpus(emb, reps=30), n_probes=8)
    big = big.repartition(32).cache()
    n_big = big.count()
    q["fixture_rows"] = n_big
    with tempfile.TemporaryDirectory(prefix="bench_quality_") as root:
        ivf = IVFIndex.build(
            big, "embedding", "vec_id", f"{root}/ivf",
            metric="l2sq", nlist=None, seed=42,
        )
        nprobe, _ = tune_nprobe(ivf, spark, probes, k=10, target_recall=0.95)
        q["ivf_nlist"] = ivf.manifest.nlist
        q["ivf_nprobe"] = nprobe
        q["ivf_recall_at10"] = round(
            recall_at_k(ivf, spark, probes, k=10, nprobe=nprobe), 4
        )
        q["ivf_scan_fraction"] = round(nprobe / ivf.manifest.nlist, 4)
        q["ivf_recall_at10_nprobe1"] = round(
            recall_at_k(ivf, spark, probes, k=10, nprobe=1), 4
        )
        hnsw = HNSWIndex.build(
            big, "embedding", "vec_id", f"{root}/hnsw",
            m=16, ef_construction=100, shards=8, seed=42,
        )
        r, frac = hnsw_recall_and_scan_fraction(
            hnsw, spark, big, "embedding", "vec_id", probes, k=10, ef=96
        )
        q["hnsw_recall_at10"] = round(r, 4)
        q["hnsw_scan_fraction"] = round(frac, 4)
        # IVF×graph hybrid (per-cell HNSW, the SPANN-style layout) at
        # ITS operating point — FEW large cells: per-cell graphs only pay
        # off when cell size ≫ ef. The eval fraction (distance
        # evaluations / corpus) compares directly with
        # hnsw_scan_fraction and with IVF's nprobe/nlist.
        g_nlist = max(8, int(round(ivf.manifest.nlist / 8)))
        ivf_g = IVFIndex.build(
            big, "embedding", "vec_id", f"{root}/ivf_coarse",
            metric="l2sq", nlist=g_nlist, seed=42,
        )
        g_nprobe, _ = tune_nprobe(ivf_g, spark, probes, k=10, target_recall=0.97)
        g_nprobe = int(max(g_nprobe, 2))
        hyb = IVFGraphIndex.attach(ivf_g, spark, m=16, ef_construction=100, seed=42)
        gr, gfrac = ivf_graph_recall_and_scan_fraction(
            hyb, spark, probes, k=10, nprobe=g_nprobe, ef=128
        )
        q["ivf_graph_nlist"] = g_nlist
        q["ivf_graph_nprobe"] = g_nprobe
        q["ivf_graph_recall_at10"] = round(gr, 4)
        q["ivf_graph_eval_fraction"] = round(gfrac, 4)
        # the flat-scan fraction the SAME cell choice would pay
        q["ivf_graph_flat_fraction"] = round(g_nprobe / g_nlist, 4)
        # cost-based access-path choice over the two measured indexes
        # (the amcostestimate analog, plans/router.py), single probe and
        # batched at B=32 (per-job reads amortize, per-probe evals don't)
        cat = IndexCatalog(f"{root}/catalog")
        cat.register_ivf(
            ivf, "fixture", nprobe=nprobe,
            recall_estimate=q["ivf_recall_at10"],
        )
        cat.register_hnsw(
            hnsw, "fixture", ef=96, num_vectors=n_big,
            recall_estimate=q["hnsw_recall_at10"],
        )
        dec = route(cat, "fixture", "embedding", "l2sq", n_big, recall_floor=0.95)
        q["router_path"] = dec.access_path
        q["router_est_tuples"] = round(dec.est_tuples, 1)
        bdec = route_batch(
            cat, "fixture", "embedding", "l2sq", n_big,
            batch_size=32, recall_floor=0.95,
        )
        q["router_batch32_path"] = bdec.access_path
        q["router_batch32_est_tuples"] = round(bdec.est_tuples, 1)
        # Incremental maintenance: fold a ~1% delta vs a full rebuild
        # (mutates the indexes, so it runs last). SCATTERED is uniform
        # over the corpus — the worst case for IVF's affected-list fold,
        # hence the affected fraction beside it; CLUSTERED is one
        # locality, the time/tenant-ordered ingest shape. HNSW's fold is
        # O(delta) unconditionally — one new shard.
        delta_n = max(64, int(n_big * 0.01))
        scattered = big.limit(delta_n).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
        one = big.limit(1).first()
        clustered = big.limit(delta_n).select(
            (F.col("vec_id") + 20_000_000).alias("vec_id"),
            F.array(
                *[
                    F.lit(float(x)) + (F.col("vec_id") % 97) * F.lit(1e-6)
                    for x in one["embedding"]
                ]
            ).alias("embedding"),
        )
        for shape, delta in (("scattered", scattered), ("clustered", clustered)):
            ivf.add_delta(delta)
            _, s = b.time(lambda: ivf.fold_delta(spark))
            q[f"ivf_fold_{shape}_s"] = round(s, 3)
            q[f"ivf_fold_{shape}_affected"] = round(
                len(ivf.manifest.params.get("last_fold_lists", []))
                / ivf.manifest.nlist,
                4,
            )
        q["ivf_rebuild_s"] = round(b.time(lambda: ivf.rebuild(spark))[1], 3)
        hnsw.add_delta(scattered)
        q["hnsw_fold_s"] = round(b.time(lambda: hnsw.fold_delta(spark))[1], 3)
        q["hnsw_rebuild_s"] = round(b.time(lambda: hnsw.rebuild(spark))[1], 3)
    big.unpersist()
    return q


# IVF-PQ ADC on the NATURAL (near-uniform) embeddings, where row pruning
# cannot hold recall because true neighbors spread across all cells. The
# answer there is to scan COMPACT CODES for every row (full probe, 1
# byte/subspace) and exactly re-rank a k·oversample pool; reported as
# BYTES read relative to a full raw-vector scan. Then the router's
# choice between the plain and ADC tiers of that artifact, and batched
# vs per-probe search throughput.
def _ivf_pq_quality(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.functions.distances import l2sq_dist
    from lantern_spark.functions.vectors import vec_lit
    from lantern_spark.plans.router import IndexCatalog, route
    from lantern_spark.queries.ann import _index_for, _tuned_nprobe
    from lantern_spark.queries.common import load_table

    spark, q = b.spark, {}
    emb = load_table(spark, b.sf_dir, "embeddings")
    ivf_nat = _index_for(spark, b.sf_dir)  # PQ-enabled build (cached)
    n_nat = emb.count()
    nat_probes = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy(F.crc32(F.col("vec_id").cast("string")))
        .limit(6)
        .collect()
    ]
    exact_sets = [
        {
            r["vec_id"]
            for r in emb.withColumn("d", l2sq_dist("embedding", vec_lit(p)))
            .orderBy("d", "vec_id")
            .limit(10)
            .select("vec_id")
            .collect()
        }
        for p in nat_probes
    ]
    # oversample is the ADC knob (re-rank is exact, so recall is
    # monotone in it): the smallest power-of-two pool meeting 0.95
    for oversample in (8, 16, 32, 64, 128):
        hits = 0
        for p, exact in zip(nat_probes, exact_sets):
            got = ivf_nat.search_adc(
                spark, p, k=10, nprobe=ivf_nat.manifest.nlist,
                oversample=oversample,
            ).collect()
            hits += len(exact & {r["vec_id"] for r in got})
        rec = hits / (10 * len(nat_probes))
        if rec >= 0.95 or 10 * oversample >= n_nat:
            break
    code_bytes = ivf_nat.manifest.params["pq"]["splits"]  # 1 B/subspace
    vec_bytes = ivf_nat.manifest.dim * 8  # stored as double
    rerank_rows = min(10 * oversample, n_nat)
    q["ivf_pq_recall_at10"] = round(rec, 4)
    q["ivf_pq_oversample"] = oversample
    q["ivf_pq_byte_scan_fraction"] = round(
        (n_nat * code_bytes + rerank_rows * vec_bytes) / (n_nat * vec_bytes), 4
    )
    # the CODE pass scales with n; the re-rank reads k·oversample rows,
    # constant per query — at scale the fraction converges to this
    q["ivf_pq_code_byte_fraction"] = round(code_bytes / vec_bytes, 4)
    q["ivf_pq_rerank_rows"] = int(rerank_rows)
    with tempfile.TemporaryDirectory(prefix="bench_router_") as root:
        cat = IndexCatalog(f"{root}/catalog_nat")
        cat.register_ivf(
            ivf_nat, "embeddings", nprobe=_tuned_nprobe(spark, b.sf_dir),
            recall_estimate=0.95,  # the tune_nprobe target it was tuned to
        )
        cat.register_ivf_pq(
            ivf_nat, "embeddings", nprobe=ivf_nat.manifest.nlist,
            oversample=oversample, recall_estimate=rec,
        )
        dec = route(cat, "embeddings", "embedding", "l2sq", n_nat, recall_floor=0.9)
        q["router_nat_path"] = dec.access_path
        q["router_nat_est_tuples"] = round(dec.est_tuples, 1)
    # one job answering B probes vs one job per probe: the ratio is the
    # scheduler/scan amortization factor of search_batch
    bprobes = [
        [float(x) + 0.001 * j for x in nat_probes[j % len(nat_probes)]]
        for j in range(32)
    ]
    probes_df = spark.createDataFrame(
        list(enumerate(bprobes)), "qid int, query array<double>"
    )
    _, batch_s = b.time(
        lambda: ivf_nat.search_batch(spark, probes_df, k=10, nprobe=4).count()
    )
    _, seq_s = b.time(
        lambda: [
            ivf_nat.search(spark, p, k=10, nprobe=4).count()
            for p in bprobes[:4]
        ]
    )
    q["ivf_batch_qps"] = round(len(bprobes) / batch_s, 1)
    q["ivf_sequential_qps"] = round(4 / seq_s, 1)
    return q


# Two-stage MaxSim serving (the ColBERT architecture): ANN candidates →
# exact MaxSim re-rank, reported as candidate-set recall vs brute-force
# MaxSim and the re-rank's share of the corpus, for three candidate
# generators: per-query-token ANN over the token embeddings, one
# mean-pooled vector per doc, and PLAID's compressed centroid + residual
# codes (arXiv:2205.09707).
def _maxsim_quality(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.operators.index import IVFIndex
    from lantern_spark.operators.maxsim import (
        maxsim_search,
        plaid_candidates,
        plaid_doc_codes,
        plaid_encode,
        plaid_refine,
        pool_tokens,
    )
    from lantern_spark.queries.common import Q64, Q64_B, load_table

    spark, q = b.spark, {}
    emb = load_table(spark, b.sf_dir, "embeddings")
    doc_id = (F.col("label").cast("long") * 100 + F.col("vec_id") % 50).alias(
        "doc_id"
    )
    bags = (
        emb.groupBy(doc_id)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))).alias("s"))
        .select("doc_id", F.transform("s", lambda x: x["embedding"]).alias("tokens"))
        .cache()
    )
    n_docs = bags.count()
    qs_bag = [Q64, Q64_B]

    def top10(candidates=None):
        return {
            r["doc_id"]
            for r in maxsim_search(
                bags, "tokens", "doc_id", qs_bag, k=10, metric="cos",
                candidates=candidates, round_digits=6,
            ).collect()
        }

    brute = top10()

    def twostage(cand_df, cand_count):
        return (
            round(len(brute & top10(cand_df)) / max(len(brute), 1), 4),
            round(min(cand_count, n_docs) / max(n_docs, 1), 4),
        )

    with tempfile.TemporaryDirectory(prefix="bench_maxsim_") as root:
        # (a) per-QUERY-TOKEN ANN over the token embeddings, doc ids
        # unioned: MaxSim rewards a doc's single best token per query
        # token, which a token-level search surfaces
        tok_idx = IVFIndex.build(
            emb.select("vec_id", "embedding", "label"),
            "embedding", "vec_id", f"{root}/tok",
            metric="cos", nlist=8, seed=42,
        )
        tok_ids = None
        for qv in qs_bag:
            hit = tok_idx.search(
                spark, qv, k=50, nprobe=tok_idx.manifest.nlist
            ).select("vec_id")
            tok_ids = hit if tok_ids is None else tok_ids.union(hit)
        tok_cand = (
            emb.join(F.broadcast(tok_ids.distinct()), "vec_id")
            .select(doc_id)
            .distinct()
        )
        rec, frac = twostage(tok_cand, tok_cand.count())
        q["maxsim_docs"] = n_docs
        q["maxsim_twostage_recall_at10"] = rec
        q["maxsim_candidate_fraction"] = frac
        # (b) mean-pooled doc vectors: pooling averages away exactly the
        # per-token matches MaxSim scores, so candidate recall collapses
        # on token-peaked corpora — the reason ColBERT serves from a
        # token index
        ivf_pool = IVFIndex.build(
            bags.select("doc_id", pool_tokens("tokens", "mean").alias("v")),
            "v", "doc_id", f"{root}/pool",
            metric="cos", nlist=8, seed=42,
        )
        cand_k = 40
        pool_cand = ivf_pool.search(
            spark, [(x + y) / 2.0 for x, y in zip(Q64, Q64_B)], k=cand_k,
            nprobe=ivf_pool.manifest.nlist,
        ).select("doc_id")
        rec, frac = twostage(pool_cand, cand_k)
        q["maxsim_pooled_recall_at10"] = rec
        q["maxsim_pooled_candidate_fraction"] = frac
        # (c) PLAID: tokens quantize once to IVF centroids + an m-byte PQ
        # code of the residual; candidates score from the codes alone and
        # the exact re-rank touches a 10% shortlist. The centroid-ONLY
        # proxy plateaus on this fixture (ranking is decided by
        # within-cell geometry) — the reason PLAID carries residuals.
        plaid_idx = IVFIndex.build(
            emb.select("vec_id", "embedding"),
            "embedding", "vec_id", f"{root}/plaid_cents",
            metric="cos", nlist=64, seed=42,
        )
        n_cand = max(10, int(0.1 * n_docs))

        def encode():
            enc, rcb = plaid_encode(
                bags, "tokens", "doc_id", plaid_idx, metric="cos", m=16
            )
            enc = enc.cache()
            enc.count()
            return enc, rcb

        (enc, rcb), s = b.time(encode)
        q["maxsim_plaid_encode_s"] = round(s, 3)
        (rec, frac), s = b.time(
            lambda: twostage(
                plaid_refine(
                    enc, "doc_id", qs_bag, plaid_idx, rcb,
                    n_candidates=n_cand, metric="cos",
                ).select("doc_id"),
                n_cand,
            )
        )
        q["maxsim_plaid_stage_s"] = round(s, 3)
        q["maxsim_plaid_recall_at10"] = rec
        q["maxsim_plaid_candidate_fraction"] = frac
        cent_cand = plaid_candidates(
            plaid_doc_codes(bags, "tokens", "doc_id", plaid_idx, metric="cos"),
            "doc_id", qs_bag, plaid_idx, n_candidates=n_cand, metric="cos",
        ).select("doc_id")
        q["maxsim_plaid_centroid_only_recall_at10"] = twostage(cent_cand, n_cand)[0]
        enc.unpersist()
    bags.unpersist()
    return q


def _docs(b: Bench):
    from lantern_spark.queries.common import load_table

    return load_table(b.spark, b.sf_dir, "documents").select("doc_id", "text")


# Span-level exact-substring dedup on the documents table (removed
# tokens > 0 proves spans were found), and the driver-local window-hash
# kernel's throughput on a 20k-token doc (the all-C mapInArrow kernel;
# the r8 per-token md5 kernel measured ~0.9 Mtok/s and is pinned ≥10×
# slower in pytest).
def _substr_dedup(b: Bench) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from lantern_spark.operators.dedup import (
        _batch_window_hashes,
        _PowerCache,
        exact_substring_dedup,
    )

    docs = _docs(b)
    agg, s = b.time(
        lambda: exact_substring_dedup(docs, "text", "doc_id", min_tokens=12)
        .select(F.col("removed_tokens"), F.xxhash64("text").alias("__h"))
        .agg(
            F.sum("removed_tokens").alias("rt"),
            F.expr("bit_xor(__h)").alias("h"),
        )
        .collect()[0]
    )
    rng = np.random.default_rng(42)
    text = " ".join(f"word{i}" for i in rng.zipf(1.3, size=20000) % 5000)
    pows = _PowerCache()
    _batch_window_hashes([text], 50, pows)  # warm the power cache
    _, best = b.time(lambda: _batch_window_hashes([text], 50, pows), reps=5)
    return {
        "substr_dedup_s": round(s, 3),
        "substr_removed_tokens": int(agg["rt"] or 0),
        "substr_kernel_mtok_per_s": round(20000 / best / 1e6, 2),
    }


# Sharded Bloom set: build + probe time, member fraction (1.0 = zero
# false negatives), outsider fraction vs the sized FPR, and the
# per-shard fill ratio (probe_bloom_set refuses past 0.95).
def _bloomset(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.operators.bloomset import (
        bloom_fill_stats,
        bloom_fpr,
        build_bloom_set,
        probe_bloom_set,
    )

    docs, q = _docs(b), {}
    params = dict(n_shards=32, m_bits=32 * 4096 * 8, k=7)

    def build_and_probe():
        bloom = build_bloom_set(docs, "text", **params).cache()
        bloom.count()
        members = (
            probe_bloom_set(docs, bloom, "text", **params)
            .filter("probable_member")
            .count()
        )
        return bloom, members

    (bloom, members), s = b.time(build_and_probe)
    q["bloom_build_probe_s"] = round(s, 3)
    n = docs.count()
    q["bloom_member_fraction"] = round(members / max(n, 1), 4)
    outsiders = b.spark.range(n).select(
        F.concat(F.lit("bench-outsider-"), F.col("id")).alias("text")
    )
    fp = (
        probe_bloom_set(outsiders, bloom, "text", **params)
        .filter("probable_member")
        .count()
    )
    q["bloom_fp_fraction"] = round(fp / max(n, 1), 4)
    q["bloom_fp_theoretical"] = round(bloom_fpr(n, params["m_bits"], params["k"]), 4)
    fills = bloom_fill_stats(bloom, k=params["k"]).agg(
        F.avg("fill_ratio").alias("avg"), F.max("fill_ratio").alias("mx")
    ).first()
    q["bloom_fill_ratio_avg"] = round(float(fills["avg"]), 6)
    q["bloom_fill_ratio_max"] = round(float(fills["mx"]), 6)
    bloom.unpersist()
    return q


# The north-star pipeline COMPOSED — curate (URL dedup + heuristics) →
# substring/exact/LSH dedup → 13-gram decontamination vs a held-out
# sample → token-budget mixture → sequence packing, one
# staged-checkpoint run with per-stage drop accounting. A cross-stage contract
# check as much as a timing row.
def _assemble(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.operators.assemble import assemble_pretraining_corpus
    from lantern_spark.operators.curate import CurationConfig
    from lantern_spark.queries.common import load_table

    docs = load_table(b.spark, b.sf_dir, "documents")  # FULL schema (source)
    d = F.xxhash64("doc_id")
    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://www.dom"),
            F.pmod(d, F.lit(97)).cast("string"),
            F.lit(".com/p/"),
            F.pmod(d, F.lit(1000)).cast("string"),
            F.when(d % 3 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        ),
    )
    heldout = docs.filter(F.pmod(d, F.lit(100)) == 7)
    with tempfile.TemporaryDirectory(prefix="bench_assemble_") as root:

        def assemble():
            res = assemble_pretraining_corpus(
                b.spark, with_url, "text", "doc_id", f"{root}/ckpt",
                curation=CurationConfig(
                    min_tokens=5, min_quality=0.0,
                    url_col="url", url_dedup=True,
                    blocked_domains=["dom13.com"],
                    substr_dedup_min_tokens=25, substr_dedup_salt=4,
                    exact_dedup=True, near_dedup=True, near_threshold=0.8,
                ),
                heldout=heldout,
                source_col="source",
                token_budgets={f"src{i}": 8_000.0 for i in range(10)},
                seq_tokens=512,
            )
            res.df.count()
            return res

        res, s = b.time(assemble)
    return {
        "assemble_pipeline_s": round(s, 3),
        "assemble_stage_rows": res.stage_rows,
        "assemble_tokens_in": res.tokens_in,
        "assemble_tokens_out": res.tokens_out,
        "assemble_n_packs": res.n_packs,
    }


# Anisotropic PQ (ScaNN) vs plain PQ on the held-out 60k fixture at the
# same code size: the score-aware loss promises lower inner-product
# score error on the true top-k, so the witness is top-10 score RMSE,
# plus the two-stage number (truth top-10 found in a 10× ADC shortlist).
# ADC-only recall is noise-bound at 8 bytes/vector.
def _apq_quality(b: Bench) -> dict:
    import numpy as np

    from lantern_spark.fixtures import held_out_probes, replicated_corpus
    from lantern_spark.operators.anisotropic import (
        APQModel,
        apq_codes_local,
        apq_encode,
        default_eta,
        train_apq_local,
    )
    from lantern_spark.operators.pq import train_codebook_local
    from lantern_spark.queries.common import load_table
    from lantern_spark.types import PQSpec

    emb = load_table(b.spark, b.sf_dir, "embeddings").select("vec_id", "embedding")
    fix, probes = held_out_probes(replicated_corpus(emb, 30), 20)
    x = np.asarray([r["embedding"] for r in fix.collect()], dtype=np.float64)
    queries = np.asarray(probes, dtype=np.float64)
    spec = PQSpec(dim=x.shape[1], splits=8, clusters=64, seed=42)
    eta = default_eta(x.shape[1])
    apq, train_s = b.time(lambda: train_apq_local(x[:10000], spec, eta=eta, iters=5))
    plain = APQModel(
        spec=spec, eta=1.0,
        codebook_rows=train_codebook_local(x[:10000], spec),
        train_loss=0.0,
    )

    def metrics(model):
        cb = model.codebook_array()
        cbz = np.where(np.isfinite(cb), cb, 0.0)
        codes = apq_codes_local(x, model)
        dec = np.concatenate(
            [cbz[s, codes[:, s]] for s in range(spec.splits)], axis=1
        )
        hits = short = 0
        se = []
        for qv in queries:
            s_true, s_adc = x @ qv, dec @ qv
            top = np.argsort(-s_true)[:10]
            truth = set(top.tolist())
            ranked = np.argsort(-s_adc)
            hits += len(truth & set(ranked[:10].tolist()))
            short += len(truth & set(ranked[:100].tolist()))
            se.extend(((s_true[top] - s_adc[top]) ** 2).tolist())
        n = 10 * len(queries)
        return hits / n, short / n, float(np.sqrt(np.mean(se)))

    r_a, sh_a, rmse_a = metrics(apq)
    r_p, sh_p, rmse_p = metrics(plain)
    _, encode_s = b.time(
        lambda: apq_encode(emb, "embedding", apq).select("embedding_apq")
    )
    return {
        "apq_train_s": round(train_s, 3),
        "apq_topk_score_rmse": round(rmse_a, 4),
        "pq_topk_score_rmse": round(rmse_p, 4),
        "apq_shortlist100_recall_at10": round(sh_a, 4),
        "pq_shortlist100_recall_at10": round(sh_p, 4),
        "apq_ip_recall_at10": round(r_a, 4),
        "pq_ip_recall_at10": round(r_p, 4),
        "apq_eta": round(eta, 3),
        "apq_encode_s": round(encode_s, 3),
    }


# The documents' texts (× ``reps``) joined into ~15 KB bodies. Real
# WET/WARC records are 10-40 KB; the corpus's ~300 B docs would time
# per-record header parsing instead of scan throughput.
def _corpus_bodies(b: Bench, reps: int, sep: str, wrap: str = "{}") -> list:
    texts = b.spark.read.parquet(f"{b.sf_dir}/documents.parquet").select("text")
    bodies, buf, size = [], [], 0
    for t in list(texts.toPandas().text) * reps:
        buf.append(wrap.format(t))
        size += len(t)
        if size >= 15000:
            bodies.append(sep.join(buf))
            buf, size = [], 0
    return bodies


# ``recs`` as 8 WARC files (≈ the per-file parallelism Common Crawl
# ships).
def _write_shards(path: str, recs: list, suffix: str, **kw) -> None:
    from lantern_spark.sources.warc import write_warc

    shard = max(1, len(recs) // 8)
    for i in range(0, len(recs), shard):
        write_warc(os.path.join(path, f"part-{i:06d}{suffix}"), recs[i : i + shard], **kw)


# WET ingestion throughput: the Common Crawl front door is a decompress
# + regex scan — MB/s on a synthetic WET file built from the documents
# table (min of 2: run 1 pays first-open/codec init).
def _wet_ingest(b: Bench) -> dict:
    from lantern_spark.sources.warc import read_wet

    recs = [
        {
            "warc_type": "conversion",
            "url": f"https://bench.example.com/{i}",
            "payload": t,
            "record_id": f"<urn:uuid:bench-{i}>",
        }
        for i, t in enumerate(_corpus_bodies(b, 16, "\n\n"))
    ]
    raw_mb = sum(len(r["payload"].encode("utf-8")) for r in recs) / 1e6
    with tempfile.TemporaryDirectory(prefix="bench_wet_") as root:
        _write_shards(root, recs, ".warc.wet.gz", gzip_per_record=False, gzip_file=True)
        _, s = b.time(
            lambda: read_wet(b.spark, root).select("record_id", "text"), reps=2
        )
    return {
        "wet_ingest_s": round(s, 3),
        "wet_ingest_docs": len(recs),
        "wet_ingest_text_mb": round(raw_mb, 2),
        "wet_ingest_mb_per_s": round(raw_mb / s, 2),
    }


# Raw-WARC strict path: per-record-gzip archive (Common Crawl's layout)
# → streaming Content-Length parse → HTTP envelope split (half the
# bodies gzip content-coded) → html_to_text. Beside it the Python-re
# Arrow extractor (byte-identical by test) and the fused one-crossing
# tier (parse + envelope + extraction in one mapInArrow stage;
# row-identical by test), so each tradeoff is a number.
def _warc_ingest(b: Bench) -> dict:
    from lantern_spark.functions.html import regex_text_extractor
    from lantern_spark.sources.warc import (
        build_http_response,
        read_warc,
        warc_documents_fused,
        warc_response_documents,
    )

    bodies = [
        "<html><head><title>b</title></head><body>" + body + "</body></html>"
        for body in _corpus_bodies(b, 8, "\n", wrap="<p>{}</p>")
    ]
    recs = [
        {
            "warc_type": "response",
            "url": f"https://bench.example.com/{i}",
            "payload": build_http_response(t, gzip_body=(i % 2 == 0)),
            "content_type": "application/http; msgtype=response",
            "record_id": f"<urn:uuid:warcbench-{i}>",
        }
        for i, t in enumerate(bodies)
    ]
    html_mb = sum(len(t.encode("utf-8")) for t in bodies) / 1e6
    spark, q = b.spark, {}
    with tempfile.TemporaryDirectory(prefix="bench_warc_") as root:
        _write_shards(root, recs, ".warc.gz", gzip_per_record=True)
        tiers = {
            "": lambda: warc_response_documents(read_warc(spark, root)),
            "_fast": lambda: warc_response_documents(
                read_warc(spark, root), extractor=regex_text_extractor()
            ),
            "_fused": lambda: warc_documents_fused(
                spark, root, extractor=regex_text_extractor()
            ),
        }
        for tier, docs in tiers.items():
            _, s = b.time(lambda: docs().select("url", "text"), reps=2)
            q[f"warc_ingest{tier}_s"] = round(s, 3)
            if tier == "":
                q["warc_ingest_pages"] = len(recs)
                q["warc_ingest_html_mb"] = round(html_mb, 2)
            q[f"warc_ingest{tier}_mb_per_s"] = round(html_mb / s, 2)
    return q


# Full-PSL registered-domain JOIN form vs the curated expression form on
# the url_dedup corpus: the join's shuffle is the price of full-PSL
# coverage.
def _registered_domain(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.operators.weburl import (
        registered_domain,
        registered_domain_df,
    )
    from lantern_spark.queries.dedup import synth_url_expr

    docs = b.spark.read.parquet(f"{b.sf_dir}/documents.parquet").select(
        "doc_id", synth_url_expr().alias("url")
    )
    _, expr_s = b.time(
        lambda: docs.select(registered_domain("url").alias("d"))
        .groupBy()
        .agg(F.countDistinct("d"))
        .collect()
    )
    _, join_s = b.time(
        lambda: registered_domain_df(docs, "url")
        .groupBy()
        .agg(F.countDistinct("registered_domain"))
        .collect()
    )
    return {"rd_expr_form_s": round(expr_s, 3), "rd_join_form_s": round(join_s, 3)}


# Graph layer: PageRank, seed expansion, HyperBall harmonic centrality
# and PageRank under storage-mode lineage cuts (the durability premium
# SCALE.md cites), over an edge list synthesized from doc_id arithmetic
# (sf0.1: ~100k weighted edges over 2k domains — enough iterations ×
# joins to expose a lineage blowup if the checkpoint cadence regresses).
def _graph(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from lantern_spark.operators.weburl import (
        domain_harmonic_centrality,
        domain_pagerank,
        expand_seed_domains,
    )
    from lantern_spark.plans.lineage import checkpoint_mode

    ndom, q = 2000, {}

    def domain(expr):
        return F.concat(F.lit("d"), (expr % ndom).cast("string"))

    doc, j = F.col("doc_id"), F.col("j")
    ge = (
        b.spark.read.parquet(f"{b.sf_dir}/documents.parquet")
        .select(F.explode(F.sequence(F.lit(0), F.lit(19))).alias("j"), "doc_id")
        .select(
            domain(doc * 20 + j).alias("src_domain"),
            domain(doc * 7 + j * 13 + 3).alias("dst_domain"),
            ((doc % 5) + 1).cast("double").alias("n_links"),
        )
        .where(F.col("src_domain") != F.col("dst_domain"))
        .cache()
    )
    q["graph_edges"] = ge.count()

    def rank_mass():
        ranks = domain_pagerank(ge, iterations=10)
        return ranks.agg(F.sum("rank").alias("s")).first()["s"]

    mass, s = b.time(rank_mass)
    q["pagerank_s"] = round(s, 3)
    # total rank ≈ 1: dangling mass is redistributed, not dropped
    q["pagerank_mass"] = round(float(mass), 4)
    _, s = b.time(
        lambda: expand_seed_domains(ge, ["d0", "d7", "d42"], hops=2)
        .agg(F.count("*").alias("c"))
        .collect()
    )
    q["seed_expand_s"] = round(s, 3)
    # a collapsing ball estimate would mean the sketch merge regressed
    hstats, s = b.time(
        lambda: domain_harmonic_centrality(ge, max_hops=4, log2m=8)
        .agg(
            F.avg("harmonic").alias("h"),
            F.avg("reachable_estimate").alias("b"),
        )
        .first()
    )
    q["harmonic_s"] = round(s, 3)
    q["harmonic_mean"] = round(float(hstats["h"]), 3)
    q["harmonic_mean_ball"] = round(float(hstats["b"]), 1)
    with tempfile.TemporaryDirectory(prefix="bench_ckpt_") as ckdir:

        def durable():
            with checkpoint_mode("storage", dir=ckdir):
                rank_mass()

        q["pagerank_storage_ckpt_s"] = round(b.time(durable)[1], 3)
    ge.unpersist()
    return q


TELEMETRY = [
    Entry("retired_fullprobe", _retired_fullprobe),
    Entry("ann_quality", _ann_quality),
    Entry("ivf_pq_quality", _ivf_pq_quality),
    Entry("maxsim_quality", _maxsim_quality),
    Entry("substr_dedup", _substr_dedup),
    Entry("bloomset", _bloomset),
    Entry("assemble", _assemble),
    Entry("apq_quality", _apq_quality),
    Entry("wet_ingest", _wet_ingest),
    Entry("warc_ingest", _warc_ingest),
    Entry("registered_domain", _registered_domain),
    Entry("graph", _graph),
]


def table() -> list:
    """Every entry, in run order: warm-up, builds, headline queries (min
    of 2), telemetry."""
    return (
        [Entry("warmup", _warmup)]
        + _builds()
        + [
            Entry(name, lambda b, fn=fn: fn(b.spark, b.sf_dir), reps=2, headline=True)
            for name, fn in headline_queries().items()
        ]
        + TELEMETRY
    )


# -- output -----------------------------------------------------------

# quality keys kept on the stdout line when the whole block does not fit
QUALITY_KEEP = (
    "fixture_rows ivf_nlist ivf_nprobe ivf_recall_at10 hnsw_recall_at10 "
    "ivf_pq_recall_at10 router_path router_nat_path "
    "maxsim_twostage_recall_at10 pagerank_mass "
    "apq_shortlist100_recall_at10 pq_shortlist100_recall_at10"
).split()


def short_line(payload: dict, budget: int = 1950) -> str:
    """The stdout line: the payload without the file-only fields,
    trimmed progressively until it fits ``budget`` characters (the
    driver records only the last ~2000 chars of stdout, and r7's line
    outgrew that). Nothing is lost: BENCH_FULL.json keeps every field."""

    def dump(d):
        return json.dumps(d, separators=(",", ":"))

    line = {
        k: v for k, v in payload.items()
        if k not in ("runs", "run_spread", "layers")
    }
    line["full"] = "BENCH_FULL.json"
    s = dump(line)
    if len(s) > budget:  # timings to 2 decimals (noise floor is ~0.1s)
        line["queries"] = {k: round(v, 2) for k, v in line["queries"].items()}
        line["quality"] = {
            k: (round(v, 3) if isinstance(v, float) else v)
            for k, v in line["quality"].items()
        }
        s = dump(line)
    if len(s) > budget:
        # "queries" is the driver contract — quality detail yields first
        line["quality"] = {
            k: v for k, v in line["quality"].items() if k in QUALITY_KEEP
        }
        line["quality_full"] = "BENCH_FULL.json"
        s = dump(line)
    if len(s) > budget:  # still over: quality entirely in the file
        line.pop("quality", None)
        s = dump(line)
    if len(s) > budget:  # pathological; never expected
        line.pop("queries", None)
        line["queries_file"] = "BENCH_FULL.json"
        s = dump(line)
    return s


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    host_start = _host_snapshot()
    steal_start = probe.steal_seconds()

    # Janino-64KB tripwire: tee fd 2 to a log BEFORE the JVM starts, so
    # "Failed to compile" / "grows beyond 64 KB" lines can be attributed
    # to the entry that produced them (interpreted fallback is correct,
    # just slow, and no plan-pin test can see it)
    from lantern_spark.plans.codegen_guard import CodegenFailureMonitor

    monitor = CodegenFailureMonitor.install(
        os.path.join(tempfile.gettempdir(), f"bench_stderr_{os.getpid()}.log")
    )

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("lantern-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    b = Bench(probe.Tracer(spark, enabled=True), sf_dir, monitor)
    for entry in table():
        b.run(entry)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(b.total, 3),
        "unit": "sec",
        "queries": b.timings,
        # per-entry count of generated-code compile failures seen on
        # driver stderr — MUST stay {} on a healthy tree
        "codegen_failures": b.codegen_failures,
        # headline queries: min over runs_per_query back-to-back runs;
        # `runs` holds every raw sample. Builds are single-run (one-time
        # costs; repeats hit caches).
        "runs_per_query": 2,
        "estimator": "min_of_runs",
        # bumped whenever the estimator or warm-up changes. v1 = r1-r5
        # (single run, session-only warm-up); v2 = r6 (min-of-2);
        # v3 = r7 (pandas-UDF + partitioned-write warm-up); v4 = r14
        # (first-use codegen families warm-up)
        "warmup_version": 4,
        "runs": b.runs,
        "host": {
            "start": host_start,
            "end": _host_snapshot(),
            "cpu_count": os.cpu_count(),
        },
        "run_spread": {
            name: round(max(s) - min(s), 3)
            for name, s in b.runs.items()
            if len(s) > 1
        },
        "quality": b.quality,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # file-only: per-entry status-store counts of the fastest
        # repetition plus host steal, to tell host noise from a code
        # change without re-running
        "layers": {
            "steal_s": {
                "start": round(steal_start, 2),
                "end": round(probe.steal_seconds(), 2),
            },
            "entries": b.layers,
        },
    }
    try:
        with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError as e:
        print(f"# bench could not write BENCH_FULL.json: {e}", file=sys.stderr)
    print(short_line(payload))
    spark.stop()


if __name__ == "__main__":
    main()
