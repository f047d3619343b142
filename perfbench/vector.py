"""The ``vector_serving`` workload: single-probe and batched vector
search over IVF and HNSW indexes. Traced runs add one write-and-fold
cycle (the maintenance phase) after the read-only measurements."""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import refs
from harness import median

K = 10
NPROBE = 8
EF = 64
# catalog operating points; the recall floors below route one request
# to each access path (IVF is the cheaper index on these corpora)
IVF_RECALL, HNSW_RECALL = 0.90, 0.97
FLOORS = ((0.85, "ivf"), (0.95, "hnsw"), (0.99, "exact"))
BATCH_REPS = 2
# warm-up is a fixed amount of work, so every run enters its window with
# the JIT equally far along whatever the host's speed
WARM_ROUNDS = 6
TRACED_ROUNDS = 8
# maintenance cycle: writes, then every probe kind against the live delta
MAINT_INSERTS, MAINT_UPDATES, MAINT_DELETES = 20, 10, 10
PROBE_KINDS = ("insert", "update", "delete", "held_out")
PROBES_PER_KIND = 2


def _vec_columns(ids, x):
    return {"id": ids, "vec": [row for row in x.astype(np.float32)]}


def _ids_dists(rows):
    return [int(r[0]) for r in rows], np.asarray([float(r[1]) for r in rows])


def _build_indexes(run, df, where: str):
    from lantern_spark.operators.hnsw import HNSWIndex
    from lantern_spark.operators.index import IVFIndex

    ivf, r1 = run.op("index.build", lambda: IVFIndex.build(
        df, "vec", "id", os.path.join(where, "ivf"), seed=run.seed))
    hnsw, r2 = run.op("hnsw.build", lambda: HNSWIndex.build(
        df, "vec", "id", os.path.join(where, "hnsw"), shards=1, seed=run.seed))
    if ivf is None or hnsw is None:
        raise RuntimeError("index build failed: " + "; ".join(run.errors[-2:]))
    run.detail["hnsw_shards"] = int(hnsw.manifest["shards"])
    return ivf, hnsw, (r1["ms"] + r2["ms"]) / 1e3


def _setup(run, n: int, n_probes: int, reps: int):
    """Generate inputs and build both indexes ``reps`` times; the last
    build serves. Returns the state plus per-rep (setup, build) seconds."""
    rep_s, build_s = [], []
    for rep in range(reps):
        t0 = time.perf_counter()
        ids, x, probes = gen.vector_corpus(run.seed, n, n_probes)
        corpus = run.write_parquet(f"corpus{rep}.parquet", _vec_columns(ids, x))
        probe_path = run.write_parquet(f"probes{rep}.parquet", {
            "qid": np.arange(n_probes, dtype=np.int64),
            "query": [row for row in probes]})
        df = run.spark.read.parquet(corpus)
        ivf, hnsw, b = _build_indexes(run, df, run.path(f"idx{rep}"))
        rep_s.append(time.perf_counter() - t0)
        build_s.append(b)
    return (ids, x, probes, df, probe_path, ivf, hnsw), rep_s, build_s


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- vector_serving --------------------------------------------------------

def vector_serving(run) -> dict:
    from lantern_spark.operators.knn import knn_search
    from lantern_spark.plans import router

    n, n_probes = 1000, 200
    # five set-ups: the first runs cold and the second is still warming,
    # so the median is a warm one
    (ids, x, probes, df, probe_path, ivf, hnsw), rep_s, build_s = _setup(
        run, n, n_probes, reps=5)
    catalog = router.IndexCatalog(run.path("catalog"))
    catalog.register_ivf(ivf, "corpus", nprobe=NPROBE, recall_estimate=IVF_RECALL)
    catalog.register_hnsw(hnsw, "corpus", ef=EF, num_vectors=n, recall_estimate=HNSW_RECALL)
    truth = [refs.exact_topk(ids, x, q, K) for q in probes]
    recalls = []
    state = {"i": 0}

    def next_probe():
        j = state["i"] % n_probes
        state["i"] += 1
        return j, [float(v) for v in probes[j]]

    def check_ann(j):
        def check(rows):
            got, _ = _ids_dists(rows)
            if run.measuring:
                recalls.append(refs.recall(got, truth[j][0]))
            return len(got) == K
        return check

    def check_exact(j):
        def check(rows):
            got, d = _ids_dists(rows)
            return refs.same_topk(got, d, *truth[j])
        return check

    def routed(floor, expect):
        j, q = next_probe()
        if run.trace and run.tracer.active:
            run.op("router.route", lambda: router.route(
                catalog, "corpus", "vec", "l2sq", n, floor))
        decision = {}

        def build():
            out, dec = router.ann_search(run.spark, df, "corpus", "vec", q, k=K,
                                         catalog=catalog, recall_floor=floor,
                                         explain=True)
            decision["path"] = dec.access_path
            return out

        def check(rows):
            run.path_counts[decision["path"]] = run.path_counts.get(decision["path"], 0) + 1
            if decision["path"] != expect:
                return False
            return (check_exact(j) if expect == "exact" else check_ann(j))(rows)

        run.op("router.ann_search", build,
               lambda out: out.select("id", "dist").collect(), "query", check)

    def one_round(_i=None):
        with run.tracer.request("search_mix"):
            for floor, expect in FLOORS:
                routed(floor, expect)
            j, q = next_probe()
            run.op("index.search", lambda: ivf.search(run.spark, q, k=K, nprobe=NPROBE),
                   lambda out: out.select("id", "dist").collect(), "query", check_ann(j))
            j, q = next_probe()
            run.op("hnsw.search", lambda: hnsw.search(run.spark, q, k=K, ef=EF),
                   lambda out: out.select("id", "dist").collect(), "query", check_ann(j))
            j, q = next_probe()
            run.op("knn.knn_search", lambda: knn_search(df, "vec", q, k=K, tie_break="id"),
                   lambda out: out.select("id", "dist").collect(), "query", check_exact(j))

    run.warm_up(one_round, WARM_ROUNDS)
    wall = run.window("window", run.alternating(one_round),
                      run.seconds, fixed_rounds=TRACED_ROUNDS if run.trace else None)

    probes_df = run.spark.read.parquet(probe_path)
    batch_recall = []

    def check_batch(rows):
        got: dict = {}
        for r in rows:
            got.setdefault(int(r[0]), []).append(int(r[1]))
        if len(got) != n_probes or any(len(v) != K for v in got.values()):
            return False
        batch_recall.append(float(np.mean(
            [refs.recall(got[j], truth[j][0]) for j in range(n_probes)])))
        return True

    def batch_phase():
        secs = {"index.search_batch": [], "hnsw.search_batch": []}
        for _ in range(BATCH_REPS):
            _, r = run.op("index.search_batch",
                          lambda: ivf.search_batch(run.spark, probes_df, k=K, nprobe=NPROBE),
                          lambda out: out.select("qid", "id").collect(), None, check_batch)
            secs["index.search_batch"].append(r["ms"] / 1e3 if r else float("nan"))
            _, r = run.op("hnsw.search_batch",
                          lambda: hnsw.search_batch(run.spark, probes_df, k=K, ef=EF),
                          lambda out: out.select("qid", "id").collect(), None, check_batch)
            secs["hnsw.search_batch"].append(r["ms"] / 1e3 if r else float("nan"))
        return secs

    secs = run.timed_phase("batch", batch_phase)
    if run.trace:
        _maintenance(run, ids, x, probes, ivf, hnsw)
    # one median per index, so a single slow call cannot move the rate
    batch_s = sum(median(v) for v in secs.values())
    q = run.lat.get("query", [])
    run.detail.update({
        "corpus_vectors": n, "probes": n_probes,
        "batch_probes_per_s": n_probes * len(secs) / batch_s,
        "batch_call_s": secs,
        "batch_recall_at10": median(batch_recall),
        "build_vectors_per_s": n / median(build_s),
        "route_paths": dict(run.path_counts),
    })
    return {
        "setup_rep_s": rep_s,
        "query_ms": q,
        "round_ms": run.round_ms,
        "queries_per_s": len(q) / wall,
        "batch_items_per_s": run.detail["batch_probes_per_s"],
        "build_items_per_s": run.detail["build_vectors_per_s"],
        "recall_at10": float(np.mean(recalls)) if recalls else 0.0,
    }


# -- maintenance phase -------------------------------------------------------

def _maintenance(run, ids, x, probes, ivf, hnsw) -> None:
    """One write cycle on the serving indexes, after the read-only
    measurements: IVF inserts, updates and deletes and HNSW inserts,
    searches that must see the live delta, then a fold of both indexes
    and validation. Runs in traced runs only (it would cost an untraced
    run a third of its time budget); its numbers go to the detail
    report and the per-layer metrics."""
    from pyspark.sql import types as T

    c = gen.write_stream(run.seed, x, cycles=1, inserts=MAINT_INSERTS,
                         updates=MAINT_UPDATES, deletes=MAINT_DELETES)[0]
    ivf_live = {int(i): v for i, v in zip(ids, x)}
    hnsw_live = dict(ivf_live)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("vec", T.ArrayType(T.FloatType()))])
    id_schema = T.StructType([T.StructField("id", T.LongType())])
    rng = np.random.default_rng([run.seed, 9])
    folds, recalls = [], []

    def rows(id_arr, vecs):
        return [(int(i), [float(v) for v in row]) for i, row in zip(id_arr, vecs)]

    def search_check(live, target, banned, q):
        keys = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
        ref_ids, _ = refs.exact_topk(keys, np.stack([live[int(k)] for k in keys]), q, K)

        def check(result):
            got, _ = _ids_dists(result)
            if len(got) != K or any(g not in live for g in got):
                return False
            if banned is not None and banned in got:
                return False
            if target is not None and got[0] != target:
                return False
            recalls.append(refs.recall(got, ref_ids))
            return True
        return check

    def cycle(_i=None):
        with run.tracer.request("maintenance_cycle"):
            ups = rows(np.concatenate([c["insert_ids"], c["update_ids"]]),
                       np.concatenate([c["insert_vecs"], c["update_vecs"]]))
            run.op("index.add_delta", lambda: ivf.add_delta(
                run.spark.createDataFrame(ups, schema)), None, "write")
            run.op("index.delete", lambda: ivf.delete(run.spark.createDataFrame(
                [(int(i),) for i in c["delete_ids"]], id_schema)), None, "write")
            run.op("hnsw.add_delta", lambda: hnsw.add_delta(run.spark.createDataFrame(
                rows(c["insert_ids"], c["insert_vecs"]), schema)), None, "write")
            for i, v in zip(c["insert_ids"], c["insert_vecs"]):
                ivf_live[int(i)] = v
                hnsw_live[int(i)] = v
            for i, v in zip(c["update_ids"], c["update_vecs"]):
                ivf_live[int(i)] = v
            for i in c["delete_ids"]:
                ivf_live.pop(int(i), None)
            for kind in PROBE_KINDS * PROBES_PER_KIND:
                if kind == "insert":  # a fresh insert must come back first
                    j = int(rng.integers(MAINT_INSERTS))
                    tid, q, ban = int(c["insert_ids"][j]), c["insert_vecs"][j], None
                elif kind == "update":  # an update must be visible with its new vector
                    j = int(rng.integers(MAINT_UPDATES))
                    tid, q, ban = int(c["update_ids"][j]), c["update_vecs"][j], None
                elif kind == "delete":  # a deleted id must not come back for its own vector
                    j = int(rng.integers(MAINT_DELETES))
                    tid, q, ban = None, x[int(c["delete_ids"][j])], int(c["delete_ids"][j])
                else:
                    tid, q, ban = None, probes[int(rng.integers(len(probes)))], None
                ql = [float(v) for v in q]
                run.op("index.search_delta",
                       lambda: ivf.search(run.spark, ql, k=K, nprobe=NPROBE),
                       lambda out: out.select("id", "dist").collect(), "delta_query",
                       search_check(ivf_live, tid, ban, q))
                # the graph index takes inserts only (its fold seals
                # shards), so only insert probes name a target
                run.op("hnsw.search_delta", lambda: hnsw.search(run.spark, ql, k=K, ef=EF),
                       lambda out: out.select("id", "dist").collect(), "delta_query",
                       search_check(hnsw_live, tid if kind == "insert" else None, None, q))
            lists_before = _list_dirs(ivf.path)
            f = time.perf_counter()
            new_ivf, _ = run.op("index.fold_delta", lambda: ivf.fold_delta(run.spark))
            new_hnsw, _ = run.op("hnsw.fold_delta", lambda: hnsw.fold_delta(run.spark))
            folds.append(time.perf_counter() - f)
        # verification after the fold (not part of any latency)
        folded_ivf, folded_hnsw = new_ivf or ivf, new_hnsw or hnsw
        run.detail["lists_rewritten"] = [_changed(lists_before, _list_dirs(folded_ivf.path))]
        rep, _ = run.op("index.validate", lambda: folded_ivf.validate(
            run.spark, sample_queries=1))
        run.expect(rep is not None and not rep["problems"]
                   and int(rep["num_vectors"]) == len(ivf_live),
                   f"IVF validate after fold: {rep and rep['problems']}")
        run.op("hnsw.validate", lambda: folded_hnsw.validate(run.spark, strict=True))
        run.detail["index_bytes_per_vector"] = (
            _dir_bytes(folded_ivf.path) + _dir_bytes(folded_hnsw.path)
        ) / (len(ivf_live) + len(hnsw_live))

    run.window("maintenance", cycle, 0, fixed_rounds=1)
    wr, dq = run.lat.get("write", []), run.lat.get("delta_query", [])
    run.detail.update({
        "write_p50_ms": median(wr), "write_samples": len(wr),
        "delta_query_p50_ms": median(dq), "delta_query_samples": len(dq),
        "fold_s": median(folds), "delta_recall_at10": float(np.mean(recalls)) if recalls else 0.0,
    })


def _list_dirs(path: str) -> dict:
    lists = os.path.join(path, "lists")
    out = {}
    if os.path.isdir(lists):
        for e in os.scandir(lists):
            if e.is_dir():
                out[e.name] = frozenset(os.listdir(e.path))
    return out


def _changed(before: dict, after: dict) -> int:
    return sum(1 for k in set(before) | set(after) if before.get(k) != after.get(k))
