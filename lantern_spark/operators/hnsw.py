"""Per-partition HNSW graph index — the high-recall ANN mode.

Reference: the entire lantern_hnsw core is an HNSW graph
(lantern_hnsw/src/hnsw/build.c:472-648, scan.c:167-338, on usearch).
Spark mapping (SURVEY §7 step 5): each partition builds an independent
in-memory graph — the analog of the external-index server shards
(lantern_cli/src/external_index/server.rs:311-435), with Spark task
parallelism replacing the socket protocol. Search fans the query to
every shard (mapInPandas over the persisted graph rows), each shard
answers its local top-k in ~O(ef·log n) distance evaluations, and a
global TakeOrdered merges the P·k candidate tuples — the base vectors
never shuffle.

Why this exists next to IVF: at high dimension / high recall, IVF needs
nprobe → nlist (scan fraction → 1) where a graph reaches the same
recall visiting a few percent of the points. ``search`` returns the
per-shard distance-evaluation count so the recall-vs-scan-fraction
contract is measurable (tests/test_scale.py pins recall@10 ≥ 0.99 at a
scan fraction below what IVF needs for the same recall on the same
fixture).

Metrics: l2sq/cos/inner over float vectors, plus hamming over int32
bit-packed vectors (the dist_hamming_ops op class, lantern.sql:85-95) —
hamming graphs store the packed words verbatim as uint32 and walk with
an xor+popcount kernel (functions/bitops). Caveat shared with every
HNSW implementation: a corpus dominated by EXACT duplicates (thousands
of rows with one code) degrades graph connectivity — duplicate cliques
saturate neighbor lists and back-link pruning turns late inserts into
sinks. Dedup such corpora upstream (operators/dedup) or use the IVF /
exact paths, which are duplicate-proof.

Algorithm: pure-numpy implementation of the published HNSW paper
(Malkov & Yashunin 2016) — hnswlib is not available in this container.
Level ~ floor(-ln(U)·mL) with mL = 1/ln(M); greedy descent through
upper layers; ef-bounded best-first search per layer; M-bounded
bidirectional links (2M at layer 0). Deterministic: seeded RNG per
shard, insertion in ascending id order. Neighbor expansion is
vectorized (one gather + einsum per popped node) so the Python loop is
O(nodes popped), not O(distances).
"""

from __future__ import annotations

import heapq
import math
import os
import pickle
from typing import Any, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lantern_spark.operators import artifact
from lantern_spark.operators.artifact import (
    DELTA,
    DELTA_SEQ,
    MANIFEST,
    IndexArtifact,
    commit,
    stage_path,
)
from lantern_spark.types import Metric


_QUANT_DTYPES = {
    "f32": np.float32,
    "f16": np.float16,
    "i8": np.int8,
    "pq": np.uint8,  # one code byte per subspace; codebook rides the shard
}


def _resolve_quant(quant: str) -> str:
    q = str(quant).lower()
    if q not in _QUANT_DTYPES:
        raise ValueError(
            f"unknown quant {quant!r}; expected one of "
            f"{sorted(_QUANT_DTYPES)} (quant_bits 32/16/8 analog)"
        )
    return q


class HnswGraph:
    """Single-shard in-memory HNSW graph (numpy buffer + adjacency).

    ``quant`` stores the vector buffer at reduced precision — the
    reference's in-index quantization (build.c:498-501 loads quantized
    elements; ``quant_bits`` reloption options.c:137-158). "f16" keeps
    IEEE half floats (usearch scalar_kind f16); "i8" min-max-affine
    int8 codes with shard-level (lo, hi) bounds. Distances are computed
    against the dequantized rows per gather — the asymmetric scheme
    (query stays f32), matching the reference's quantized scan
    (scan.c:75-81)."""

    def __init__(
        self,
        dim: int,
        m: int = 16,
        ef_construction: int = 100,
        seed: int = 42,
        metric: str = "l2sq",
        quant: str = "f32",
    ):
        self.dim = dim
        self.m = m
        self.m0 = 2 * m
        self.efc = ef_construction
        self.ml = 1.0 / math.log(m)
        self.seed = seed
        self.metric = Metric.resolve(metric).value
        self.quant = _resolve_quant(quant)
        self.i8_lo = -1.0  # overridden by set_i8_bounds before inserts
        self.i8_hi = 1.0
        self.codebook = None  # (splits, clusters, subdim) — pq only
        self._adc_q = None  # identity key for the per-query ADC table
        self._adc_table = None
        self.rng = np.random.RandomState(seed)
        width = dim  # pq reallocates to (cap, splits) in set_pq_codebook
        if self.metric == "hamming":
            # packed-bit graphs store the int32 words verbatim as
            # uint32 (dist_hamming_ops analog, lantern.sql:85-95);
            # float storage would round words past 24 mantissa bits
            if self.quant != "f32":
                raise ValueError(
                    "hamming graphs store exact packed words; "
                    "quant must be 'f32' (b1 packing IS the quantization)"
                )
            self._buf = np.empty((256, width), dtype=np.uint32)
        else:
            self._buf = np.empty((256, width), dtype=_QUANT_DTYPES[self.quant])
        self.ids: list = []
        self.adj: list = []  # adj[i][level] = list[int]
        self.levels: list = []
        self.entry = -1
        self.max_level = -1
        self.n_dist = 0  # distance evaluations (scan-fraction metric)

    # -- internals ------------------------------------------------------

    @property
    def n(self) -> int:
        return len(self.ids)

    def set_i8_bounds(self, lo: float, hi: float) -> None:
        """Affine i8 bounds — must be set before the first insert (the
        build collects the shard's rows first, so bounds are exact)."""
        if self.n:
            raise ValueError("i8 bounds must be set before inserts")
        self.i8_lo = float(lo)
        self.i8_hi = float(hi) if hi > lo else float(lo) + 1.0

    def set_pq_codebook(self, codebook: np.ndarray) -> None:
        """PQ codebook (splits, clusters, subdim) — must be set before
        the first insert (build.c:498-501: the graph loads quantized
        elements; the codebook is the index's shared side structure).
        The code buffer holds one uint8 per subspace — dim·4/splits ×
        compression vs f32."""
        if self.quant != "pq":
            raise ValueError("codebook only applies to quant='pq'")
        if self.n:
            raise ValueError("pq codebook must be set before inserts")
        cb = np.asarray(codebook, dtype=np.float32)
        splits = cb.shape[0]
        if cb.ndim != 3 or self.dim % splits != 0 or cb.shape[2] != self.dim // splits:
            raise ValueError(
                f"codebook shape {cb.shape} inconsistent with dim {self.dim}"
            )
        if cb.shape[1] > 256:
            raise ValueError("pq clusters > 256 do not fit uint8 codes")
        self.codebook = cb
        self._buf = np.empty((256, splits), dtype=np.uint8)

    def _encode(self, v: np.ndarray) -> np.ndarray:
        """f32 row → storage dtype."""
        if self.metric == "hamming":
            return v.astype(np.uint32)  # _prep already masked to words
        if self.quant == "i8":
            scale = (self.i8_hi - self.i8_lo) or 1.0
            q = np.round((v - self.i8_lo) / scale * 254.0 - 127.0)
            return np.clip(q, -127, 127).astype(np.int8)
        if self.quant == "pq":
            if self.codebook is None:
                raise ValueError("set_pq_codebook must run before inserts")
            cb = self.codebook
            splits, _clusters, subdim = cb.shape
            sub = v.reshape(splits, subdim)
            # per-subspace nearest centroid → uint8 code
            d = ((cb - sub[:, None, :]) ** 2).sum(axis=2)
            return d.argmin(axis=1).astype(np.uint8)
        return v.astype(_QUANT_DTYPES[self.quant])

    def _decode_rows(self, rows: np.ndarray) -> np.ndarray:
        """Storage rows → f32 working precision (hamming: uint32 words
        stay packed — the distance kernel consumes them directly)."""
        if self.metric == "hamming":
            return rows
        if self.quant == "i8":
            scale = (self.i8_hi - self.i8_lo) or 1.0
            return (
                (rows.astype(np.float32) + 127.0) / 254.0 * scale + self.i8_lo
            )
        if self.quant == "pq":
            cb = self.codebook
            splits = cb.shape[0]
            return np.concatenate(
                [cb[s][rows[:, s]] for s in range(splits)], axis=1
            )
        if self.quant == "f16":
            return rows.astype(np.float32)
        return rows

    def vectors(self) -> np.ndarray:
        """All stored vectors dequantized to f32 (lossy for f16/i8 —
        the quantized-index contract: originals are not retained).
        Hamming graphs return the SIGNED int32 word values — the
        user-facing ``integer[]`` domain — exactly."""
        if self.metric == "hamming":
            from lantern_spark.functions.bitops import from_uint32_words

            return from_uint32_words(self._buf[: self.n])
        return self._decode_rows(self._buf[: self.n])

    def _norm(self, v: np.ndarray) -> np.ndarray:
        if self.metric == "cos":
            return v / max(float(np.linalg.norm(v)), 1e-30)
        return v

    def _prep(self, vec) -> np.ndarray:
        """Caller vector → the working form the distance kernel expects
        (hamming: packed uint32 words; else normalized f32)."""
        if self.metric == "hamming":
            from lantern_spark.functions.bitops import to_uint32_words

            return to_uint32_words(np.asarray(vec))
        # np.array (not asarray): always copy — the ADC table cache is
        # keyed by object identity, so a caller reusing and MUTATING
        # one ndarray across searches must not alias the cached key
        # (ADVICE r5)
        return self._norm(np.array(vec, dtype=np.float32))

    def _dists(self, q: np.ndarray, idxs) -> np.ndarray:
        idxs = np.asarray(idxs, dtype=np.int64)
        self.n_dist += len(idxs)
        if self.metric == "hamming":
            from lantern_spark.functions.bitops import popcount_rows

            xor = np.bitwise_xor(self._buf[idxs], q[None, :])
            return popcount_rows(xor).astype(np.float64)
        if self.quant == "pq":
            # ADC (scan.c:75-81): per-query table of ‖q_s − centroid‖²
            # per subspace, then distances are table lookups summed over
            # subspaces — no row reconstruction in the hot loop. The
            # table is built once per query (identity-cached; one search
            # or insert reuses the same array object throughout).
            if self._adc_q is not q:
                cb = self.codebook
                splits, _clusters, subdim = cb.shape
                sub = q.reshape(splits, 1, subdim)
                self._adc_table = ((cb - sub) ** 2).sum(axis=2)
                self._adc_q = q
            codes = self._buf[idxs]
            splits = self.codebook.shape[0]
            return self._adc_table[np.arange(splits), codes].sum(axis=1)
        d = self._decode_rows(self._buf[idxs]) - q
        return np.einsum("ij,ij->i", d, d)

    def _search_layer(self, q, eps, ef: int, level: int):
        """Best-first ef-bounded search (paper Alg. 2). Returns
        [(dist, idx)] ascending, ≤ ef entries."""
        d0 = self._dists(q, eps)
        visited = set(eps)
        cand = list(zip(d0.tolist(), eps))
        heapq.heapify(cand)
        best = [(-d, e) for d, e in cand]
        heapq.heapify(best)
        while len(best) > ef:
            heapq.heappop(best)
        while cand:
            d, c = heapq.heappop(cand)
            if len(best) >= ef and d > -best[0][0]:
                break
            neigh = [e for e in self.adj[c][level] if e not in visited]
            if not neigh:
                continue
            visited.update(neigh)
            nd = self._dists(q, neigh)
            for dd, e in zip(nd.tolist(), neigh):
                if len(best) < ef or dd < -best[0][0]:
                    heapq.heappush(cand, (dd, e))
                    heapq.heappush(best, (-dd, e))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted((-d, e) for d, e in best)

    # -- build ----------------------------------------------------------

    def add(self, vid, vec: Sequence[float]) -> None:
        i = self.n
        if i == len(self._buf):
            self._buf = np.vstack([self._buf, np.empty_like(self._buf)])
        v = self._prep(vec)
        if v.shape[0] != self.dim:
            raise ValueError(
                f"hnsw: dimension mismatch ({v.shape[0]} vs {self.dim})"
            )
        self._buf[i] = self._encode(v)
        self.ids.append(vid)
        level = int(-math.log(max(self.rng.random_sample(), 1e-12)) * self.ml)
        self.levels.append(level)
        self.adj.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return
        # navigate with the STORED (quantized) form of the new vector so
        # build-time links are consistent with search-time distances
        q = self._decode_rows(self._buf[i : i + 1])[0]
        ep = [self.entry]
        for lc in range(self.max_level, level, -1):
            ep = [self._search_layer(q, ep, 1, lc)[0][1]]
        for lc in range(min(level, self.max_level), -1, -1):
            cands = self._search_layer(q, ep, self.efc, lc)
            mmax = self.m0 if lc == 0 else self.m
            sel = [e for _d, e in cands[: self.m]]
            self.adj[i][lc] = list(sel)
            for s in sel:
                lst = self.adj[s][lc]
                lst.append(i)
                if len(lst) > mmax:
                    qs = self._decode_rows(self._buf[s : s + 1])[0]
                    ds = self._dists(qs, lst)
                    order = np.argsort(ds, kind="stable")[:mmax]
                    self.adj[s][lc] = [lst[j] for j in order]
            ep = [e for _d, e in cands]
        if level > self.max_level:
            self.entry, self.max_level = i, level

    # -- search ---------------------------------------------------------

    def search(self, query: Sequence[float], k: int = 10, ef: int = 64):
        """Local top-k: [(id, dist)] ascending + #distance evals."""
        if self.entry < 0:
            return [], 0
        q = self._prep(query)  # always a fresh array (ADC cache, ADVICE r5)
        self.n_dist = 0
        ep = [self.entry]
        for lc in range(self.max_level, 0, -1):
            ep = [self._search_layer(q, ep, 1, lc)[0][1]]
        res = self._search_layer(q, ep, max(ef, k), 0)
        out = []
        for d, i in res[:k]:
            if self.metric == "cos":
                # normalized l2sq = 2·(1 − cos_sim) → cos distance
                d = d / 2.0
            out.append((self.ids[i], float(d)))
        return out, self.n_dist

    # -- (de)serialization (plain dict payload — no class pickling) -----

    def to_payload(self) -> bytes:
        return pickle.dumps(
            {
                "dim": self.dim,
                "m": self.m,
                "efc": self.efc,
                "seed": self.seed,
                "metric": self.metric,
                "quant": self.quant,
                "i8_lo": self.i8_lo,
                "i8_hi": self.i8_hi,
                "codebook": self.codebook,
                "buf": self._buf[: self.n].copy(),
                "ids": self.ids,
                "adj": self.adj,
                "levels": self.levels,
                "entry": self.entry,
                "max_level": self.max_level,
            },
            protocol=4,
        )

    @classmethod
    def from_payload(cls, payload: bytes) -> "HnswGraph":
        d = pickle.loads(payload)
        g = cls(
            d["dim"], d["m"], d["efc"], d["seed"], d["metric"],
            quant=d.get("quant", "f32"),
        )
        g.i8_lo = d.get("i8_lo", -1.0)
        g.i8_hi = d.get("i8_hi", 1.0)
        g.codebook = d.get("codebook")
        g._buf = d["buf"]
        g.ids = d["ids"]
        g.adj = d["adj"]
        g.levels = d["levels"]
        g.entry = d["entry"]
        g.max_level = d["max_level"]
        return g


_GRAPH_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


# Arrow/Parquet binary cells and task buffers cap a single value around
# 2 GB; we refuse well before that so a mis-sized ``shards`` fails with
# an actionable message instead of an obscure mid-write Arrow error
# (VERDICT r2 "What's wrong" #2).
MAX_PAYLOAD_BYTES = 1_500_000_000


def _build_graph_row(
    ids, vecs, sid, dim, m, ef_construction, seed, mval, qval,
    pq_splits, pq_clusters, max_payload_bytes,
) -> pd.DataFrame:
    """Build ONE shard graph from in-hand rows and serialize it to its
    single parquet row — shared by :meth:`HNSWIndex.build` (one call
    per partition) and :meth:`HNSWIndex.fold_delta` (one call for the
    promoted delta shard). ``seed + sid`` keeps per-shard determinism
    layout-independent."""
    order = np.argsort(np.asarray(ids), kind="stable")
    g = HnswGraph(dim, m, ef_construction, seed + sid, mval, quant=qval)
    if qval in ("i8", "pq"):
        # shard-local stats (all rows are in hand before inserting)
        arr = np.asarray(vecs, dtype=np.float32)
        if mval == "cos":
            arr = arr / np.maximum(
                np.linalg.norm(arr, axis=1, keepdims=True), 1e-30
            )
        if qval == "i8":
            g.set_i8_bounds(float(arr.min()), float(arr.max()))
        else:
            # shard-local PQ codebook: seeded k-means per subspace
            # over the shard's own rows (the in-graph PQ tier;
            # codebook serializes with the graph)
            from lantern_spark.operators.pq import _kmeans_fit

            subdim = dim // pq_splits
            if dim % pq_splits:
                raise ValueError(
                    f"dim {dim} not divisible by pq_splits {pq_splits}"
                )
            cb = np.stack(
                [
                    _kmeans_fit(
                        arr[:, s * subdim : (s + 1) * subdim]
                        .astype(np.float64),
                        pq_clusters,
                        seed=seed + s,
                        iters=25,
                    ).astype(np.float32)
                    for s in range(pq_splits)
                ]
            )
            g.set_pq_codebook(cb)
    for j in order:
        g.add(ids[j], vecs[j])
    payload = g.to_payload()
    if len(payload) > max_payload_bytes:
        raise ValueError(
            f"hnsw shard {sid} payload is {len(payload)} bytes "
            f"(> {max_payload_bytes}); increase shards= so each "
            "graph holds fewer vectors, or use quant='f16'/'i8'"
        )
    return pd.DataFrame(
        {"shard_id": [sid], "n": [g.n], "payload": [payload]}
    )


class HNSWIndex(IndexArtifact):
    """Persisted per-partition HNSW index (one graph row per shard)."""

    def __init__(self, path: str, manifest: dict):
        super().__init__(path)
        self.manifest = manifest
        # one-behind probe snapshot from the last DataFrame-path
        # search_batch — released at the next call (unpersist is
        # lazy-safe: a held result recomputes)
        self._batch_snap = None

    def _delta_keys(self) -> tuple:
        mf = self.manifest
        return mf["id_column"], mf["column"], int(mf.get("folded_seq", 0))

    def _stored_types(self, spark: SparkSession) -> dict:
        mf = self.manifest
        return {mf["id_column"]: "long", mf["column"]: self._vec_sql()}

    @classmethod
    def build(
        cls,
        df: DataFrame,
        column: str,
        id_column: str,
        path: str,
        m: int = 16,
        ef_construction: int = 100,
        shards: Optional[int] = None,
        metric: str = "l2sq",
        seed: int = 42,
        quant: str = "f32",
        pq_splits: int = 8,
        pq_clusters: int = 16,
        max_payload_bytes: int = MAX_PAYLOAD_BYTES,
        target_rows_per_shard: int = 1_000_000,
    ) -> "HNSWIndex":
        """ONE shuffle (hash-repartition by id into ``shards``), then a
        map-only graph build per shard; each shard serializes to a
        single parquet row. At 100 TB, ``shards`` scales with executor
        count and each graph holds 1/shards of the data in memory —
        the same sharding contract as the reference's external-index
        protocol, minus the socket.

        ``shards=None`` (default) sizes the shard count from the
        corpus: ``ceil(n / target_rows_per_shard)`` clamped to
        [1, 4096] (one count job). Per-shard graph memory is the
        binding constraint upward (1M rows × (dim·4 + 2·m·8) bytes ≈
        0.5-1 GiB at dim 64-512 — comfortably inside an executor), but
        QUERY cost multiplies by the shard count — every shard walks
        its graph for every probe (the router's
        ``estimate_hnsw_tuples`` bound × shards,
        plans/router.py) — so a small corpus must NOT be spread over
        many shards just to use the cluster: a 60k-row corpus on 8
        shards does MORE distance work than a flat scan (the r5 bench
        finding that motivated this default).

        ``quant`` ∈ {"f32", "f16", "i8", "pq"} — the ``quant_bits``
        reloption analog (options.c:137-158): vectors inside the graph
        are stored at reduced precision (build.c:498-501 loads
        quantized elements into the index), cutting per-shard memory —
        the binding constraint at 100 TB — by 2× (f16), 4× (i8), or
        dim·4/pq_splits× (pq: one uint8 code per subspace against a
        shard-local codebook, searched via ADC distance tables inside
        the graph walk, scan.c:75-81) at a recall cost pinned in
        tests/test_scale.py.

        ``max_payload_bytes``: per-shard serialized-graph ceiling; a
        shard exceeding it raises with an "increase shards" message
        instead of failing obscurely at the parquet write."""
        mval = Metric.resolve(metric).value
        qval = _resolve_quant(quant)
        if mval == "hamming" and qval != "f32":
            raise ValueError(
                "hamming graphs store exact packed words; quant must be "
                "'f32' (b1 packing IS the quantization)"
            )
        artifact.recover(path)
        first = df.select(column).where(F.col(column).isNotNull()).first()
        if first is None:
            raise ValueError(f"no non-null vectors in {column!r}")
        dim = len(first[0])
        if shards is None:
            n_est = df.count()
            shards = int(
                min(max(1, math.ceil(n_est / target_rows_per_shard)), 4096)
            )

        def build_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            ids: list = []
            vecs: list = []
            for pdf in batches:
                ids.extend(pdf[id_column].tolist())
                vecs.extend(pdf[column].tolist())
            if not ids:
                return
            yield _build_graph_row(
                ids, vecs, pid, dim, m, ef_construction, seed, mval,
                qval, pq_splits, pq_clusters, max_payload_bytes,
            )

        # staged inside the artifact: an in-place rebuild reads the live
        # graphs/vectors lazily while this writes
        (
            df.select(id_column, column)
            .repartition(shards, F.col(id_column))
            .mapInPandas(build_shard, _GRAPH_SCHEMA)
            .write.mode("overwrite")
            .parquet(stage_path(path, "graphs"))
        )
        staged = ["graphs"]
        if qval != "f32":
            # Quantized graphs are LOSSY — a rebuild fed from
            # dequantized rows would re-quantize the reconstruction and
            # compound the error on every delta-fold (ADVICE r5 medium;
            # the reference's reindex re-reads original heap vectors).
            # Persist the exact originals as the heap analog; search
            # never touches this dir, only rebuild does (map-only
            # write, no shuffle).
            df.select(id_column, column).write.mode("overwrite").parquet(
                stage_path(path, "vectors")
            )
            staged.append("vectors")
        manifest = {
            "kind": "hnsw",
            "column": column,
            "id_column": id_column,
            "metric": mval,
            "dim": dim,
            "m": m,
            "ef_construction": ef_construction,
            "shards": shards,
            "seed": seed,
            "quant": qval,
            "pq_splits": pq_splits,
            "pq_clusters": pq_clusters,
            # upgrade-compat gate (test_updates.py analog) — see
            # types.check_format_version
            "format_version": "1.1",
        }
        # one commit swaps the graphs (and heap) in and drops what an
        # earlier generation at the same path left — a delta dir or
        # fold shards would silently union into searches of the fresh
        # build (ADVICE r2); f32 payload dumps are exact, so a stale
        # quantized heap must not shadow them
        commit(
            path,
            moves=[(os.path.join(artifact.STAGE, d), d) for d in staged],
            writes={MANIFEST: manifest},
            deletes=[DELTA, "graphs_delta", DELTA_SEQ]
            + (["vectors"] if qval == "f32" else []),
        )
        return cls(path, manifest)

    @classmethod
    def load(cls, path: str) -> "HNSWIndex":
        from lantern_spark.types import check_format_version

        manifest = artifact.read_json(path)
        check_format_version(manifest.setdefault("format_version", "1.0"), path)
        return cls(path, manifest)

    # -- incremental fold plumbing --------------------------------------

    def _vec_sql(self) -> str:
        # hamming rows are integer[] bit packs — a float cast would
        # round words past 24 mantissa bits
        return "array<int>" if self.manifest["metric"] == "hamming" else "array<float>"

    def _graph_dirs(self, folds_only: bool = False) -> list:
        """Existing graph-row directories: the base build plus the LIVE
        fold shards. Epoch dirs are enumerated from ``fold_epoch_base``
        (exclusive; epochs at or below it were merged away by a fold
        compaction) up to the manifest's ``fold_epoch``, so the
        manifest is the cut-over: a shard it does not name is never
        read (review r7 #3)."""
        mf = self.manifest
        rels = [] if folds_only else ["graphs"]
        rels += [
            os.path.join("graphs_delta", f"fold_epoch={e}")
            for e in range(
                int(mf.get("fold_epoch_base", 0)) + 1,
                int(mf.get("fold_epoch", 0)) + 1,
            )
        ]
        dirs = [os.path.join(self.path, r) for r in rels]
        return [d for d in dirs if os.path.isdir(d)]

    def _graphs(self, spark: SparkSession, folds_only: bool = False):
        """Graph rows (shard_id, n, payload) of :meth:`_graph_dirs`, or
        None when there are none."""
        out = None
        for d in self._graph_dirs(folds_only):
            g = self._cached_read(spark, os.path.relpath(d, self.path))
            g = g.select("shard_id", "n", "payload")
            out = g if out is None else out.unionByName(g)
        return out

    def _dump(self, graphs: DataFrame) -> DataFrame:
        """(id, vector, __stored_seq) rows of the given graph rows —
        DEQUANTIZED: for i8/pq the raw buffer holds codes, not
        coordinates (lossy round-trip is the quantized-index contract,
        vectors() doc). __stored_seq = shard id: fold shards (appended
        after the base build) hold strictly newer data."""
        id_col, col = self.manifest["id_column"], self.manifest["column"]

        def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                    g = HnswGraph.from_payload(bytes(payload))
                    yield pd.DataFrame(
                        {
                            id_col: g.ids,
                            col: [v.tolist() for v in g.vectors()],
                            "__stored_seq": [int(sid)] * g.n,
                        }
                    )

        return graphs.mapInPandas(
            dump, f"{id_col} long, {col} {self._vec_sql()}, __stored_seq long"
        )

    def _live_fold_rows(self, spark: SparkSession):
        """(id, vector) rows held by the LIVE fold shards (epochs in
        (fold_epoch_base, fold_epoch]), or None when there are none —
        the compaction input. Quantized builds read the EXACT
        originals from the vectors heap (fold appends carry their
        ``__fold_epoch``); f32 builds dump the fold-shard payloads,
        which are exact by construction."""
        mf = self.manifest
        cur = int(mf.get("fold_epoch", 0))
        if cur <= int(mf.get("fold_epoch_base", 0)):
            return None
        id_col, col = mf["id_column"], mf["column"]
        vec_path = os.path.join(self.path, "vectors")
        if os.path.isdir(vec_path):
            heap = spark.read.option("mergeSchema", "true").parquet(vec_path)
            if "__fold_epoch" not in heap.columns:
                return None
            # Invariant: every positive-epoch heap row with epoch ≤
            # the COMMITTED fold_epoch lives in exactly one live fold
            # shard (folds append, compactions merge — neither drops),
            # so the live-fold content is epochs (0, cur] regardless
            # of fold_epoch_base (a compacted shard carries rows whose
            # heap epochs PREDATE the base — filtering at > base would
            # silently drop them from the next compaction).
            ep = F.coalesce(F.col("__fold_epoch"), F.lit(0))
            return heap.filter((ep > 0) & (ep <= cur)).select(
                F.col(id_col).cast("long").alias(id_col),
                F.col(col).cast(self._vec_sql()).alias(col),
            )
        g = self._graphs(spark, folds_only=True)
        return None if g is None else self._dump(g).drop("__stored_seq")

    def fold_delta(
        self, spark: SparkSession, max_fold_shards: int = 8
    ) -> "HNSWIndex":
        """Incremental reindex: promote the delta set into ONE new
        graph shard instead of brute-force scanning it on every query
        — the 100 TB maintenance path (a full :meth:`rebuild` rewrites
        every shard; a 1% delta must not cost a 100% rewrite; the
        reference's aminsert likewise grows the existing structure,
        insert.c). Mirrors :meth:`IVFIndex.fold_delta`.

        ``max_fold_shards`` bounds fold-shard accumulation (review r7
        item 5: every fold adds one sealed shard, and each live shard
        adds per-query deserialize+walk cost — unbounded under a
        steady stream of small folds). Once the live fold-shard count
        reaches the cap, the fold COMPACTS: the new delta merges with
        every live fold shard's rows into ONE fresh shard and the old
        fold epochs are superseded (``fold_epoch_base`` in the
        manifest — the LSM-compaction analog; base shards are never
        touched, so the write is still O(folded data), not O(corpus)).
        Live shards therefore never exceed ``base + max_fold_shards``.
        Pass ``max_fold_shards=0`` to force compaction on every fold.

        The fold shard (deterministic shard id: the monotonic
        ``next_shard_id`` counter — never reused, so f32 payload dumps
        keep their shard-id-orders-recency property) is written to the
        artifact's stage dir and published by ONE journaled commit
        (operators/artifact.py): the move to ``graphs_delta/
        fold_epoch=N/`` (plus, for quantized builds, the heap part
        files), then the manifest (fold_epoch, fold_epoch_base,
        folded_seq watermark, shards), then the removal of the
        consumed delta and of the epochs a compaction superseded. A
        kill before the journal leaves the pre-fold artifact; a kill
        after it is finished by the next writer call, which replays the
        journal.

        Contract: the add-only contract of :meth:`add_delta` (an id
        already in a graph shard would DUPLICATE after folding —
        exactly as it duplicates in pre-fold delta search; ``validate``
        detects it, ``rebuild`` repairs it, because shard payloads are
        sealed). Within the delta itself the newest ``__delta_seq``
        per id wins, the rebuild rule."""
        self._writer_entry()
        mf = self.manifest
        delta = self._unfolded_delta(spark)
        if delta is None:
            return self
        if "__delta_seq" not in delta.columns:
            raise ValueError(
                "delta has no __delta_seq column (pre-1.1 artifact); "
                "fold_delta cannot track a fold watermark — rebuild() "
                "instead"
            )
        # _unfolded_delta already keeps the newest row per id with a
        # deterministic tie-break — no second window (review r7c #5)
        rows = delta.select(
            F.col(mf["id_column"]).cast("long").alias(mf["id_column"]),
            F.col(mf["column"]).cast(self._vec_sql()).alias(mf["column"]),
            "__delta_seq",
        )
        agg = rows.agg(
            F.max("__delta_seq").alias("mx"), F.count("*").alias("n")
        ).first()
        if not agg["n"]:
            return self
        max_seq = int(agg["mx"])
        old_epoch = int(mf.get("fold_epoch", 0))
        old_base = int(mf.get("fold_epoch_base", 0))
        live_folds = old_epoch - old_base
        compact = (
            max_fold_shards is not None and live_folds >= max_fold_shards
        )
        epoch = old_epoch + 1
        # monotonic, never-reused shard id (deterministic across crash
        # re-runs: derived from the committed manifest)
        sid = int(mf.get("next_shard_id", mf["shards"]))
        qval = mf.get("quant", "f32")
        heap_moves = []
        if qval != "f32":
            # quantized graphs are lossy — delta originals join the
            # exact heap in the fold's commit. __fold_epoch orders heap
            # copies by recency (base rows read NULL → 0), so a folded
            # UPDATE beats its stale base copy at rebuild. Compaction
            # appends NOTHING extra: the merged fold rows already live
            # in the heap from their own fold's append.
            rows.select(mf["id_column"], mf["column"]).withColumn(
                "__fold_epoch", F.lit(epoch).cast("long")
            ).write.mode("overwrite").parquet(
                stage_path(self.path, "vectors")
            )
            heap_moves = artifact.staged_file_moves(self.path, "vectors")

        dim, m_, efc = mf["dim"], mf["m"], mf["ef_construction"]
        seed, mval = mf["seed"], mf["metric"]
        pq_s, pq_c = mf.get("pq_splits", 8), mf.get("pq_clusters", 16)
        id_col, col = mf["id_column"], mf["column"]
        max_payload = MAX_PAYLOAD_BYTES

        def build_fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids: list = []
            vecs: list = []
            for pdf in batches:
                ids.extend(pdf[id_col].tolist())
                vecs.extend(pdf[col].tolist())
            if not ids:
                return
            yield _build_graph_row(
                ids, vecs, sid, dim, m_, efc, seed, mval, qval,
                pq_s, pq_c, max_payload,
            )

        fold_input = rows.select(id_col, col)
        if compact:
            merged = self._live_fold_rows(spark)
            if merged is not None:
                fold_input = fold_input.unionByName(merged)
        out = (
            fold_input
            .repartition(1)
            .mapInPandas(build_fold, _GRAPH_SCHEMA)
            .withColumn("fold_epoch", F.lit(epoch))
        )
        out.write.mode("overwrite").partitionBy("fold_epoch").parquet(
            stage_path(self.path, "graphs_delta")
        )
        # watermark + shard registration + (on compact) the epoch-base
        # cut-over land together in the manifest
        mf["fold_epoch"] = epoch
        mf["folded_seq"] = max_seq
        mf["next_shard_id"] = sid + 1
        if compact:
            mf["fold_epoch_base"] = old_epoch
            mf["shards"] = int(mf["shards"]) - live_folds + 1
        else:
            mf["shards"] = int(mf["shards"]) + 1
        epoch_dir = os.path.join("graphs_delta", f"fold_epoch={epoch}")
        # superseded fold epochs are unreachable via _graph_dirs once
        # the manifest lands, so they go after it with the delta
        commit(
            self.path,
            moves=[(os.path.join(artifact.STAGE, epoch_dir), epoch_dir)]
            + heap_moves,
            writes={MANIFEST: mf},
            deletes=[DELTA]
            + [
                os.path.join("graphs_delta", f"fold_epoch={e}")
                for e in range(old_base + 1, old_epoch + 1)
                if compact
            ],
        )
        return self

    def add_delta(self, df: DataFrame) -> None:
        """aminsert analog (the reference's insert path targets exactly
        this graph structure, insert.c): append rows to a delta set,
        searched exactly and unioned until ``rebuild`` folds them into
        fresh graphs — the same immutable-artifact lifecycle as
        IVFIndex.

        Each append stamps a monotonically increasing ``__delta_seq``
        (persisted counter, single-writer like the lifecycle itself)
        so rebuild can resolve SAME-ID conflicts by recency: two
        add_delta calls updating one id must fold the later vector,
        deterministically.

        UPDATE contract: while an update of a graph-resident id sits
        in the delta, searches return only the new vector (newest-wins
        anti-join). But graph shards are SEALED — ``fold_delta``
        promotes the delta into a NEW shard and cannot excise the old
        copy from its base shard, so after a fold both copies surface
        and ``validate()`` flags the duplicate id. Updates of stored
        ids therefore require ``rebuild()`` (the reference's contract
        too: aminsert grows the graph, REINDEX repairs it); fold is
        for the append-only ingest shape. IVF's fold, whose partitions
        are rewritable, handles updates incrementally."""
        mf = self.manifest
        self._append_delta(df.select(mf["id_column"], mf["column"]))

    def rebuild(
        self, spark: SparkSession, path: Optional[str] = None
    ) -> "HNSWIndex":
        """Fold the delta into fresh per-shard graphs at ``path``
        (omitted/same path = in-place).

        ``build`` stages its output inside the artifact and publishes it
        with one journaled commit that also drops the folded-in delta
        and fold shards, so an in-place rebuild reads the live graphs,
        heap and delta lazily while it writes — exactly like
        ``IVFIndex.rebuild``."""
        self._writer_entry()
        mf = self.manifest
        base = artifact.newest_per_id(
            self._all_rows(spark, tag_source=True), mf["id_column"]
        )
        return HNSWIndex.build(
            base,
            mf["column"],
            mf["id_column"],
            path or self.path,
            m=mf["m"],
            ef_construction=mf["ef_construction"],
            shards=mf["shards"],
            metric=mf["metric"],
            seed=mf["seed"],
            quant=mf.get("quant", "f32"),
            pq_splits=mf.get("pq_splits", 8),
            pq_clusters=mf.get("pq_clusters", 16),
        )

    def _all_rows(
        self, spark: SparkSession, tag_source: bool = False
    ) -> DataFrame:
        """Graph-stored rows ∪ delta. For quantized builds the exact
        originals come from the persisted ``vectors`` heap analog
        (rebuild must not re-quantize a lossy reconstruction, ADVICE
        r5); f32 builds dump graph payloads via a map-only pass.

        ``tag_source`` adds ``__src`` (0 = delta, 1 = stored) and
        ``__seq`` so rebuild can deterministically prefer the NEWEST
        copy when the same id exists multiple times: for delta rows
        the add_delta append counter; for STORED rows the shard id
        (f32 dump) or fold epoch (quantized heap) — fold shards carry
        strictly later data than the base build, so a folded UPDATE
        of a graph-resident id survives a later rebuild instead of
        tying arbitrarily with its stale base-shard copy
        (review r7c #2)."""
        mf = self.manifest
        vec_sql = self._vec_sql()

        def tag(df, src):
            for helper in ("__delta_seq", "__stored_seq"):
                if not tag_source and helper in df.columns:
                    df = df.drop(helper)
            if not tag_source:
                return df
            if "__delta_seq" in df.columns:
                df = df.withColumn(
                    "__seq",
                    F.coalesce(F.col("__delta_seq"), F.lit(0)).cast("long"),
                ).drop("__delta_seq")
            elif "__stored_seq" in df.columns:
                df = df.withColumn(
                    "__seq",
                    F.coalesce(F.col("__stored_seq"), F.lit(0)).cast("long"),
                ).drop("__stored_seq")
            else:
                df = df.withColumn("__seq", F.lit(0).cast("long"))
            return df.withColumn("__src", F.lit(src))

        def read_delta(d):
            cols = [
                F.col(mf["id_column"]).cast("long").alias(mf["id_column"]),
                F.col(mf["column"]).cast(vec_sql).alias(mf["column"]),
            ]
            if "__delta_seq" in d.columns:
                cols.append("__delta_seq")
            return d.select(*cols)

        vec_path = os.path.join(self.path, "vectors")
        if os.path.isdir(vec_path):
            heap = spark.read.option("mergeSchema", "true").parquet(vec_path)
            cols = [
                F.col(mf["id_column"]).cast("long").alias(mf["id_column"]),
                F.col(mf["column"]).cast(vec_sql).alias(mf["column"]),
            ]
            if "__fold_epoch" in heap.columns:
                # fold appends carry their epoch; base rows read NULL →
                # 0, so later folds outrank the base build
                cols.append(
                    F.coalesce(F.col("__fold_epoch"), F.lit(0))
                    .cast("long")
                    .alias("__stored_seq")
                )
            out = tag(heap.select(*cols), 1)
            d = self._unfolded_delta(spark)
            if d is not None:
                out = out.unionByName(
                    tag(read_delta(d), 0), allowMissingColumns=True
                )
            return out
        out = tag(self._dump(self._graphs(spark)), 1)
        d = self._unfolded_delta(spark)
        if d is not None:
            out = out.unionByName(tag(read_delta(d), 0))
        return out

    def search(
        self,
        spark: SparkSession,
        query: Sequence[float],
        k: int = 10,
        ef: int = 64,
        with_stats: bool = False,
        limit_result: bool = True,
        where=None,
        source_df: Optional[DataFrame] = None,
        oversample: int = 4,
    ) -> DataFrame:
        """Global top-k: every shard answers locally (map-only over the
        graph rows), then TakeOrdered merges P·k tuples. ``with_stats``
        adds per-row (shard_id, n_dist) — shard distance evaluations —
        for scan-fraction accounting; ``limit_result=False`` returns
        all P·k local candidates (stats probes need every shard's
        contribution, which the global limit would drop).

        ``where`` + ``source_df`` (r9): the reference's filtered-scan
        post-filter contract on the HNSW family too (test/sql/
        hnsw_select.sql:51, previously IVF-only API parity — the SQL
        router already served it via candidate re-execution): the
        graph answers ``k·oversample`` candidates, the predicate runs
        over ``source_df``'s matching rows (graph payloads store only
        id+vector, so attribute filters need the source table — the
        heap, in reference terms), and the top-k keeps graph
        distances. Scarce filters may UNDERFILL k — raise
        ``oversample`` or fall back to an exact scan, which always
        fills (the reference's documented behavior)."""
        mf = self.manifest
        if where is not None:
            if source_df is None:
                raise ValueError(
                    "search(where=...) needs source_df: graph payloads "
                    "store only id+vector, attribute predicates read "
                    "the source table"
                )
            cand = self.search(
                spark, query,
                k=int(k) * max(1, int(oversample)),
                ef=max(ef, int(k) * max(1, int(oversample))),
                with_stats=with_stats, limit_result=limit_result,
            )
            keep = (
                source_df.filter(where)
                .select(
                    F.col(mf["id_column"]).cast("long").alias(
                        mf["id_column"]
                    )
                )
                .distinct()
            )
            out = cand.join(keep, mf["id_column"], "left_semi").orderBy(
                F.col("dist").asc_nulls_last(),
                F.col(mf["id_column"]).asc(),
            )
            return out.limit(int(k)) if limit_result else out
        q = list(float(x) for x in query)
        id_field = T.LongType()
        schema = T.StructType(
            [
                T.StructField(mf["id_column"], id_field),
                T.StructField("dist", T.DoubleType()),
                T.StructField("shard_id", T.IntegerType()),
                T.StructField("n_dist", T.LongType()),
            ]
        )

        def search_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                    g = HnswGraph.from_payload(bytes(payload))
                    res, nd = g.search(q, k=k, ef=ef)
                    if not res:
                        continue
                    yield pd.DataFrame(
                        {
                            mf["id_column"]: [r[0] for r in res],
                            "dist": [r[1] for r in res],
                            "shard_id": [int(sid)] * len(res),
                            "n_dist": [nd] * len(res),
                        }
                    )

        out = self._graphs(spark).mapInPandas(search_shard, schema)
        delta_df = self._unfolded_delta(spark)
        if delta_df is not None:
            from lantern_spark.operators.index import _suppress_stale

            # newest wins: a stale stored copy must not shadow the
            # update (pre-fold read-your-writes)
            out = _suppress_stale(
                out, delta_df, mf["id_column"], cast_long=True
            )
            # delta rows are exact-scanned and merge as shard -1 (same
            # contract as IVF's delta: exact until a fold/rebuild).
            # n_dist=0 so graph scan-fraction accounting is undistorted.
            from lantern_spark.functions.distances import distance
            from lantern_spark.functions.vectors import vec_lit

            # metric parity with graph-local dists: l2sq graphs emit
            # squared L2, cos graphs emit 1−cos — same as distance()
            dist_expr = distance(
                F.col(mf["column"]),
                vec_lit(
                    q, "int" if mf["metric"] == "hamming" else "double"
                ),
                mf["metric"],
            )
            delta = (
                delta_df
                .select(
                    F.col(mf["id_column"]).cast("long").alias(mf["id_column"]),
                    dist_expr.cast("double").alias("dist"),
                )
                .withColumn("shard_id", F.lit(-1))
                .withColumn("n_dist", F.lit(0).cast("long"))
            )
            out = out.unionByName(delta)
        cols = [mf["id_column"], "dist"] + (
            ["shard_id", "n_dist"] if with_stats else []
        )
        out = out.select(*cols).orderBy(
            F.col("dist").asc_nulls_last(), F.col(mf["id_column"]).asc()
        )
        return out.limit(k) if limit_result else out

    #: sequence-path ceiling: probes beyond this must come as a
    #: DataFrame (closure shipping is |Q|·dim floats per task — fine at
    #: 10k, a driver/task OOM at inference scale)
    MAX_SEQUENCE_PROBES = 10_000

    def search_batch(
        self,
        spark: SparkSession,
        queries,
        k: int = 10,
        ef: int = 64,
        qid_col: str = "qid",
        query_col: str = "query",
    ) -> DataFrame:
        """Batched graph search: every shard graph deserializes ONCE
        and answers the whole probe set — the inference-workload shape.

        Per-query :meth:`search` pays the dominant cost (payload →
        ``HnswGraph.from_payload``) once per shard PER QUERY; here it
        is amortized across all |Q| probes (|Q|× fewer deserializes
        and Spark jobs).

        ``queries`` is either a probes **DataFrame** (``qid_col``,
        ``query_col``) — the scale path: probes are exploded across
        shard ids and grouped per shard, each group deserializing ITS
        graph once (executor-side pyarrow read, row-group-pruned on
        shard_id); the probe set never snapshots to the driver and
        never ships via a task closure — or a small **sequence** of
        vectors, which ships via the closure and is capped at
        ``MAX_SEQUENCE_PROBES`` (VERDICT r6 item 2: the uncapped
        closure was a driver/task OOM at inference scale; pass a
        DataFrame beyond the cap).

        Delta rows are exact-scanned once per probe (the SMALL delta
        side broadcasts); the global per-qid top-k merge is one window
        over ≤ shards·|Q|·k candidate rows. Returns (qid, id, dist),
        k rows per probe, (dist, id) tie-broken.
        """
        mf = self.manifest
        if isinstance(queries, DataFrame):
            return self._search_batch_df(
                spark, queries, k=k, ef=ef,
                qid_col=qid_col, query_col=query_col,
            )
        qs = [list(float(x) for x in q) for q in queries]
        if len(qs) > self.MAX_SEQUENCE_PROBES:
            raise ValueError(
                f"{len(qs)} probes exceeds the sequence-path cap "
                f"({self.MAX_SEQUENCE_PROBES}); pass the probes as a "
                "DataFrame for the distributed batch path"
            )
        schema = T.StructType(
            [
                T.StructField(qid_col, T.IntegerType()),
                T.StructField(mf["id_column"], T.LongType()),
                T.StructField("dist", T.DoubleType()),
            ]
        )

        def search_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for payload in pdf["payload"]:
                    g = HnswGraph.from_payload(bytes(payload))
                    qids: list = []
                    ids: list = []
                    dists: list = []
                    for j, q in enumerate(qs):
                        res, _nd = g.search(q, k=k, ef=ef)
                        for rid, rd in res:
                            qids.append(j)
                            ids.append(rid)
                            dists.append(rd)
                    if qids:
                        yield pd.DataFrame(
                            {
                                qid_col: qids,
                                mf["id_column"]: ids,
                                "dist": dists,
                            }
                        )

        out = self._graphs(spark).mapInPandas(search_shard, schema)
        delta_df = self._unfolded_delta(spark)
        if delta_df is not None:
            from lantern_spark.functions.distances import distance

            from lantern_spark.operators.index import _suppress_stale

            out = _suppress_stale(
                out, delta_df, mf["id_column"], cast_long=True
            )
            from lantern_spark.types import local_df

            probes = local_df(
                spark,
                [(j, q) for j, q in enumerate(qs)],
                f"{qid_col} int, __q array<double>",
            )
            delta = (
                delta_df
                .select(
                    F.col(mf["id_column"]).cast("long").alias(mf["id_column"]),
                    F.col(mf["column"]).alias(mf["column"]),
                )
                .crossJoin(F.broadcast(probes))
                .select(
                    qid_col,
                    mf["id_column"],
                    distance(F.col(mf["column"]), F.col("__q"), mf["metric"])
                    .cast("double")
                    .alias("dist"),
                )
            )
            out = out.unionByName(delta)
        from pyspark.sql import Window

        # nulls LAST: a NULL delta distance must never displace real
        # neighbors (knn_search's mitigation)
        w = Window.partitionBy(qid_col).orderBy(
            F.col("dist").asc_nulls_last(), F.col(mf["id_column"]).asc()
        )
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def _search_batch_df(
        self,
        spark: SparkSession,
        probes: DataFrame,
        k: int,
        ef: int,
        qid_col: str,
        query_col: str,
    ) -> DataFrame:
        """Distributed batch path (see :meth:`search_batch`): probes ×
        shard ids shuffle once, one group per shard walks all probes
        against a graph deserialized exactly once per group."""
        mf = self.manifest
        graph_dirs = self._graph_dirs()
        shard_ids = [
            int(r["shard_id"])
            for r in self._graphs(spark)
            .select("shard_id")
            .distinct()
            .collect()  # ≤ shards rows — bounded by construction
        ]
        from lantern_spark.types import local_df

        shards_df = F.broadcast(
            local_df(spark, [(s,) for s in shard_ids], "shard_id int")
        )
        # ONE persisted probe snapshot feeds both the shard pairs and
        # the delta scan, so nondeterministic probe lineage cannot
        # walk graphs for one vector and score the delta against
        # another (the IVFIndex.search_batch contract)
        if self._batch_snap is not None:
            self._batch_snap.unpersist()
        probe_snap = probes.select(qid_col, query_col).persist()
        # materialize NOW — a lazy persist pins nothing against
        # nondeterministic lineage (review r7b #2); one bounded job
        probe_snap.count()
        self._batch_snap = probe_snap
        pairs = probe_snap.crossJoin(shards_df)
        qid_type = probes.schema[qid_col].dataType
        schema = T.StructType(
            [
                T.StructField(qid_col, qid_type),
                T.StructField(mf["id_column"], T.LongType()),
                T.StructField("dist", T.DoubleType()),
            ]
        )
        kk, eff = int(k), int(ef)
        id_col = mf["id_column"]

        def walk_shard(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
            sid = int(key[0])
            import pyarrow.dataset as pads

            # base graphs + fold-shard dirs; the hive flag exposes the
            # fold_epoch partition column harmlessly (never selected)
            ds = pads.dataset(
                [
                    pads.dataset(p, format="parquet", partitioning="hive")
                    for p in graph_dirs
                ]
            )
            tbl = ds.to_table(
                columns=["payload"],
                filter=pads.field("shard_id") == sid,
            )
            empty = pd.DataFrame({qid_col: [], id_col: [], "dist": []})
            if tbl.num_rows == 0:
                return empty
            g = HnswGraph.from_payload(bytes(tbl["payload"][0].as_py()))
            qids: list = []
            ids: list = []
            dists: list = []
            for qid, q in zip(pdf[qid_col], pdf[query_col]):
                res, _nd = g.search([float(x) for x in q], k=kk, ef=eff)
                for rid, rd in res:
                    qids.append(qid)
                    ids.append(rid)
                    dists.append(rd)
            if not qids:
                return empty
            return pd.DataFrame({qid_col: qids, id_col: ids, "dist": dists})

        out = pairs.groupBy("shard_id").applyInPandas(walk_shard, schema)
        delta_df = self._unfolded_delta(spark)
        if delta_df is not None:
            from lantern_spark.functions.distances import distance

            from lantern_spark.operators.index import _suppress_stale

            out = _suppress_stale(out, delta_df, id_col, cast_long=True)
            delta = (
                probe_snap
                .crossJoin(
                    F.broadcast(
                        delta_df.select(
                            F.col(id_col).cast("long").alias(id_col),
                            F.col(mf["column"]).alias(mf["column"]),
                        )
                    )
                )
                .select(
                    qid_col,
                    id_col,
                    distance(
                        F.col(mf["column"]), F.col(query_col), mf["metric"]
                    )
                    .cast("double")
                    .alias("dist"),
                )
            )
            out = out.unionByName(delta)
        from pyspark.sql import Window

        w = Window.partitionBy(qid_col).orderBy(
            F.col("dist").asc_nulls_last(), F.col(id_col).asc()
        )
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def validate(self, spark: SparkSession, strict: bool = True) -> dict:
        """Structural graph validation — ``validate_index`` analog
        (lantern_hnsw/src/hnsw/validate_index.c:436: walks every node's
        neighbor lists checking bounds, levels, and link sanity).

        Per shard (map-only over graph rows, violations carried back as
        strings):
        - array length consistency (ids / adj / levels / buffer);
        - entry point in range and at the true max level;
        - every neighbor index in range, no self-loops;
        - a node linked at level L must itself reach level L (links
          live on both endpoints' level-L lists, build.c:472-648);
        - degree ceilings: ≤ 2·m at level 0, ≤ m above (m0 contract);
        - no duplicate ids within a shard;
        - level-0 connectivity: every node reachable from the entry
          point (undirected BFS — an unreachable island can never be
          returned by any search).

        Driver-side (global): no id may appear in two shards, and the
        stored per-shard ``n`` must match each payload. Returns a stats
        dict; raises ValueError on any violation when ``strict``.
        """
        mf = self.manifest
        stats_schema = T.StructType(
            [
                T.StructField("shard_id", T.IntegerType()),
                T.StructField("n", T.LongType()),
                T.StructField("n_stored", T.LongType()),
                T.StructField("n_edges", T.LongType()),
                T.StructField("max_level", T.IntegerType()),
                T.StructField("n_unreachable", T.LongType()),
                T.StructField("violations", T.ArrayType(T.StringType())),
            ]
        )
        m_limit, m0_limit = mf["m"], 2 * mf["m"]

        def validate_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for sid, n_stored, payload in zip(
                    pdf["shard_id"], pdf["n"], pdf["payload"]
                ):
                    g = HnswGraph.from_payload(bytes(payload))
                    bad: list = []
                    n = g.n
                    if not (len(g.adj) == len(g.levels) == n):
                        bad.append(
                            f"length mismatch ids={n} adj={len(g.adj)} "
                            f"levels={len(g.levels)}"
                        )
                    if len(g._buf) < n:
                        bad.append(f"buffer holds {len(g._buf)} < n={n}")
                    if len(set(g.ids)) != n:
                        bad.append("duplicate ids within shard")
                    if n and not (0 <= g.entry < n):
                        bad.append(f"entry {g.entry} out of range")
                    true_max = max(g.levels) if g.levels else -1
                    if g.max_level != true_max:
                        bad.append(
                            f"max_level {g.max_level} != max(levels) {true_max}"
                        )
                    elif n and g.levels[g.entry] != g.max_level:
                        bad.append("entry point is not at max_level")
                    n_edges = 0
                    for i in range(n):
                        if len(g.adj[i]) != g.levels[i] + 1:
                            bad.append(
                                f"node {i}: {len(g.adj[i])} layers for "
                                f"level {g.levels[i]}"
                            )
                            continue
                        for lvl, neigh in enumerate(g.adj[i]):
                            limit = m0_limit if lvl == 0 else m_limit
                            if len(neigh) > limit:
                                bad.append(
                                    f"node {i} level {lvl}: degree "
                                    f"{len(neigh)} > {limit}"
                                )
                            n_edges += len(neigh)
                            for e in neigh:
                                if not (0 <= e < n):
                                    bad.append(
                                        f"node {i} level {lvl}: neighbor "
                                        f"{e} out of range"
                                    )
                                elif e == i:
                                    bad.append(f"node {i}: self-loop at level {lvl}")
                                elif g.levels[e] < lvl:
                                    bad.append(
                                        f"node {i} level {lvl}: neighbor {e} "
                                        f"only reaches level {g.levels[e]}"
                                    )
                    # level-0 undirected connectivity from the entry
                    unreachable = 0
                    if n and not bad:
                        undirected: list = [[] for _ in range(n)]
                        for i in range(n):
                            for e in g.adj[i][0]:
                                undirected[i].append(e)
                                undirected[e].append(i)
                        seen = np.zeros(n, dtype=bool)
                        stack = [g.entry]
                        seen[g.entry] = True
                        while stack:
                            c = stack.pop()
                            for e in undirected[c]:
                                if not seen[e]:
                                    seen[e] = True
                                    stack.append(e)
                        unreachable = int(n - seen.sum())
                        if unreachable:
                            bad.append(
                                f"{unreachable} nodes unreachable from entry "
                                "at level 0"
                            )
                    if int(n_stored) != n:
                        bad.append(f"manifest n={n_stored} != payload n={n}")
                    yield pd.DataFrame(
                        {
                            "shard_id": [int(sid)],
                            "n": [n],
                            "n_stored": [int(n_stored)],
                            "n_edges": [n_edges],
                            "max_level": [g.max_level],
                            "n_unreachable": [unreachable],
                            "violations": [bad],
                        }
                    )

        rows = (
            self._graphs(spark)
            .mapInPandas(validate_shard, stats_schema)
            .collect()
        )
        violations = [
            f"shard {r['shard_id']}: {v}" for r in rows for v in r["violations"]
        ]
        # cross-shard id uniqueness (map-only dump + one small groupBy)
        dupes = (
            self._all_rows(spark)
            .groupBy(mf["id_column"])
            .count()
            .where(F.col("count") > 1)
            .limit(5)
            .collect()
        )
        if dupes:
            violations.append(
                "ids present in multiple shards/delta: "
                + ", ".join(str(r[0]) for r in dupes)
            )
        stats = {
            "shards": len(rows),
            "n_total": sum(r["n"] for r in rows),
            "n_edges": sum(r["n_edges"] for r in rows),
            "n_unreachable": sum(r["n_unreachable"] for r in rows),
            "violations": violations,
        }
        if strict and violations:
            raise ValueError(
                f"hnsw validate failed ({len(violations)} violations): "
                + "; ".join(violations[:10])
            )
        return stats


def hnsw_recall_and_scan_fraction(
    index: HNSWIndex,
    spark: SparkSession,
    base: DataFrame,
    column: str,
    id_column: str,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    ef: int = 64,
) -> tuple:
    """(mean recall@k, mean scan fraction) vs the exact scan — the
    graph-vs-IVF tradeoff probe (reference recall harness:
    utils/calculate_recall.sql).

    Recall is tie-tolerant (standard ANN-benchmark practice): a
    returned id counts as a hit if its EXACT distance is within ε of
    the k-th exact distance — the graph stores float32 vectors, so
    exact ties (e.g. symmetric near-duplicates) are otherwise split
    arbitrarily versus the float64 ground truth and no ef can recover
    them."""
    from lantern_spark.functions.distances import distance
    from lantern_spark.functions.vectors import vec_lit

    n_total = base.count()
    hits, evals = 0, 0
    for qv in queries:
        exact_rows = (
            base.withColumn(
                "d", distance(F.col(column), vec_lit(list(qv)), index.manifest["metric"])
            )
            .orderBy(F.col("d").asc(), F.col(id_column).asc())
            .limit(k + 32)
            .select(id_column, "d")
            .collect()
        )
        d_k = float(exact_rows[k - 1]["d"])
        thr = d_k * (1.0 + 1e-5) + 1e-6
        acceptable = {r[0] for r in exact_rows if float(r["d"]) <= thr}
        rows = index.search(
            spark, qv, k=k, ef=ef, with_stats=True, limit_result=False
        ).collect()
        approx = [r[0] for r in rows[:k]]  # rows arrive (dist, id)-sorted
        # n_dist is reported once per shard — dedupe by shard_id
        shard_evals = {r["shard_id"]: r["n_dist"] for r in rows}
        hits += sum(1 for a in approx if a in acceptable)
        evals += sum(shard_evals.values())
    recall = hits / (k * len(queries)) if queries else 1.0
    frac = evals / (n_total * len(queries)) if queries else 0.0
    return recall, frac
