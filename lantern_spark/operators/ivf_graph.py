"""IVF×graph hybrid: per-cell HNSW graphs over IVF list partitions.

The 100 TB ANN architecture (the SPANN/DiskANN-family layout): a coarse
quantizer routes each query to ``nprobe`` cells (IVF partition pruning —
only those cells' bytes are read), and WITHIN each probed cell a graph
walk answers in ~O(ef·log cell_n) distance evaluations instead of the
flat cell scan. This composes the repo's two index families:

- the cell assignment, probe ranking, delta/tombstone lifecycle, and
  storage layout are the wrapped :class:`IVFIndex`'s
  (operators/index.py) — nothing is re-derived;
- the within-cell structure is :class:`HnswGraph` (operators/hnsw.py),
  one graph per list, built by a single ``groupBy(list_id).
  applyInPandas`` pass over the already-partitioned lists artifact
  (ONE shuffle, co-partitioned with the existing layout).

Reference mapping: lantern's HNSW is one monolithic graph per table
(build.c:472-648) because Postgres is single-node; at cluster scale the
graph must shard, and sharding by IVF cell (instead of hash) means
search only touches ``nprobe`` shards rather than ALL of them — the
sharded-HNSW fan-out cost the r5 bench measured (every hash shard walks
for every probe) drops to nprobe/nlist of the fleet.

Cost model at scale: flat IVF reads nprobe·(n/nlist) rows and evaluates
that many distances; the hybrid reads the same cells' graph payloads
(similar bytes — payload carries the vectors) but evaluates only
~nprobe·ef·log(n/nlist) distances. With 1M-row cells that is ~100×
fewer distance kernels per probe; IO stays partition-pruned either way.
Graphs hold per-cell memory = cell rows × (dim·4 + 2m·8) bytes — the
same ceiling as HNSW shards, bounded here by n/nlist.

Caveat (shared with every graph index, amplified by cell locality):
IVF routing concentrates a query's whole neighborhood into few cells,
so a corpus with large exact- or near-duplicate clusters — or
degenerate low-dimensional structure (collinear replica chains) —
puts the entire degenerate cluster into ONE graph, where neighbor-list
saturation degrades the walk. Dedup such corpora upstream
(operators/dedup); hash-sharded HNSW splits clusters across shards and
tolerates them better at higher per-query cost.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lantern_spark.operators.hnsw import (
    MAX_PAYLOAD_BYTES,
    HnswGraph,
    _GRAPH_SCHEMA,
)
from lantern_spark.operators import artifact
from lantern_spark.operators.artifact import TOMBSTONES, commit, stage_path
from lantern_spark.operators.index import IVFIndex
from lantern_spark.types import Metric, check_format_version

_CELL_DIR = "cell_graphs"
_META_FILE = "cell_graphs_meta.json"


def _cell_builder(
    dim, metric, id_col, col, m, ef_construction, seed, max_payload_bytes
):
    """applyInPandas kernel building one cell's graph — shared by
    :meth:`IVFGraphIndex.attach` (all cells) and
    :meth:`IVFGraphIndex.refresh` (only the cells a fold touched)."""

    def build_cell(key, pdf):
        lid = int(key[0])
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        g = HnswGraph(
            dim, m, ef_construction, seed + lid, metric, quant="f32"
        )
        ids = pdf[id_col].to_numpy()
        vecs = pdf[col].to_numpy()
        for j in order:
            g.add(ids[j], vecs[j])
        payload = g.to_payload()
        if len(payload) > max_payload_bytes:
            raise ValueError(
                f"cell {lid} graph payload is {len(payload)} bytes "
                f"(> {max_payload_bytes}); increase nlist so each "
                "cell holds fewer vectors"
            )
        return pd.DataFrame(
            {"shard_id": [lid], "n": [g.n], "payload": [payload]}
        )

    return build_cell


class IVFGraphIndex:
    """Per-cell graph tier attached to a built :class:`IVFIndex`."""

    def __init__(self, ivf: IVFIndex, meta: dict):
        self.ivf = ivf
        self.meta = meta
        # one-behind (probe snapshot, centroid broadcast) from the
        # last search_batch — released at the next call (bounded
        # driver/executor registries across repeated inference
        # batches; unpersist is lazy-safe)
        self._batch_bc = None

    # -- build ----------------------------------------------------------

    @classmethod
    def attach(
        cls,
        ivf: IVFIndex,
        spark: SparkSession,
        m: int = 16,
        ef_construction: int = 100,
        seed: int = 42,
        max_payload_bytes: int = MAX_PAYLOAD_BYTES,
    ) -> "IVFGraphIndex":
        """Build one HNSW graph per IVF list from the existing lists
        artifact. Map-side only after the groupBy co-shuffle; each cell
        graph serializes to one parquet row (the HNSW shard contract,
        including the payload ceiling)."""
        ivf._writer_entry()
        mf = ivf.manifest
        build_cell = _cell_builder(
            mf.dim, mf.metric, mf.id_column, mf.column,
            m, ef_construction, seed, max_payload_bytes,
        )
        id_col, col = mf.id_column, mf.column

        (
            ivf.lists(spark)
            .select("list_id", id_col, col)
            .groupBy("list_id")
            .applyInPandas(build_cell, _GRAPH_SCHEMA)
            # partitioned by cell so an incremental refresh after
            # fold_delta can replace ONLY the affected cells' graphs
            # (r7; flat pre-r7 artifacts still load)
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(stage_path(ivf.path, _CELL_DIR))
        )
        meta = {
            "m": m,
            "ef_construction": ef_construction,
            "seed": seed,
            # persisted so rebuild's re-attach honors a caller-raised
            # ceiling instead of failing mid-fold on an accepted cell
            "max_payload_bytes": int(max_payload_bytes),
            # staleness fingerprint: a rebuild rewrites the manifest;
            # search refuses to walk graphs built for different lists.
            # fold_epoch catches an incremental fold_delta whose row
            # count nets out unchanged (add 5, tombstone 5)
            "num_vectors": mf.num_vectors,
            "nlist": mf.nlist,
            "fold_epoch": int((mf.params or {}).get("fold_epoch", 0)),
            "format_version": "1.1",
        }
        commit(
            ivf.path,
            moves=[(os.path.join(artifact.STAGE, _CELL_DIR), _CELL_DIR)],
            writes={_META_FILE: meta},
        )
        return cls(ivf, meta)

    @classmethod
    def load(cls, path_or_ivf) -> "IVFGraphIndex":
        ivf = (
            path_or_ivf
            if isinstance(path_or_ivf, IVFIndex)
            else IVFIndex.load(path_or_ivf)
        )
        meta = artifact.read_json(ivf.path, _META_FILE)
        check_format_version(
            meta.setdefault("format_version", "1.0"), ivf.path
        )
        return cls(ivf, meta)

    # -- lifecycle (delta-lifecycle duck type, streaming-compatible) ----

    @property
    def path(self) -> str:
        return self.ivf.path

    @property
    def manifest(self):
        """The wrapped index's manifest — lets the hybrid quack like
        an IVFIndex wherever only (metric, nlist, id_column, …) are
        consulted (weighted_vector_search's ``indexes=``, catalogs)."""
        return self.ivf.manifest

    def add_delta(self, df: DataFrame) -> None:
        """aminsert analog — delegates to the wrapped index; delta rows
        are exact-scanned by :meth:`search` until a rebuild folds them
        into fresh cells (graphs only ever cover folded rows)."""
        self.ivf.add_delta(df)

    def delete(self, ids_df: DataFrame) -> None:
        self.ivf.delete(ids_df)

    def rebuild(
        self, spark: SparkSession, path: Optional[str] = None
    ) -> "IVFGraphIndex":
        """Fold delta − tombstones and re-attach fresh cell graphs with
        the same graph params — one handle satisfying the delta-
        lifecycle duck type, so ``streaming/index_stream.
        incremental_index_job`` drives the hybrid unchanged."""
        new_ivf = self.ivf.rebuild(spark, path)
        return IVFGraphIndex.attach(
            new_ivf,
            spark,
            m=self.meta["m"],
            ef_construction=self.meta["ef_construction"],
            seed=self.meta["seed"],
            max_payload_bytes=self.meta.get(
                "max_payload_bytes", MAX_PAYLOAD_BYTES
            ),
        )

    # -- search ---------------------------------------------------------

    def _check_fresh(self) -> None:
        mf = self.ivf.manifest
        if (
            self.meta["num_vectors"] != mf.num_vectors
            or self.meta["nlist"] != mf.nlist
            or self.meta.get("fold_epoch", 0)
            != int((mf.params or {}).get("fold_epoch", 0))
        ):
            raise ValueError(
                "cell graphs are stale (built for "
                f"n={self.meta['num_vectors']}/nlist={self.meta['nlist']}/"
                f"fold_epoch={self.meta.get('fold_epoch', 0)}, index now "
                f"n={mf.num_vectors}/nlist={mf.nlist}/"
                f"fold_epoch={(mf.params or {}).get('fold_epoch', 0)}); "
                "re-attach after rebuild/fold"
            )

    def refresh(self, spark: SparkSession) -> "IVFGraphIndex":
        """Bring a stale cell-graph tier current after the wrapped
        IVF changed. When EXACTLY one :meth:`IVFIndex.fold_delta`
        happened since this tier was built (and the artifact uses the
        r7 partitioned layout), only the fold's touched cells rebuild
        — their ``shard_id=`` graph dirs are staged and moved in by one
        journaled commit (operators/artifact.py), the same ≪-corpus
        maintenance contract as the fold itself. Anything else
        (multiple folds, nlist change, a pre-r7 flat artifact) falls
        back to a full re-attach with this tier's own (m,
        ef_construction, seed) params. Idempotent; returns a
        fresh handle (``self`` when incremental)."""
        self.ivf._writer_entry()
        ivf, mf = self.ivf, self.ivf.manifest
        fold_epoch = int((mf.params or {}).get("fold_epoch", 0))
        if (
            self.meta["num_vectors"] == mf.num_vectors
            and self.meta["nlist"] == mf.nlist
            and int(self.meta.get("fold_epoch", 0)) == fold_epoch
        ):
            return self  # already fresh
        touched = (mf.params or {}).get("last_fold_lists")
        cell_dir = os.path.join(ivf.path, _CELL_DIR)
        partitioned = any(
            d.startswith("shard_id=")
            for d in (os.listdir(cell_dir) if os.path.isdir(cell_dir) else [])
        )
        incremental = (
            touched is not None
            and self.meta["nlist"] == mf.nlist
            and fold_epoch == int(self.meta.get("fold_epoch", 0)) + 1
            and partitioned
        )
        if not incremental:
            return type(self).attach(
                ivf, spark,
                m=self.meta["m"],
                ef_construction=self.meta["ef_construction"],
                seed=self.meta["seed"],
                max_payload_bytes=self.meta.get(
                    "max_payload_bytes", MAX_PAYLOAD_BYTES
                ),
            )
        build_cell = _cell_builder(
            mf.dim, mf.metric, mf.id_column, mf.column,
            self.meta["m"], self.meta["ef_construction"],
            self.meta["seed"],
            self.meta.get("max_payload_bytes", MAX_PAYLOAD_BYTES),
        )
        (
            ivf.lists(spark)
            .filter(F.col("list_id").isin([int(x) for x in touched]))
            .select("list_id", mf.id_column, mf.column)
            .groupBy("list_id")
            .applyInPandas(build_cell, _GRAPH_SCHEMA)
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(stage_path(ivf.path, _CELL_DIR))
        )
        self.meta["num_vectors"] = mf.num_vectors
        self.meta["fold_epoch"] = fold_epoch
        commit(
            ivf.path,
            moves=artifact.partition_moves(
                ivf.path, _CELL_DIR, "shard_id", sorted(int(x) for x in touched)
            ),
            writes={_META_FILE: self.meta},
        )
        return self

    def search(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        nprobe: int = 4,
        ef: int = 64,
        include_delta: bool = True,
        dist_col: str = "dist",
        with_stats: bool = False,
        limit_result: bool = True,
    ) -> DataFrame:
        """Routed top-k: rank cells by centroid distance (driver-side,
        identical kernel to :meth:`IVFIndex.search`), walk only the
        probed cells' graphs, merge nprobe·k candidates. Delta rows are
        exact-scanned and tombstones anti-joined — the wrapped index's
        lifecycle applies unchanged, so an aminsert between attach and
        search is still visible (graphs only cover folded rows).

        ``with_stats`` adds (list_id, n_dist) per row — per-cell
        distance-evaluation counts, the scan-fraction instrument.
        ``limit_result=False`` returns ALL nprobe·k local candidates:
        stats probes need every walked cell's contribution, which the
        global limit would drop for cells whose candidates fell out of
        the top-k (the HNSW instrument's lesson, hnsw.py)."""
        self._check_fresh()
        ivf, mf = self.ivf, self.ivf.manifest
        probes = ivf._probe_lists(spark, query, nprobe)
        q = [float(x) for x in query]
        id_type = T.LongType()
        schema = T.StructType(
            [
                T.StructField(mf.id_column, id_type),
                T.StructField(dist_col, T.DoubleType()),
                T.StructField("list_id", T.IntegerType()),
                T.StructField("n_dist", T.LongType()),
            ]
        )
        kk, eff = int(k), int(ef)

        def search_cell(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for lid, payload in zip(pdf["shard_id"], pdf["payload"]):
                    g = HnswGraph.from_payload(bytes(payload))
                    res, nd = g.search(q, k=kk, ef=eff)
                    if not res:
                        continue
                    yield pd.DataFrame(
                        {
                            mf.id_column: [r[0] for r in res],
                            dist_col: [r[1] for r in res],
                            "list_id": [int(lid)] * len(res),
                            "n_dist": [nd] * len(res),
                        }
                    )

        graphs = spark.read.parquet(
            os.path.join(ivf.path, _CELL_DIR)
        ).filter(F.col("shard_id").isin(probes))
        out = graphs.mapInPandas(search_cell, schema)
        # watermark-filtered: folded rows already live in the lists
        # (and their refreshed cell graphs) — a crash-lingering delta
        # dir must not double-count (IVF folded_seq contract)
        delta_df = ivf._unfolded_delta(spark) if include_delta else None
        if delta_df is not None:
            from lantern_spark.functions.distances import distance
            from lantern_spark.functions.vectors import vec_lit

            from lantern_spark.operators.index import _suppress_stale

            # newest wins (the IVF search contract)
            out = _suppress_stale(
                out, delta_df, mf.id_column, cast_long=True
            )
            lit_dt = (
                "int"
                if Metric.resolve(mf.metric) is Metric.HAMMING
                else "double"
            )
            delta = (
                delta_df
                .select(
                    F.col(mf.id_column).cast("long").alias(mf.id_column),
                    distance(
                        F.col(mf.column), vec_lit(q, lit_dt), mf.metric
                    )
                    .cast("double")
                    .alias(dist_col),
                )
                .withColumn("list_id", F.lit(-1))
                .withColumn("n_dist", F.lit(0).cast("long"))
            )
            out = out.unionByName(delta)
        if ivf._has(TOMBSTONES):
            tombs = ivf._cached_read(spark, TOMBSTONES).select(
                F.col(mf.id_column).cast("long").alias(mf.id_column)
            )
            out = out.join(
                F.broadcast(tombs), on=mf.id_column, how="left_anti"
            )
        cols = [mf.id_column, dist_col] + (
            ["list_id", "n_dist"] if with_stats else []
        )
        out = out.select(*cols).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(mf.id_column).asc()
        )
        return out.limit(k) if limit_result else out


    def search_batch(
        self,
        spark: SparkSession,
        probes: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        ef: int = 64,
        qid_col: str = "qid",
        query_col: str = "query",
        dist_col: str = "dist",
        include_delta: bool = True,
    ) -> DataFrame:
        """Batched hybrid search: ONE job answers a whole probes
        DataFrame, with the probes never snapshotting to the driver
        (VERDICT r6 item 2). Combines the two families' batched shapes:

        - probe→cell assignment runs DISTRIBUTED through the same
          ``_rank_lists`` kernel per-query :meth:`search` uses (an
          Arrow-batched pandas UDF over broadcast centroids — batch ≡
          per-query by construction, as in ``IVFIndex.search_batch``);
        - the (qid, query, list_id) pairs shuffle ONCE, grouped by
          cell: each group deserializes ITS cell graph exactly once
          (executor-side pyarrow read of the cell_graphs artifact,
          row-group-pruned on shard_id — works on any
          pyarrow-reachable filesystem) and walks every probe that
          probed it. Graph payloads are never replicated per probe and
          never transit the driver;
        - delta rows are exact-scanned against every probe (the SMALL
          delta side is broadcast, not the probes), tombstones
          anti-joined, one window top-k per qid.

        Returns (qid, id, dist), k rows per probe.
        """
        self._check_fresh()
        ivf, mf = self.ivf, self.ivf.manifest
        npb = int(min(max(1, nprobe), mf.nlist))
        from lantern_spark.operators.index import (
            _probe_lists_udf,
        )

        c, cids = ivf._centroid_arrays(spark)
        rank_udf, cent_bc = _probe_lists_udf(spark, c, cids, mf.metric, npb)
        # ONE persisted probe snapshot feeds both the cell pairs and
        # the delta scan — a probes DataFrame with nondeterministic
        # lineage cannot walk cells for one vector and score the delta
        # against another (the IVFIndex.search_batch contract).
        # Released one-behind with the centroid broadcast.
        if self._batch_bc is not None:
            for h in self._batch_bc:
                h.unpersist()
        probe_snap = probes.select(qid_col, query_col).persist()
        # materialize NOW: a lazy persist pins nothing — concurrent
        # consumers racing before the cache populates would each
        # compute their own copy of a nondeterministic lineage
        # (review r7b #1). One bounded job over B probe rows.
        probe_snap.count()
        self._batch_bc = (probe_snap, cent_bc)
        pairs = probe_snap.withColumn(
            "list_id", F.explode(rank_udf(F.col(query_col)))
        )
        qid_type = probes.schema[qid_col].dataType
        schema = T.StructType(
            [
                T.StructField(qid_col, qid_type),
                T.StructField(mf.id_column, T.LongType()),
                T.StructField(dist_col, T.DoubleType()),
            ]
        )
        kk, eff = int(k), int(ef)
        cell_path = os.path.join(ivf.path, _CELL_DIR)

        def walk_cell(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
            lid = int(key[0])
            import pyarrow.dataset as pads

            tbl = (
                # hive partitioning discovers shard_id= dirs (the r7
                # layout); a flat pre-r7 artifact exposes shard_id as
                # a data column and the same filter applies
                pads.dataset(
                    cell_path, format="parquet", partitioning="hive"
                )
                .to_table(
                    columns=["payload"],
                    filter=pads.field("shard_id") == lid,
                )
            )
            empty = pd.DataFrame(
                {qid_col: [], mf.id_column: [], dist_col: []}
            )
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
            return pd.DataFrame(
                {qid_col: qids, mf.id_column: ids, dist_col: dists}
            )

        out = pairs.groupBy("list_id").applyInPandas(walk_cell, schema)
        delta_df = ivf._unfolded_delta(spark) if include_delta else None
        if delta_df is not None:
            from lantern_spark.functions.distances import distance

            from lantern_spark.operators.index import _suppress_stale

            out = _suppress_stale(
                out, delta_df, mf.id_column, cast_long=True
            )
            delta = (
                probe_snap
                .crossJoin(
                    F.broadcast(
                        delta_df.select(
                            F.col(mf.id_column)
                            .cast("long")
                            .alias(mf.id_column),
                            F.col(mf.column).alias(mf.column),
                        )
                    )
                )
                .select(
                    qid_col,
                    mf.id_column,
                    distance(
                        F.col(mf.column), F.col(query_col), mf.metric
                    )
                    .cast("double")
                    .alias(dist_col),
                )
            )
            out = out.unionByName(delta)
        if ivf._has(TOMBSTONES):
            tombs = ivf._cached_read(spark, TOMBSTONES).select(
                F.col(mf.id_column).cast("long").alias(mf.id_column)
            )
            out = out.join(
                F.broadcast(tombs), on=mf.id_column, how="left_anti"
            )
        from pyspark.sql import Window

        w = Window.partitionBy(qid_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(mf.id_column).asc()
        )
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )


def ivf_graph_recall_and_scan_fraction(
    index: IVFGraphIndex,
    spark: SparkSession,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 4,
    ef: int = 64,
) -> tuple:
    """(mean recall@k vs the exact scan over the lists, mean
    distance-evaluation fraction of the corpus) — the hybrid's quality
    instrument, comparable to both IVF's row-scan fraction and HNSW's
    walk fraction.

    Same two hardenings as ``hnsw_recall_and_scan_fraction``: recall is
    tie-tolerant (a hit = exact distance within ε of the k-th exact
    distance — the f32 graphs otherwise split float64 ties arbitrarily)
    and the search runs ``limit_result=False`` so every walked cell's
    ``n_dist`` is counted even when its candidates fell out of the
    global top-k (the limit would otherwise undercount evals by up to
    nprobe×)."""
    from lantern_spark.functions.distances import distance
    from lantern_spark.functions.vectors import vec_lit

    ivf, mf = index.ivf, index.ivf.manifest
    base = ivf.lists(spark)
    n = mf.num_vectors or base.count()
    hits = total = evals = 0
    for q in queries:
        exact_rows = (
            base.withColumn(
                "d", distance(F.col(mf.column), vec_lit(list(q)), mf.metric)
            )
            .orderBy(F.col("d").asc(), F.col(mf.id_column).asc())
            .limit(k + 32)
            .select(mf.id_column, "d")
            .collect()
        )
        d_k = float(exact_rows[min(k, len(exact_rows)) - 1]["d"])
        thr = d_k * (1.0 + 1e-5) + 1e-6
        acceptable = {r[0] for r in exact_rows if float(r["d"]) <= thr}
        rows = index.search(
            spark, q, k=k, nprobe=nprobe, ef=ef, with_stats=True,
            limit_result=False,
        ).collect()
        got = [r[mf.id_column] for r in rows[:k]]  # (dist, id)-sorted
        per_cell = {r["list_id"]: r["n_dist"] for r in rows}
        evals += sum(per_cell.values())
        hits += sum(1 for g in got if g in acceptable)
        total += k
    return (hits / total if total else 1.0, evals / max(n * len(queries), 1))
