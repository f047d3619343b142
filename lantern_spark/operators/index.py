"""Batch ANN index: IVF partitioning with partition-pruned search.

Reference mapping (SURVEY §2.B/§2.C):
- ``CREATE INDEX … USING lantern_hnsw`` (build.c:472-648) → ``build_index``:
  one Spark job that k-means-clusters the vectors (nlist centroids),
  assigns every row to its nearest list, and writes the table
  partitioned by ``list_id`` with a manifest (the HnswIndexHeaderPage
  analog, external_index.h:38-56). The external-index socket protocol
  (external_index_socket.c / server.rs) is replaced by Spark task
  parallelism — executors partition-build shards concurrently.
- Top-k ANN scan (scan.c:167-338) → ``search``: pick the ``nprobe``
  nearest centroids DRIVER-side (centroids are tiny), then scan only
  those list partitions — Catalyst partition pruning keeps the read to
  nprobe/nlist of the data — and take an exact top-k within.
  ``ef``-style recall control maps to ``nprobe``.
- aminsert (insert.c) → ``add_delta``: append-only delta rows, searched
  exactly and unioned (Spark artifacts are immutable; periodic
  ``rebuild`` folds deltas in — the delta+rebuild design from SURVEY §7).
- ambulkdelete (delete.c:15-73) → ``delete``: tombstone ids anti-joined
  at search time; space reclaimed at rebuild (the reference likewise
  only marks labels invalid and reclaims on reindex).
- validate_index (validate_index.c:436) → ``validate``: structural
  checks + recall self-check vs the exact oracle on sampled queries.

Scale notes (100 TB): the build shuffles the data exactly once (the
partitionBy write); search reads nprobe lists only (partition pruning —
verify via .explain PartitionFilters); centroids/manifest are O(nlist·dim)
— broadcast-size by construction. Skewed lists are bounded by k-means
balance; AQE handles residual skew at search.
"""

from __future__ import annotations

import os
from dataclasses import asdict
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lantern_spark.functions.distances import distance
from lantern_spark.functions.vectors import query_lit, vec_lit
from lantern_spark.operators import artifact
from lantern_spark.operators.artifact import (
    DELTA,
    DELTA_SEQ,
    MANIFEST,
    TOMBSTONES,
    IndexArtifact,
    commit,
    stage_path,
)
from lantern_spark.operators.pq import _kmeans_fit
from lantern_spark.types import IndexManifest, Metric, PQSpec


def _sized_list_buckets(
    spark: SparkSession, nlist: int, n_rows, dim: int
) -> int:
    """Bucket count for the hash-repartition feeding a partitionBy
    ("list_id") write (guide §6 output sizing). Every list's rows hash
    to exactly ONE bucket regardless of the count (the small-files
    discipline), so this only tunes task fan:

    - data-bound (real scale): ceil(bytes / target) ≥ nlist → one task
      per list, the maximal spread (a list never splits across tasks);
    - fixed-cost-bound (small builds): floor at the session's default
      parallelism — fewer commit tasks, all cores still busy.

    ``n_rows=None`` (corpus size unknown without an extra count job)
    falls back to one task per list. Target bytes per write task come
    from ``lantern.index.writeTargetBytes`` (default 64 MB)."""
    if n_rows is None:
        return max(1, int(nlist))
    try:
        target = int(
            spark.conf.get("lantern.index.writeTargetBytes", str(64 << 20))
        )
    except Exception:
        target = 64 << 20
    row_bytes = 8 * int(dim) + 24  # vector doubles + id/codes overhead
    by_bytes = -(-int(n_rows) * row_bytes // max(1, target))  # ceil
    dp = spark.sparkContext.defaultParallelism
    return max(1, min(int(nlist), max(dp, by_bytes)))


def _collect_sample(
    df: DataFrame, column: str, train_limit: int
) -> np.ndarray:
    """Bounded training sample (≤train_limit rows) — the only data that
    leaves executors, same discipline as PQ codebooks."""
    sample = (
        df.select(column)
        .where(F.col(column).isNotNull())
        .limit(train_limit)
        .collect()
    )
    return np.asarray([r[0] for r in sample], dtype=np.float64)


def _train_centroids_from(
    x: np.ndarray, nlist: int, seed: int, metric: Metric = Metric.L2SQ
) -> np.ndarray:
    """Seeded driver-side centroid training over the collected sample.

    Euclidean/cosine metrics use k-means; hamming uses k-majority
    (binary k-means) over the int32-packed bit domain — euclidean
    k-means on packed words is geometrically meaningless, and the
    reference's hamming op class (dist_hamming_ops, lantern.sql:63-104)
    operates on the packed-bit semantics."""
    if metric is Metric.HAMMING:
        return _train_centroids_hamming(x, nlist, seed)
    order = np.lexsort(x.T[::-1])
    cents = _kmeans_fit(x[order], nlist, seed=seed)
    return cents[np.lexsort(cents.T[::-1])]


def _train_centroids_hamming(
    x: np.ndarray, nlist: int, seed: int, iters: int = 25
) -> np.ndarray:
    """k-majority clustering of int32-packed binary vectors.

    Assignment is by hamming distance (vectorized xor+popcount); the
    update step takes the per-bit MAJORITY of each cluster's members —
    the binary-space centroid that minimizes total hamming distance.
    Deterministic: rows sort lexicographically and initial centroids
    are evenly spaced distinct rows (the same sorted-init discipline as
    the float k-means). Returns (k', w) int64 in the SIGNED int32
    domain (two's complement — the user-facing ``integer[]`` values);
    k' ≤ nlist after dropping empty/duplicate centroids."""
    from lantern_spark.functions.bitops import (
        from_uint32_words,
        hamming_cdist,
        to_uint32_words,
    )

    words = to_uint32_words(x)
    uniq = np.unique(words, axis=0)  # sorted lexicographically
    k = int(min(max(1, nlist), uniq.shape[0]))
    # evenly spaced distinct rows as seeds — deterministic, spread
    cents = uniq[np.linspace(0, uniq.shape[0] - 1, k).astype(np.int64)]
    cents = np.unique(cents, axis=0)
    bits = np.unpackbits(words.view(np.uint8), axis=1)  # (n, 32w)
    for _ in range(iters):
        assign = hamming_cdist(words, cents).argmin(axis=1)
        new = []
        for c in range(cents.shape[0]):
            member = bits[assign == c]
            if member.shape[0] == 0:
                new.append(cents[c])  # keep empty centroid stable
                continue
            maj = (member.mean(axis=0) > 0.5).astype(np.uint8)
            new.append(
                np.packbits(maj).view(np.uint32).astype(np.uint32)
            )
        stepped = np.unique(np.stack(new), axis=0)
        if stepped.shape == cents.shape and np.array_equal(stepped, cents):
            break  # fixed point
        cents = stepped
    return from_uint32_words(cents)


def _assign_expr(column: str, cents: np.ndarray, metric: Metric):
    """pandas UDF: nearest-centroid list id per row (vectorized numpy)."""
    if metric is Metric.HAMMING:
        from lantern_spark.functions.bitops import (
            hamming_cdist,
            to_uint32_words,
        )

        cw = to_uint32_words(cents)

        @F.pandas_udf(T.IntegerType())
        def _assign_h(vs: pd.Series) -> pd.Series:
            x = to_uint32_words(np.asarray(vs.tolist()))
            d = hamming_cdist(x, cw)
            return pd.Series(d.argmin(axis=1).astype(np.int32))

        return _assign_h(F.col(column))
    c = cents.astype(np.float64)
    cos = metric is Metric.COS
    if cos:
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)

    @F.pandas_udf(T.IntegerType())
    def _assign(vs: pd.Series) -> pd.Series:
        x = np.asarray(vs.tolist(), dtype=np.float64)
        if cos:
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
            d = -(x @ c.T)
        else:
            d = (
                (x * x).sum(axis=1)[:, None]
                + (c * c).sum(axis=1)[None, :]
                - 2.0 * (x @ c.T)
            )
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _assign(F.col(column))


def _rank_lists(c: np.ndarray, ids, query, metric: str, nprobe: int) -> list:
    """Top-``nprobe`` list ids by centroid distance for ONE query — the
    probe-selection kernel shared by per-query search, batched search,
    and the hybrid index. Batched callers loop this per probe row (a
    ~nlist·dim matvec, microseconds) so batch ≡ per-query is bit-exact
    by construction: same formulas, same stable-argsort tie-break."""
    q = np.asarray(list(query), dtype=np.float64)
    mm = Metric.resolve(metric)
    if mm is Metric.HAMMING:
        from lantern_spark.functions.bitops import (
            hamming_cdist,
            to_uint32_words,
        )

        d = hamming_cdist(
            to_uint32_words(c), to_uint32_words(q[None, :])
        )[:, 0].astype(np.float64)
    elif mm is Metric.COS:
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)
        qn = q / max(np.linalg.norm(q), 1e-30)
        d = -(cn @ qn)
    else:
        d = ((c - q) ** 2).sum(axis=1)
    take = np.asarray(ids)[np.argsort(d, kind="stable")][:nprobe]
    return [int(i) for i in take]


def _probe_lists_udf(spark: SparkSession, c: np.ndarray, ids, metric: str,
                     nprobe: int):
    """Arrow-batched pandas UDF mapping a probe-vector column to its
    probed list ids — the DISTRIBUTED probe→list assignment used by
    ``search_batch`` (VERDICT r6 item 2: the probes DataFrame never
    snapshots to the driver; only the O(nlist·dim) centroids ship, via
    a Spark broadcast so large probe sets don't reserialize them per
    task). Returns (udf, broadcast) — the caller owns the broadcast's
    lifecycle (released with its ``BatchSnapshot``)."""
    bc = spark.sparkContext.broadcast((np.ascontiguousarray(c),
                                       np.asarray(ids)))
    met, npb = str(metric), int(nprobe)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _rank_rows(vs: pd.Series) -> pd.Series:
        cc, ii = bc.value
        return pd.Series(
            [_rank_lists(cc, ii, v, met, npb) for v in vs]
        )

    return _rank_rows, bc


class IVFIndex(IndexArtifact):
    """Handle over a persisted IVF index artifact."""

    def __init__(self, path: str, manifest: IndexManifest):
        super().__init__(path)
        self.manifest = manifest

    def _delta_keys(self) -> tuple:
        mf = self.manifest
        return (
            mf.id_column,
            mf.column,
            int((mf.params or {}).get("folded_seq", 0)),
        )

    def _stored_types(self, spark: SparkSession) -> dict:
        # one footer, read on the driver: a Spark schema read of lists/
        # lists every list_id= dir (a Spark job past 32 of them) and
        # reads the footer in another job
        part = artifact.first_parquet(os.path.join(self.path, "lists"))
        if part is None:  # not a local path
            schema = self.lists(spark).schema
        else:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(pq.read_schema(part))
        return {f.name: f.dataType for f in schema.fields}

    # -- build ----------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        column: str,
        id_column: str,
        path: str,
        metric: str = "l2sq",
        nlist: Optional[int] = None,
        seed: int = 42,
        train_limit: int = 20000,
        extra_columns: Optional[Sequence[str]] = None,
        pq: Optional[PQSpec] = None,
        opq: bool = False,
        opq_iters: int = 8,
    ) -> "IVFIndex":
        """``pq`` enables an IVF-PQ layout: a codebook is trained on a
        bounded sample and every stored row carries its PQ codes
        (``__pq_codes``). Search can then ADC-score codes (reading ~1/32
        of the vector bytes, column-pruned) and re-rank exactly — the
        analog of the reference's PQ-aware index (build.c:498-501,
        scan.c:75-81).

        ``opq=True`` (requires ``pq``) upgrades the codebook to OPQ
        (Ge et al. CVPR 2013, operators/opq): a learned rotation is
        fit on the SAME sample, codes are stored in rotated space, and
        ``search_adc`` rotates the query once driver-side — identical
        code bytes and query cost, lower distortion. Coarse centroids
        and the exact re-rank stay in ORIGINAL space (L2/cos are
        rotation-invariant, so cell assignment quality is unaffected
        either way and re-rank semantics are unchanged).

        ``nlist=None`` (default) scales the coarse-cell count with the
        corpus: round(√n) clamped to [4, 4096] — the standard IVF
        heuristic (the reference autotune likewise sizes its grid from
        the sampled corpus, index_autotune/mod.rs:38-67). A fixed small
        nlist is the 100 TB scale-killer the r5 quality telemetry
        caught: 8 cells over any corpus forces nprobe/8 of ALL data
        per probe."""
        m = Metric.resolve(metric)
        if pq is not None and m is Metric.HAMMING:
            raise ValueError(
                "pq codes are trained in euclidean subspaces — "
                "incompatible with a hamming (packed-bit) index"
            )
        artifact.recover(path)
        sample = _collect_sample(df, column, train_limit)
        if sample.size == 0:
            raise ValueError(f"no non-null vectors in column {column!r}")
        dim = int(sample.shape[1])
        # exact when the sample captured the whole corpus; None means
        # "unknown without a count job" (only counted when nlist needs
        # it — sizing below then falls back to one task per list)
        n_est = len(sample) if len(sample) < train_limit else None
        if nlist is None:
            if n_est is None:
                # one count job (trivial next to the build's write pass)
                n_est = df.count()
            nlist = int(min(max(4, round(n_est ** 0.5)), 4096))
        nlist = min(nlist, len(sample))
        cents = _train_centroids_from(sample, nlist, seed, metric=m)
        nlist = cents.shape[0]

        from pyspark.sql import Observation

        cols = [id_column, column] + list(extra_columns or [])
        obs = Observation("ivf_build")
        assigned = (
            df.select(*cols)
            .withColumn("list_id", _assign_expr(column, cents, m))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if opq and pq is None:
            raise ValueError("opq=True requires pq= (it rotates PQ codes)")
        opq_rot = None
        if pq is not None:
            # codebook fits on the SAME collected sample — no second
            # sampling job/shuffle; the codebook is tiny and broadcast
            from lantern_spark.operators.pq import (
                encode_pq,
                train_codebook_local,
            )

            spark0 = df.sparkSession
            if opq:
                from lantern_spark.operators.opq import train_opq_local

                opq_rot, cb_rows, _mse = train_opq_local(
                    sample, pq, iters=opq_iters
                )
            else:
                cb_rows = train_codebook_local(sample, pq)
            from lantern_spark.types import local_df

            codebook = local_df(
                spark0,
                cb_rows,
                "subvector_id int, centroid_id int, c array<double>",
            )
            # driver-side pyarrow write: the codebook is a few KB of
            # driver-resident data; a Spark write of the same rows
            # costs ~2.6 s of local-relation/shuffle/committer fixed
            # overhead (measured r7 — see _localpq.py)
            from lantern_spark._localpq import write_local_parquet

            write_local_parquet(
                stage_path(path, "pq_codebook"),
                {
                    "subvector_id": [int(r[0]) for r in cb_rows],
                    "centroid_id": [int(r[1]) for r in cb_rows],
                    "c": [[float(x) for x in r[2]] for r in cb_rows],
                },
            )
            if opq_rot is not None:
                from lantern_spark.operators.opq import rotate_vectors

                assigned = encode_pq(
                    assigned.withColumn(
                        "__opq_rot", rotate_vectors(column, opq_rot)
                    ),
                    "__opq_rot", codebook, pq, out_col="__pq_codes",
                ).drop("__opq_rot")
            else:
                assigned = encode_pq(
                    assigned, column, codebook, pq, out_col="__pq_codes"
                )
        # ONE shuffle: hash-repartition on list_id BEFORE the
        # partitionBy write so each list's rows land in one task —
        # without it every input partition opens a writer per list it
        # touches (tasks × nlist tiny files: ~2.2k at sf0.1, millions
        # at 100 TB — the small-files failure mode that kills both the
        # write and every subsequent pruned read). The bucket count is
        # SIZE-ADAPTIVE (r15, guide §6): at scale the bytes term makes
        # it nlist — one task per list, the prior shape — while a
        # small corpus stops fanning into one near-empty commit task
        # per list (45 single-list tasks measured 1.31 s vs 0.52 s at
        # 32 buckets for a 2000-row build; each list still lands
        # wholly in one task either way).
        n_write = _sized_list_buckets(
            df.sparkSession, nlist, n_est, dim
        )
        # staged inside the artifact: an in-place rebuild reads the live
        # lists lazily while this writes
        assigned.repartition(n_write, F.col("list_id")).write.mode(
            "overwrite"
        ).partitionBy("list_id").parquet(stage_path(path, "lists"))
        # row count piggybacks on the write job via Observation — no
        # second pass, no extra job
        n = int(obs.get["n"])
        manifest = IndexManifest(
            kind="ivf",
            column=column,
            id_column=id_column,
            metric=m.value,
            dim=dim,
            num_vectors=n,
            nlist=nlist,
            centroids=[c.tolist() for c in cents],
            params={
                "seed": seed,
                "train_limit": train_limit,
                "extra_columns": list(extra_columns or []),
                **(
                    {
                        "pq": {
                            "dim": pq.dim,
                            "splits": pq.splits,
                            "clusters": pq.clusters,
                            "seed": pq.seed,
                        }
                    }
                    if pq is not None
                    else {}
                ),
                **(
                    {
                        # stored OUTSIDE params["pq"] so PQSpec(**pq)
                        # reconstruction keeps working everywhere
                        "opq_rotation": [r.tolist() for r in opq_rot],
                        "opq_iters": opq_iters,
                    }
                    if opq_rot is not None
                    else {}
                ),
            },
        )
        # one commit swaps the lists (and codebook) in and drops the
        # delta/tombstones of an earlier generation at the same path —
        # they would silently union into searches of the fresh build
        # (ADVICE r2)
        staged = ["lists"] + (["pq_codebook"] if pq is not None else [])
        commit(
            path,
            moves=[(os.path.join(artifact.STAGE, d), d) for d in staged],
            writes={MANIFEST: asdict(manifest)},
            deletes=[DELTA, TOMBSTONES, DELTA_SEQ],
        )
        return cls(path, manifest)

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        return cls(path, IndexManifest.from_dict(artifact.read_json(path), path))

    # -- read paths -----------------------------------------------------

    def centroids(self, spark: SparkSession) -> DataFrame:
        """Centroids as a DataFrame. Inline in the manifest since v1.1
        (HnswIndexHeaderPage analog); falls back to the legacy parquet
        artifact for indexes written before that."""
        if self.manifest.centroids:
            from lantern_spark.types import local_df

            return local_df(
                spark,
                [(i, c) for i, c in enumerate(self.manifest.centroids)],
                "list_id int, centroid array<double>",
            )
        return spark.read.parquet(os.path.join(self.path, "centroids"))

    def lists(self, spark: SparkSession) -> DataFrame:
        return self._cached_read(spark, "lists")

    def _centroid_arrays(self, spark: SparkSession) -> tuple:
        """(centroid matrix, list_id vector) as numpy — O(nlist·dim),
        driver/broadcast scale by construction."""
        if self.manifest.centroids:
            c = np.asarray(self.manifest.centroids, dtype=np.float64)
            ids = np.arange(c.shape[0])
        else:  # legacy parquet centroids
            cents = self.centroids(spark).collect()  # O(nlist) — tiny
            c = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
            ids = np.asarray([r["list_id"] for r in cents])
        return c, ids

    def _probe_lists(self, spark: SparkSession, query, nprobe: int) -> list:
        c, ids = self._centroid_arrays(spark)
        return _rank_lists(c, ids, query, self.manifest.metric, nprobe)

    def search(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        nprobe: int = 4,
        dist_col: str = "dist",
        where=None,
        oversample: int = 1,
        select_columns: Optional[Sequence[str]] = None,
        round_digits: Optional[int] = None,
    ) -> DataFrame:
        """ANN top-k: prune to nprobe lists → exact top-k within.

        nprobe plays the role of the ``ef`` GUC (options.c:337-348):
        higher → better recall, more data scanned.

        ``where``: predicate over stored columns (id/vector plus any
        build-time ``extra_columns``), applied to the probed candidate
        set BEFORE top-k — the reference's post-filter contract
        (test/sql/hnsw_select.sql:51: WHERE + ORDER BY still uses the
        index; filters run on the candidates, so scarce matches may
        underfill k). ``oversample`` multiplies nprobe when filtering,
        the SURVEY §7 mitigation: probe more lists to refill k.

        ``select_columns``: stored extra columns to carry through the
        projection — avoids re-joining the base table to decorate the
        k-row result (a round-1 scale defect: that join broadcast the
        full table).

        ``round_digits``: round the distance BEFORE the top-k
        order/limit, so boundary ties at the k-th row break identically
        to a ``round(dist, n)``-ordered oracle (the repo-wide
        (rounded value, id) tie-break convention).

        Unfolded delta rows are scored exactly and tombstones
        anti-joined (:meth:`IndexArtifact._live_view`).
        """
        mf = self.manifest
        extras = list(select_columns or [])
        n_lists = nprobe * (oversample if where is not None else 1)
        probes = self._probe_lists(spark, query, n_lists)
        dist = distance(
            F.col(mf.column), query_lit(query, mf.metric), mf.metric
        )
        if round_digits is not None:
            dist = F.round(dist, round_digits)

        def score(s):
            if where is not None:
                s = s.filter(where)
            return s.select(
                mf.id_column, mf.column, *extras, dist.alias(dist_col)
            )

        return self._live_view(
            spark,
            self.lists(spark).filter(F.col("list_id").isin(probes)),
            score,
            k,
            mf.id_column,
            dist_col,
            score_stored=score,
        )

    def search_batch(
        self,
        spark: SparkSession,
        probes: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        query_col: str = "query",
        dist_col: str = "dist",
    ) -> DataFrame:
        """Batched ANN top-k: ONE job answers a whole DataFrame of
        probe vectors — the shape a 100 TB inference workload needs,
        where per-query jobs (the reference's Postgres-scan model,
        one ``amgettuple`` stream per query) would pay scheduler and
        scan overhead thousands of times over.

        Plan shape (bounded driver traffic — VERDICT r6 item 2):

        1. probe→list assignment runs DISTRIBUTED: an Arrow-batched
           pandas UDF over the probes DataFrame ranks each probe's
           lists with the SAME ``_rank_lists`` kernel per-query search
           uses — identical formula, identical stable-argsort
           tie-break, so batch ≡ per-query by construction. Only the
           O(nlist·dim) centroids ship (as a Spark broadcast); the
           probes DataFrame itself NEVER snapshots to the driver, so a
           million-probe inference batch cannot OOM it. The assignment
           is the handle's one-behind ``BatchSnapshot``;
        2. the only collects are the DISTINCT probed list ids (≤ nlist
           rows — used for partition pruning of the stored lists) and
           the (qid, list_id) pair count (one long). When the pair set
           is small (≤ ``broadcast_pairs_limit`` rows) both joins
           broadcast it as before; beyond that Spark shuffle-joins and
           AQE picks the strategy from runtime sizes;
        3. the live view (:meth:`IndexArtifact._live_view`) scores the
           unfolded delta rows (unpruned by construction) against every
           probe, anti-joins tombstones and takes the top-k per ``qid``
           through ``topk_per_group`` under the repo's (distance
           nulls-last, id) tie-break.

        Returns (qid, id, dist) rows, k per probe.
        """
        mf = self.manifest
        npb = int(min(max(1, nprobe), mf.nlist))
        c, cids = self._centroid_arrays(spark)
        rank_udf, cent_bc = _probe_lists_udf(spark, c, cids, mf.metric, npb)
        # persist the ASSIGNMENT snapshot (qid, vector, ranked lists):
        # both the pair keys and the vector side below derive from it;
        # the pair-stats collect below materializes it
        assigned = self._batch.replace(
            probes.select(qid_col, query_col).withColumn(
                "__lists", rank_udf(F.col(query_col))
            ),
            cent_bc,
        )
        pair_keys = assigned.select(
            qid_col, F.explode("__lists").alias("list_id")
        )
        # ONE bounded action serves both needs: per-list pair counts
        # (≤ nlist rows to the driver) give the distinct probed ids
        # for partition pruning AND the total pair count for the
        # broadcast decision (it also materializes the persist above)
        pair_stats = (
            pair_keys.groupBy("list_id").agg(F.count("*").alias("cnt"))
        ).collect()
        probed_ids = sorted(r["list_id"] for r in pair_stats)
        n_pairs = sum(r["cnt"] for r in pair_stats)
        probe_vecs = assigned.select(qid_col, query_col)
        broadcast_pairs_limit = 100_000
        if n_pairs <= broadcast_pairs_limit:
            pair_side = F.broadcast(pair_keys)
            vec_side = F.broadcast(probe_vecs)
        else:  # AQE decides from runtime sizes
            pair_side = pair_keys
            vec_side = probe_vecs
        base = (
            self.lists(spark)
            .filter(F.col("list_id").isin(probed_ids))
            .join(pair_side, "list_id")
            .join(vec_side, qid_col)
        )

        def score(s):
            return s.select(
                qid_col,
                mf.id_column,
                distance(
                    F.col(mf.column), F.col(query_col), mf.metric
                ).alias(dist_col),
            )

        return self._live_view(
            spark,
            base.select(qid_col, query_col, mf.id_column, mf.column),
            lambda d: score(
                d.select(mf.id_column, mf.column).crossJoin(vec_side)
            ),
            k,
            mf.id_column,
            dist_col,
            score_stored=score,
            qid_col=qid_col,
        )

    def search_adc(
        self,
        spark: SparkSession,
        query,
        k: int = 10,
        nprobe: int = 4,
        oversample: int = 4,
        dist_col: str = "dist",
        round_digits: Optional[int] = None,
    ) -> DataFrame:
        """IVF-PQ search: prune to nprobe lists → ADC-score PQ codes →
        take top k·oversample candidates → exact re-rank → top-k.

        The candidate pass reads only (id, __pq_codes) — column pruning
        drops the raw vectors, so at 100 TB the scan is ~dim·4/splits
        bytes per row instead of dim·4. The exact re-rank touches raw
        vectors for k·oversample rows only (a semi-join against the
        candidate ids). Reference analog: PQ-aware scan (scan.c:75-81)
        + Lantern's unrechecked-distance contract — except we DO
        recheck, because the re-rank is cheap on Spark. Un-folded delta
        rows have no codes yet: the live view exact-scans and merges
        them, the same insert-visibility contract as :meth:`search`.

        Caveat: near-duplicate rows share PQ codes, so the candidate
        top-(k·oversample) can fill up with copies of few distinct
        points. Corpora with high duplicate multiplicity m need
        oversample ≳ m (or dedup upstream — operators/dedup) to keep
        recall.
        """
        mf = self.manifest
        pq_params = (mf.params or {}).get("pq")
        if not pq_params:
            raise ValueError("index was built without pq= — no codes stored")
        spec = PQSpec(
            dim=pq_params["dim"],
            splits=pq_params["splits"],
            clusters=pq_params["clusters"],
            seed=pq_params["seed"],
        )
        from lantern_spark.operators.pq import pq_dist

        codebook = self._cached_read(spark, "pq_codebook")
        probes = self._probe_lists(spark, query, nprobe)
        lists = self.lists(spark).filter(F.col("list_id").isin(probes))
        # OPQ layout: codes live in rotated space — rotate the query
        # once driver-side (L2/cos are rotation-invariant, so the ADC
        # ranking is unchanged in meaning; probes and re-rank stay in
        # original space)
        rot = (mf.params or {}).get("opq_rotation")
        adc_query = (
            list(np.asarray(query, dtype=np.float64) @ np.asarray(rot))
            if rot
            else query
        )
        cand = pq_dist(
            lists.select(mf.id_column, "__pq_codes"),
            "__pq_codes",
            adc_query,
            codebook,
            spec,
            metric=mf.metric,  # candidates ranked under the INDEX metric
            out_col="__adc",
        )
        if round_digits is not None:
            # candidate cutoff also tie-breaks on the rounded ADC score
            # so an oracle replaying the stored codes selects the same
            # candidate set at the k·oversample boundary
            cand = cand.withColumn("__adc", F.round("__adc", round_digits))
        cand = (
            cand.orderBy(F.col("__adc").asc(), F.col(mf.id_column).asc())
            .limit(k * oversample)
            .select(mf.id_column)
        )
        dist = distance(F.col(mf.column), vec_lit(list(query)), mf.metric)
        if round_digits is not None:
            dist = F.round(dist, round_digits)

        def score(s):
            return s.select(mf.id_column, mf.column, dist.alias(dist_col))

        # the exact re-rank is scored BEFORE the stale-copy anti-join
        return self._live_view(
            spark,
            score(lists.join(F.broadcast(cand), mf.id_column)),
            score,
            k,
            mf.id_column,
            dist_col,
        )

    # -- lifecycle (insert/delete/rebuild) ------------------------------

    def add_delta(self, df: DataFrame) -> None:
        """aminsert analog: append rows to the delta set (insert.c) —
        searched exactly until the next fold/rebuild. Carries the
        build's extra_columns so filtered search sees one schema.

        Each append stamps a monotonic ``__delta_seq`` (the HNSW
        convention): among multiple updates of one id the highest
        sequence wins at fold/rebuild, and the manifest's
        ``folded_seq`` watermark hides rows a fold already moved into
        the lists (artifact.IndexArtifact._unfolded_delta)."""
        extras = [
            c
            for c in (self.manifest.params or {}).get("extra_columns", [])
            if c in df.columns
        ]
        self._append_delta(
            df.select(self.manifest.id_column, self.manifest.column, *extras)
        )

    def delete(self, ids_df: DataFrame) -> None:
        """ambulkdelete analog: tombstone ids (delete.c:15-73 marks
        labels invalid without reclaiming — same contract)."""
        self._writer_entry()
        self._append(TOMBSTONES, ids_df.select(self.manifest.id_column))

    def rebuild(self, spark: SparkSession, path: Optional[str] = None) -> "IVFIndex":
        """Fold delta − tombstones into a fresh index (reindex analog).

        ``build`` stages its output inside the artifact and publishes it
        with one journaled commit that also drops the folded-in delta
        and tombstones, so an in-place rebuild (``path`` omitted) reads
        the live lists lazily while it writes.
        """
        self._writer_entry()
        mf = self.manifest
        # codes are re-derived by build (delta rows have none)
        base = (
            self.lists(spark)
            .drop("list_id", "__pq_codes")
            .withColumn("__src", F.lit(1))
            .withColumn("__seq", F.lit(0).cast("long"))
        )
        d = self._unfolded_delta(spark)
        if d is not None:
            if "__delta_seq" in d.columns:
                d = d.withColumn(
                    "__seq",
                    F.coalesce(F.col("__delta_seq"), F.lit(0)).cast("long"),
                ).drop("__delta_seq")
            else:
                d = d.withColumn("__seq", F.lit(0).cast("long"))
            base = base.unionByName(
                d.withColumn("__src", F.lit(0)), allowMissingColumns=True
            )
        base = artifact.newest_per_id(base, mf.id_column)
        if self._has(TOMBSTONES):
            base = base.join(
                F.broadcast(self._cached_read(spark, TOMBSTONES)),
                on=mf.id_column,
                how="left_anti",
            )
        return IVFIndex.build(
            base,  # already deduped deterministically above
            mf.column,
            mf.id_column,
            path or self.path,
            metric=mf.metric,
            nlist=mf.nlist,
            seed=mf.params.get("seed", 42),
            train_limit=mf.params.get("train_limit", 20000),
            extra_columns=mf.params.get("extra_columns") or None,
            pq=PQSpec(**mf.params["pq"]) if mf.params.get("pq") else None,
            opq=bool(mf.params.get("opq_rotation")),
            opq_iters=mf.params.get("opq_iters", 8),
        )

    def fold_delta(self, spark: SparkSession) -> "IVFIndex":
        """Incremental reindex: fold delta + tombstones by rewriting
        ONLY the affected list partitions — the 100 TB maintenance
        path. A full :meth:`rebuild` rewrites the whole artifact (and
        re-trains centroids); at scale a 1% delta must not cost a 100%
        rewrite, so this folds against the EXISTING centroids (the
        reference's aminsert likewise places rows into the existing
        structure, insert.c — retraining stays a ``rebuild`` decision).

        Mechanics:

        1. removal set = tombstoned ids ∪ delta ids (a delta row with
           an existing id is an UPDATE: its old copy — possibly in a
           different cell — must die, the ``rebuild`` dedup contract);
        2. ONE column-pruned pass over (id, list_id) locates the lists
           holding removal victims; delta rows are assigned to lists
           with the existing centroids (and PQ-encoded with the
           existing codebook); affected = victim ∪ receiving lists —
           a bounded driver collect (≤ nlist);
        3. the affected lists' merged rows are written, partitioned by
           ``list_id``, to the artifact's stage dir (Spark cannot
           overwrite a path it is lazily reading) and published by ONE
           journaled commit (operators/artifact.py): per-list directory
           moves, a delete for each list the fold emptied, the manifest
           — ``folded_seq`` watermark, ``fold_epoch``, row count — and
           then the removal of the consumed delta and tombstones.
           Unaffected partitions are never read, shuffled, or
           rewritten.

        Crash consistency: a kill before the journal is written leaves
        the pre-fold artifact (the stage is dropped by the next writer
        call, which re-folds from the intact delta); a kill after it is
        finished by the next writer call, which replays the journal.
        Among multiple delta updates of one id the highest
        ``__delta_seq`` wins (the rebuild rule), and a delta row that
        was ALSO tombstoned folds as a deletion, never a resurrection.
        ``fold_epoch`` bumps so attached per-cell graph tiers detect
        staleness even when the row count nets out unchanged.

        Scale contract: delta/tombstone volume per fold ≪ corpus (that
        is the point of folding); the removal-id set broadcasts.
        """
        self._writer_entry()
        mf = self.manifest
        raw_delta = self._unfolded_delta(spark)
        has_tomb = self._has(TOMBSTONES)
        if raw_delta is None and not has_tomb:
            return self
        if raw_delta is not None and "__delta_seq" not in raw_delta.columns:
            raise ValueError(
                "delta has no __delta_seq column (pre-r7 artifact); "
                "fold_delta cannot track a fold watermark — rebuild() "
                "instead"
            )
        m = Metric.resolve(mf.metric)
        cents, _cent_ids = self._centroid_arrays(spark)
        extras = list(mf.params.get("extra_columns", []))
        cols = [mf.id_column, mf.column] + extras

        # Lineage cuts, not persist() (r14 optimization, guide §2):
        # the cached plans compiled WITHOUT AQE partition coalescing,
        # so a few-hundred-row removal/delta relation persisted as 32
        # near-empty partitions and every one of its several consumers
        # below paid a 32-task stage. A lazy cut materializes at first
        # use with AQE's size-derived partitioning and is shared by
        # RDD identity. The chain bounds storage-mode leaves (cuts
        # live until the staged lists land → keep=3, released after
        # the staged write).
        from lantern_spark.plans.lineage import CutChain, cut_lineage

        _fold_chain = CutChain(keep=3)
        delta = None
        removal = None
        n_delta = 0
        max_seq = int((mf.params or {}).get("folded_seq", 0))
        if raw_delta is not None:
            # _unfolded_delta already keeps the newest row per id with
            # a deterministic tie-break — no second window here
            # (review r7c #5: the re-dedup was a redundant shuffle).
            # r15 (guide §1.2): cut the deduped delta ONCE and run the
            # watermark agg on the cut — the former standalone agg plus
            # per-cut recomputes ran the dedup window's shuffle three
            # times (agg, removal cut, delta cut); now it runs once, at
            # this agg's materialization of the cut.
            newest = cut_lineage(raw_delta, eager=False, chain=_fold_chain)
            agg = newest.agg(
                F.max("__delta_seq").alias("mx"), F.count("*").alias("n")
            ).first()
            if agg["n"]:
                max_seq = int(agg["mx"])
                # EVERY delta id joins the removal set (updates kill
                # their old copies). `newest` is already unique per id
                # (the dedup window keeps one row each), so no distinct
                # is needed on this side.
                removal = newest.select(mf.id_column)
                # ... but only non-tombstoned delta rows fold back in:
                # add_delta(X) then delete(X) is a deletion, not a
                # resurrection (review r7 #1; matches search()'s
                # tombstone-after-union semantics)
                live = newest
                if has_tomb:
                    live = live.join(
                        F.broadcast(
                            self._cached_read(spark, TOMBSTONES).select(
                                mf.id_column
                            )
                        ),
                        on=mf.id_column,
                        how="left_anti",
                    )
                # delta rows cast to the STORED list schema: mixing
                # (say) array<double> delta vectors into array<float>
                # partitions makes the next multi-file read fail on a
                # footer-type mismatch — fold preserves the index's
                # declared storage types (a rebuild may widen them; a
                # fold never does). Appends cast as well, so this is a
                # no-op on the deltas they wrote.
                stored = self._stored_types(spark)
                delta = live.select(
                    *[
                        F.col(c_).cast(stored[c_]).alias(c_)
                        if c_ in stored
                        else F.col(c_)
                        for c_ in cols
                    ]
                )
                # n_delta comes from the per-list counts collected
                # below — no separate count job (small folds are
                # FIXED-COST bound: every saved action matters at
                # stream cadence)
        if has_tomb:
            tombs = self._cached_read(spark, TOMBSTONES).select(mf.id_column)
            # tombstone appends can repeat ids (and overlap delta ids)
            # — distinct only when tombs are in play; the delta-only
            # removal set is unique by construction
            removal = cut_lineage(
                (
                    tombs
                    if removal is None
                    else removal.unionByName(tombs)
                ).distinct(),
                eager=False,
                chain=_fold_chain,
            )
        if removal is None:
            return self

        # ONE (id, list_id)-pruned action for victim AND delta-placement
        # stats (r15 — formerly two collects): per-list victim counts
        # give the affected lists and the removed-row total; the delta
        # side rides the same job tagged apart.
        idmap = self.lists(spark).select(mf.id_column, "list_id")
        stats_src = (
            idmap.join(F.broadcast(removal), mf.id_column)
            .select("list_id", F.lit(True).alias("__vic"))
        )
        if delta is not None:
            delta = cut_lineage(
                delta.withColumn(
                    "list_id", _assign_expr(mf.column, cents, m)
                ),
                eager=False,
                chain=_fold_chain,
            )
            stats_src = stats_src.unionByName(
                delta.select("list_id", F.lit(False).alias("__vic"))
            )
        stats = (
            stats_src.groupBy("__vic", "list_id")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        n_removed = sum(r["c"] for r in stats if r["__vic"])
        n_delta = sum(r["c"] for r in stats if not r["__vic"])
        affected = {r["list_id"] for r in stats}
        affected_ids = sorted(affected)
        if not affected_ids:
            # no list changes (tombstones of absent ids, or delta rows
            # all tombstoned-and-absent) — the commit only advances the
            # watermark and drops the consumed delta/tombstones
            _fold_chain.release()
            if raw_delta is not None:
                mf.params = {**(mf.params or {}), "folded_seq": max_seq}
            commit(
                self.path,
                writes={MANIFEST: asdict(mf)} if raw_delta is not None else {},
                deletes=[DELTA, TOMBSTONES],
            )
            return self

        existing = (
            self.lists(spark)
            .filter(F.col("list_id").isin(affected_ids))
            .join(F.broadcast(removal), on=mf.id_column, how="left_anti")
        )
        merged = existing
        if delta is not None:
            pq_params = (mf.params or {}).get("pq")
            if pq_params:
                from lantern_spark.operators.pq import encode_pq

                codebook = self._cached_read(spark, "pq_codebook")
                rot = (mf.params or {}).get("opq_rotation")
                if rot:
                    # OPQ layout: fold-encoded codes must live in the
                    # same rotated space as the build's
                    from lantern_spark.operators.opq import rotate_vectors

                    delta = encode_pq(
                        delta.withColumn(
                            "__opq_rot",
                            rotate_vectors(
                                mf.column, np.asarray(rot, dtype=np.float64)
                            ),
                        ),
                        "__opq_rot", codebook, PQSpec(**pq_params),
                        out_col="__pq_codes",
                    ).drop("__opq_rot")
                else:
                    delta = encode_pq(
                        delta, mf.column, codebook, PQSpec(**pq_params),
                        out_col="__pq_codes",
                    )
            merged = existing.unionByName(
                delta, allowMissingColumns=True
            )

        # ONE partitioned write to the stage dir INSIDE the artifact
        # (same filesystem by construction), committed by per-list
        # directory moves — driver-side metadata ops, no second pass
        # over the rows (r15, guide §6/§1.4). Each list's rows hash to
        # exactly one task (the build write's file-count discipline),
        # bounded at one task per affected list so a small fold doesn't
        # fan into shuffle-partition-many near-empty write tasks.
        (
            merged.repartition(max(1, len(affected_ids)), F.col("list_id"))
            .write.partitionBy("list_id")
            .parquet(stage_path(self.path, "lists"))
        )
        _fold_chain.release()
        mf.num_vectors = int(mf.num_vectors) - int(n_removed) + int(n_delta)
        mf.params = {
            **(mf.params or {}),
            "fold_epoch": int((mf.params or {}).get("fold_epoch", 0)) + 1,
            "folded_seq": max_seq,
            # which lists this fold touched — an attached cell-graph
            # tier refreshes ONLY these (IVFGraphIndex.refresh)
            "last_fold_lists": [int(x) for x in affected_ids],
        }
        commit(
            self.path,
            moves=artifact.partition_moves(
                self.path, "lists", "list_id", affected_ids
            ),
            writes={MANIFEST: asdict(mf)},
            deletes=[DELTA, TOMBSTONES],
        )
        return self

    # -- validation -----------------------------------------------------

    def validate(
        self,
        spark: SparkSession,
        sample_queries: int = 10,
        k: int = 10,
        nprobe: Optional[int] = None,
    ) -> dict:
        """validate_index analog (validate_index.c:436): structural
        invariants + recall@k vs exact scan on sampled query vectors
        (the reference autotune's recall method, index_autotune/mod.rs:188-218).
        """
        mf = self.manifest
        lists = self.lists(spark)
        stats = lists.agg(
            F.count("*").alias("n"),
            F.countDistinct("list_id").alias("nlists"),
            F.min(F.size(mf.column)).alias("dmin"),
            F.max(F.size(mf.column)).alias("dmax"),
        ).first()
        problems = []
        if stats["dmin"] != mf.dim or stats["dmax"] != mf.dim:
            problems.append(f"dim drift: [{stats['dmin']},{stats['dmax']}] != {mf.dim}")
        if stats["n"] != mf.num_vectors:
            problems.append(f"count drift: {stats['n']} != {mf.num_vectors}")
        if stats["nlists"] > mf.nlist:
            problems.append(f"list_id overflow: {stats['nlists']} > {mf.nlist}")

        qs = [r[0] for r in lists.select(mf.column).limit(sample_queries).collect()]
        recall = recall_at_k(
            self, spark, qs, k=k, nprobe=nprobe or max(1, mf.nlist // 4)
        )
        return {
            "num_vectors": stats["n"],
            "nlist": stats["nlists"],
            "dim_ok": not problems,
            "problems": problems,
            "recall_at_k": recall,
        }


def recall_at_k(
    index: IVFIndex,
    spark: SparkSession,
    queries: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 4,
    ground_truth: Optional[Sequence[Sequence[int]]] = None,
) -> float:
    """Mean recall@k of ANN vs exact ground truth (the reference recall
    harness: utils/calculate_recall.sql + index_autotune/mod.rs:220-254).

    ``ground_truth`` (r13): per-query true-neighbor id lists — the
    sift-style ``.ivecs`` ground-truth file the reference CLI consumes
    (index_autotune/mod.rs:188-218) — used verbatim instead of the
    exact scan when provided (row i truths query i; only the first
    ``k`` ids count)."""
    mf = index.manifest
    base = index.lists(spark)
    hits = 0
    total = 0
    for qi, q in enumerate(queries):
        if ground_truth is not None:
            exact = set(list(ground_truth[qi])[:k])
        else:
            exact = {
                r[0]
                for r in base.withColumn(
                    "d",
                    distance(F.col(mf.column), vec_lit(list(q)), mf.metric),
                )
                .orderBy(F.col("d").asc(), F.col(mf.id_column).asc())
                .limit(k)
                .select(mf.id_column)
                .collect()
            }
        approx = {
            r[0]
            for r in index.search(spark, q, k=k, nprobe=nprobe)
            .select(mf.id_column)
            .collect()
        }
        hits += len(exact & approx)
        total += k
    return hits / total if total else 1.0
