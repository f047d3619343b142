"""IVF×graph hybrid: per-cell HNSW graphs over IVF list partitions
(the SPANN-style layout — coarse routing + sub-linear in-cell walks)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_spark.functions.distances import l2sq_dist
from lantern_spark.functions.vectors import vec_lit
from lantern_spark.operators.index import IVFIndex
from lantern_spark.operators.ivf_graph import (
    IVFGraphIndex,
    ivf_graph_recall_and_scan_fraction,
)
from lantern_spark.types import load_table

Q = [0.3 + 0.004 * i for i in range(64)]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").persist()
    df.count()
    yield df
    # the cache manager substitutes InMemoryTableScan for ANY later
    # identical parquet scan session-wide — leaking this cache breaks
    # other modules' PushedFilters plan assertions
    df.unpersist()


@pytest.fixture(scope="module")
def hybrid(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfg"))
    ivf = IVFIndex.build(
        emb, "embedding", "vec_id", path, metric="l2sq", nlist=8, seed=42
    )
    return IVFGraphIndex.attach(
        ivf, spark, m=12, ef_construction=80, seed=42
    )


def _exact_topk(emb, q, k=10):
    return (
        emb.select(
            "vec_id", l2sq_dist("embedding", vec_lit(list(q))).alias("d")
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    )


class TestIvfGraph:
    def test_fullprobe_large_ef_equals_exact(self, spark, emb, hybrid):
        """nprobe = nlist and ef ≥ cell size: every cell is walked
        near-exhaustively, so the hybrid must recover the exact top-k
        ids (graph dists are f32, so values compare approximately)."""
        got = hybrid.search(
            spark, Q, k=10, nprobe=hybrid.ivf.manifest.nlist, ef=600
        ).collect()
        want = _exact_topk(emb, Q, 10)
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
        for g, w in zip(got, want):
            assert g["dist"] == pytest.approx(w["d"], rel=1e-5)

    def test_pruned_probe_matches_flat_ivf(self, spark, hybrid):
        """Same probed cells + near-exhaustive ef ⇒ identical ids to
        the flat IVF pruned search (the hybrid changes HOW a cell is
        searched, never WHICH cells)."""
        flat = hybrid.ivf.search(spark, Q, k=10, nprobe=2).collect()
        got = hybrid.search(spark, Q, k=10, nprobe=2, ef=600).collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in flat]

    def test_quality_instrument(self, spark, emb, hybrid):
        probes = [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(3).collect()
        ]
        rec, frac = ivf_graph_recall_and_scan_fraction(
            hybrid, spark, probes, k=5,
            nprobe=hybrid.ivf.manifest.nlist, ef=600,
        )
        assert rec == 1.0
        assert 0.0 < frac  # evals recorded

    def test_with_stats_columns(self, spark, hybrid):
        rows = hybrid.search(
            spark, Q, k=5, nprobe=2, ef=64, with_stats=True
        ).collect()
        assert {"list_id", "n_dist"} <= set(rows[0].asDict())
        assert all(r["n_dist"] > 0 for r in rows)

    def test_delta_and_tombstone_visible(self, spark, hybrid):
        # far corner: unique best. float32-exact, because add_delta
        # stores rows at the index's array<float> type
        probe = [float(np.float32(v + 9.0)) for v in Q]
        hybrid.ivf.add_delta(
            spark.createDataFrame(
                [(777001, probe)], "vec_id long, embedding array<double>"
            )
        )
        rows = hybrid.search(spark, probe, k=2, nprobe=2, ef=64).collect()
        assert rows[0]["vec_id"] == 777001 and rows[0]["dist"] == 0.0
        hybrid.ivf.delete(
            spark.createDataFrame([(777001,)], "vec_id long")
        )
        rows = hybrid.search(spark, probe, k=2, nprobe=2, ef=64).collect()
        assert 777001 not in [r["vec_id"] for r in rows]

    def test_stale_guard_after_rebuild(self, spark, emb, hybrid, tmp_path):
        path = str(tmp_path / "ivfg2")
        ivf = IVFIndex.build(
            emb, "embedding", "vec_id", path, metric="l2sq", nlist=8,
            seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
        ivf.add_delta(
            spark.createDataFrame(
                [(555001, [0.0] * 64)], "vec_id long, embedding array<double>"
            )
        )
        ivf2 = ivf.rebuild(spark)  # folds delta → num_vectors changes
        hy2 = IVFGraphIndex(ivf2, hy.meta)
        with pytest.raises(ValueError, match="stale"):
            hy2.search(spark, Q, k=3)
        # re-attach clears it
        hy3 = IVFGraphIndex.attach(ivf2, spark, m=8, ef_construction=40)
        assert hy3.search(spark, Q, k=3).count() == 3

    def test_load_roundtrip(self, spark, hybrid):
        re = IVFGraphIndex.load(hybrid.ivf.path)
        got = re.search(spark, Q, k=5, nprobe=2, ef=600).collect()
        want = hybrid.search(spark, Q, k=5, nprobe=2, ef=600).collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


class TestIvfGraphHamming:
    def test_hamming_cells(self, spark, tmp_path):
        rng = np.random.RandomState(23)
        from lantern_spark.functions.bitops import from_uint32_words

        rows = [
            (
                int(i),
                from_uint32_words(
                    rng.randint(0, 2**32, size=4, dtype=np.uint64)
                    .astype(np.uint32)[None, :]
                )[0].tolist(),
            )
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "vec_id long, code array<int>")
        ivf = IVFIndex.build(
            df, "code", "vec_id", str(tmp_path / "hivf"),
            metric="hamming", nlist=4, seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=60)
        probe = rows[7][1]
        got = hy.search(
            spark, probe, k=5, nprobe=ivf.manifest.nlist, ef=400
        ).collect()
        assert got[0]["vec_id"] == 7 and got[0]["dist"] == 0.0
        ds = [r["dist"] for r in got]
        assert ds == sorted(ds)


class TestIvfGraphLifecycle:
    def test_duck_type_rebuild_in_place(self, spark, emb, tmp_path):
        """The hybrid satisfies the delta-lifecycle duck type
        (add_delta / delete / rebuild / .path) — the contract
        streaming/index_stream.incremental_index_job drives — and an
        in-place rebuild refreshes the cell graphs (no stale error)."""
        path = str(tmp_path / "lc")
        ivf = IVFIndex.build(
            emb, "embedding", "vec_id", path, metric="l2sq", nlist=8,
            seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
        assert hy.path == path
        probe = [float(v) + 9.0 for v in Q]
        hy.add_delta(
            spark.createDataFrame(
                [(666001, probe)], "vec_id long, embedding array<double>"
            )
        )
        rows = hy.search(spark, probe, k=1, nprobe=2, ef=64).collect()
        assert rows[0]["vec_id"] == 666001  # delta visible pre-fold
        hy2 = hy.rebuild(spark)  # in place: fold + re-attach
        assert hy2.path == path
        assert hy2.meta["num_vectors"] == hy2.ivf.manifest.num_vectors
        rows = hy2.search(
            spark, probe, k=1, nprobe=hy2.ivf.manifest.nlist, ef=600
        ).collect()
        assert rows[0]["vec_id"] == 666001  # folded INTO a cell graph
        assert rows[0]["dist"] == pytest.approx(0.0, abs=1e-6)

    def test_streaming_sync_drives_hybrid(self, spark, emb, tmp_path):
        """incremental_index_job over a hybrid handle: delta appends
        stream in; the size-triggered rebuild swaps in a re-attached
        hybrid whose graphs cover the folded rows."""
        from lantern_spark.streaming.index_stream import (
            incremental_index_job,
        )

        path = str(tmp_path / "st")
        ivf = IVFIndex.build(
            emb, "embedding", "vec_id", path, metric="l2sq", nlist=8,
            seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
        src = str(tmp_path / "src")
        n0 = hy.ivf.manifest.num_vectors
        spark.createDataFrame(
            [(444001 + i, [0.9] * 64) for i in range(6)],
            "vec_id long, embedding array<double>",
        ).write.parquet(src)
        q, state = incremental_index_job(
            spark,
            hy,
            src,
            "vec_id long, embedding array<double>",
            str(tmp_path / "ckpt"),
            rebuild_threshold_rows=3,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        live = state["index"]
        assert state["rebuilds"] >= 1
        assert isinstance(live, IVFGraphIndex)
        # at least one threshold-fold landed in the graphs; any tail
        # below the threshold stays in the delta (still searchable)
        assert live.ivf.manifest.num_vectors >= n0 + 3
        got = live.search(
            spark, [0.9] * 64, k=6, nprobe=live.ivf.manifest.nlist, ef=600
        ).collect()
        assert {r["vec_id"] for r in got} == {444001 + i for i in range(6)}


class TestIvfGraphBatch:
    def test_batch_equals_per_query(self, spark, emb, hybrid):
        qs = [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(3).collect()
        ]
        probes = spark.createDataFrame(
            [(i, q) for i, q in enumerate(qs)],
            "qid int, query array<double>",
        )
        got = hybrid.search_batch(
            spark, probes, k=5, nprobe=2, ef=600
        ).collect()
        by_qid = {}
        for r in got:
            by_qid.setdefault(r["qid"], []).append(
                (r["vec_id"], round(r["dist"], 4))
            )
        for i, q in enumerate(qs):
            want = [
                (r["vec_id"], round(r["dist"], 4))
                for r in hybrid.search(
                    spark, q, k=5, nprobe=2, ef=600
                ).collect()
            ]
            assert by_qid[i] == want

    def test_batch_sees_delta_and_tombstones(self, spark, emb, tmp_path):
        path = str(tmp_path / "b")
        ivf = IVFIndex.build(
            emb, "embedding", "vec_id", path, metric="l2sq", nlist=8,
            seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
        probe = [9.0] * 64
        hy.add_delta(
            spark.createDataFrame(
                [(333001, probe), (333002, [9.1] * 64)],
                "vec_id long, embedding array<double>",
            )
        )
        hy.delete(spark.createDataFrame([(333002,)], "vec_id long"))
        probes = spark.createDataFrame(
            [(0, probe)], "qid int, query array<double>"
        )
        rows = hy.search_batch(spark, probes, k=2, nprobe=2, ef=64).collect()
        ids = [r["vec_id"] for r in rows]
        assert ids[0] == 333001 and 333002 not in ids


class TestWeightedSearchWithHybrid:
    def test_weighted_approx_accepts_hybrid(self, spark, emb, hybrid):
        """weighted_vector_search's indexes= duck-types the hybrid via
        the manifest proxy; at full probe with candidate ef ≥ cell
        size the result equals the exact weighted search."""
        from lantern_spark.operators.knn import weighted_vector_search

        q1 = Q
        q2 = [0.9 - 0.002 * i for i in range(64)]
        exact = weighted_vector_search(
            emb, [(1.0, "embedding", q1), (0.5, "embedding", q2)],
            id_col="vec_id", k=5, ef=400, exact=True, round_digits=6,
        ).select("vec_id").collect()
        approx = weighted_vector_search(
            emb, [(1.0, "embedding", q1), (0.5, "embedding", q2)],
            id_col="vec_id", k=5, ef=400, exact=False, round_digits=6,
            indexes=[hybrid, hybrid],
        ).select("vec_id").collect()
        assert [r["vec_id"] for r in approx] == [
            r["vec_id"] for r in exact
        ]


class TestRefresh:
    """Incremental cell-graph maintenance (r7): after ONE fold_delta,
    refresh() rebuilds only the touched cells; anything structural
    falls back to a full re-attach."""

    def test_refresh_after_fold_rebuilds_only_touched_cells(
        self, spark, sf_dir, tmp_path
    ):
        import os as _os
        import time as _time

        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import IVFGraphIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb.filter("vec_id < 450"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
        )
        hy = IVFGraphIndex.attach(idx, spark, m=8, ef_construction=40)
        cell_dir = str(tmp_path / "i" / "cell_graphs")
        dirs = [d for d in _os.listdir(cell_dir) if d.startswith("shard_id=")]
        assert dirs, "r7 partitioned cell layout expected"

        def mtimes():
            out = {}
            for d in _os.listdir(cell_dir):
                if d.startswith("shard_id="):
                    full = _os.path.join(cell_dir, d)
                    out[d] = max(
                        _os.path.getmtime(_os.path.join(full, f))
                        for f in _os.listdir(full)
                        if f.endswith(".parquet")
                    )
            return out

        before = mtimes()
        idx.add_delta(emb.filter("vec_id = 460"))
        idx.fold_delta(spark)
        _time.sleep(1.1)
        assert hy.refresh(spark) is hy  # incremental path
        after = mtimes()
        changed = {d for d in after if after[d] != before.get(d)}
        touched = {
            f"shard_id={lid}"
            for lid in idx.manifest.params["last_fold_lists"]
        }
        assert changed == touched and len(changed) < len(before)
        # fresh again: search works and finds the folded row
        probe = emb.filter("vec_id = 460").first()
        got = hy.search(
            spark, [float(x) for x in probe["embedding"]], k=2,
            nprobe=8, ef=64,
        ).collect()
        assert got[0]["vec_id"] == 460

    def test_two_folds_force_full_reattach(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import IVFGraphIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb.filter("vec_id < 450"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=4, seed=42,
        )
        hy = IVFGraphIndex.attach(idx, spark, m=8, ef_construction=40)
        for vid in (460, 470):
            idx.add_delta(emb.filter(f"vec_id = {vid}"))
            idx.fold_delta(spark)
        # last_fold_lists only covers the LAST fold — must re-attach
        hy2 = hy.refresh(spark)
        assert hy2.meta["fold_epoch"] == 2
        got = hy2.search(spark, [0.2] * 64, k=3, nprobe=4, ef=64)
        assert got.count() == 3

    def test_refresh_noop_when_fresh(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import IVFGraphIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=4, seed=42,
        )
        hy = IVFGraphIndex.attach(idx, spark, m=8, ef_construction=40)
        assert hy.refresh(spark) is hy
