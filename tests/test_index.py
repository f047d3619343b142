"""IVF index build / search / lifecycle / validate tests.

Reference analogs: build (build.c BuildIndex), scan recall
(calculate_recall.sql), insert/delete lifecycle (insert.c, delete.c),
validate_index (validate_index.c).
"""

import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lantern_spark.operators.index import IVFIndex, recall_at_k

Q = [float((i * 37 % 97) / 97.0) for i in range(64)]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf"))
    return IVFIndex.build(
        emb, "embedding", "vec_id", path, metric="l2sq", nlist=8, seed=42
    )


def test_manifest_roundtrip(index):
    loaded = IVFIndex.load(index.path)
    assert loaded.manifest.dim == 64
    assert loaded.manifest.nlist == 8
    assert loaded.manifest.num_vectors == 500
    assert loaded.manifest.metric == "l2sq"
    assert loaded.manifest.format_version == "1.1"


class TestFormatVersion:
    """Artifact upgrade-compat gate (the reference's test_updates.py
    analog): same-major artifacts load, unknown majors refuse with an
    actionable error, pre-field manifests read as 1.0 (compatible)."""

    def _tamper(self, path, fv):
        import json
        import os

        mp = os.path.join(path, "manifest.json")
        with open(mp) as f:
            d = json.load(f)
        if fv is None:
            d.pop("format_version", None)
        else:
            d["format_version"] = fv
        with open(mp, "w") as f:
            json.dump(d, f)

    def test_unknown_major_refused_ivf(self, index):
        self._tamper(index.path, "2.0")
        try:
            with pytest.raises(ValueError, match="format_version 2.0"):
                IVFIndex.load(index.path)
        finally:
            self._tamper(index.path, "1.1")

    def test_legacy_manifest_reads_as_1_0(self, index):
        self._tamper(index.path, None)
        try:
            loaded = IVFIndex.load(index.path)
            assert loaded.manifest.format_version == "1.0"
        finally:
            self._tamper(index.path, "1.1")

    def test_minor_drift_accepted(self, index):
        self._tamper(index.path, "1.7")
        try:
            assert IVFIndex.load(index.path).manifest.format_version == "1.7"
        finally:
            self._tamper(index.path, "1.1")

    def test_unknown_major_refused_hnsw(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.limit(50), "embedding", "vec_id", str(tmp_path / "h"),
            shards=1,
        )
        assert idx.manifest["format_version"] == "1.1"
        assert HNSWIndex.load(idx.path).manifest["format_version"] == "1.1"
        self._tamper(idx.path, "3.0")
        with pytest.raises(ValueError, match="major 3"):
            HNSWIndex.load(idx.path)


def test_search_returns_k(spark, index):
    out = index.search(spark, Q, k=10, nprobe=8).collect()
    assert len(out) == 10
    dists = [r["dist"] for r in out]
    assert dists == sorted(dists)


def test_full_probe_equals_exact(spark, emb, index):
    """nprobe == nlist must reproduce the exact top-k (recall 1.0)."""
    qs = [r[0] for r in emb.select("embedding").limit(5).collect()]
    rec = recall_at_k(index, spark, qs, k=10, nprobe=8)
    assert rec == 1.0


def test_recall_monotone_in_nprobe(spark, emb, index):
    """Recall must grow with nprobe (the ef-knob contract,
    options.c:337-348). The driver embeddings are geometrically
    UNclustered (label ⟂ geometry), so absolute recall at low nprobe is
    data-limited; the ≥0.95 BASELINE target is met by autotune choosing
    nprobe (see test_autotune) — here we assert the knob works."""
    qs = [r[0] for r in emb.select("embedding").limit(10).collect()]
    r2 = recall_at_k(index, spark, qs, k=10, nprobe=2)
    r6 = recall_at_k(index, spark, qs, k=10, nprobe=6)
    assert r2 < r6 <= 1.0
    assert r6 >= 0.8


def test_partition_pruning(spark, index):
    """The probe filter must prune list partitions at the scan."""
    plan = (
        index.lists(spark)
        .filter(F.col("list_id").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]


def test_delta_and_tombstones(spark, index):
    """insert.c / delete.c analogs: delta rows appear in results,
    tombstoned ids disappear."""
    # a delta row exactly at the query point → must rank first
    delta = spark.createDataFrame(
        [Row(vec_id=999001, embedding=[float(x) for x in Q])]
    )
    index.add_delta(delta)
    top = index.search(spark, Q, k=3, nprobe=2).collect()
    assert top[0]["vec_id"] == 999001
    assert top[0]["dist"] == pytest.approx(0.0, abs=1e-12)

    index.delete(spark.createDataFrame([(999001,)], "vec_id long"))
    after = index.search(spark, Q, k=3, nprobe=2).collect()
    assert all(r["vec_id"] != 999001 for r in after)


class TestRelationCache:
    """r14: the fingerprint-validated lazy-relation cache must (a) hand
    back the same unexecuted DataFrame while the artifact is unchanged
    (dropping the per-search file-listing/schema jobs), and (b) drop it
    on ANY mutation — including one made through a DIFFERENT instance
    opened on the same path, which no method-level invalidation hook
    could see. Only the `os.scandir` fingerprint covers that case."""

    def test_handle_reused_while_unchanged(self, spark, emb, tmp_path):
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "c"),
            metric="l2sq", nlist=4, seed=1,
        )
        assert idx.lists(spark) is idx.lists(spark)

    def test_cross_instance_mutation_visible(self, spark, emb, tmp_path):
        path = str(tmp_path / "x")
        writer = IVFIndex.build(
            emb, "embedding", "vec_id", path,
            metric="l2sq", nlist=4, seed=1,
        )
        reader = IVFIndex.load(path)
        before = reader.search(spark, Q, k=3, nprobe=4).collect()
        assert all(r["vec_id"] != 999101 for r in before)
        # insert through the OTHER handle: the reader must see it
        writer.add_delta(
            spark.createDataFrame(
                [Row(vec_id=999101, embedding=[float(x) for x in Q])]
            )
        )
        top = reader.search(spark, Q, k=3, nprobe=4).collect()
        assert top[0]["vec_id"] == 999101
        # and the tombstone must kill it again, same cross-handle path
        writer.delete(spark.createDataFrame([(999101,)], "vec_id long"))
        after = reader.search(spark, Q, k=3, nprobe=4).collect()
        assert all(r["vec_id"] != 999101 for r in after)

    def test_unscannable_path_never_caches(self, spark, emb, tmp_path, monkeypatch):
        """r15 (r14 VERDICT #1): when `_dir_fingerprint` cannot scan the
        path (object-store URI, permission error) it returns None, and
        None must mean NEVER-CACHE — the old code stored (None, df) and
        `None == None` then hit the stale handle forever, so a mutated
        artifact on a URI path would keep serving old data."""
        import lantern_spark.operators.artifact as mod

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "u"),
            metric="l2sq", nlist=4, seed=1,
        )
        # warm the cache on the real path, then make it unscannable
        first = idx.lists(spark)
        assert "lists" in idx._rel_cache
        monkeypatch.setattr(mod, "_dir_fingerprint", lambda p: None)
        a = idx.lists(spark)
        b = idx.lists(spark)
        # fresh handle every call, stale entry evicted, nothing stored
        assert a is not first and a is not b
        assert "lists" not in idx._rel_cache

    def test_fingerprint_none_on_permission_error(self, tmp_path, monkeypatch):
        """scandir failures beyond FileNotFoundError (e.g. EACCES, or
        the ENOENT-ish errors local scandir raises on `s3://…` URIs)
        must also yield None, not crash the read path."""
        from lantern_spark.operators.artifact import _dir_fingerprint

        real_scandir = os.scandir

        def deny(path):
            raise PermissionError(13, "denied", str(path))

        monkeypatch.setattr(os, "scandir", deny)
        assert _dir_fingerprint(str(tmp_path)) is None
        monkeypatch.setattr(os, "scandir", real_scandir)
        assert _dir_fingerprint("s3://bucket/prefix/lists") is None

    def test_partition_partfile_rewrite_invalidates(self, spark, emb, tmp_path):
        """r15 (r14 ADVICE): a dynamic partition overwrite replaces part
        files INSIDE `list_id=N` without changing the subdir's name or
        size; with coarse (1 s) filesystem timestamps the subdir mtime
        can land in the same tick. The fingerprint now includes one
        shallow scandir of each child dir, so the part-file change
        itself flips the token even when every directory mtime is
        frozen."""
        from lantern_spark.operators.artifact import _dir_fingerprint

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "p"),
            metric="l2sq", nlist=4, seed=1,
        )
        lists_dir = os.path.join(idx.path, "lists")
        tok0 = _dir_fingerprint(lists_dir)
        # find one part file inside a partition dir and append a byte,
        # then freeze every directory mtime back to its original value
        part_dir = next(
            e.path for e in os.scandir(lists_dir)
            if e.is_dir() and e.name.startswith("list_id=")
        )
        part_file = next(
            e.path for e in os.scandir(part_dir)
            if e.name.endswith(".parquet")
        )
        dstat = {d: os.stat(d) for d in (lists_dir, part_dir)}
        with open(part_file, "ab") as f:
            f.write(b"\0")
        for d, st in dstat.items():
            os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert _dir_fingerprint(lists_dir) != tok0


def test_rebuild_folds_lifecycle(spark, index, tmp_path_factory):
    path2 = str(tmp_path_factory.mktemp("ivf2"))
    rebuilt = index.rebuild(spark, path2)
    # delta row was tombstoned before rebuild → gone; base rows intact
    assert rebuilt.manifest.num_vectors == 500
    top = rebuilt.search(spark, Q, k=3, nprobe=8).collect()
    assert all(r["vec_id"] != 999001 for r in top)


def test_validate(spark, index):
    report = index.validate(spark, sample_queries=5, k=5)
    assert report["nlist"] <= 8
    assert report["recall_at_k"] > 0.5
    assert report["num_vectors"] == 500 or report["problems"]


def test_cosine_metric_index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_cos"))
    idx = IVFIndex.build(
        emb, "embedding", "vec_id", path, metric="cos", nlist=4, seed=1
    )
    out = idx.search(spark, Q, k=5, nprobe=4).collect()
    assert len(out) == 5
    qs = [r[0] for r in emb.select("embedding").limit(5).collect()]
    assert recall_at_k(idx, spark, qs, k=5, nprobe=4) == 1.0


def test_rebuild_in_place_default_path(spark, sf_dir, tmp_path):
    """ADVICE r1: rebuild() into self.path used to overwrite the lists
    dir while lazily reading from it. The in-place default must stage,
    fold delta - tombstones in, and clear the folded artifacts."""
    import os

    from lantern_spark.operators.index import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "inplace")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    idx = IVFIndex.build(base, "embedding", "vec_id", path, nlist=4, seed=42)
    idx.add_delta(emb.filter(F.col("vec_id") % 5 == 0))
    idx.delete(emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"))

    rebuilt = idx.rebuild(spark)  # no path → in place
    assert rebuilt.path == path
    # folded-in artifacts are gone — a search must not re-apply them
    assert not os.path.isdir(os.path.join(path, "delta"))
    assert not os.path.isdir(os.path.join(path, "tombstones"))

    # full-probe search equals exact KNN over surviving rows
    q = [0.25] * 64
    got = [
        r["vec_id"]
        for r in rebuilt.search(spark, q, k=10, nprobe=4).collect()
    ]
    from lantern_spark.functions.distances import l2sq_dist
    from lantern_spark.functions.vectors import vec_lit

    expect = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 7 != 0)
        .withColumn("d", l2sq_dist("embedding", vec_lit(q)))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    assert got == expect
    assert rebuilt.manifest.num_vectors == emb.filter(F.col("vec_id") % 7 != 0).count()


def test_cos_metric_ivf_pq_adc(spark, emb, tmp_path_factory):
    """search_adc on a cos-metric index ranks candidates under cos
    (round-2 fix: the ADC stage previously scored l2sq regardless of
    the index metric)."""
    from lantern_spark.operators.index import IVFIndex
    from lantern_spark.types import PQSpec

    path = str(tmp_path_factory.mktemp("ivf_cos_pq"))
    idx = IVFIndex.build(
        emb, "embedding", "vec_id", path, metric="cos", nlist=4, seed=3,
        pq=PQSpec(dim=64, splits=8, clusters=16, seed=3),
    )
    q = [float((i * 11 % 29) / 29.0) for i in range(64)]
    adc = idx.search_adc(spark, q, k=10, nprobe=4, oversample=8)
    exact = idx.search(spark, q, k=10, nprobe=4)
    a = {r["vec_id"] for r in adc.collect()}
    e = {r["vec_id"] for r in exact.collect()}
    assert len(a & e) >= 6  # candidates found under the right metric
    dists = [r["dist"] for r in adc.collect()]
    assert all(0.0 <= d <= 2.0 for d in dists)  # cos-range dists


class TestHnswAutoShards:
    """shards=None sizes the shard count from the corpus (the r5 bench
    finding: per-shard fan-out multiplies query cost, so small corpora
    must not be over-sharded)."""

    def test_small_corpus_gets_one_shard(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.limit(60), "embedding", "vec_id", str(tmp_path / "auto"),
        )
        assert idx.manifest["shards"] == 1
        assert idx.search(spark, [0.0] * 64, k=5).count() == 5

    def test_target_rows_per_shard_scales(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.limit(100), "embedding", "vec_id", str(tmp_path / "auto2"),
            target_rows_per_shard=30,
        )
        assert idx.manifest["shards"] == 4  # ceil(100/30)


class TestHnswInPlaceRebuild:
    def test_quantized_in_place_rebuild_keeps_delta_rows(
        self, spark, emb, tmp_path
    ):
        """In-place rebuild of a quantized graph stages eagerly: the
        delta rows must survive into the rebuilt vectors heap (the
        review finding: delta was rmtree'd while the vectors write
        still lazily read it)."""
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 200"), "embedding", "vec_id",
            str(tmp_path / "h"), shards=2, quant="i8",
        )
        probe_row = emb.filter("vec_id = 450").first()
        idx.add_delta(emb.filter("vec_id >= 200"))
        idx2 = idx.rebuild(spark)  # in-place, no path
        assert idx2.path == idx.path
        # the delta row is IN the rebuilt graphs: searching for it
        # finds it at distance ~0
        q = [float(x) for x in probe_row["embedding"]]
        top = idx2.search(spark, q, k=1).collect()[0]
        assert top["vec_id"] == 450 and top["dist"] < 1e-2
        # and a CHAINED in-place rebuild still works (streaming path)
        idx3 = idx2.rebuild(spark)
        assert idx3.search(spark, q, k=1).collect()[0]["vec_id"] == 450


class TestHnswDeltaWinsRebuild:
    def test_updated_vector_in_delta_replaces_stored(
        self, spark, emb, tmp_path
    ):
        """A delta row re-inserting an EXISTING id with a new vector
        must win the rebuild dedup deterministically (dropDuplicates
        picked an arbitrary survivor)."""
        from pyspark.sql import functions as F

        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 100"), "embedding", "vec_id",
            str(tmp_path / "h"), shards=2, quant="i8",
        )
        # id 7's vector replaced by id 450's embedding
        updated = (
            emb.filter("vec_id = 450")
            .select(F.lit(7).cast("long").alias("vec_id"), "embedding")
        )
        target = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        idx.add_delta(updated)
        for _ in range(3):  # deterministic across repeated rebuilds
            idx2 = idx.rebuild(spark)
            top = idx2.search(spark, target, k=1).collect()[0]
            assert top["vec_id"] == 7 and top["dist"] < 1e-2
            idx = idx2


class TestHnswDeltaRecency:
    def test_latest_delta_update_wins(self, spark, emb, tmp_path):
        """Two add_delta calls updating the SAME id: rebuild must fold
        the later vector (append-sequence recency, not an arbitrary
        row_number tie among __src=0 rows)."""
        from pyspark.sql import functions as F

        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 100"), "embedding", "vec_id",
            str(tmp_path / "h"), shards=2, quant="i8",
        )
        v1 = emb.filter("vec_id = 400").select(
            F.lit(7).cast("long").alias("vec_id"), "embedding"
        )
        v2 = emb.filter("vec_id = 450").select(
            F.lit(7).cast("long").alias("vec_id"), "embedding"
        )
        idx.add_delta(v1)
        idx.add_delta(v2)  # the LATER update
        target = [
            float(x) for x in emb.filter("vec_id = 450").first()["embedding"]
        ]
        idx2 = idx.rebuild(spark)
        top = idx2.search(spark, target, k=1).collect()[0]
        assert top["vec_id"] == 7 and top["dist"] < 1e-2


class TestIvfSearchBatch:
    """Batched IVF search: one job answers a probes DataFrame, with
    per-probe list pruning distributed (no driver-side queries)."""

    def test_batch_matches_per_query_search(self, spark, emb, tmp_path):
        from pyspark.sql import functions as F

        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42,
        )
        probe_rows = emb.orderBy("vec_id").limit(5).collect()
        probes = spark.createDataFrame(
            [(i, [float(x) for x in r["embedding"]])
             for i, r in enumerate(probe_rows)],
            "qid int, query array<double>",
        )
        batch = idx.search_batch(spark, probes, k=4, nprobe=3)
        got = {
            (r["qid"], r["vec_id"], round(r["dist"], 6))
            for r in batch.collect()
        }
        want = set()
        for i, r in enumerate(probe_rows):
            for s in idx.search(
                spark, [float(x) for x in r["embedding"]], k=4, nprobe=3
            ).collect():
                want.add((i, s["vec_id"], round(s["dist"], 6)))
        assert got == want

    def test_batch_sees_delta_and_respects_tombstones(
        self, spark, emb, tmp_path
    ):
        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "ivf"), metric="l2sq", nlist=8, seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        idx.delete(spark.createDataFrame([(0,)], "vec_id long"))
        target = emb.filter("vec_id = 450").first()
        probes = spark.createDataFrame(
            [(0, [float(x) for x in target["embedding"]])],
            "qid int, query array<double>",
        )
        rows = idx.search_batch(spark, probes, k=3, nprobe=8).collect()
        ids = [r["vec_id"] for r in rows]
        assert ids[0] == 450  # delta row found at distance ~0
        assert 0 not in ids  # tombstoned id excluded

    def test_batch_driver_traffic_bounded_by_nlist(
        self, spark, emb, tmp_path, monkeypatch
    ):
        """The scale contract (VERDICT r6 item 2): building the batch
        plan must never collect more rows than nlist to the driver —
        probe→list assignment is distributed, so a probes DataFrame of
        ANY size is safe. Spied by wrapping DataFrame.collect during
        plan construction (the final result collect happens after the
        spy is removed)."""
        from lantern_spark.operators.index import IVFIndex

        nlist = 8
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=nlist, seed=42,
        )
        probes = spark.createDataFrame(
            [(i, [0.01 * i] * 64) for i in range(200)],
            "qid int, query array<double>",
        )
        collected_sizes = []
        # patch the RUNTIME class (Spark 4: instances are
        # pyspark.sql.classic.dataframe.DataFrame; patching the
        # abstract pyspark.sql.DataFrame never intercepts)
        df_cls = type(probes)
        real_collect = df_cls.collect

        def spy_collect(self):
            rows = real_collect(self)
            collected_sizes.append(len(rows))
            return rows

        monkeypatch.setattr(df_cls, "collect", spy_collect)
        try:
            batch = idx.search_batch(spark, probes, k=3, nprobe=3)
        finally:
            monkeypatch.undo()
        assert collected_sizes, "plan construction collected nothing?"
        assert max(collected_sizes) <= nlist, (
            f"driver collect of {max(collected_sizes)} rows > nlist "
            f"{nlist} during batch-plan construction"
        )
        assert batch.count() == 200 * 3  # and the plan still answers


class TestHnswSearchBatch:
    def test_batch_matches_per_query_search(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "h"),
            m=8, ef_construction=64, shards=2, seed=42,
        )
        idx.add_delta(emb.limit(0))  # no-op delta dir absent
        probe_rows = emb.orderBy("vec_id").limit(4).collect()
        qs = [[float(x) for x in r["embedding"]] for r in probe_rows]
        batch = idx.search_batch(spark, qs, k=3, ef=64)
        got = {
            (r["qid"], r["vec_id"], round(r["dist"], 6))
            for r in batch.collect()
        }
        want = set()
        for j, q in enumerate(qs):
            for s in idx.search(spark, q, k=3, ef=64).collect():
                want.add((j, s["vec_id"], round(s["dist"], 6)))
        assert got == want

    def test_batch_sees_delta(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=64, shards=2,
            seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        target = [
            float(x) for x in emb.filter("vec_id = 450").first()["embedding"]
        ]
        rows = idx.search_batch(spark, [target], k=2, ef=64).collect()
        assert rows[0]["vec_id"] == 450 and rows[0]["dist"] < 1e-9

    def test_dataframe_path_matches_sequence_path(self, spark, emb, tmp_path):
        """The distributed DataFrame batch path (probes grouped per
        shard, graph read executor-side) returns exactly what the
        closure sequence path returns — including delta rows."""
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=64, shards=2,
            seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        probe_rows = emb.orderBy("vec_id").limit(4).collect()
        qs = [[float(x) for x in r["embedding"]] for r in probe_rows]
        seq = {
            (r["qid"], r["vec_id"], round(r["dist"], 6))
            for r in idx.search_batch(spark, qs, k=3, ef=64).collect()
        }
        probes_df = spark.createDataFrame(
            [(j, q) for j, q in enumerate(qs)],
            "qid int, query array<double>",
        )
        dfp = {
            (r["qid"], r["vec_id"], round(r["dist"], 6))
            for r in idx.search_batch(spark, probes_df, k=3, ef=64).collect()
        }
        assert dfp == seq

    def test_sequence_path_capped(self, spark, emb, tmp_path, monkeypatch):
        """Beyond MAX_SEQUENCE_PROBES the closure path refuses and
        directs callers to the distributed DataFrame path (the
        unbounded closure was the r6 scale defect)."""
        import pytest as _pt

        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "h"),
            m=8, ef_construction=64, shards=2, seed=42,
        )
        monkeypatch.setattr(HNSWIndex, "MAX_SEQUENCE_PROBES", 3)
        with _pt.raises(ValueError, match="DataFrame"):
            idx.search_batch(spark, [[0.1] * 64] * 4, k=2)


class TestFoldDelta:
    """Incremental reindex (fold_delta): only affected list partitions
    rewrite — the 100 TB maintenance path where a 1% delta must not
    cost a 100% rewrite."""

    def _mtimes(self, path):
        import os as _os

        out = {}
        lists = _os.path.join(path, "lists")
        for d in _os.listdir(lists):
            if d.startswith("list_id="):
                full = _os.path.join(lists, d)
                out[d] = max(
                    _os.path.getmtime(_os.path.join(full, f))
                    for f in _os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    def test_fold_emptied_list_dir_removed_and_stage_cleaned(
        self, spark, emb, tmp_path
    ):
        """r15 (rename-commit fold): a fold that tombstones EVERY
        member of a list must remove that list's directory (the
        dynamic-overwrite form rmtree'd it explicitly; the rename
        commit leaves it in the fold trash), and no stage/trash dirs
        may outlive the fold."""
        import os as _os

        from lantern_spark.operators.index import IVFIndex

        path = str(tmp_path / "i")
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", path, metric="l2sq",
            nlist=8, seed=42,
        )
        first = idx.lists(spark).select("list_id").first()["list_id"]
        members = idx.lists(spark).where(
            F.col("list_id") == first
        ).select("vec_id")
        n_members = members.count()
        assert n_members > 0
        n_before = idx.manifest.num_vectors
        idx.delete(members)
        idx.fold_delta(spark)
        assert not _os.path.isdir(
            _os.path.join(path, "lists", f"list_id={first}")
        )
        assert not [
            d for d in _os.listdir(path) if d.startswith("lists__fold_")
        ]
        assert idx.manifest.num_vectors == n_before - n_members
        left = idx.lists(spark).select("list_id").distinct().collect()
        assert first not in {r["list_id"] for r in left}

    def test_fold_equals_rebuild_results(self, spark, emb, tmp_path):
        """Search results after fold_delta match what a search of the
        same logical content returns: delta rows found without the
        delta dir, tombstoned rows gone, updates deduped."""
        from lantern_spark.operators.index import IVFIndex

        base = emb.filter("vec_id < 400")
        idx = IVFIndex.build(
            base, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=8, seed=42,
        )
        idx.add_delta(emb.filter("vec_id >= 400 and vec_id < 450"))
        idx.delete(spark.createDataFrame([(3,), (7,)], "vec_id long"))
        n_before = idx.manifest.num_vectors
        idx.fold_delta(spark)
        # artifacts consumed
        import os as _os

        assert not _os.path.exists(str(tmp_path / "i" / "delta"))
        assert not _os.path.exists(str(tmp_path / "i" / "tombstones"))
        assert idx.manifest.num_vectors == n_before + 50 - 2
        # a folded delta row is found by a full-probe search at dist 0
        probe = emb.filter("vec_id = 425").first()
        got = idx.search(
            spark, [float(x) for x in probe["embedding"]], k=3, nprobe=8
        ).collect()
        assert got[0]["vec_id"] == 425 and got[0]["dist"] < 1e-12
        # tombstoned ids are physically gone from the lists
        ids = {
            r["vec_id"]
            for r in idx.lists(spark).select("vec_id").collect()
        }
        assert 3 not in ids and 7 not in ids and 425 in ids
        assert len(ids) == idx.manifest.num_vectors

    def test_only_affected_partitions_rewrite(self, spark, emb, tmp_path):
        import time as _time

        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=8, seed=42,
        )
        before = self._mtimes(str(tmp_path / "i"))
        # one delta row lands in exactly one list
        one = emb.filter("vec_id = 42").select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        idx.add_delta(one)
        _time.sleep(1.1)  # mtime resolution
        idx.fold_delta(spark)
        after = self._mtimes(str(tmp_path / "i"))
        changed = {d for d in after if after[d] != before.get(d)}
        assert len(changed) == 1, f"rewrote {changed}"
        # and the one receiving list is where the centroids place it
        lid = idx._probe_lists(
            spark, [float(x) for x in emb.filter("vec_id = 42").first()["embedding"]], 1
        )[0]
        assert changed == {f"list_id={lid}"}

    def test_update_moves_row_across_cells(self, spark, emb, tmp_path):
        """A delta row reusing an existing id REPLACES the old copy
        even when the new vector lands in a different cell (the
        rebuild dedup contract, incrementally)."""
        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=8, seed=42,
        )
        far = emb.filter("vec_id = 7").select(
            "vec_id",
            F.transform("embedding", lambda x: x + 10.0).alias("embedding"),
        )
        idx.add_delta(far)
        n_before = idx.manifest.num_vectors
        idx.fold_delta(spark)
        assert idx.manifest.num_vectors == n_before  # update, not insert
        rows = idx.lists(spark).filter("vec_id = 7").collect()
        assert len(rows) == 1
        assert rows[0]["embedding"][0] > 5.0  # the NEW vector survived

    def test_fold_pq_index_encodes_delta_codes(self, spark, emb, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import PQSpec

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
            pq=PQSpec(dim=64, splits=8, clusters=16, seed=42),
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        idx.fold_delta(spark)
        row = idx.lists(spark).filter("vec_id = 450").first()
        assert row["__pq_codes"] is not None and len(row["__pq_codes"]) == 8
        # ADC search still works over the folded index
        probe = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        got = idx.search_adc(spark, probe, k=3, nprobe=8, oversample=8)
        assert got.first()["vec_id"] == 450

    def test_fold_noop_and_stale_hybrid(self, spark, emb, tmp_path):
        import pytest as _pt

        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import IVFGraphIndex

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=4, seed=42,
        )
        assert idx.fold_delta(spark) is idx  # nothing to fold — no-op
        hyb = IVFGraphIndex.attach(idx, spark, m=8, ef_construction=40)
        hyb.search(spark, [0.1] * 64, k=2, nprobe=2)  # fresh — fine
        # net-zero fold: add one, tombstone one — row count unchanged,
        # fold_epoch must still flag the cell graphs stale
        idx.add_delta(
            emb.filter("vec_id = 3").select(
                (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
            )
        )
        idx.delete(spark.createDataFrame([(5,)], "vec_id long"))
        idx.fold_delta(spark)
        with _pt.raises(ValueError, match="stale"):
            hyb.search(spark, [0.1] * 64, k=2, nprobe=2)
        # re-attach clears it
        hyb2 = IVFGraphIndex.attach(idx, spark, m=8, ef_construction=40)
        assert hyb2.search(spark, [0.1] * 64, k=2, nprobe=2).count() == 2


class TestHnswFoldDelta:
    """HNSW incremental maintenance: fold_delta promotes the delta set
    into one new graph shard (graphs_delta/fold_epoch=N) so queries
    graph-walk it instead of brute-force scanning — mirrors
    IVFIndex.fold_delta."""

    def _build(self, spark, emb, path, **kw):
        from lantern_spark.operators.hnsw import HNSWIndex

        return HNSWIndex.build(
            emb.filter("vec_id < 450"), "embedding", "vec_id", path,
            m=8, ef_construction=40, shards=2, seed=42, **kw,
        )

    def test_fold_promotes_delta_and_preserves_results(
        self, spark, emb, tmp_path
    ):
        import os as _os

        idx = self._build(spark, emb, str(tmp_path / "h"))
        idx.add_delta(emb.filter("vec_id >= 450 and vec_id < 460"))
        probe = [float(x) for x in emb.filter("vec_id = 455").first()["embedding"]]
        before = [
            (r["vec_id"], round(r["dist"], 6))
            for r in idx.search(spark, probe, k=5, ef=64).collect()
        ]
        base_mtimes = {
            f: _os.path.getmtime(_os.path.join(tmp_path / "h" / "graphs", f))
            for f in _os.listdir(tmp_path / "h" / "graphs")
            if f.endswith(".parquet")
        }
        assert idx.fold_delta(spark) is idx
        # delta consumed, fold shard registered, base graphs untouched
        assert not _os.path.exists(str(tmp_path / "h" / "delta"))
        assert _os.path.isdir(
            str(tmp_path / "h" / "graphs_delta" / "fold_epoch=1")
        )
        assert idx.manifest["shards"] == 3
        assert idx.manifest["folded_seq"] >= 1
        for f, t in base_mtimes.items():
            assert _os.path.getmtime(
                _os.path.join(tmp_path / "h" / "graphs", f)
            ) == t, "base shards must not rewrite"
        # tiny fold shard + ef>n ⇒ its walk is exhaustive: results equal
        after = [
            (r["vec_id"], round(r["dist"], 6))
            for r in idx.search(spark, probe, k=5, ef=64).collect()
        ]
        assert after == before
        assert after[0][0] == 455 and after[0][1] == 0.0

    def test_fold_then_more_delta_then_second_fold(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = self._build(spark, emb, str(tmp_path / "h"))
        idx.add_delta(emb.filter("vec_id = 460"))
        idx.fold_delta(spark)
        idx.add_delta(emb.filter("vec_id = 470"))
        # pre-second-fold: folded row comes from its shard, new row
        # from the delta scan
        p470 = [float(x) for x in emb.filter("vec_id = 470").first()["embedding"]]
        got = idx.search(spark, p470, k=2, ef=64).collect()
        assert got[0]["vec_id"] == 470
        idx.fold_delta(spark)
        assert idx.manifest["fold_epoch"] == 2
        assert idx.manifest["shards"] == 4
        # reload from disk sees the same state
        re = HNSWIndex.load(str(tmp_path / "h"))
        got = re.search(spark, p470, k=2, ef=64).collect()
        assert got[0]["vec_id"] == 470
        v = re.validate(spark)  # strict: raises on any violation
        assert v["shards"] == 4 and not v["violations"]

    def test_watermark_hides_stale_delta_rows(self, spark, emb, tmp_path):
        """Crash between fold commit and delta cleanup: rows at/below
        folded_seq linger in the delta dir but must NOT double-count."""
        import shutil as _sh

        idx = self._build(spark, emb, str(tmp_path / "h"))
        idx.add_delta(emb.filter("vec_id = 460"))
        _sh.copytree(
            str(tmp_path / "h" / "delta"), str(tmp_path / "stash")
        )
        idx.fold_delta(spark)
        # simulate the failed cleanup
        _sh.copytree(
            str(tmp_path / "stash"), str(tmp_path / "h" / "delta")
        )
        probe = [float(x) for x in emb.filter("vec_id = 460").first()["embedding"]]
        got = idx.search(spark, probe, k=3, ef=64).collect()
        ids = [r["vec_id"] for r in got]
        assert ids[0] == 460 and len(set(ids)) == len(ids)
        # and re-folding is a no-op (nothing above the watermark)
        epoch = idx.manifest["fold_epoch"]
        idx.fold_delta(spark)
        assert idx.manifest["fold_epoch"] == epoch

    def test_quantized_fold_feeds_heap_and_rebuild(self, spark, emb, tmp_path):
        import os as _os

        idx = self._build(spark, emb, str(tmp_path / "h"), quant="i8")
        idx.add_delta(emb.filter("vec_id = 460"))
        idx.fold_delta(spark)
        # exact original joined the heap analog
        heap = spark.read.parquet(str(tmp_path / "h" / "vectors"))
        assert heap.filter("vec_id = 460").count() == 1
        # a later full rebuild folds cleanly and clears the fold dirs
        re = idx.rebuild(spark)
        assert not _os.path.exists(str(tmp_path / "h" / "graphs_delta"))
        assert "fold_epoch" not in re.manifest
        probe = [float(x) for x in emb.filter("vec_id = 460").first()["embedding"]]
        assert re.search(spark, probe, k=1, ef=64).first()["vec_id"] == 460

    def test_batch_paths_see_fold_shard(self, spark, emb, tmp_path):
        idx = self._build(spark, emb, str(tmp_path / "h"))
        idx.add_delta(emb.filter("vec_id = 460"))
        idx.fold_delta(spark)
        probe = [float(x) for x in emb.filter("vec_id = 460").first()["embedding"]]
        # sequence path
        seq = idx.search_batch(spark, [probe], k=2, ef=64).collect()
        assert [r for r in seq if r["qid"] == 0][0]["vec_id"] == 460
        # DataFrame path
        probes = spark.createDataFrame(
            [(0, probe)], "qid int, query array<double>"
        )
        dfp = idx.search_batch(spark, probes, k=2, ef=64).collect()
        top = sorted(
            [r for r in dfp if r["qid"] == 0], key=lambda r: r["dist"]
        )[0]
        assert top["vec_id"] == 460


class TestHnswFoldCompaction:
    """Review r7 item 5: repeated small folds must not grow the live
    shard set — and per-query deserialize+walk cost — without bound.
    fold_delta(max_fold_shards=) compacts the live fold shards with
    the incoming delta into ONE shard (the LSM analog), superseding
    the old fold epochs via fold_epoch_base."""

    def _build(self, spark, emb, path, **kw):
        from lantern_spark.operators.hnsw import HNSWIndex

        return HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id", path,
            m=8, ef_construction=40, shards=2, seed=42, **kw,
        )

    @pytest.mark.slow
    def test_shard_count_bounded_under_many_folds(
        self, spark, emb, tmp_path
    ):
        from lantern_spark.operators.hnsw import HNSWIndex

        idx = self._build(spark, emb, str(tmp_path / "h"))
        cap = 3
        folded_ids = []
        for i in range(9):
            vid = 400 + i
            idx.add_delta(emb.filter(f"vec_id = {vid}"))
            idx.fold_delta(spark, max_fold_shards=cap)
            folded_ids.append(vid)
            live = (
                int(idx.manifest["fold_epoch"])
                - int(idx.manifest.get("fold_epoch_base", 0))
            )
            assert live <= cap, f"fold {i}: {live} live folds > cap"
            assert idx.manifest["shards"] <= 2 + cap
        # search cost bounded: the per-query walk touches exactly the
        # live shards, never the superseded epochs
        probe = [
            float(x)
            for x in emb.filter("vec_id = 404").first()["embedding"]
        ]
        stats = idx.search(
            spark, probe, k=3, ef=64, with_stats=True, limit_result=False
        ).collect()
        assert len({r["shard_id"] for r in stats}) == idx.manifest["shards"]
        # every folded id is still retrievable (its own vector at 0)
        for vid in folded_ids:
            p = [
                float(x)
                for x in emb.filter(f"vec_id = {vid}").first()["embedding"]
            ]
            assert idx.search(spark, p, k=1, ef=64).first()["vec_id"] == vid
        v = idx.validate(spark)  # strict: no duplicate ids anywhere
        assert not v["violations"] and v["shards"] == idx.manifest["shards"]
        # fold+compact ≡ rebuild content: same (id, vector) multiset
        re = idx.rebuild(spark, str(tmp_path / "h2"))
        want = sorted(
            (r["vec_id"], tuple(round(float(x), 5) for x in r["embedding"]))
            for r in re._all_rows(spark).collect()
        )
        got = sorted(
            (r["vec_id"], tuple(round(float(x), 5) for x in r["embedding"]))
            for r in HNSWIndex.load(str(tmp_path / "h"))
            ._all_rows(spark)
            .collect()
        )
        assert got == want

    def test_compaction_crash_rerun_is_idempotent(
        self, spark, emb, tmp_path
    ):
        """Crash between the compacted-shard write and the manifest
        commit: the new epoch dir exists but is INVISIBLE (manifest
        still points at the old epochs), searches keep answering from
        the old shards + delta, and re-running fold_delta overwrites
        the orphan dir and commits — same content as an uncrashed
        run."""
        import json as _json
        import os as _os

        idx = self._build(spark, emb, str(tmp_path / "h"))
        for i in range(2):
            idx.add_delta(emb.filter(f"vec_id = {400 + i}"))
            idx.fold_delta(spark)  # live folds: 2 (default cap 8)
        idx.add_delta(emb.filter("vec_id = 402"))

        # simulate the crash: run the fold (which would compact at
        # cap=2), then REVERT the manifest to the pre-fold state —
        # equivalent to dying after the parquet write, before commit
        mf_path = str(tmp_path / "h" / "manifest.json")
        with open(mf_path) as fh:
            pre = fh.read()
        # stash the delta too (fold's cleanup removes it on success;
        # a crash before commit leaves it — restore both)
        import shutil as _sh

        _sh.copytree(str(tmp_path / "h" / "delta"), str(tmp_path / "st"))
        idx.fold_delta(spark, max_fold_shards=2)
        post = open(mf_path).read()
        with open(mf_path, "w") as fh:
            fh.write(pre)
        _sh.copytree(str(tmp_path / "st"), str(tmp_path / "h" / "delta"))

        from lantern_spark.operators.hnsw import HNSWIndex

        crashed = HNSWIndex.load(str(tmp_path / "h"))
        # orphan epoch dir exists but stays invisible pre-commit
        assert _os.path.isdir(
            str(tmp_path / "h" / "graphs_delta" / "fold_epoch=3")
        )
        assert crashed.manifest["fold_epoch"] == 2
        p = [
            float(x)
            for x in emb.filter("vec_id = 402").first()["embedding"]
        ]
        got = crashed.search(spark, p, k=2, ef=64).collect()
        ids = [r["vec_id"] for r in got]
        assert ids[0] == 402 and len(set(ids)) == len(ids)
        # re-run commits to the SAME state as the uncrashed run
        crashed.fold_delta(spark, max_fold_shards=2)
        assert open(mf_path).read() == post
        assert _json.loads(post)["fold_epoch_base"] == 2
        got2 = crashed.search(spark, p, k=2, ef=64).collect()
        assert got2[0]["vec_id"] == 402
        assert not crashed.validate(spark)["violations"]

    def test_quantized_compaction_keeps_early_fold_rows(
        self, spark, emb, tmp_path
    ):
        """The heap-epoch invariant across REPEATED compactions: a
        compacted shard carries rows whose heap epochs predate
        fold_epoch_base — the merge input is heap epochs (0, cur],
        not (base, cur] (which silently dropped fold-1 rows from the
        second compaction)."""
        idx = self._build(spark, emb, str(tmp_path / "h"), quant="i8")
        for i in range(4):
            vid = 400 + i
            idx.add_delta(emb.filter(f"vec_id = {vid}"))
            idx.fold_delta(spark, max_fold_shards=1)
        assert int(idx.manifest.get("fold_epoch_base", 0)) >= 1
        assert idx.manifest["shards"] == 3  # 2 base + 1 compacted
        for i in range(4):
            vid = 400 + i
            p = [
                float(x)
                for x in emb.filter(f"vec_id = {vid}").first()["embedding"]
            ]
            got = idx.search(spark, p, k=1, ef=64).first()
            assert got["vec_id"] == vid, f"fold-{i} row lost by compaction"
        v = idx.validate(spark)
        assert not v["violations"]


class TestFoldDeltaReviewFixes:
    """Regression pins for the r7 review findings on IVF fold_delta."""

    def test_tombstoned_delta_row_stays_dead(self, spark, emb, tmp_path):
        """add_delta(X) then delete(X) then fold: X must NOT fold back
        in (review #1 — the old fold resurrected it), and num_vectors
        must not count it."""
        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        idx.delete(spark.createDataFrame([(450,)], "vec_id long"))
        n = idx.manifest.num_vectors
        idx.fold_delta(spark)
        assert idx.manifest.num_vectors == n
        ids = {r["vec_id"] for r in idx.lists(spark).select("vec_id").collect()}
        assert 450 not in ids
        probe = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        got = idx.search(spark, probe, k=1, nprobe=8).first()
        assert got["vec_id"] != 450

    def test_newest_update_wins_deterministically(self, spark, emb, tmp_path):
        """Two add_delta updates of one id: the LATER append survives
        the fold (review #7 — dropDuplicates picked arbitrarily)."""
        from lantern_spark.operators.index import IVFIndex
        from pyspark.sql import functions as F

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
        )
        one = emb.filter("vec_id = 7").select(
            "vec_id", F.transform("embedding", lambda x: x + 1.0).alias("embedding")
        )
        two = emb.filter("vec_id = 7").select(
            "vec_id", F.transform("embedding", lambda x: x + 2.0).alias("embedding")
        )
        idx.add_delta(one)
        idx.add_delta(two)
        idx.fold_delta(spark)
        rows = idx.lists(spark).filter("vec_id = 7").collect()
        assert len(rows) == 1
        orig0 = emb.filter("vec_id = 7").first()["embedding"][0]
        assert abs(rows[0]["embedding"][0] - (orig0 + 2.0)) < 1e-5

    def test_watermark_hides_lingering_delta(self, spark, emb, tmp_path):
        """Crash between the fold's manifest commit and the delta
        cleanup (review #4): lingering rows stay invisible and a
        re-fold is a no-op."""
        import shutil as _sh

        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        _sh.copytree(str(tmp_path / "i" / "delta"), str(tmp_path / "stash"))
        idx.fold_delta(spark)
        _sh.copytree(str(tmp_path / "stash"), str(tmp_path / "i" / "delta"))
        probe = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        got = idx.search(spark, probe, k=3, nprobe=8).collect()
        ids = [r["vec_id"] for r in got]
        assert ids[0] == 450 and len(set(ids)) == len(ids)  # no dup
        epoch = idx.manifest.params["fold_epoch"]
        idx.fold_delta(spark)  # nothing above the watermark
        assert idx.manifest.params["fold_epoch"] == epoch

    def test_rebuild_prefers_newest_delta(self, spark, emb, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from pyspark.sql import functions as F

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
        )
        for off in (1.0, 2.0):
            idx.add_delta(
                emb.filter("vec_id = 7").select(
                    "vec_id",
                    F.transform("embedding", lambda x: x + off).alias("embedding"),
                )
            )
        re = idx.rebuild(spark)
        rows = re.lists(spark).filter("vec_id = 7").collect()
        orig0 = emb.filter("vec_id = 7").first()["embedding"][0]
        assert len(rows) == 1
        assert abs(rows[0]["embedding"][0] - (orig0 + 2.0)) < 1e-5


class TestHnswFoldVisibility:
    def test_uncommitted_fold_shard_invisible(self, spark, emb, tmp_path):
        """A fold shard written without a manifest commit (crash before
        cut-over, review #3) must not double-count with the delta."""
        import json as _json
        import os as _os

        from lantern_spark.operators.hnsw import HNSWIndex

        idx = HNSWIndex.build(
            emb.filter("vec_id < 450"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=40, shards=2, seed=42,
        )
        idx.add_delta(emb.filter("vec_id = 460"))
        idx.fold_delta(spark)
        # roll the manifest back to the pre-fold state (epoch dir stays)
        mf = dict(idx.manifest)
        mf.pop("fold_epoch"), mf.pop("folded_seq")
        mf["shards"] = 2
        with open(_os.path.join(str(tmp_path / "h"), "manifest.json"), "w") as fh:
            _json.dump(mf, fh)
        crashed = HNSWIndex.load(str(tmp_path / "h"))
        # delta dir was cleaned by the committed fold — restore the
        # pre-commit state where delta rows are still live
        idx2 = crashed
        probe = [float(x) for x in emb.filter("vec_id = 460").first()["embedding"]]
        got = idx2.search(spark, probe, k=3, ef=64).collect()
        ids = [r["vec_id"] for r in got]
        # the uncommitted epoch dir is invisible: 460 must appear at
        # most once (here: zero times, since the delta was cleaned)
        assert ids.count(460) <= 1
        assert len(set(ids)) == len(ids)


class TestAdcDeltaVisibility:
    def test_adc_sees_fresh_inserts_and_tombstones(self, spark, emb, tmp_path):
        """The ADC tier must honor the same insert-visibility contract
        as search(): a delta row is found (exact-scanned) before any
        fold, and a tombstoned candidate never returns."""
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import PQSpec

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=8, seed=42,
            pq=PQSpec(dim=64, splits=8, clusters=16, seed=42),
        )
        idx.add_delta(emb.filter("vec_id = 450"))
        probe = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        got = idx.search_adc(spark, probe, k=3, nprobe=8, oversample=8)
        assert got.first()["vec_id"] == 450  # pre-fold insert visible
        idx.delete(spark.createDataFrame([(450,)], "vec_id long"))
        got = idx.search_adc(spark, probe, k=3, nprobe=8, oversample=8)
        assert all(r["vec_id"] != 450 for r in got.collect())


class TestNewestWinsVisibility:
    """review r7b #5: an id updated via add_delta returns ONLY its new
    vector from every search path — the stale stored copy never
    shadows or duplicates it."""

    def _probe(self, emb, vid):
        return [float(x) for x in emb.filter(f"vec_id = {vid}").first()["embedding"]]

    def test_ivf_search_and_batch_and_adc(self, spark, emb, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import PQSpec
        from pyspark.sql import functions as F

        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), metric="l2sq", nlist=4, seed=42,
            pq=PQSpec(dim=64, splits=8, clusters=16, seed=42),
        )
        # update id 7 twice — the SECOND update must win everywhere
        for off in (5.0, 9.0):
            idx.add_delta(
                emb.filter("vec_id = 7").select(
                    "vec_id",
                    F.transform("embedding", lambda x: x + off).alias("embedding"),
                )
            )
        probe = self._probe(emb, 7)  # the OLD vector
        for rows in (
            idx.search(spark, probe, k=10, nprobe=4).collect(),
            idx.search_adc(spark, probe, k=10, nprobe=4, oversample=8).collect(),
        ):
            hits = [r for r in rows if r["vec_id"] == 7]
            assert len(hits) <= 1
            if hits:  # if present it must be the +9 vector, far away
                assert hits[0]["dist"] > 1000
        probes_df = spark.createDataFrame(
            [(0, probe)], "qid int, query array<double>"
        )
        rows = idx.search_batch(spark, probes_df, k=10, nprobe=4).collect()
        hits = [r for r in rows if r["vec_id"] == 7]
        assert len(hits) <= 1
        if hits:
            assert hits[0]["dist"] > 1000
        # probing NEAR the new vector finds exactly one copy at ~0
        new_probe = [x + 9.0 for x in probe]
        top = idx.search(spark, new_probe, k=3, nprobe=4).collect()
        assert top[0]["vec_id"] == 7 and top[0]["dist"] < 1e-6
        assert sum(1 for r in top if r["vec_id"] == 7) == 1

    def test_hnsw_search_paths(self, spark, emb, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex
        from pyspark.sql import functions as F

        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=40, shards=2, seed=42,
        )
        idx.add_delta(
            emb.filter("vec_id = 7").select(
                "vec_id",
                F.transform("embedding", lambda x: x + 9.0).alias("embedding"),
            )
        )
        probe = self._probe(emb, 7)
        got = idx.search(spark, probe, k=10, ef=64).collect()
        hits = [r for r in got if r["vec_id"] == 7]
        assert len(hits) <= 1
        if hits:
            assert hits[0]["dist"] > 1000
        new_probe = [x + 9.0 for x in probe]
        seq = idx.search_batch(spark, [new_probe], k=3, ef=64).collect()
        mine = [r for r in seq if r["vec_id"] == 7]
        assert len(mine) == 1 and mine[0]["dist"] < 1e-6
        probes_df = spark.createDataFrame(
            [(0, new_probe)], "qid int, query array<double>"
        )
        dfp = idx.search_batch(spark, probes_df, k=3, ef=64).collect()
        mine = [r for r in dfp if r["vec_id"] == 7]
        assert len(mine) == 1 and mine[0]["dist"] < 1e-6


class TestHnswUpdateContract:
    def test_update_visible_pre_fold_flagged_post_fold(
        self, spark, emb, tmp_path
    ):
        """The documented HNSW update contract (review r7c #2): an
        update of a graph-resident id is newest-wins while it sits in
        the delta; folding it promotes the new copy WITHOUT excising
        the sealed base-shard copy, so validate() flags the duplicate
        and rebuild() repairs it."""
        import pytest as _pt

        from lantern_spark.operators.hnsw import HNSWIndex
        from pyspark.sql import functions as F

        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=40, shards=2, seed=42,
        )
        # an IN-DISTRIBUTION update (+0.05/elem): far enough to
        # distinguish the copies, close enough that the rebuilt graph
        # links it normally (a many-sigma synthetic outlier would be
        # in-edge-pruned into a search sink — inherent HNSW behavior,
        # documented in the module caveat, not a lifecycle property)
        idx.add_delta(
            emb.filter("vec_id = 7").select(
                "vec_id",
                F.transform("embedding", lambda x: x + 0.05).alias("embedding"),
            )
        )
        probe = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
        new_probe = [x + 0.05 for x in probe]
        pre = [r for r in idx.search(spark, probe, k=10, ef=64).collect()
               if r["vec_id"] == 7]
        assert len(pre) <= 1  # newest-wins pre-fold
        idx.fold_delta(spark)
        with _pt.raises(ValueError, match="multiple shards"):
            idx.validate(spark)  # duplicate id detected, not silent
        re = idx.rebuild(spark)
        v = re.validate(spark)
        assert not v["violations"]
        # content check: exactly one copy survived, and it is the NEW
        # vector (fold shards outrank base shards at rebuild)
        kept = re._all_rows(spark).filter("vec_id = 7").collect()
        assert len(kept) == 1
        assert abs(kept[0]["embedding"][0] - new_probe[0]) < 1e-5
        rows = [r for r in re.search(spark, new_probe, k=3, ef=128).collect()
                if r["vec_id"] == 7]
        assert len(rows) == 1 and rows[0]["dist"] < 1e-6  # update won


class TestFoldJobCounts:
    """Pin the Spark job count of both folds. Measured on this fixture
    before the lifecycle moved into operators/artifact.py: IVF fold 14
    jobs, HNSW fold 7, HNSW compacting fold 8. The journaled commit is
    driver-side file moves, so it must add no job."""

    def test_ivf_fold_jobs(self, spark, spark_jobs, emb, tmp_path):
        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "i"), nlist=8, seed=42,
        )
        idx.add_delta(emb.filter("vec_id >= 400 AND vec_id < 450"))
        idx.add_delta(
            emb.filter("vec_id >= 10 AND vec_id < 20").withColumn(
                "embedding",
                F.transform("embedding", lambda x: (x + 1.0).cast("float")),
            )
        )
        idx.delete(emb.filter("vec_id >= 30 AND vec_id < 40").select("vec_id"))
        _, n = spark_jobs(lambda: idx.fold_delta(spark))
        assert n <= 14, f"IVF fold ran {n} jobs"
        assert idx.manifest.num_vectors == 440
        assert idx.validate(spark, sample_queries=1)["problems"] == []

    def test_hnsw_fold_and_compaction_jobs(
        self, spark, spark_jobs, emb, tmp_path
    ):
        from lantern_spark.operators.hnsw import HNSWIndex

        h = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "h"), m=8, ef_construction=40, shards=2, seed=42,
        )
        h.add_delta(emb.filter("vec_id >= 400 AND vec_id < 450"))
        _, n = spark_jobs(lambda: h.fold_delta(spark))
        assert n <= 7, f"HNSW fold ran {n} jobs"
        h.add_delta(emb.filter("vec_id >= 450 AND vec_id < 460"))
        _, n = spark_jobs(lambda: h.fold_delta(spark, max_fold_shards=1))
        assert n <= 8, f"HNSW compacting fold ran {n} jobs"
        assert h.manifest["fold_epoch_base"] == 1
        assert not h.validate(spark)["violations"]


class TestDeltaStoredTypes:
    """add_delta casts each batch to the stored column types. Without
    the cast an array<double> batch beside an array<float> one leaves
    delta/ with two footer types, and reads of delta/ (raw, search,
    fold) fail on whichever footer Spark did not take the schema from."""

    @pytest.fixture(scope="class")
    def built(self, spark, emb, tmp_path_factory):
        from lantern_spark.operators.hnsw import HNSWIndex

        root = tmp_path_factory.mktemp("delta_types")
        base = emb.filter("vec_id < 200").select("vec_id", "embedding")
        return {
            "ivf": IVFIndex.build(
                base, "embedding", "vec_id", str(root / "ivf"), nlist=4,
                seed=42,
            ),
            "hnsw": HNSWIndex.build(
                base, "embedding", "vec_id", str(root / "hnsw"), m=8,
                ef_construction=40, shards=1, seed=42,
            ),
        }

    @pytest.mark.parametrize("family", ["ivf", "hnsw"])
    @pytest.mark.parametrize("double_first", [False, True])
    def test_mixed_batches_store_one_type(
        self, spark, spark_jobs, emb, built, tmp_path, family, double_first
    ):
        import glob
        import shutil

        import pyarrow.parquet as pq

        src = built[family]
        shutil.copytree(src.path, str(tmp_path / "a"))
        idx = type(src).load(str(tmp_path / "a"))
        floats = emb.filter("vec_id >= 200 AND vec_id < 210").select(
            "vec_id", "embedding"
        )
        doubles = emb.filter("vec_id >= 210 AND vec_id < 220").select(
            "vec_id",
            F.transform("embedding", lambda x: x + 1.0).alias("embedding"),
        )
        assert doubles.schema["embedding"].dataType.simpleString() == (
            "array<double>"
        )
        for batch in [doubles, floats] if double_first else [floats, doubles]:
            # the cast reads the stored types without a Spark job
            assert spark_jobs(lambda: idx.add_delta(batch))[1] == 1
        files = glob.glob(
            os.path.join(idx.path, "delta", "**", "*.parquet"), recursive=True
        )
        assert len(files) == 2
        assert {
            str(pq.read_schema(f).field("embedding").type.value_type)
            for f in files
        } == {"float"}
        probe = [
            float(x) + 1.0
            for x in emb.filter("vec_id = 215").first()["embedding"]
        ]
        kw = {"nprobe": 4} if family == "ivf" else {"ef": 64}
        top = idx.search(spark, probe, k=1, **kw).first()
        assert top["vec_id"] == 215 and top["dist"] < 1e-6
        idx.fold_delta(spark)
        top = idx.search(spark, probe, k=1, **kw).first()
        assert top["vec_id"] == 215 and top["dist"] < 1e-6
