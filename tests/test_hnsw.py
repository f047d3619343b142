"""HNSW family API tests that don't fit the scale/index suites:
r9 filtered search (the reference's WHERE post-filter contract,
hnsw_select.sql:51 — graph core tests live in test_scale.py /
test_index.py / test_router.py)."""

class TestHnswFilteredSearch:
    """r9: the reference's WHERE post-filter contract on the HNSW
    family API (hnsw_select.sql:51) — previously IVF-only; the SQL
    router served it via candidate re-execution."""

    def _fixture(self, spark, tmp_path):
        import numpy as np

        from lantern_spark.operators.hnsw import HNSWIndex

        rng = np.random.default_rng(9)
        rows = [
            (i, [float(v) for v in rng.normal(0, 1, 8)], i % 2)
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, parity int"
        )
        idx = HNSWIndex.build(
            df, "embedding", "vec_id", str(tmp_path / "h"),
            metric="l2sq", seed=42,
        )
        return df, idx, [0.0] * 8

    def test_filtered_matches_exact_postfilter(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df, idx, q = self._fixture(spark, tmp_path)
        got = idx.search(
            spark, q, k=5, ef=600, where=F.col("parity") == 1,
            source_df=df, oversample=60,  # generous: candidate set ≈ corpus
        ).collect()
        assert all(r["vec_id"] % 2 == 1 for r in got)
        from lantern_spark.functions.distances import l2sq_dist
        from lantern_spark.functions.vectors import vec_lit

        want = (
            df.filter(F.col("parity") == 1)
            .select(
                "vec_id",
                F.round(
                    l2sq_dist("embedding", vec_lit(q)), 9
                ).alias("d"),
            )
            .orderBy("d", "vec_id")
            .limit(5)
            .collect()
        )
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]

    def test_scarce_filter_may_underfill(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df, idx, q = self._fixture(spark, tmp_path)
        got = idx.search(
            spark, q, k=5, ef=64, where=F.col("vec_id") == 7,
            source_df=df, oversample=2,
        ).collect()
        assert len(got) <= 5  # underfill is the documented contract
        assert all(r["vec_id"] == 7 for r in got)

    def test_where_without_source_raises(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        _df, idx, q = self._fixture(spark, tmp_path)
        with _pytest.raises(ValueError, match="source_df"):
            idx.search(spark, q, k=5, where=F.col("parity") == 1)


class TestHnswRelationCache:
    """r14: fingerprint-validated lazy-relation cache on HNSWIndex —
    same contract as IVFIndex's (tests/test_index.py
    TestRelationCache): (a) the unexecuted graphs handle is reused
    while the artifact is unchanged, (b) a mutation through a
    DIFFERENT instance on the same path (add_delta appends) is seen by
    a reader whose handles are already cached — only the `os.scandir`
    fingerprint covers that case."""

    def _build(self, spark, tmp_path, name):
        from lantern_spark.operators.hnsw import HNSWIndex

        rows = [
            (i, [float(i % 13), float(i % 7), float(i)]) for i in range(80)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        idx = HNSWIndex.build(
            df, "embedding", "vec_id", str(tmp_path / name),
            metric="l2sq", seed=3,
        )
        return idx

    def test_handle_reused_while_unchanged(self, spark, tmp_path):
        idx = self._build(spark, tmp_path, "rc")
        assert idx._cached_read(spark, "graphs") is idx._cached_read(
            spark, "graphs"
        )

    def test_cross_instance_delta_appends_visible(self, spark, tmp_path):
        from lantern_spark.operators.hnsw import HNSWIndex

        writer = self._build(spark, tmp_path, "rcx")
        reader = HNSWIndex.load(writer.path)
        q = [500.0, 500.0, 500.0]
        before = reader.search(spark, q, k=3, ef=64).collect()
        assert all(r["vec_id"] != 999201 for r in before)
        # insert through the OTHER handle: the reader (graphs handle
        # now cached, no delta dir yet) must see the new row
        writer.add_delta(
            spark.createDataFrame(
                [(999201, q)], "vec_id long, embedding array<double>"
            )
        )
        top = reader.search(spark, q, k=3, ef=64).collect()
        assert top[0]["vec_id"] == 999201
        # second append mutates the EXISTING delta dir: the reader's
        # cached delta handle must be invalidated by the fingerprint
        writer.add_delta(
            spark.createDataFrame(
                [(999202, [499.0, 500.0, 500.0])],
                "vec_id long, embedding array<double>",
            )
        )
        top2 = reader.search(spark, q, k=3, ef=64).collect()
        assert {top2[0]["vec_id"], top2[1]["vec_id"]} == {999201, 999202}

    def test_unscannable_path_never_caches(self, spark, tmp_path, monkeypatch):
        """r15 (r14 VERDICT #1): `_dir_fingerprint` → None (URI /
        permission error) must bypass and evict the cache, never hit it
        — mirrored from TestRelationCache on IVFIndex."""
        import lantern_spark.operators.artifact as mod

        idx = self._build(spark, tmp_path, "rcn")
        first = idx._cached_read(spark, "graphs")
        assert "graphs" in idx._rel_cache
        monkeypatch.setattr(mod, "_dir_fingerprint", lambda p: None)
        a = idx._cached_read(spark, "graphs")
        b = idx._cached_read(spark, "graphs")
        assert a is not first and a is not b
        assert "graphs" not in idx._rel_cache
