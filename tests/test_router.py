"""Cost-based access-path routing (plans/router.py) — the
amcostestimate analog (lantern_hnsw/src/hnsw.c:97-209)."""

import json
import math
import os

import pytest

from lantern_spark.plans.router import (
    CatalogEntry,
    IndexCatalog,
    ann_search,
    estimate_exact_tuples,
    estimate_hnsw_tuples,
    estimate_ivf_tuples,
    route,
)
from tests.conftest import SF_DIR


# ----------------------------------------------------------------------
# estimator formulas
# ----------------------------------------------------------------------

class TestEstimators:
    def test_exact_is_n(self):
        assert estimate_exact_tuples(12345) == 12345.0

    def test_ivf_balanced_lists(self):
        # nlist probe cost + probed share of corpus
        assert estimate_ivf_tuples(10000, 100, 4) == 100 + 400
        # nprobe clamps to [1, nlist]
        assert estimate_ivf_tuples(10000, 100, 0) == 100 + 100
        assert estimate_ivf_tuples(10000, 100, 999) == 100 + 10000

    def test_hnsw_reference_formula(self):
        # hand-evaluate hnsw.c:97-133 for n=100k, M=16, ef=64
        n, m, ef = 100_000, 16, 64
        mL = 1.0 / math.log(m)
        s = 1.0 / (1.0 - math.exp(-mL))
        levels = math.ceil(math.log(1.0 + n) * mL)
        expect = s * m * (levels - 1) + ef * s * m * 2
        expect = min(expect, n / 3.0)
        assert estimate_hnsw_tuples(n, m, ef) == pytest.approx(expect)

    def test_hnsw_small_corpus_cap(self):
        # the n/3 floor (hnsw.c:131-132): tiny corpora cap the bound
        assert estimate_hnsw_tuples(30, 16, 64) == pytest.approx(10.0)

    def test_hnsw_sublinear_at_scale(self):
        # the walk bound grows ~log n: 100× data, way under 100× cost
        small = estimate_hnsw_tuples(10_000, 16, 64)
        big = estimate_hnsw_tuples(1_000_000, 16, 64)
        assert big < small * 3

    def test_hnsw_shards_multiply(self):
        one = estimate_hnsw_tuples(80_000, 16, 64, shards=1)
        eight = estimate_hnsw_tuples(80_000, 16, 64, shards=8)
        assert eight > one  # per-shard walks add up

    def test_hnsw_monotone_in_ef(self):
        assert estimate_hnsw_tuples(1e6, 16, 128) > estimate_hnsw_tuples(
            1e6, 16, 32
        )


# ----------------------------------------------------------------------
# catalog persistence
# ----------------------------------------------------------------------

class TestCatalog:
    def test_round_trip(self, tmp_path):
        cat = IndexCatalog(str(tmp_path))
        e = CatalogEntry(
            table="embeddings",
            column="embedding",
            metric="l2sq",
            kind="ivf",
            index_path="/x/ivf",
            num_vectors=5000,
            recall_estimate=0.97,
            params={"nlist": 71, "nprobe": 8},
        )
        cat.register(e)
        cat2 = IndexCatalog(str(tmp_path))
        got = cat2.lookup("embeddings", "embedding", "l2sq")
        assert got == [e]

    def test_register_replaces_same_key(self, tmp_path):
        cat = IndexCatalog(str(tmp_path))
        for nprobe in (4, 8):
            cat.register(
                CatalogEntry(
                    "t", "v", "l2sq", "ivf", "/x", 100,
                    params={"nlist": 10, "nprobe": nprobe},
                )
            )
        got = cat.lookup("t", "v", "l2sq")
        assert len(got) == 1 and got[0].params["nprobe"] == 8

    def test_lookup_filters_metric(self, tmp_path):
        cat = IndexCatalog(str(tmp_path))
        cat.register(CatalogEntry("t", "v", "cos", "ivf", "/x", 100))
        assert cat.lookup("t", "v", "l2sq") == []


# ----------------------------------------------------------------------
# routing decisions
# ----------------------------------------------------------------------

def _cat(tmp_path, *entries):
    cat = IndexCatalog(str(tmp_path))
    for e in entries:
        cat.register(e, save=False)
    return cat


class TestRoute:
    def test_no_catalog_is_exact(self):
        d = route(None, "t", "v", "l2sq", 1000)
        assert d.access_path == "exact" and d.est_tuples == 1000

    def test_index_wins_when_cheaper_and_recall_ok(self, tmp_path):
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "l2sq", "ivf", "/x", 100_000,
                recall_estimate=0.96,
                params={"nlist": 316, "nprobe": 8},
            ),
        )
        d = route(cat, "t", "v", "l2sq", 100_000, recall_floor=0.9)
        assert d.access_path == "ivf"
        assert d.est_tuples < 100_000

    def test_recall_floor_forces_exact(self, tmp_path):
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "l2sq", "ivf", "/x", 100_000,
                recall_estimate=0.7,  # below the floor
                params={"nlist": 316, "nprobe": 8},
            ),
        )
        d = route(cat, "t", "v", "l2sq", 100_000, recall_floor=0.9)
        assert d.access_path == "exact"
        # the rejected candidate is visible in the decision table
        rejected = [c for c in d.candidates if c[0] == "ivf"][0]
        assert not rejected[2] and "recall" in rejected[3]

    def test_unmeasured_recall_never_routes(self, tmp_path):
        # recall_estimate defaults to 0.0 = unmeasured: honest routers
        # do not trust an index nobody has validated
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "l2sq", "ivf", "/x", 100_000,
                params={"nlist": 316, "nprobe": 8},
            ),
        )
        assert route(cat, "t", "v", "l2sq", 100_000).access_path == "exact"

    def test_cheapest_of_two_indexes(self, tmp_path):
        n = 1_000_000
        ivf = CatalogEntry(
            "t", "v", "l2sq", "ivf", "/ivf", n,
            recall_estimate=0.95,
            params={"nlist": 1000, "nprobe": 50},  # 1000 + 50k tuples
        )
        hnsw = CatalogEntry(
            "t", "v", "l2sq", "hnsw", "/hnsw", n,
            recall_estimate=0.95,
            params={"m": 16, "ef": 64, "shards": 1},  # ~log n walk
        )
        d = route(_cat(tmp_path, ivf, hnsw), "t", "v", "l2sq", n)
        assert d.access_path == "hnsw"  # single walk beats the 5% scan
        assert [c[0] for c in d.candidates] == ["exact", "ivf", "hnsw"]
        # with 8 shards the per-shard fan-out multiplies the walk bound
        # past IVF's probed share — the router flips, as it should
        hnsw8 = CatalogEntry(
            "t", "v", "l2sq", "hnsw", "/hnsw", n,
            recall_estimate=0.95,
            params={"m": 16, "ef": 64, "shards": 8},
        )
        d8 = route(_cat(tmp_path, ivf, hnsw8), "t", "v", "l2sq", n)
        assert d8.access_path == "ivf"

    def test_tiny_corpus_prefers_exact_over_ivf(self, tmp_path):
        # 40 rows, nlist 20, nprobe 10: 20 + 20 = 40 ties the scan;
        # the tie-break prefers the accurate path (exact)
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "l2sq", "ivf", "/x", 40,
                recall_estimate=1.0,
                params={"nlist": 20, "nprobe": 10},
            ),
        )
        assert route(cat, "t", "v", "l2sq", 40).access_path == "exact"

    def test_metric_mismatch_excluded(self, tmp_path):
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "cos", "ivf", "/x", 100_000,
                recall_estimate=0.99,
                params={"nlist": 316, "nprobe": 4},
            ),
        )
        assert route(cat, "t", "v", "l2sq", 100_000).access_path == "exact"


# ----------------------------------------------------------------------
# end-to-end dispatch
# ----------------------------------------------------------------------

class TestDeltaAwareRoute:
    """Review r7 item 4: the router must price the unfolded delta —
    every index path brute-force scans it per query — and hint 'fold
    first' when that term dominates."""

    def test_large_unfolded_delta_flips_decision_and_fold_flips_back(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.plans.router import (
            estimate_ivf_tuples,
            unfolded_delta_rows,
        )

        emb = spark.read.parquet(
            os.path.join(SF_DIR, "embeddings.parquet")
        )
        n = emb.count()
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42,
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf(idx, "embeddings", nprobe=1, recall_estimate=0.99)

        base = estimate_ivf_tuples(n, 8, 1)
        d0 = route(cat, "embeddings", "embedding", "l2sq", n)
        # formula pin: no delta -> the bare reference estimate
        assert d0.access_path == "ivf" and d0.est_tuples == base
        assert d0.hints == []

        # append a delta LARGER than the corpus: the per-query
        # brute-force delta scan now swamps the index path
        delta = emb.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        idx.add_delta(delta)
        idx.add_delta(
            delta.select(
                (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
            )
        )
        dr = unfolded_delta_rows(idx.path)
        assert dr == 2 * n  # footer-stats count is exact here
        d1 = route(cat, "embeddings", "embedding", "l2sq", n)
        # formula pin: est = base + delta rows, and exact now wins
        ivf_cand = [c for c in d1.candidates if c[0] == "ivf"][0]
        assert ivf_cand[1] == base + dr
        assert d1.access_path == "exact"
        assert any("fold first" in h for h in d1.hints)

        # folding clears the watermarked delta -> decision flips back
        idx.fold_delta(spark)
        assert unfolded_delta_rows(idx.path) == 0
        d2 = route(cat, "embeddings", "embedding", "l2sq", n)
        assert d2.access_path == "ivf" and d2.est_tuples == base
        assert d2.hints == []

    def test_missing_artifact_counts_zero(self):
        from lantern_spark.plans.router import unfolded_delta_rows

        assert unfolded_delta_rows("/nonexistent/index/path") == 0


class TestAnnSearchDispatch:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

    @pytest.fixture(scope="class")
    def query(self, emb):
        row = emb.orderBy("vec_id").first()
        return [float(x) for x in row["embedding"]]

    def test_exact_route_matches_knn_search(self, spark, emb, query):
        from lantern_spark.operators.knn import knn_search

        out, d = ann_search(
            spark, emb, "embeddings", "embedding", query, k=5,
            id_column="vec_id", explain=True,
        )
        assert d.access_path == "exact"
        got = [r["vec_id"] for r in out.collect()]
        want = [
            r["vec_id"]
            for r in knn_search(
                emb, "embedding", query, k=5, tie_break="vec_id"
            ).collect()
        ]
        assert got == want

    def test_ivf_route_executes_registered_index(
        self, spark, emb, query, tmp_path
    ):
        from lantern_spark.operators.autotune import tune_nprobe
        from lantern_spark.operators.index import IVFIndex

        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42,
        )
        nprobe, rec = tune_nprobe(
            idx, spark, [query], k=5, target_recall=0.95
        )
        cat = IndexCatalog(str(tmp_path))
        cat.register_ivf(idx, "embeddings", nprobe=nprobe, recall_estimate=rec)
        out, d = ann_search(
            spark, emb, "embeddings", "embedding", query, k=5,
            id_column="vec_id", catalog=cat, explain=True,
        )
        assert d.access_path == "ivf"
        assert d.entry.params["nprobe"] == nprobe
        ids = {r["vec_id"] for r in out.collect()}
        direct = {
            r["vec_id"]
            for r in idx.search(spark, query, k=5, nprobe=nprobe).collect()
        }
        assert ids == direct

    def test_hnsw_route_executes_registered_index(
        self, spark, emb, query, tmp_path
    ):
        from lantern_spark.operators.hnsw import HNSWIndex

        n = emb.count()
        # ONE graph: the reference's n/3 always-prefer floor makes the
        # walk bound beat the exact scan at honest, live row counts
        # (ann_search prices exact from the manifest count plus the
        # unfolded delta rows, not from build-time catalog state)
        idx = HNSWIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "hnsw"),
            m=8, ef_construction=48, shards=1, seed=42,
        )
        cat = IndexCatalog(str(tmp_path))
        cat.register_hnsw(
            idx, "embeddings", ef=48, num_vectors=n, recall_estimate=0.99
        )
        out, d = ann_search(
            spark, emb, "embeddings", "embedding", query, k=5,
            id_column="vec_id", catalog=cat, explain=True,
        )
        assert d.access_path == "hnsw"
        rows = out.collect()
        assert len(rows) == 5
        # the probe vector itself must surface at distance ~0
        assert rows[0]["dist"] == pytest.approx(0.0, abs=1e-9)


class TestShardCapHonesty:
    def test_oversharded_small_corpus_does_not_beat_exact(self, tmp_path):
        """The r5 bench case: 60k rows on 8 ef-96 shards does flat-scan
        level distance work; the estimate must say so (per-shard cap is
        the physical n_shard bound, NOT n_shard/3 multiplied back)."""
        est = estimate_hnsw_tuples(60_000, 16, 96, shards=8)
        assert est >= 60_000  # prices out at >= the corpus
        cat = _cat(
            tmp_path,
            CatalogEntry(
                "t", "v", "l2sq", "hnsw", "/h", 60_000,
                recall_estimate=1.0,
                params={"m": 16, "ef": 96, "shards": 8},
            ),
        )
        d = route(cat, "t", "v", "l2sq", 60_000)
        assert d.access_path == "exact"

    def test_single_graph_keeps_reference_floor(self):
        # one graph: the reference's n/3 always-prefer cap, verbatim
        assert estimate_hnsw_tuples(30, 16, 64, shards=1) == pytest.approx(
            10.0
        )


class TestWherePassthrough:
    def test_exact_route_filters(self, spark, tmp_path):
        from pyspark.sql import functions as F

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        out = ann_search(
            spark, emb, "embeddings", "embedding", q, k=5,
            id_column="vec_id", where=F.col("vec_id") >= 100,
        )
        rows = out.collect()
        assert len(rows) == 5
        assert all(r["vec_id"] >= 100 for r in rows)

    def test_ivf_route_filters_with_oversample(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from lantern_spark.operators.autotune import tune_nprobe
        from lantern_spark.operators.index import IVFIndex

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42, extra_columns=["label"],
        )
        nprobe, rec = tune_nprobe(idx, spark, [q], k=5, target_recall=0.95)
        cat = IndexCatalog(str(tmp_path))
        cat.register_ivf(idx, "embeddings", nprobe=nprobe, recall_estimate=rec)
        out, d = ann_search(
            spark, emb, "embeddings", "embedding", q, k=5,
            id_column="vec_id", catalog=cat, explain=True,
            where=F.col("label") == 3, oversample=8,
        )
        assert d.access_path == "ivf"
        rows = out.collect()
        assert 0 < len(rows) <= 5
        # the WHERE really applied: every returned id has label == 3
        # (asserted against the table — the search result itself does
        # not project label)
        valid = {
            r["vec_id"]
            for r in emb.filter("label = 3").select("vec_id").collect()
        }
        assert {r["vec_id"] for r in rows} <= valid


class TestIvfGraphRouting:
    def test_estimator_formula(self):
        """nlist + nprobe × min(per-cell walk bound, cell size), the
        reference walk math over n/nlist rows — hand-evaluated pin."""
        import math

        from lantern_spark.plans.router import estimate_ivf_graph_tuples

        n, nlist, nprobe, m, ef = 1_000_000, 1000, 8, 16, 96
        cell = n / nlist
        mL = 1.0 / math.log(m)
        s = 1.0 / (1.0 - math.exp(-mL))
        levels = math.ceil(math.log(1.0 + cell) * mL)
        walk = s * m * (levels - 1) + ef * s * m * 2.0
        want = nlist + min(walk, cell) * nprobe
        got = estimate_ivf_graph_tuples(n, nlist, nprobe, m, ef)
        assert got == pytest.approx(want)
        # tiny cells: walk caps at the physical cell size
        got_small = estimate_ivf_graph_tuples(800, 400, 4, 16, 96)
        assert got_small == pytest.approx(400 + 2.0 * 4)

    def test_route_and_dispatch(self, spark, sf_dir, tmp_path):
        """A measured hybrid entry beats the exact scan when its
        estimate is lower, and ann_search dispatches to it with results
        identical to the direct hybrid search."""
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import IVFGraphIndex
        from lantern_spark.plans.router import (
            IndexCatalog,
            ann_search,
            route,
        )
        from lantern_spark.types import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        ivf = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=8, seed=42,
        )
        hyb = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf_graph(
            hyb, "emb", nprobe=8, ef=600, recall_estimate=1.0
        )
        n = emb.count()
        dec = route(cat, "emb", "embedding", "l2sq", n, recall_floor=0.95)
        # tiny corpus + near-exhaustive ef: walks cap at cell size, so
        # the estimate ~ nlist + n — exact wins (honest pricing)
        assert dec.access_path in ("exact", "ivf_graph")
        q = [0.3 + 0.004 * i for i in range(64)]
        routed, dec2 = ann_search(
            spark, emb, "emb", "embedding", q, k=5, metric="l2sq",
            id_column="vec_id", recall_floor=0.95, catalog=cat,
            explain=True,
        )
        assert any(c[0] == "ivf_graph" for c in dec2.candidates)
        if dec2.access_path == "ivf_graph":
            direct = hyb.search(spark, q, k=5, nprobe=8, ef=600)
            assert [r["vec_id"] for r in routed.collect()] == [
                r["vec_id"] for r in direct.collect()
            ]
        else:  # exact won the tie — force-check dispatch equivalence
            big_n_dec = route(
                cat, "emb", "embedding", "l2sq", 10_000_000,
                recall_floor=0.95,
            )
            assert big_n_dec.access_path == "ivf_graph"


class TestIvfPqRouting:
    """The ADC tier in the cost model (VERDICT r6 item 6): the router
    can pick PQ-coded candidate scans, priced in full-vector-tuple
    equivalents via the code fraction."""

    def test_estimator_formula(self):
        from lantern_spark.plans.router import estimate_ivf_pq_tuples

        # hand-evaluate: n=1M, nlist=1000, nprobe=8, splits=8 codes
        # over dim=64 doubles -> code_frac = 8 / (64*8) = 1/64;
        # k=10, oversample=4 -> rerank 40 full rows
        n, nlist, nprobe = 1_000_000, 1000, 8
        want = 1000 + (n * 8 / 1000) * (8 / (64 * 8)) + 40
        got = estimate_ivf_pq_tuples(
            n, nlist, nprobe, splits=8, dim=64, k=10, oversample=4
        )
        assert got == pytest.approx(want)
        # rerank caps at the corpus size
        assert estimate_ivf_pq_tuples(
            30, 4, 2, splits=8, dim=64, k=10, oversample=100
        ) == pytest.approx(4 + (30 * 2 / 4) / 64 + 30)

    def test_pq_tier_beats_flat_ivf_at_scale(self, tmp_path):
        """Same nlist/nprobe: the code pass reads ~1/64 of the bytes,
        so at large n the ADC tier must out-price flat IVF and win the
        route (both recall-eligible)."""
        cat = IndexCatalog(str(tmp_path / "cat"))
        common = dict(
            table="t", column="v", metric="l2sq", index_path="p",
            num_vectors=10_000_000, recall_estimate=0.99,
        )
        cat.register(CatalogEntry(
            kind="ivf", params={"nlist": 1000, "nprobe": 8}, **common
        ), save=False)
        cat.register(CatalogEntry(
            kind="ivf_pq",
            params={"nlist": 1000, "nprobe": 8, "splits": 8, "dim": 64,
                    "oversample": 4},
            **common,
        ), save=False)
        dec = route(cat, "t", "v", "l2sq", 10_000_000, recall_floor=0.95)
        assert dec.access_path == "ivf_pq", dec.reason
        # and flat IVF was priced higher
        costs = {c[0]: c[1] for c in dec.candidates}
        assert costs["ivf_pq"] < costs["ivf"] < costs["exact"]

    def test_register_requires_codes(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=4, seed=42,
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        with pytest.raises(ValueError, match="without pq"):
            cat.register_ivf_pq(idx, "emb", nprobe=2)

    def test_dispatch_matches_search_adc(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import PQSpec, load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "i"),
            metric="l2sq", nlist=4, seed=42,
            pq=PQSpec(dim=64, splits=8, clusters=16, seed=42),
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf_pq(
            idx, "emb", nprobe=4, oversample=4, recall_estimate=1.0
        )
        q = [0.2 + 0.003 * i for i in range(64)]
        routed, dec = ann_search(
            spark, emb, "emb", "embedding", q, k=5, metric="l2sq",
            id_column="vec_id", recall_floor=0.95, catalog=cat,
            explain=True,
        )
        if dec.access_path == "ivf_pq":
            direct = idx.search_adc(spark, q, k=5, nprobe=4, oversample=4)
            assert [r["vec_id"] for r in routed.collect()] == [
                r["vec_id"] for r in direct.collect()
            ]
        else:  # tiny corpus: exact may win — the big-n decision must not
            assert route(
                cat, "emb", "embedding", "l2sq", 10_000_000,
                recall_floor=0.95,
            ).access_path == "ivf_pq"


class TestRouteBatch:
    """Per-probe batch pricing (VERDICT r6 item 6): per-job reads
    amortize across B probes; per-probe evals never do."""

    def _cat(self, tmp_path, n, nlist, nprobe, recall=0.99):
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register(CatalogEntry(
            table="t", column="v", metric="l2sq", kind="ivf",
            index_path="p", num_vectors=n, recall_estimate=recall,
            params={"nlist": nlist, "nprobe": nprobe},
        ), save=False)
        return cat

    def test_formula_pins(self, tmp_path):
        """Hand-evaluated per-probe costs at B=1 and B=16."""
        from lantern_spark.plans.router import route_batch

        n, nlist, nprobe = 100_000, 100, 4
        cat = self._cat(tmp_path, n, nlist, nprobe)
        p = nprobe / nlist
        for B in (1, 16):
            dec = route_batch(cat, "t", "v", "l2sq", n, batch_size=B)
            costs = {c[0]: c[1] for c in dec.candidates}
            assert costs["exact"] == pytest.approx(n + n / B)
            want_ivf = (
                nlist + n * p + n * (1 - (1 - p) ** B) / B
            )
            assert costs["ivf"] == pytest.approx(want_ivf)

    def test_read_term_amortizes_monotonically(self, tmp_path):
        from lantern_spark.plans.router import route_batch

        cat = self._cat(tmp_path, 100_000, 100, 4)
        costs = [
            {c[0]: c[1] for c in route_batch(
                cat, "t", "v", "l2sq", 100_000, batch_size=B
            ).candidates}
            for B in (1, 8, 64, 512)
        ]
        for a, b in zip(costs, costs[1:]):
            assert b["exact"] < a["exact"]
            assert b["ivf"] < a["ivf"]
        # asymptote: as B -> inf only evals remain: ivf -> nlist + n*p
        huge = {
            c[0]: c[1]
            for c in route_batch(
                cat, "t", "v", "l2sq", 100_000, batch_size=1_000_000
            ).candidates
        }
        assert huge["ivf"] == pytest.approx(100 + 4000, rel=0.01)
        assert huge["exact"] == pytest.approx(100_000, rel=0.01)

    def test_overpartitioned_ivf_loses_to_batched_exact(self, tmp_path):
        """The decision the batch model exists to expose: a per-probe
        centroid ranking over a huge nlist does NOT amortize, so at
        high B batched brute force beats an over-partitioned IVF —
        while at B=1 the IVF still wins."""
        from lantern_spark.plans.router import route_batch

        n, nlist, nprobe = 1000, 900, 450
        cat = self._cat(tmp_path, n, nlist, nprobe)
        d1 = route_batch(cat, "t", "v", "l2sq", n, batch_size=1)
        d64 = route_batch(cat, "t", "v", "l2sq", n, batch_size=64)
        assert d1.access_path == "ivf", d1.reason
        assert d64.access_path == "exact", d64.reason

    def test_recall_floor_still_gates(self, tmp_path):
        from lantern_spark.plans.router import route_batch

        cat = self._cat(tmp_path, 100_000, 100, 4, recall=0.5)
        dec = route_batch(
            cat, "t", "v", "l2sq", 100_000, batch_size=64,
            recall_floor=0.9,
        )
        assert dec.access_path == "exact"


class TestWarmCatalog:
    """Routed calls reuse the catalog's session state: the exact scan is
    priced from the manifest count plus the unfolded delta (no count
    job), and each index path searches a warm handle (no cold listing
    job), reloaded when the artifact's manifest changes."""

    N, DIM = 1000, 16

    @pytest.fixture(scope="class")
    def corpus(self, spark, tmp_path_factory):
        import numpy as np

        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.operators.index import IVFIndex

        root = tmp_path_factory.mktemp("warm_catalog")
        x = np.random.default_rng(3).normal(size=(self.N, self.DIM))
        rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
        spark.createDataFrame(rows, "id long, vec array<float>").write.parquet(
            str(root / "corpus")
        )
        df = spark.read.parquet(str(root / "corpus"))
        ivf = IVFIndex.build(df, "vec", "id", str(root / "ivf"), seed=3)
        hnsw = HNSWIndex.build(
            df, "vec", "id", str(root / "hnsw"), shards=1, seed=3
        )
        return root, df, ivf, hnsw, x

    def _catalog(self, root, ivf, hnsw, name):
        cat = IndexCatalog(str(root / name))
        cat.register_ivf(ivf, "corpus", nprobe=8, recall_estimate=0.90)
        cat.register_hnsw(hnsw, "corpus", ef=64, recall_estimate=0.97)
        return cat

    def test_hnsw_manifest_counts_vectors(self, corpus, tmp_path):
        root, df, ivf, hnsw, _ = corpus
        assert hnsw.manifest["num_vectors"] == self.N
        cat = self._catalog(root, ivf, hnsw, "cat_count")
        (e,) = [x for x in cat.lookup("corpus", "vec", "l2sq") if x.kind == "hnsw"]
        assert e.num_vectors == self.N
        # a legacy manifest without the count falls back to the
        # registered value
        legacy = dict(hnsw.manifest)
        del legacy["num_vectors"]
        (tmp_path / "legacy").mkdir()
        (tmp_path / "legacy" / "manifest.json").write_text(json.dumps(legacy))
        old = CatalogEntry(
            "t", "vec", "l2sq", "hnsw", str(tmp_path / "legacy"), 123,
            params={"m": 16, "ef": 64, "shards": 1},
        )
        assert cat.manifest_rows(old) == 123

    # parent: 4, 4 and 3 jobs (a count job, plus a cold index load's
    # listing job on the index paths)
    @pytest.mark.parametrize(
        "floor,path", [(0.85, "ivf"), (0.95, "hnsw"), (0.99, "exact")]
    )
    def test_routed_call_runs_one_job(
        self, spark, spark_jobs, corpus, floor, path
    ):
        root, df, ivf, hnsw, x = corpus
        cat = self._catalog(root, ivf, hnsw, f"cat_jobs_{path}")
        q = [float(v) for v in x[5]]

        def call():
            out, dec = ann_search(
                spark, df, "corpus", "vec", q, k=10, catalog=cat,
                recall_floor=floor, explain=True,
            )
            return dec, out.select("id", "dist").collect()

        call()  # warms the catalog's handle
        (dec, rows), jobs = spark_jobs(call)
        assert dec.access_path == path
        assert rows[0]["id"] == 5
        assert jobs <= 1

    def test_reason_names_the_live_count(self, corpus, tmp_path):
        root, df, ivf, hnsw, _ = corpus
        cat = self._catalog(root, ivf, hnsw, "cat_reason")
        dec = route(cat, "corpus", "vec", "l2sq", recall_floor=0.99)
        assert dec.access_path == "exact"
        assert f"exact {self.N} rows (ivf manifest {self.N} + 0 unfolded delta)" in dec.reason
        assert "rows not counted" in route(
            cat, "other", "vec", "l2sq"
        ).reason
        # an artifact that is gone counts its registered rows
        gone = _cat(tmp_path, CatalogEntry(
            "t", "vec", "l2sq", "ivf", str(tmp_path / "gone"), 500,
            params={"nlist": 4, "nprobe": 1},
        ))
        assert "exact 500 rows (ivf manifest 500 + 0" in route(
            gone, "t", "vec", "l2sq"
        ).reason

    def test_warm_handle_sees_writes_through_another_handle(
        self, spark, tmp_path
    ):
        import numpy as np

        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.operators.index import IVFIndex

        x = np.random.default_rng(4).normal(size=(400, 8))
        df = spark.createDataFrame(
            [(i, [float(v) for v in r]) for i, r in enumerate(x)],
            "id long, vec array<float>",
        )
        ivf = IVFIndex.build(df, "vec", "id", str(tmp_path / "ivf"), seed=4)
        hnsw = HNSWIndex.build(
            df, "vec", "id", str(tmp_path / "hnsw"), shards=1, seed=4
        )
        q = [float(v) + 0.01 for v in x[7]]
        new = spark.createDataFrame(
            [(10_000 + i, [float(v) + 0.001 * i for v in x[7]]) for i in range(3)],
            "id long, vec array<float>",
        )
        for idx, register, point in (
            (ivf, IndexCatalog.register_ivf, {"nprobe": 8}),
            (hnsw, IndexCatalog.register_hnsw, {"ef": 64}),
        ):
            cat = IndexCatalog(str(tmp_path / f"cat_{id(idx)}"))
            e = register(cat, idx, "corpus", recall_estimate=1.0, **point)

            def routed():
                out, dec = ann_search(
                    spark, df, "corpus", "vec", q, k=5, catalog=cat,
                    explain=True,
                )
                assert dec.access_path == e.kind
                return [(r["id"], r["dist"]) for r in out.collect()]

            def fresh():
                out = type(idx).load(idx.path).search(spark, q, k=5, **point)
                return [(r["id"], r["dist"]) for r in out.collect()]

            assert routed() == fresh()
            warm = cat.handle(e)
            writer = type(idx).load(idx.path)  # a different handle
            writer.add_delta(new)
            assert cat.handle(e) is warm  # the manifest did not change
            got = routed()
            assert got == fresh()
            assert {i for i, _ in got} >= {10_000, 10_001, 10_002}
            writer.fold_delta(spark)
            assert cat.handle(e) is not warm  # reloaded on the new manifest
            assert routed() == fresh()
            assert cat.manifest_rows(e) == 403
