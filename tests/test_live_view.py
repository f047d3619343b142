"""The one read contract of every index search (IndexArtifact._live_view)
and its per-call Spark job cost.

Every public search entry point — IVF ``search``/``search_batch``/
``search_adc``, HNSW ``search``/``search_batch`` and the IVF×graph
hybrid's ``search``/``search_batch`` — must show an inserted id at
distance ≈ 0, an updated id once at its delta distance (never its stale
stored copy) and no tombstoned id (IVF families; HNSW has no delete).
"""

import numpy as np
import pytest

N, DIM = 400, 8
INSERT_ID, UPDATE_ID, DELETE_ID = 1000, 3, 7
SHIFT = 0.05  # per-dimension update offset: a small, nonzero distance


def _x():
    return np.random.default_rng(5).normal(size=(N, DIM)).astype(np.float32)


def _f(v):
    return [float(x) for x in v]


def _build(spark, root):
    from lantern_spark.operators.hnsw import HNSWIndex
    from lantern_spark.operators.index import IVFIndex
    from lantern_spark.types import PQSpec

    x = _x()
    df = spark.createDataFrame(
        [(i, _f(x[i])) for i in range(N)], "id long, vec array<float>"
    )
    ivf = IVFIndex.build(
        df, "vec", "id", str(root / "ivf"), nlist=8, seed=1,
        pq=PQSpec(dim=DIM, splits=4, clusters=16, seed=1),
    )
    hnsw = HNSWIndex.build(
        df, "vec", "id", str(root / "hnsw"), m=8, ef_construction=40,
        shards=2, seed=1,
    )
    return ivf, hnsw


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory.mktemp("clean"))


@pytest.fixture(scope="module")
def live(spark, tmp_path_factory):
    """Indexes with a live delta: one insert and one update, plus (IVF)
    one tombstone; the hybrid wraps the IVF index, so it shares them."""
    from lantern_spark.operators.ivf_graph import IVFGraphIndex

    ivf, hnsw = _build(spark, tmp_path_factory.mktemp("live"))
    hybrid = IVFGraphIndex.attach(ivf, spark, m=8, ef_construction=40)
    x = _x()
    rows = [
        (INSERT_ID, _f(x[5] + 0.01)),
        (UPDATE_ID, _f(x[UPDATE_ID] + SHIFT)),
    ]
    schema = "id long, vec array<float>"
    ivf.add_delta(spark.createDataFrame(rows, schema))
    ivf.delete(spark.createDataFrame([(DELETE_ID,)], "id long"))
    hnsw.add_delta(spark.createDataFrame(rows, schema))
    return {"ivf": ivf, "hnsw": hnsw, "hybrid": hybrid}


def _single(family, call):
    def run(spark, ix, q):
        idx = ix[family]
        if call == "search_adc":
            out = idx.search_adc(spark, q, k=5, nprobe=8, oversample=40)
        elif family == "ivf":
            out = idx.search(spark, q, k=5, nprobe=8)
        elif family == "hnsw":
            out = idx.search(spark, q, k=5, ef=64)
        else:
            out = idx.search(spark, q, k=5, nprobe=8, ef=64)
        return [(r["id"], r["dist"]) for r in out.collect()]

    return run


def _batch(family):
    def run(spark, ix, q):
        probes = spark.createDataFrame([(0, q)], "qid int, query array<double>")
        idx = ix[family]
        if family == "ivf":
            out = idx.search_batch(spark, probes, k=5, nprobe=8)
        elif family == "hnsw":
            out = idx.search_batch(spark, probes, k=5, ef=64)
        else:
            out = idx.search_batch(spark, probes, k=5, nprobe=8, ef=64)
        rows = sorted(out.collect(), key=lambda r: (r["dist"], r["id"]))
        return [(r["id"], r["dist"]) for r in rows]

    return run


ENTRY_POINTS = {
    "ivf.search": ("ivf", _single("ivf", "search")),
    "ivf.search_batch": ("ivf", _batch("ivf")),
    "ivf.search_adc": ("ivf", _single("ivf", "search_adc")),
    "hnsw.search": ("hnsw", _single("hnsw", "search")),
    "hnsw.search_batch": ("hnsw", _batch("hnsw")),
    "hybrid.search": ("hybrid", _single("hybrid", "search")),
    "hybrid.search_batch": ("hybrid", _batch("hybrid")),
}


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_read_contract(spark, live, entry):
    family, search = ENTRY_POINTS[entry]
    x = _x()
    # an insert comes back first, at its own vector
    got = search(spark, live, _f(x[5] + 0.01))
    assert got[0][0] == INSERT_ID and got[0][1] == pytest.approx(0, abs=1e-9)
    # an update appears once, at its delta distance — never the stale
    # stored copy, which sits at distance 0 from this probe
    got = search(spark, live, _f(x[UPDATE_ID]))
    moved = np.float32(x[UPDATE_ID] + SHIFT).astype(np.float64)
    want = float(((moved - x[UPDATE_ID].astype(np.float64)) ** 2).sum())
    hits = [d for i, d in got if i == UPDATE_ID]
    assert hits == [pytest.approx(want, rel=1e-5)]
    if family != "hnsw":
        got = search(spark, live, _f(x[DELETE_ID]))
        assert DELETE_ID not in [i for i, _ in got] and len(got) == 5


# Job counts per call (search built and collected), measured on these
# fixtures before the searches shared one live-view helper.
JOBS = {
    # (entry point, live delta): jobs
    ("ivf.search", False): 1,
    ("ivf.search", True): 5,
    ("hnsw.search", False): 1,
    ("hnsw.search", True): 4,
    ("ivf.search_batch", False): 7,
    ("ivf.search_batch", True): 12,
    ("hnsw.search_batch", False): 9,
    ("hnsw.search_batch", True): 13,
}


@pytest.mark.parametrize("entry,delta", list(JOBS))
def test_job_count(spark, spark_jobs, clean, live, entry, delta):
    family, search = ENTRY_POINTS[entry]
    ix = live if delta else dict(zip(("ivf", "hnsw"), clean))
    q = _f(_x()[11])
    search(spark, ix, q)  # warm the relation caches
    _, jobs = spark_jobs(lambda: search(spark, ix, q))
    assert jobs <= JOBS[(entry, delta)]
