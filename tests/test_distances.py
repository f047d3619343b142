"""Distance-function unit tests.

Ports the reference's distance semantics tests
(lantern_hnsw/test/sql/hnsw_dist_func.sql:22-47) onto the small_world
fixture (FIXTURES.md F1): 8 corners of the unit cube, dim 3.
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lantern_spark.functions import (
    cos_dist,
    hamming_dist,
    inner_dist,
    l1_dist,
    l2sq_dist,
    vec_lit,
    vec_norm,
    vec_normalize,
)

CORNERS = [
    ("000", [0.0, 0.0, 0.0]),
    ("001", [0.0, 0.0, 1.0]),
    ("010", [0.0, 1.0, 0.0]),
    ("011", [0.0, 1.0, 1.0]),
    ("100", [1.0, 0.0, 0.0]),
    ("101", [1.0, 0.0, 1.0]),
    ("110", [1.0, 1.0, 0.0]),
    ("111", [1.0, 1.0, 1.0]),
]


@pytest.fixture(scope="module")
def small_world(spark):
    return spark.createDataFrame(
        [Row(id=i, v=v) for i, v in CORNERS], "id string, v array<float>"
    )


def test_l2sq_exact_values(small_world):
    # l2sq from origin corner == number of set bits (squared, not rooted):
    # hnsw.c:354-360 — reference returns 0,1,1,2,1,2,2,3 for the cube.
    rows = small_world.select(
        "id", l2sq_dist("v", vec_lit([0.0, 0.0, 0.0])).alias("d")
    ).collect()
    expected = {i: float(i.count("1")) for i, _ in CORNERS}
    for r in rows:
        assert r.d == pytest.approx(expected[r.id], abs=1e-12)


def test_cos_exact_values(small_world):
    q = [1.0, 1.0, 1.0]
    rows = small_world.filter("id != '000'").select(
        "id", cos_dist("v", vec_lit(q)).alias("d")
    ).collect()
    for r in rows:
        ones = r.id.count("1")
        sim = ones / (math.sqrt(ones) * math.sqrt(3.0))
        assert r.d == pytest.approx(1.0 - sim, abs=1e-12)


def test_cos_zero_norm_is_null(small_world):
    r = small_world.filter("id = '000'").select(
        cos_dist("v", vec_lit([1.0, 1.0, 1.0])).alias("d")
    ).first()
    assert r.d is None


def test_hamming_bit_packed(spark):
    # dim = 32 × len bits (hnsw.c:308-318): [0,1] vs [3,1] → xor [3,0] → 2 bits
    df = spark.createDataFrame(
        [Row(a=[0, 1], b=[3, 1]), Row(a=[255, 0], b=[0, 255])],
        "a array<int>, b array<int>",
    )
    got = [r.d for r in df.select(hamming_dist("a", "b").alias("d")).collect()]
    assert got == [2, 16]


def test_inner_dist(small_world):
    r = small_world.filter("id='111'").select(
        inner_dist("v", vec_lit([1.0, 2.0, 3.0])).alias("d")
    ).first()
    assert r.d == pytest.approx(-6.0)


def test_l1_dist(small_world):
    r = small_world.filter("id='101'").select(
        l1_dist("v", vec_lit([0.0, 0.0, 0.0])).alias("d")
    ).first()
    assert r.d == pytest.approx(2.0)


def test_dimension_mismatch_raises(small_world):
    # hnsw_dist_func.sql:38-47: mismatched dims error at query time
    import py4j

    with pytest.raises(Exception) as exc:
        small_world.select(l2sq_dist("v", vec_lit([1.0, 2.0])).alias("d")).collect()
    assert "dimension mismatch" in str(exc.value)


def test_null_vector_gives_null(spark):
    df = spark.createDataFrame([Row(a=None, b=[1.0, 2.0])], "a array<float>, b array<float>")
    r = df.select(l2sq_dist("a", "b").alias("d")).first()
    assert r.d is None


def test_distances_match_duckdb_oracle(spark, duck, sf_dir):
    """Full-table l2sq/cos distances vs DuckDB on real embeddings."""
    from tests.conftest import assert_matches_oracle

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float((i * 37 % 97) / 97.0) for i in range(64)]
    sdf = emb.select(
        "vec_id",
        F.round(l2sq_dist("embedding", vec_lit(q)), 6).alias("l2sq"),
        F.round(cos_dist("embedding", vec_lit(q)), 6).alias("cosd"),
    )
    qlit = "[" + ",".join(repr(x) for x in q) + "]::DOUBLE[]"
    sql = f"""
        SELECT vec_id,
          round(list_sum(list_transform(list_zip(embedding::DOUBLE[], {qlit}),
                x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS l2sq,
          round(1.0 - list_sum(list_transform(list_zip(embedding::DOUBLE[], {qlit}),
                x -> x[1]*x[2]))
            / sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))
                 * list_sum(list_transform({qlit}, x -> x*x))), 6) AS cosd
        FROM embeddings
    """
    assert_matches_oracle(sdf, duck, sql)


def test_vec_normalize(small_world):
    rows = small_world.select("id", vec_norm(vec_normalize("v")).alias("n")).collect()
    for r in rows:
        assert r.n == pytest.approx(0.0 if r.id == "000" else 1.0, abs=1e-12)


def test_kernel_build_is_one_parse(spark, monkeypatch):
    """A kernel renders to ONE ``F.expr``: building
    ``l2sq_dist("v", vec_lit(q))`` over a 64-dim literal sends 6 py4j
    commands (the literal's parse and the kernel's). The Column-API
    composition it replaced sent 323."""
    q = [i / 64.0 for i in range(64)]
    l2sq_dist("v", vec_lit(q))  # warm-up: first-call imports
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    l2sq_dist("v", vec_lit(q))
    monkeypatch.undo()
    assert len(sent) <= 6


def test_vec_lit_values_equal_f_lit(spark):
    """vec_lit parses its SQL text to the same doubles F.lit holds,
    negative zero and non-finite components included."""
    vals = [0.1, 1e-300, 1.7976931348623157e308, 0.35000000000000003,
            float(3.14159274), -0.0, float("inf"), float("-inf"), float("nan")]
    got = spark.range(1).select(vec_lit(vals).alias("v")).first()["v"]
    want = spark.range(1).select(
        F.array(*[F.lit(v) for v in vals]).alias("v")
    ).first()["v"]
    assert [repr(x) for x in got] == [repr(x) for x in want]
