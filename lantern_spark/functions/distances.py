"""Vector distance functions as pure Catalyst column expressions.

Reference semantics (lantern_hnsw/src/hnsw.c:296-405, ``array_dist`` and
the SQL-visible wrappers in lantern_hnsw/sql/lantern.sql:12-45):

- ``l2sq_dist(a, b)``  — SQUARED euclidean distance (not rooted),
  hnsw.c:354-360.
- ``cos_dist(a, b)``   — 1 − cosine similarity, hnsw.c:362-368.
- ``hamming_dist(a,b)``— popcount of xor over int32-packed bit vectors;
  logical dim = 32 × array length (hnsw.c:308-318, 370-376).

Design: every kernel is ONE SQL expression template over ``zip_with`` +
``aggregate`` built-ins (:data:`KERNELS`), so Catalyst/Tungsten codegens
it JVM-side — no Python UDF in the hot path, and predicate pushdown /
column pruning still apply to the scan. The Column functions render the
template into a single ``F.expr`` — one JVM parse, where the ~20 Column
calls of a composed kernel cost ~10 py4j round trips each under PySpark
4's ``_with_origin`` — and ``sqlapi`` registers the same template as a
SQL function, so both surfaces share one body. Operand rendering is
``functions/vectors.sql_operand``. Elements are cast to double before
accumulation for precision parity with a float64 oracle. NULL in either
argument → NULL out (SQL semantics; Lantern skips NULL vectors entirely,
build.c:153-154).

Dimension mismatch: Lantern raises an error at query time
(test/sql/hnsw_dist_func.sql:38-47). ``zip_with`` pads with NULL instead,
which would silently yield NULL — so each kernel guards with a
``size(a) != size(b)`` check that raises via ``raise_error`` when the
shapes differ (matching reference behavior of failing loudly).
"""

from __future__ import annotations

from pyspark.sql import Column

from lantern_spark.functions.vectors import AB, dsum_sql, pairwise_sql, render
from lantern_spark.types import Metric


def _guarded(name: str, a: str, b: str, body: str, typ: str = "DOUBLE") -> str:
    # ``body`` when dims match, NULL on a NULL input, a runtime error
    # when dims differ (Lantern's query-time dimension error,
    # hnsw_dist_func.sql:38-47 'expected array of dim %d')
    return (
        f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN CAST(NULL AS {typ}) "
        f"WHEN size({a}) != size({b}) THEN CAST(raise_error(concat("
        f"'{name}: dimension mismatch (', CAST(size({a}) AS STRING), "
        f"' vs ', CAST(size({b}) AS STRING), ')')) AS {typ}) "
        f"ELSE {body} END"
    )


def _l2sq_sql(a: str, b: str) -> str:
    d = "(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE))"
    body = dsum_sql(f"zip_with({a}, {b}, (__x, __y) -> {d} * {d})")
    return _guarded("l2sq_dist", a, b, body)


def _cos_sql(a: str, b: str) -> str:
    # a zero-norm input yields NULL through try_divide (ANSI-safe; the
    # reference's C code produces NaN, whose ordering is platform-defined)
    sq = "transform({}, __x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    body = (
        f"CAST(1.0 AS DOUBLE) - try_divide({dsum_sql(pairwise_sql(a, b, '*'))}, "
        f"sqrt({dsum_sql(sq.format(a))} * {dsum_sql(sq.format(b))}))"
    )
    return _guarded("cos_dist", a, b, body)


def _hamming_sql(a: str, b: str) -> str:
    # the xor is masked to 32 bits: elements are int32 bit packs
    # (hnsw.c:308-318), and Spark's bit_count sign-extends to 64 bits,
    # which would overcount negative words; the count stays BIGINT
    body = (
        f"aggregate(zip_with({a}, {b}, (__x, __y) -> bit_count(("
        "CAST(__x AS BIGINT) ^ CAST(__y AS BIGINT)) & 4294967295)), "
        "CAST(0 AS BIGINT), (__acc, __x) -> __acc + __x)"
    )
    return _guarded("hamming_dist", a, b, body, "BIGINT")


# name -> (SQL template, SQL parameters, result type): the one body of
# each kernel, rendered by the functions below and registered by sqlapi
KERNELS = {
    "l2sq_dist": (_l2sq_sql, AB, "DOUBLE"),
    "l2_dist": (lambda a, b: f"sqrt({_l2sq_sql(a, b)})", AB, "DOUBLE"),
    "l1_dist": (
        lambda a, b: _guarded("l1_dist", a, b, dsum_sql(
            f"zip_with({a}, {b}, (__x, __y) -> "
            "abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)))")),
        AB, "DOUBLE",
    ),
    "inner_dist": (
        lambda a, b: _guarded(
            "inner_dist", a, b, f"-{dsum_sql(pairwise_sql(a, b, '*'))}"
        ),
        AB, "DOUBLE",
    ),
    "cos_dist": (_cos_sql, AB, "DOUBLE"),
    "hamming_dist": (_hamming_sql, "a ARRAY<INT>, b ARRAY<INT>", "BIGINT"),
}


def l2sq_dist(a, b) -> Column:
    """Squared L2 distance. Reference: hnsw.c:354-360 (NOT rooted)."""
    return render(KERNELS, "l2sq_dist", a, b)


def l2_dist(a, b) -> Column:
    """Rooted euclidean distance (convenience; not in reference SQL API)."""
    return render(KERNELS, "l2_dist", a, b)


def l1_dist(a, b) -> Column:
    """Manhattan distance (extension; pgvector parity)."""
    return render(KERNELS, "l1_dist", a, b)


def inner_dist(a, b) -> Column:
    """Negative inner product (pgvector '<#>' parity extension)."""
    return render(KERNELS, "inner_dist", a, b)


def cos_dist(a, b) -> Column:
    """Cosine distance = 1 − cos similarity (zero norm → NULL).
    Reference: hnsw.c:362-368."""
    return render(KERNELS, "cos_dist", a, b)


def hamming_dist(a, b) -> Column:
    """Bit-packed hamming distance over int32-packed integer arrays
    (hnsw.c:308-318,370-376); a long count."""
    return render(KERNELS, "hamming_dist", a, b)


_METRIC_FN = {
    Metric.L2SQ: "l2sq_dist",
    Metric.COS: "cos_dist",
    Metric.HAMMING: "hamming_dist",
    Metric.INNER: "inner_dist",
}


def distance(a, b, metric="l2sq") -> Column:
    """Metric-dispatched distance (utils.c:267-278 name resolution)."""
    return render(KERNELS, _METRIC_FN[Metric.resolve(metric)], a, b)
