"""Vector construction / algebra helpers (pure column expressions).

Each algebra helper is ONE SQL template in :data:`KERNELS`, rendered
into a single ``F.expr`` here and registered by ``sqlapi`` (the design
is in functions/distances.py). Lambda variables carry a ``__`` prefix:
an operand's SQL text can land inside a lambda body (``vec_normalize``),
where a bare ``x`` would bind to the lambda variable instead of a
column named ``x``.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_operand(x) -> str:
    """SQL text of a kernel operand. A name keeps ``F.col`` semantics
    (dot-separated multipart identifier, each part quoted); a number is
    a double literal and a list or tuple a double vector literal (as
    :func:`vec_lit`); a Column built by this package (:func:`vec_lit`,
    a kernel) carries its own text; any other Column renders through
    its JVM expression."""
    if isinstance(x, (int, float)):
        return lit_sql(x)
    if isinstance(x, (list, tuple)):
        return _array_sql(x, "DOUBLE")
    if isinstance(x, str):
        if "`" not in x:
            return ".".join(f"`{part}`" for part in x.split("."))
        x = F.col(x)
    # vars(): Column.__getattr__ turns any other lookup into a field access
    text = vars(x).get("_lantern_sql")
    return text if text is not None else f"({x._jc.node().sql()})"


def sql_column(text: str) -> Column:
    """``F.expr(text)``, remembering ``text`` so a kernel taking this
    Column as an operand renders it without a JVM round trip."""
    col = F.expr(text)
    col._lantern_sql = f"({text})"
    return col


def lit_sql(v: float, typ: str = "DOUBLE") -> str:
    """A numeric literal cast to ``typ``: ``repr(float)`` is the shortest
    round-tripping decimal, so a parsed double is bit-identical to
    ``F.lit(v)``; non-finite values go through their string cast, and
    negative zero negates (a decimal literal has no sign of zero)."""
    v = float(v)
    if not math.isfinite(v):
        return f"CAST('{v!r}' AS {typ})"
    if v == 0 and math.copysign(1, v) < 0:
        return f"-CAST(0.0 AS {typ})"
    return f"CAST({v!r} AS {typ})"


def vec_lit(values: Sequence[float], dtype: str = "double") -> Column:
    """Literal vector column from a Python sequence, rendered as ONE SQL
    string parsed JVM-side: the per-element build
    (``F.array(*[F.lit(v).cast(d) …])``) cost 2·dim py4j round trips,
    ~0.3 s per 64-dim literal. The parsed values are bit-identical to
    ``F.lit`` values (:func:`lit_sql`, pinned in tests)."""
    return sql_column(_array_sql(values, dtype.upper()))


def _array_sql(values: Sequence[float], typ: str) -> str:
    return f"array({','.join(lit_sql(v, typ) for v in values)})"


def query_lit(values: Sequence[float], metric: str) -> Column:
    """Query-vector literal to score stored vectors under ``metric``:
    packed-bit (hamming) vectors are integer[] — a double literal would
    coerce the stored column and lose int semantics in the comparison's
    type resolution."""
    from lantern_spark.types import Metric

    hamming = Metric.resolve(metric) is Metric.HAMMING
    return vec_lit(values, "int" if hamming else "double")


# -- SQL templates: operands' SQL text -> body --------------------------


def dsum_sql(arr: str) -> str:
    # sum a double array with a double accumulator (codegen'd)
    return f"aggregate({arr}, CAST(0.0 AS DOUBLE), (__acc, __x) -> __acc + __x)"


def pairwise_sql(a: str, b: str, op: str) -> str:
    return (
        f"zip_with({a}, {b}, (__x, __y) -> "
        f"CAST(__x AS DOUBLE) {op} CAST(__y AS DOUBLE))"
    )


def _norm_sql(a: str) -> str:
    sq = f"transform({a}, __x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))"
    return f"sqrt({dsum_sql(sq)})"


def _normalize_sql(a: str) -> str:
    # zero vectors pass through unchanged
    n = _norm_sql(a)
    return (
        f"CASE WHEN {n} = CAST(0.0 AS DOUBLE) "
        f"THEN transform({a}, __x -> CAST(__x AS DOUBLE)) "
        f"ELSE transform({a}, __x -> CAST(__x AS DOUBLE) / {n}) END"
    )


AB = "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"

# name -> (SQL template, SQL parameters, result type): the one body of
# each helper, rendered by the functions below and registered by sqlapi
KERNELS = {
    "vec_dot": (lambda a, b: dsum_sql(pairwise_sql(a, b, "*")), AB, "DOUBLE"),
    "vec_norm": (_norm_sql, "a ARRAY<DOUBLE>", "DOUBLE"),
    "vec_normalize": (_normalize_sql, "a ARRAY<DOUBLE>", "ARRAY<DOUBLE>"),
    "vec_add": (lambda a, b: pairwise_sql(a, b, "+"), AB, "ARRAY<DOUBLE>"),
    "vec_sub": (lambda a, b: pairwise_sql(a, b, "-"), AB, "ARRAY<DOUBLE>"),
    "vec_scale": (
        lambda a, s: f"transform({a}, __x -> CAST(__x AS DOUBLE) * {s})",
        "a ARRAY<DOUBLE>, s DOUBLE", "ARRAY<DOUBLE>",
    ),
}


def render(kernels: dict, name: str, *operands) -> Column:
    """``kernels[name]``'s template over ``operands`` as one Column."""
    return sql_column(kernels[name][0](*map(sql_operand, operands)))


# -- Column surface ------------------------------------------------------


def vec_dot(a, b) -> Column:
    return render(KERNELS, "vec_dot", a, b)


def vec_norm(a) -> Column:
    return render(KERNELS, "vec_norm", a)


def vec_normalize(a) -> Column:
    """L2-normalize; zero vectors pass through unchanged."""
    return render(KERNELS, "vec_normalize", a)


def vec_add(a, b) -> Column:
    return render(KERNELS, "vec_add", a, b)


def vec_sub(a, b) -> Column:
    return render(KERNELS, "vec_sub", a, b)


def vec_scale(a, s: float) -> Column:
    return render(KERNELS, "vec_scale", a, float(s))
