"""Vector construction / algebra helpers (pure column expressions)."""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def vec_lit(values: Sequence[float], dtype: str = "double") -> Column:
    """Literal vector column from a Python sequence.

    Rendered as ONE SQL string parsed JVM-side (r14 optimization): the
    former per-element build — ``F.array(*[F.lit(v).cast(d) …])`` —
    cost 2·dim py4j round trips, a measured ~0.3 s per 64-dim literal,
    paid on EVERY query construction. ``repr(float)`` is the shortest
    round-tripping decimal, so the parsed doubles are bit-identical to
    the former ``F.lit`` values (pinned in tests). Falls back to the
    per-element build for non-finite components, which have no SQL
    literal form."""
    vals = [float(v) for v in values]
    if vals and all(math.isfinite(v) for v in vals):
        body = ",".join(
            f"CAST({v!r} AS {dtype.upper()})" for v in vals
        )
        return F.expr(f"array({body})")
    return F.array(*[F.lit(v).cast(dtype) for v in vals])


def query_lit(values: Sequence[float], metric: str) -> Column:
    """Query-vector literal to score stored vectors under ``metric``:
    packed-bit (hamming) vectors are integer[] — a double literal would
    coerce the stored column and lose int semantics in the comparison's
    type resolution."""
    from lantern_spark.types import Metric

    hamming = Metric.resolve(metric) is Metric.HAMMING
    return vec_lit(values, "int" if hamming else "double")


def vec_dot(a, b) -> Column:
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a) -> Column:
    a = _c(a)
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def vec_normalize(a) -> Column:
    """L2-normalize; zero vectors pass through unchanged."""
    a = _c(a)
    n = vec_norm(a)
    return F.when(n == 0.0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


def vec_add(a, b) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") + y.cast("double"))


def vec_sub(a, b) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") - y.cast("double"))


def vec_scale(a, s: float) -> Column:
    return F.transform(_c(a), lambda x: x.cast("double") * F.lit(float(s)))
