"""Top-k per group, with a salted variant for skewed groups.

The plain form (window row_number) sorts each group inside one task —
a group with 10^9 rows becomes one straggler task at 100 TB. Top-k is
associative, so the salted form bounds per-task work:

  1. salt each row into one of ``salt`` buckets (deterministic hash of
     the whole row, not a random — retries must re-derive the bucket)
  2. partial top-k inside every (group, salt) bucket
  3. final top-k per group over the ≤ k·salt survivors

Two shuffles instead of one, but the second moves only k·salt rows per
group. Same trade the reference's external-index server makes by
sharding inserts across threads (server.rs:317-367): pay coordination
to bound per-worker state.

This generalizes the AQE skew-join story to window top-k, which AQE
does NOT rebalance (skewed window partitions are not split in Spark).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = True,
    tie_break: Optional[str] = None,
    salt: Optional[int] = None,
) -> DataFrame:
    """Rows ranked ≤ k within each group by ``order_col``.

    Ascending order puts NULLs last, so a NULL score (a zero-norm cos
    distance, a NULL delta vector) never displaces a real one — the
    order of every index's batched top-k, which runs through here.

    ``salt=N`` enables the skew-bounded two-phase plan; the result is
    identical to the plain form (top-k is associative), which the test
    suite asserts.
    """
    order = [
        F.col(order_col).asc_nulls_last()
        if ascending
        else F.col(order_col).desc()
    ]
    if tie_break:
        order.append(F.col(tie_break).asc())

    def ranked(frame: DataFrame, parts: Sequence[str]) -> DataFrame:
        w = Window.partitionBy(*parts).orderBy(*order)
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    if not salt or salt <= 1:
        return ranked(df, list(group_cols))

    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt))
    )
    partial = ranked(salted, list(group_cols) + ["__salt"]).drop("__salt")
    return ranked(partial, list(group_cols))
