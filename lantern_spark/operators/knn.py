"""Exact top-k nearest-neighbor search and KNN joins.

Reference read path: ``SELECT … ORDER BY v <-> q LIMIT k`` routed to the
HNSW index AM (lantern_hnsw/src/hnsw/scan.c:24-338). On Spark, the exact
variant is declared as ``orderBy(dist).limit(k)`` and Catalyst compiles it
to ``TakeOrderedAndProject`` — per-partition top-k heaps + a single
driver-side merge of k rows per partition, i.e. the optimal distributed
plan with no full sort and no full shuffle. The approximate variant lives
in operators/index.py (IVF partition pruning), mirroring the index route.

Scale notes (100 TB): top-k per partition is O(rows·dim) scan +
O(k·num_partitions) merge; no shuffle of the base data. The KNN join
broadcasts the (small) query side — never the base table — and computes
per-query top-k with a window, which shuffles only (query_id, dist, id)
tuples, not vectors.

Filter+KNN semantics: Lantern applies WHERE *after* index candidates
(SURVEY §4; test/sql/hnsw_select.sql:51) which can under-fill k. Exact
search here filters BEFORE top-k (strictly better semantics); the ANN
path exposes `oversample` for the reference-style post-filter behavior.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lantern_spark.functions.distances import distance
from lantern_spark.functions.vectors import vec_lit
from lantern_spark.types import MAX_K


def knn_search(
    df: DataFrame,
    column: str,
    query,
    k: int = 10,
    metric: str = "l2sq",
    dist_col: str = "dist",
    where: Optional[Column] = None,
    tie_break: Optional[str] = None,
    impl: str = "expr",
) -> DataFrame:
    """Exact top-k rows of ``df`` nearest to ``query`` under ``metric``.

    Equivalent of ``SELECT * ORDER BY col <op> q LIMIT k`` with an exact
    scan (the reference's fallback plan when no index exists; with an
    index the result is approximate — scan.c:332-333 trusts index order).

    ``tie_break``: optional column name appended to the ordering so
    results are deterministic under distance ties (needed for oracle
    hash comparison; the reference's order under ties is unspecified).

    ``impl``: ``"expr"`` (default) computes the distance as a Catalyst
    expression — JVM-side, SQL-expressible; ``"arrow"`` uses the
    vectorized numpy kernel (functions/arrow_kernels.py) — ~2-3× faster
    on wide vectors, values identical after round(·, 6). Requires a
    literal query vector.
    """
    if k > MAX_K:
        # Lantern warns & stops growth past 1000 (scan.c:240-292); we
        # allow it but keep the constant documented.
        pass
    if impl == "arrow":
        from lantern_spark.functions.arrow_kernels import arrow_distance

        if isinstance(query, Column):
            raise ValueError("impl='arrow' requires a literal query vector")
        out = df.withColumn(
            dist_col, arrow_distance(F.col(column), list(query), metric)
        )
    else:
        out = df.withColumn(dist_col, distance(column, query, metric))
    if where is not None:
        out = out.filter(where)
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return out.orderBy(*order).limit(k)


def knn_join(
    base: DataFrame,
    base_col: str,
    queries: DataFrame,
    query_col: str,
    k: int = 10,
    metric: str = "l2sq",
    dist_col: str = "dist",
    broadcast_queries: bool = True,
    tie_break: Optional[str] = None,
) -> DataFrame:
    """For every row of ``queries``, the k nearest rows of ``base``.

    Reference analog: LATERAL knn subqueries
    (test/sql/hnsw_dist_func.sql:66-90). Plan shape: broadcast the query
    side (small by assumption), cross-join against the base scan, then a
    per-query window top-k. The base table is never shuffled whole — only
    the joined (query_id, dist) projection enters the window exchange.

    Column collisions: caller should ensure disjoint names or alias
    upstream; distance lands in ``dist_col``.
    """
    qdf = F.broadcast(queries) if broadcast_queries else queries
    joined = base.crossJoin(qdf).withColumn(
        dist_col, distance(F.col(base_col), F.col(query_col), metric)
    )
    qkeys = [c for c in queries.columns if c != query_col]
    order = [F.col(dist_col).asc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(*qkeys).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_vector_search(
    df: DataFrame,
    terms: Sequence[tuple],
    k: int = 10,
    metric: str = "l2sq",
    id_col: str = "id",
    ef: int = 64,
    max_dist: Optional[float] = None,
    exact: bool = True,
    dist_col: str = "joint_dist",
    tie_break: Optional[str] = None,
    indexes: Optional[Sequence] = None,
    nprobe: Optional[int] = None,
    round_digits: Optional[int] = None,
) -> DataFrame:
    """Weighted multi-vector search (≤3 terms in the reference).

    Reference: lantern.sql:673-819 ``lantern.weighted_vector_search``.
    ``terms`` = [(weight, column, query_vector), ...]; joint score is
    Σ wᵢ·dist(colᵢ, qᵢ).

    exact=True: one scan ordered by the joint expression (the reference's
    exact mode — a single ``ORDER BY Σ wᵢ·(colᵢ <op> qᵢ)``).

    exact=False: reference approx mode — per-term top-``ef`` candidate
    CTEs, UNION ALL, DISTINCT ON (id), re-rank by the joint metric
    (lantern.sql's index-scan CTE shape). ``indexes`` supplies an
    optional ``IVFIndex`` per term (None entries fall back to an exact
    top-ef scan): candidates then come from partition-pruned index
    probes at ``nprobe`` (default: full probe, which is exactly the
    top-ef set). The candidate ids — O(ef·terms) rows — are broadcast
    back against the base table for the joint re-rank, so the base is
    scanned once and never shuffled.

    Caveat (ADVICE r6): an ``IVFGraphIndex`` duck-types into
    ``indexes=`` (it exposes the same ``search``/manifest surface),
    but its per-cell graph walk is APPROXIMATE even at
    ``nprobe = nlist`` — the 'full probe equals exact top-ef'
    guarantee above holds only for plain ``IVFIndex`` entries. When
    exactness of the candidate pool matters, pass the hybrid's wrapped
    ``.ivf`` index (or raise ``ef`` to widen the walk's margin).

    ``max_dist``: post-filter on the joint score (reference applies
    ``WHERE joint < max_dist``).

    ``round_digits``: round the joint score before the top-k
    order/limit (oracle tie-break parity, the repo-wide convention).
    """
    if not terms:
        raise ValueError("at least one (weight, column, query) term required")
    if len(terms) > 3:
        raise ValueError("reference supports at most 3 weighted terms (lantern.sql:673)")
    if indexes is not None and len(indexes) != len(terms):
        raise ValueError("indexes must align 1:1 with terms")

    def joint(frame: DataFrame) -> Column:
        expr = F.lit(0.0)
        for w_, col_, q_ in terms:
            expr = expr + F.lit(float(w_)) * distance(col_, q_, metric)
        return expr

    if exact:
        cand = df
    else:
        shared = _shared_index_candidates(
            df, terms, indexes, metric, ef, nprobe, id_col
        )
        if shared is not None:
            id_parts = shared
        else:
            id_parts = _per_term_candidates(
                df, terms, indexes, metric, ef, nprobe, id_col,
                tie_break,
            )
        ids = id_parts[0]
        for p in id_parts[1:]:
            ids = ids.unionByName(p)
        cand = df.join(F.broadcast(ids.distinct()), id_col)

    out = cand.withColumn(dist_col, joint(cand))
    if round_digits is not None:
        out = out.withColumn(dist_col, F.round(dist_col, round_digits))
    if max_dist is not None:
        out = out.filter(F.col(dist_col) < float(max_dist))
    order = [F.col(dist_col).asc_nulls_last()]
    order.append(F.col(tie_break or id_col).asc())
    return out.orderBy(*order).limit(k)


def _shared_index_candidates(
    df, terms, indexes, metric, ef, nprobe, id_col
):
    """ONE index scan for every term when all terms probe the SAME
    delta-free index (r14 optimization, guide §2.4 — remove passes):
    the per-term ``idx.search`` calls each re-scanned the probed list
    partitions (t full index scans for a t-term weighted search). Here
    the union of the per-term probe sets is scanned once, every term's
    distance is computed in that one pass, and each term's top-``ef``
    is a TakeOrdered over the lazily-cut projection — ordered by
    (dist NULLS LAST, id) exactly like ``IVFIndex.search``, so the
    candidate sets are identical by construction. Falls back (returns
    None) whenever the single-scan rewrite cannot reproduce
    ``idx.search`` verbatim: mixed/missing indexes, pending delta
    rows, or live tombstones."""
    from lantern_spark.operators.index import IVFIndex

    if indexes is None or len(terms) < 2:
        return None
    idx0 = indexes[0]
    if idx0 is None or any(ix is not idx0 for ix in indexes):
        return None
    # PLAIN IVFIndex only: a duck-typed IVFGraphIndex (or any other
    # manifest-proxy index) has its own candidate algorithm — a
    # per-cell graph walk — that a flat probed-partition scan would
    # silently replace with different (exact-within-lists) candidates
    if type(idx0) is not IVFIndex:
        return None
    from lantern_spark.types import Metric

    want = Metric.resolve(metric).value
    if idx0.manifest.metric != want:
        raise ValueError(
            f"index for term 0 was built with metric "
            f"{idx0.manifest.metric!r} but search metric is {want!r} — "
            f"rebuild the index or match metrics"
        )
    spark = df.sparkSession
    if idx0._unfolded_delta(spark) is not None or idx0._has("tombstones"):
        return None
    mf = idx0.manifest
    lit_dtype = (
        "int" if Metric.resolve(mf.metric) is Metric.HAMMING else "double"
    )
    probes = int(nprobe) if nprobe is not None else mf.nlist
    term_probes = [
        idx0._probe_lists(spark, list(q_), probes) for _, _, q_ in terms
    ]
    union_probes = sorted({p for ps in term_probes for p in ps})
    proj = idx0.lists(spark).filter(
        F.col("list_id").isin(union_probes)
    ).select(
        mf.id_column,
        "list_id",
        *[
            distance(
                F.col(mf.column),
                vec_lit(list(q_), lit_dtype),
                mf.metric,
            ).alias(f"__d{i}")
            for i, (_, _, q_) in enumerate(terms)
        ],
    )
    from lantern_spark.plans.lineage import cut_lineage

    # scheduling_only: a per-search durable copy of the probed
    # projection (reliable/storage modes) would be written at query
    # construction on every call — gate the cut to local mode (r15,
    # r14 ADVICE); recompute-per-term is the durable-mode behavior.
    proj = cut_lineage(proj, eager=False, scheduling_only=True)
    parts = []
    for i, ps in enumerate(term_probes):
        t = proj
        if set(ps) != set(union_probes):
            t = t.filter(F.col("list_id").isin(ps))
        parts.append(
            t.orderBy(
                F.col(f"__d{i}").asc_nulls_last(),
                F.col(mf.id_column).asc(),
            )
            .limit(ef)
            .select(F.col(mf.id_column).alias(id_col))
        )
    return parts


def _per_term_candidates(
    df, terms, indexes, metric, ef, nprobe, id_col, tie_break
):
    id_parts = []
    for i, (w_, col_, q_) in enumerate(terms):
        idx = indexes[i] if indexes is not None else None
        if idx is not None:
            # a cos-metric call over an l2sq index would silently
            # break the 'full probe equals exact top-ef' candidate
            # contract (ADVICE r2) — candidates must be generated
            # under the same metric the joint score re-ranks with
            from lantern_spark.types import Metric

            want = Metric.resolve(metric).value
            if idx.manifest.metric != want:
                raise ValueError(
                    f"index for term {i} was built with metric "
                    f"{idx.manifest.metric!r} but search metric is "
                    f"{want!r} — rebuild the index or match metrics"
                )
            probes = nprobe if nprobe is not None else idx.manifest.nlist
            id_parts.append(
                idx.search(
                    df.sparkSession, list(q_), k=ef, nprobe=probes
                ).select(F.col(idx.manifest.id_column).alias(id_col))
            )
        else:
            id_parts.append(
                knn_search(
                    df, col_, q_, k=ef, metric=metric,
                    dist_col="__term_dist", tie_break=tie_break or id_col,
                ).select(id_col)
            )
    return id_parts
