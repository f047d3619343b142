"""Cost-based ANN access-path routing — the amcostestimate analog.

The reference registers ``hnswcostestimate`` with Postgres' planner
(lantern_hnsw/src/hnsw.c:150-209, wired at hnsw.c:270): for an
``ORDER BY v <-> q LIMIT k`` the planner compares the index path's
estimated tuple/block accesses against a sequential scan and picks the
cheaper one. Spark exposes no Python planner hook, so the same decision
happens at API level: an :class:`IndexCatalog` records which index
artifacts exist for which (table, column, metric), and
:func:`ann_search` consults it, estimates tuples visited per access
path with the reference's own formulas, and dispatches to the cheapest
path that clears the caller's recall floor.

Cost model (tuples visited per query — the unit the reference's
estimator bounds before converting to block accesses):

- exact scan: ``n`` (every row is distance-evaluated once).
- IVF: ``nlist + n * nprobe / nlist`` — the centroid probe plus the
  probed lists, assuming balanced lists (the build's k-means objective).
- HNSW: the reference's closed-form walk bound
  (hnsw.c:97-133, from the HNSW paper §4.1-4.2): with
  ``mL = 1/ln(M)`` and expected per-layer steps ``S = 1/(1-e^-mL)``,
  a search visits ``S*M`` tuples per non-base level,
  ``ef * S * M * 2`` on the base level, over
  ``ceil(ln(1+n) * mL)`` levels, capped at ``n/3`` (the reference's
  always-prefer-index floor for small corpora). Our graphs are
  per-shard, so the bound applies per shard and multiplies by the
  shard count (every shard answers locally; the P·k merge is free by
  comparison).

Recall gating: unlike Postgres (where the index is assumed good
enough), the catalog stores each entry's MEASURED operating-point
recall (from ``tune_nprobe`` / the autotune harness); a route must
clear ``recall_floor`` or fall back to the exact scan. This keeps the
router honest at 100 TB — a cheap path that misses neighbors is not a
cheaper path, it is a wrong answer.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import asdict, dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from lantern_spark.operators import artifact

__all__ = [
    "CatalogEntry",
    "IndexCatalog",
    "RouteDecision",
    "estimate_exact_tuples",
    "estimate_ivf_tuples",
    "estimate_hnsw_tuples",
    "estimate_ivf_graph_tuples",
    "estimate_ivf_pq_tuples",
    "unfolded_delta_rows",
    "route",
    "route_batch",
    "ann_search",
]


# ----------------------------------------------------------------------
# tuple-access estimators
# ----------------------------------------------------------------------

def estimate_exact_tuples(n: int) -> float:
    """A sequential scan distance-evaluates every row once."""
    return float(n)


def estimate_ivf_tuples(n: int, nlist: int, nprobe: int) -> float:
    """Centroid probe (nlist, driver-side) + the probed share of the
    corpus under the balanced-lists assumption of the k-means build."""
    if n <= 0 or nlist <= 0:
        return 0.0
    nprobe = min(max(1, nprobe), nlist)
    return float(nlist) + float(n) * nprobe / nlist


def estimate_hnsw_tuples(
    n: int, m: int, ef: int, shards: int = 1
) -> float:
    """The reference's closed-form HNSW walk bound (hnsw.c:97-133),
    applied per shard: mL = 1/ln(M); S = 1/(1-e^-mL); S*M tuples per
    non-base level; ef*S*M*2 on the base level; ceil(ln(1+n_shard)*mL)
    levels — then × shards (every shard walks for every probe).

    Capping: with ONE graph the reference's ``min(total, n/3)``
    always-prefer-index floor (hnsw.c:131-132) applies verbatim. With
    MANY shards that cap must NOT be applied per shard and multiplied
    back — ``min(walk, n_shard/3)·shards`` collapses to a flat n/3 for
    any shard count once the cap binds, erasing exactly the fan-out
    cost this model exists to expose (a 60k-row corpus on 8 ef-96
    shards really does flat-scan-level work — the r5 bench finding).
    Sharded graphs therefore cap each walk at its PHYSICAL bound
    (n_shard: a walk visits a node at most once), keeping the estimate
    honest: over-sharded small corpora price out at ~n and lose to the
    exact scan on the accuracy tie-break."""
    if n <= 0:
        return 0.0
    shards = max(1, int(shards))
    n_shard = max(1.0, n / shards)
    m = max(2, int(m))
    mL = 1.0 / math.log(m)
    s = 1.0 / (1.0 - math.exp(-mL))  # hnsw.c:113
    per_level = s * m
    base_level = ef * s * m * 2.0
    levels = max(1.0, math.ceil(math.log(1.0 + n_shard) * mL))
    total = per_level * (levels - 1.0) + base_level
    if shards == 1:
        return float(min(total, n / 3.0))
    return float(min(total, n_shard)) * shards


def estimate_ivf_pq_tuples(
    n: int,
    nlist: int,
    nprobe: int,
    splits: int,
    dim: int,
    k: int = 10,
    oversample: int = 4,
    bytes_per_elem: int = 8,
) -> float:
    """IVF-PQ ADC path (operators/index.search_adc; the reference's
    PQ-aware scan, scan.c:75-81, priced through the same estimator
    family as hnsw.c:89-145): the candidate pass touches the probed
    share of the corpus but reads CODES — ``splits`` bytes/row instead
    of ``dim·bytes_per_elem`` — so its tuple count scales by the code
    fraction; the exact re-rank then reads ``k·oversample`` full rows.
    All paths price in full-vector-tuple-equivalents (bytes divided by
    the raw vector width), which is what a 100 TB scan actually pays."""
    if n <= 0 or nlist <= 0:
        return 0.0
    nprobe = min(max(1, nprobe), nlist)
    code_frac = float(splits) / float(max(1, dim * bytes_per_elem))
    candidate_pass = float(n) * nprobe / nlist * code_frac
    rerank = float(min(k * max(1, oversample), n))
    return float(nlist) + candidate_pass + rerank


def estimate_ivf_graph_tuples(
    n: int, nlist: int, nprobe: int, m: int, ef: int
) -> float:
    """IVF×graph hybrid (operators/ivf_graph): centroid probe (nlist)
    plus ONE per-cell graph walk for each probed cell. Each walk uses
    the reference's closed-form bound over the cell's rows (n/nlist,
    balanced-lists assumption), capped at the cell's physical size —
    same honesty rule as sharded HNSW (a walk visits a node at most
    once; no n/3 always-prefer floor, which would hide near-exhaustive
    walks in tiny cells)."""
    if n <= 0 or nlist <= 0:
        return 0.0
    nprobe = min(max(1, nprobe), nlist)
    cell_n = max(1.0, n / nlist)
    m = max(2, int(m))
    mL = 1.0 / math.log(m)
    s = 1.0 / (1.0 - math.exp(-mL))
    levels = max(1.0, math.ceil(math.log(1.0 + cell_n) * mL))
    walk = s * m * (levels - 1.0) + ef * s * m * 2.0
    return float(nlist) + min(walk, cell_n) * nprobe


# ----------------------------------------------------------------------
# catalog
# ----------------------------------------------------------------------

@dataclass
class CatalogEntry:
    """One registered index artifact and its measured operating point."""

    table: str
    column: str
    metric: str
    kind: str  # "ivf" | "hnsw"
    index_path: str
    num_vectors: int
    # measured recall@k at the stored operating point (tune_nprobe /
    # autotune output); 0.0 = never measured, clears no recall floor
    recall_estimate: float = 0.0
    # operating point: {"nprobe": …} for ivf, {"ef": …} for hnsw plus
    # whatever structure params the estimator needs (m, shards, nlist)
    params: dict = field(default_factory=dict)


class IndexCatalog:
    """Persistent (table, column, metric) → index registry — the
    pg_index analog for explicit-API routing. JSON on local/shared
    storage; entries are small (no centroids/codebooks, just paths and
    operating points)."""

    def __init__(self, root: str):
        self.root = root
        self._entries: List[CatalogEntry] = []
        # (handle class, index path) -> (control-file texts, handle)
        self._handles: dict = {}
        self._load()

    @property
    def _file(self) -> str:
        return os.path.join(self.root, "catalog.json")

    def _load(self) -> None:
        if os.path.exists(self._file):
            with open(self._file) as f:
                self._entries = [CatalogEntry(**e) for e in json.load(f)]

    def save(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self._file, "w") as f:
            json.dump([asdict(e) for e in self._entries], f, indent=2)

    def register(self, entry: CatalogEntry, save: bool = True) -> None:
        """Add or replace (same table+column+metric+kind replaces)."""
        self._entries = [
            e
            for e in self._entries
            if not (
                e.table == entry.table
                and e.column == entry.column
                and e.metric == entry.metric
                and e.kind == entry.kind
            )
        ] + [entry]
        if save:
            self.save()

    def register_ivf(
        self,
        index,
        table: str,
        nprobe: int,
        recall_estimate: float = 0.0,
        save: bool = True,
    ) -> CatalogEntry:
        """Register an IVFIndex; structure params come off its manifest."""
        mf = index.manifest
        e = CatalogEntry(
            table=table,
            column=mf.column,
            metric=mf.metric,
            kind="ivf",
            index_path=index.path,
            num_vectors=int(mf.num_vectors),
            recall_estimate=float(recall_estimate),
            params={"nlist": int(mf.nlist), "nprobe": int(nprobe)},
        )
        self.register(e, save=save)
        return e

    def register_hnsw(
        self,
        index,
        table: str,
        ef: int,
        num_vectors: Optional[int] = None,
        recall_estimate: float = 0.0,
        save: bool = True,
    ) -> CatalogEntry:
        """Register an HNSWIndex. ``num_vectors`` defaults to the
        manifest's count (build and fold keep it); a legacy manifest
        without one needs it passed."""
        mf = index.manifest
        if num_vectors is None:
            num_vectors = mf["num_vectors"]
        e = CatalogEntry(
            table=table,
            column=mf["column"],
            metric=mf["metric"],
            kind="hnsw",
            index_path=index.path,
            num_vectors=int(num_vectors),
            recall_estimate=float(recall_estimate),
            params={
                "ef": int(ef),
                "m": int(mf["m"]),
                "shards": int(mf["shards"]),
            },
        )
        self.register(e, save=save)
        return e

    def register_ivf_graph(
        self,
        hybrid,
        table: str,
        nprobe: int,
        ef: int,
        recall_estimate: float = 0.0,
        save: bool = True,
    ) -> CatalogEntry:
        """Register an IVFGraphIndex (operators/ivf_graph): IVF
        structure params come off the wrapped manifest, graph params
        off the attach metadata."""
        mf = hybrid.ivf.manifest
        e = CatalogEntry(
            table=table,
            column=mf.column,
            metric=mf.metric,
            kind="ivf_graph",
            index_path=hybrid.ivf.path,
            num_vectors=int(mf.num_vectors),
            recall_estimate=float(recall_estimate),
            params={
                "nlist": int(mf.nlist),
                "nprobe": int(nprobe),
                "ef": int(ef),
                "m": int(hybrid.meta["m"]),
            },
        )
        self.register(e, save=save)
        return e

    def register_ivf_pq(
        self,
        index,
        table: str,
        nprobe: int,
        oversample: int = 4,
        recall_estimate: float = 0.0,
        save: bool = True,
    ) -> CatalogEntry:
        """Register the ADC tier of an IVFIndex built with ``pq=`` —
        the same artifact as ``register_ivf`` but routed through
        ``search_adc`` (compact-code candidate pass + exact re-rank).
        Raises if the index stores no codes."""
        mf = index.manifest
        pq = (mf.params or {}).get("pq")
        if not pq:
            raise ValueError(
                "index was built without pq= — no ADC tier to register"
            )
        e = CatalogEntry(
            table=table,
            column=mf.column,
            metric=mf.metric,
            kind="ivf_pq",
            index_path=index.path,
            num_vectors=int(mf.num_vectors),
            recall_estimate=float(recall_estimate),
            params={
                "nlist": int(mf.nlist),
                "nprobe": int(nprobe),
                "splits": int(pq["splits"]),
                "dim": int(mf.dim),
                "oversample": int(oversample),
            },
        )
        self.register(e, save=save)
        return e

    def lookup(
        self, table: str, column: str, metric: str
    ) -> List[CatalogEntry]:
        return [
            e
            for e in self._entries
            if e.table == table and e.column == column and e.metric == metric
        ]

    def handle(self, entry: CatalogEntry):
        """``entry``'s index handle, kept warm (its relation cache spares
        routed searches a cold listing job) and reloaded when the
        control files its ``load`` reads change — a fold or rebuild
        through any handle rewrites the manifest."""
        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.operators.ivf_graph import _META_FILE, IVFGraphIndex

        cls, files = {
            "ivf": (IVFIndex, ()),
            "ivf_pq": (IVFIndex, ()),
            "hnsw": (HNSWIndex, ()),
            "ivf_graph": (IVFGraphIndex, (_META_FILE,)),
        }[entry.kind]
        token = tuple(
            artifact.FS.read_text(os.path.join(entry.index_path, f))
            for f in (artifact.MANIFEST,) + files
        )
        hit = self._handles.get((cls, entry.index_path))
        if hit is None or hit[0] != token:
            hit = (token, cls.load(entry.index_path))
            self._handles[(cls, entry.index_path)] = hit
        return hit[1]

    def manifest_rows(self, entry: CatalogEntry) -> int:
        """Rows in the entry's artifact per its current manifest (the
        registered count for a legacy HNSW manifest without one, or for
        an artifact that is gone — a route must not fail on it)."""
        try:
            mf = self.handle(entry).manifest
        except FileNotFoundError:
            return int(entry.num_vectors)
        n = mf.get("num_vectors") if isinstance(mf, dict) else mf.num_vectors
        return int(entry.num_vectors if n is None else n)


# ----------------------------------------------------------------------
# routing
# ----------------------------------------------------------------------

def unfolded_delta_rows(index_path: str, seq_col: str = "__delta_seq") -> int:
    """Rows in an index artifact's delta dir NOT yet covered by the
    manifest's ``folded_seq`` watermark — the rows every index-path
    query must additionally brute-force scan (both families union the
    unfolded delta unpruned: ``IVFIndex._unfolded_delta``,
    ``HNSWIndex._unfolded_delta``).

    Driver-cheap and LIVE (review r7 item 4: the router was
    delta-blind — an index carrying a large unfolded delta got
    increasingly wrong route decisions): parquet FOOTER statistics
    only, no Spark job. A row group counts when its max(__delta_seq)
    exceeds the watermark — row groups straddling the watermark
    overcount slightly (estimate semantics, same as the reference's
    pages-based guess, hnsw.c:89-145). Unreadable/absent artifacts
    count 0 — the route must not fail on a half-built index."""
    import glob

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return 0
    folded = 0
    try:
        with open(os.path.join(index_path, "manifest.json")) as f:
            mf = json.load(f)
        folded = int(
            mf.get("folded_seq")
            or (mf.get("params") or {}).get("folded_seq", 0)
            or 0
        )
    except Exception:
        pass
    total = 0
    for fp in glob.glob(os.path.join(index_path, "delta", "*.parquet")):
        try:
            md = pq.ParquetFile(fp).metadata
            if md.num_row_groups == 0:
                continue
            leaf = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == seq_col
                ),
                None,
            )
            if leaf is None:  # seq-less legacy delta: all unfolded
                total += md.num_rows
                continue
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(leaf)
                st = col.statistics
                if st is None or st.max is None or int(st.max) > folded:
                    total += md.row_group(rg).num_rows
        except Exception:
            continue
    return total


@dataclass
class RouteDecision:
    """The planner's pick plus the full decision table (the analog of
    the reference's ldb_dlog cost dump, hnsw.c:202-208)."""

    access_path: str  # "exact" | "ivf" | "hnsw" | "ivf_graph"
    est_tuples: float
    entry: Optional[CatalogEntry]
    reason: str
    # every candidate considered: [(path, est_tuples, eligible, why)]
    candidates: list = field(default_factory=list)
    # maintenance hints, e.g. "fold first: …" when an unfolded delta's
    # brute-force scan dominates an index path's own estimate
    hints: list = field(default_factory=list)


def _entry_eval_tuples(e: CatalogEntry, n: int, k: int) -> float:
    """Per-probe distance-evaluation tuples for a catalog entry — the
    reference-unit estimate shared by single-query and batched
    routing. Returns inf for unknown kinds."""
    if e.kind == "ivf":
        return estimate_ivf_tuples(
            n, e.params.get("nlist", 1), e.params.get("nprobe", 1)
        )
    if e.kind == "hnsw":
        return estimate_hnsw_tuples(
            n,
            e.params.get("m", 16),
            e.params.get("ef", 64),
            e.params.get("shards", 1),
        )
    if e.kind == "ivf_graph":
        return estimate_ivf_graph_tuples(
            n,
            e.params.get("nlist", 1),
            e.params.get("nprobe", 1),
            e.params.get("m", 16),
            e.params.get("ef", 64),
        )
    if e.kind == "ivf_pq":
        return estimate_ivf_pq_tuples(
            n,
            e.params.get("nlist", 1),
            e.params.get("nprobe", 1),
            e.params.get("splits", 8),
            e.params.get("dim", 1),
            k=k,
            oversample=e.params.get("oversample", 4),
        )
    return float("inf")


# deterministic tie-break: prefer the more accurate path on equal cost
# (exact > hnsw > ivf > ivf_graph > ivf_pq: the hybrid stacks two
# approximations, and ADC additionally quantizes candidate distances)
_ACCURACY_ORDER = {
    "exact": 0, "hnsw": 1, "ivf": 2, "ivf_graph": 3, "ivf_pq": 4,
}


def _pick(
    cands: list, n_rows: int, source: str, suffix: str = "", hints: list = None
) -> RouteDecision:
    eligible = [c for c in cands if c[2]]
    best = min(
        eligible, key=lambda c: (c[1], _ACCURACY_ORDER.get(c[0], 9))
    )
    picked = best[4]
    reason = (
        f"{best[0]}: est {best[1]:.0f} tuples vs exact {n_rows} rows "
        f"({source}) "
        f"({len(eligible)} eligible of {len(cands)} candidates){suffix}"
    )
    return RouteDecision(
        access_path=best[0],
        est_tuples=best[1],
        entry=picked,
        reason=reason,
        candidates=[(c[0], c[1], c[2], c[3]) for c in cands],
        hints=list(hints or []),
    )


def _delta_adjusted(e: CatalogEntry, base_est: float, hints: list, dr: int) -> float:
    """``base_est`` plus the brute-force term of the entry's ``dr``
    unfolded delta rows; appends a "fold first" hint when the delta
    term dominates the path's own estimate (the point where running
    ``fold_delta`` pays for itself within ~one query's savings)."""
    if dr <= 0:
        return base_est
    if dr > base_est:
        hints.append(
            f"fold first: {e.kind} on {e.table}.{e.column} carries "
            f"{dr} unfolded delta rows (delta scan {dr:.0f} > index "
            f"est {base_est:.0f}); fold_delta would cut the estimate "
            f"from {base_est + dr:.0f} to ~{base_est:.0f}"
        )
    return base_est + dr


def route(
    catalog: Optional[IndexCatalog],
    table: str,
    column: str,
    metric: str,
    n_rows: Optional[int] = None,
    recall_floor: float = 0.9,
    k: int = 10,
) -> RouteDecision:
    """Pick the cheapest access path whose measured recall clears
    ``recall_floor``. The exact scan is always a candidate (recall 1.0,
    cost n) — the sequential-scan path the reference's planner weighs
    the index against. ``k`` only affects the ADC tier (its exact
    re-rank reads k·oversample rows).

    ``n_rows=None`` prices the exact scan from the catalog's live row
    count without a Spark job: the largest manifest ``num_vectors``
    plus unfolded delta rows over the matching entries (none: exact,
    nothing counted). The reason names the count and its source.

    Delta-aware (review r7 item 4): every index path's estimate adds
    its artifact's LIVE unfolded-delta row count (both families
    brute-force scan the unfolded delta per query), so an index that
    streamed appends without folding prices honestly — and the
    decision carries a "fold first" hint once the delta term dominates
    (``RouteDecision.hints``)."""
    hints: list = []
    entries = [
        (e, unfolded_delta_rows(e.index_path))
        for e in (catalog.lookup(table, column, metric) if catalog else [])
    ]
    source = "given"
    if n_rows is None:
        live = [
            (catalog.manifest_rows(e), dr, e.kind)
            for e, dr in entries
            if e.kind in _ACCURACY_ORDER
        ]
        if not live:
            return RouteDecision(
                "exact", float("nan"), None,
                f"exact: no index on {table}.{column} ({metric}); "
                "rows not counted",
            )
        m, dr, kind = max(live, key=lambda t: t[0] + t[1])
        n_rows, source = m + dr, f"{kind} manifest {m} + {dr} unfolded delta"
    cands = [("exact", estimate_exact_tuples(n_rows), True, "always eligible", None)]
    for e, dr in entries:
        n = e.num_vectors or n_rows
        est = _entry_eval_tuples(e, n, k)
        if est == float("inf"):
            cands.append((e.kind, est, False, "unknown kind", e))
            continue
        est = _delta_adjusted(e, est, hints, dr)
        if e.recall_estimate < recall_floor:
            cands.append(
                (
                    e.kind,
                    est,
                    False,
                    f"recall {e.recall_estimate:.3f} < floor {recall_floor}",
                    e,
                )
            )
        else:
            cands.append((e.kind, est, True, "eligible", e))
    return _pick(cands, n_rows, source, hints=hints)


def route_batch(
    catalog: Optional[IndexCatalog],
    table: str,
    column: str,
    metric: str,
    n_rows: int,
    batch_size: int,
    recall_floor: float = 0.9,
    k: int = 10,
) -> RouteDecision:
    """Price PER-PROBE cost for a ``batch_size``-probe workload — the
    inference shape ``search_batch`` serves. Single-query :func:`route`
    counts only distance evaluations (the reference's unit); a batch
    additionally amortizes the per-JOB data reads across its probes,
    so each candidate gains a read term that shrinks with B:

    - exact: ``n`` evals + ``n/B`` (one shared scan read per job —
      batched brute force is the knn_join shape);
    - ivf: per-probe evals + ``n·(1-(1-p)^B)/B`` with
      ``p = nprobe/nlist`` — the expected DISTINCT probed share of the
      corpus read once per job (union-pruned scan in search_batch);
    - hnsw: per-probe walk + ``n/B`` (every shard graph deserializes —
      touches every node — once per job, amortized |Q|×);
    - ivf_graph: per-probe evals + the distinct-cell read term;
    - ivf_pq: per-probe evals + the distinct-cell read term scaled by
      the code fraction (codes are what the candidate pass reads).

    At B=1 this is the single-query estimate plus one full read — the
    honest one-shot cost; as B→∞ the read terms vanish and only evals
    remain. Consequence the tests pin: an over-partitioned IVF (large
    nlist, so the per-probe centroid ranking does NOT amortize) loses
    to batched exact brute force at high B — the real reason
    brute-force batch scoring is competitive at inference scale."""
    B = max(1, int(batch_size))
    n = n_rows
    hints: list = []
    cands = [
        (
            "exact",
            estimate_exact_tuples(n) + float(n) / B,
            True,
            "always eligible",
            None,
        )
    ]
    for e in catalog.lookup(table, column, metric) if catalog else []:
        ne = e.num_vectors or n_rows
        evals = _entry_eval_tuples(e, ne, k)
        if evals == float("inf"):
            cands.append((e.kind, evals, False, "unknown kind", e))
            continue
        nlist = max(1, e.params.get("nlist", 1))
        p = min(max(1, e.params.get("nprobe", 1)), nlist) / nlist
        distinct_read = float(ne) * (1.0 - (1.0 - p) ** B) / B
        if e.kind == "hnsw":
            read = float(ne) / B
        elif e.kind == "ivf_pq":
            code_frac = float(e.params.get("splits", 8)) / float(
                max(1, e.params.get("dim", 1) * 8)
            )
            read = distinct_read * code_frac
        else:  # ivf, ivf_graph
            read = distinct_read
        # unfolded delta: every probe in the batch brute-force scans
        # it (per-probe evals), and its read amortizes like the base
        # data — the eval term is what matters, same as route()
        est = _delta_adjusted(
            e, evals + read, hints, unfolded_delta_rows(e.index_path)
        )
        if e.recall_estimate < recall_floor:
            cands.append(
                (
                    e.kind,
                    est,
                    False,
                    f"recall {e.recall_estimate:.3f} < floor {recall_floor}",
                    e,
                )
            )
        else:
            cands.append((e.kind, est, True, "eligible", e))
    return _pick(
        cands, n_rows, "given", suffix=f" [batch={B}, per-probe]", hints=hints
    )


def search_entry(
    spark: SparkSession,
    catalog: IndexCatalog,
    entry: CatalogEntry,
    query: Sequence[float],
    k: int,
    where=None,
    oversample: int = 4,
):
    """Search the catalog's warm handle of ``entry`` at the entry's
    operating point: ``(DataFrame, id column)``. IVF pushes ``where``
    into its filter-aware search (probing ``oversample``× more lists);
    the graph and ADC paths have no filtered variant (neither does the
    reference's walk), so they over-fetch ``k·oversample`` candidates
    and post-filter — scarce matches may underfill k."""
    p = entry.params
    idx = catalog.handle(entry)
    fetch = k if where is None else k * oversample
    if entry.kind == "ivf":
        out = idx.search(
            spark, query, k=k, nprobe=p["nprobe"], where=where,
            oversample=oversample,
        )
        return out, idx.manifest.id_column
    if entry.kind == "hnsw":
        out = idx.search(spark, query, k=fetch, ef=p["ef"])
        id_col = idx.manifest["id_column"]
    elif entry.kind == "ivf_pq":
        out = idx.search_adc(
            spark, query, k=fetch, nprobe=p["nprobe"],
            oversample=p.get("oversample", 4),
        )
        id_col = idx.manifest.id_column
    else:  # ivf_graph
        out = idx.search(
            spark, query, k=fetch, nprobe=p["nprobe"], ef=p["ef"]
        )
        id_col = idx.manifest.id_column
    if where is not None:
        out = out.filter(where).limit(k)
    return out, id_col


def ann_search(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    column: str,
    query: Sequence[float],
    k: int = 10,
    metric: str = "l2sq",
    id_column: str = "id",
    recall_floor: float = 0.9,
    catalog: Optional[IndexCatalog] = None,
    explain: bool = False,
    where=None,
    oversample: int = 4,
):
    """Routed top-k: consult the catalog, estimate costs, dispatch.

    CONTRACT: ``df`` must BE the table the catalog entries index —
    the same contract as Postgres, where an index path is only
    considered for the indexed relation itself. A filtered subset
    belongs in the filter-aware search APIs (``knn_search(where=…)``,
    ``IVFIndex.search(where=…)``), not here: an index route would
    return rows the subset excludes.

    Because ``df`` is the indexed table, the exact scan is priced from
    the catalog's live row count (:func:`route`) and the index paths
    search the catalog's warm handles: a routed call runs only the job
    of the path it picks.

    ``where``: the reference's post-filter contract
    (test/sql/hnsw_select.sql:51 — WHERE + ORDER BY still uses the
    index, with the filter applied to the candidates). Dispatch:
    exact/IVF push the predicate into their filter-aware searches
    (IVF probes ``oversample``× more lists to refill k); HNSW has no
    filtered walk (neither does the reference's), so its candidates
    are over-fetched ``k·oversample`` and post-filtered — scarce
    matches may underfill k on that path, the reference's documented
    behavior. On the IVF path the predicate may reference only columns
    stored IN the index (id/vector plus build-time ``extra_columns``);
    on the HNSW path only the result columns (id, dist).

    Returns the result DataFrame, or ``(DataFrame, RouteDecision)``
    with ``explain=True`` (the masked_explain convention: show the
    decision, never the vectors)."""
    oversample = max(1, int(oversample))  # 0 would probe ZERO IVF lists
    decision = route(catalog, table, column, metric, recall_floor=recall_floor)
    if decision.access_path == "exact":
        from lantern_spark.operators.knn import knn_search

        out = knn_search(
            df, column, query, k=k, metric=metric, tie_break=id_column,
            where=where,
        )
    else:
        out, _ = search_entry(
            spark, catalog, decision.entry, query, k, where=where,
            oversample=oversample,
        )
    return (out, decision) if explain else out
