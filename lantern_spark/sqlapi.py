"""SQL surface: the reference's SQL-first API as Spark SQL functions.

Lantern's user-facing API is SQL — ``lantern.sql:12-45`` declares
``l2sq_dist``/``cos_dist``/``hamming_dist`` as SQL functions and the
``<->``/``<=>``/``<+>`` operators resolve to them; users write
``SELECT … ORDER BY v <-> '{…}' LIMIT k``. This module re-creates that
surface on Spark so a reference user can keep writing SQL:

- :func:`install_sql_functions` registers the same function names as
  **SQL-defined functions** (``CREATE OR REPLACE TEMPORARY FUNCTION …
  RETURNS … RETURN <expr>``, Spark 4 SQL UDFs). The bodies are pure SQL
  expressions that Catalyst **inlines into the calling plan** — verified
  by the plan tests: no UDF call boundary, whole-stage codegen, and
  pushdown/pruning apply exactly as with the Python Column builders.
  Only the Porter stemmer goes through a (vectorized, Arrow-batched)
  pandas UDF, mirroring the Python API where the stemmer is the one
  non-expression kernel.
- :func:`register_tables` exposes a data directory's parquet tables as
  temp views, so ``spark.sql("SELECT … FROM embeddings ORDER BY
  l2sq_dist(embedding, …) LIMIT 10")`` runs end-to-end — the Spark
  rendition of the reference's ``ORDER BY <-> LIMIT`` entry point
  (Catalyst turns it into the same TakeOrderedAndProject physical plan
  the Python ``knn_search`` produces).

Parity contract: the distance kernels and the vector algebra have ONE
body each — the SQL template in the ``KERNELS`` table of
``functions/distances.py`` or ``functions/vectors.py``, which the Column
functions render into a single ``F.expr`` and this module registers
over its parameters (dim guard, NULL handling, per-element casts,
try_divide zero-norm behavior, 32-bit-masked popcount). ``tests/test_sqlapi.py``
pins both surfaces bit-equal. The remaining bodies (scalar
quantization, tokenizer, BM25 term score) mirror the Column builders
in ``operators/pq.py`` / ``functions/text.py`` textually; the same tests
are their drift gate.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import SparkSession

# Every table the driver testdata ships; register_tables skips missing
# files so the helper works on any subset directory.
DEFAULT_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _ddl(name: str, args: str, ret: str, body: str) -> str:
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
        f"RETURNS {ret} RETURN {body}"
    )


def _kernel_ddls() -> List[str]:
    """The distance kernels and vector algebra, each rendered from its
    one template (``KERNELS`` of functions/distances.py and
    functions/vectors.py) over the SQL parameters."""
    from lantern_spark.functions import distances, vectors

    return [
        _ddl(name, args, ret, fn(*[p.split()[0] for p in args.split(", ")]))
        for name, (fn, args, ret) in {
            **distances.KERNELS, **vectors.KERNELS
        }.items()
    ]


# The remaining pure-expression SQL bodies, kept textually close to the
# Column builders they mirror (operators/pq.py, functions/text.py,
# operators/bm25.py) — the equivalence tests are the drift gate.
_SQL_FUNCTIONS: List[str] = [
    # -- scalar quantization (operators/pq.py i8 family) ----------------
    _ddl(
        "sq_encode_i8", "a ARRAY<DOUBLE>, mn DOUBLE, mx DOUBLE", "ARRAY<INT>",
        "transform(a, x -> CAST(round((x - mn) / "
        "(CASE WHEN mx - mn = 0.0 THEN 1.0 ELSE mx - mn END) "
        "* 254.0 - 127.0, 0) AS INT))",
    ),
    _ddl(
        "sq_decode_i8", "a ARRAY<INT>, mn DOUBLE, mx DOUBLE", "ARRAY<DOUBLE>",
        "transform(a, x -> (CAST(x AS DOUBLE) + 127.0) / 254.0 * "
        "(CASE WHEN mx - mn = 0.0 THEN 1.0 ELSE mx - mn END) + mn)",
    ),
    # -- tokenizer (pre-stem stage of text_to_stem_array) ---------------
    _ddl(
        "tokenize_text", "s STRING", "ARRAY<STRING>",
        r"filter(split(lower(s), '[^a-z0-9]+'), x -> x != '')",
    ),
    _ddl(
        "tokenize_text_unicode", "s STRING", "ARRAY<STRING>",
        r"filter(split(lower(s), '[^\\p{L}\\p{N}]+'), x -> x != '')",
    ),
    # -- BM25 per-(term, doc) score (bm25_agg.rs:139-151 exact math) ----
    _ddl(
        "bm25_term_score",
        "fq DOUBLE, doc_len DOUBLE, df DOUBLE, num_docs DOUBLE, "
        "avg_doc_len DOUBLE, k1 DOUBLE, b DOUBLE",
        "DOUBLE",
        "ln((num_docs - df + 0.5) / (df + 0.5) + 1.0) * "
        "(fq * (k1 + 1.0)) / "
        "(fq + k1 * (1.0 - b + b * (doc_len / avg_doc_len)))",
    ),
]

# Functions whose body references another registered function — created
# after their dependencies (the list above is already ordered; this is
# the stemmer, which additionally needs the pandas UDF registered).
_STEM_SQL = _ddl(
    "text_to_stem_array", "s STRING", "ARRAY<STRING>",
    "lantern_stem_tokens(tokenize_text_unicode(s))",
)


def install_url_functions(spark: SparkSession, psl=None) -> List[str]:
    """Register the URL-curation surface as SQL functions (r13):
    ``url_scheme``, ``url_host``, ``normalize_url``, ``surt_key``,
    ``registered_domain`` — so the C4/RefinedWeb keying operations are
    one ``SELECT`` away for SQL-first users. All bodies are pure
    SQL-defined expressions built from the SAME regex/rule constants
    the Column operators compile (``weburl._AUTH_RX``,
    ``TRACKING_PARAMS``, ``_registered_domain_sparksql``), and
    equality with the Column forms is pinned over a URL zoo in
    tests/test_sqlapi.py — the two surfaces cannot drift
    independently. Catalyst inlines SQL-function bodies, so plans stay
    whole-stage-codegen'd with zero UDF boundary; keep
    ``registered_domain`` out of raw WHERE clauses on wide chains (the
    janino 64 KB discipline — key in a projection, filter the
    materialized column).

    ``psl`` selects the ruleset exactly as
    :func:`~lantern_spark.operators.weburl.registered_domain` does
    (default: the bundled curated PSL). Idempotent; session-scoped."""
    from lantern_spark.operators.weburl import (
        _AUTH_RX,
        TRACKING_PARAMS,
        _registered_domain_sparksql,
    )

    rx = _AUTH_RX.replace("\\", "\\\\").replace("'", "''")
    rest3 = f"regexp_extract(trim(u), '{rx}([^#]*)', 3)"
    hostport = f"lower(regexp_extract(trim(u), '{rx}', 2))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    keep_port = (
        f"({port} != '' AND NOT ((url_scheme(u) = 'http' AND {port} = "
        f"'80') OR (url_scheme(u) = 'https' AND {port} = '443')))"
    )
    portpart = f"IF({keep_port}, ':' || {port}, '')"
    # normalize_url: strip tracking params, collapse separators,
    # '' path -> '/' — the exact regexp_replace chain of the Column op
    norm_rest = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{rest3}, '({TRACKING_PARAMS})=[^&#]*', ''), '&&+', '&'), "
        f"'\\\\?&', '?'), '[?&]+$', '')"
    )
    norm_rest = f"IF({norm_rest} = '', '/', {norm_rest})"
    # surt_key pieces (IA-canonical: www. dropped, query params sorted
    # with empties filtered, empty path -> '/')
    s_host = "regexp_replace(url_host(u), '^www\\\\.', '')"
    s_rest = f"lower({rest3})"
    s_path = f"substring_index({s_rest}, '?', 1)"
    s_query = f"regexp_extract({s_rest}, '^[^?]*\\\\?(.*)$', 1)"
    s_qarr = f"filter(split({s_query}, '&'), x -> x != '')"
    s_sorted = f"concat_ws('&', array_sort({s_qarr}))"
    s_path2 = f"IF({s_path} = '', '/', {s_path})"
    s_restq = (
        f"IF(size({s_qarr}) = 0, {s_path2}, "
        f"concat({s_path2}, '?', {s_sorted}))"
    )
    ddls = [
        _ddl(
            "url_scheme", "u STRING", "STRING",
            f"lower(regexp_extract(trim(u), '{rx}', 1))",
        ),
        _ddl(
            "url_host", "u STRING", "STRING",
            f"regexp_replace(regexp_replace({hostport}, ':[0-9]*$', "
            f"''), '\\\\.$', '')",
        ),
        _ddl(
            "normalize_url", "u STRING", "STRING",
            f"IF(url_scheme(u) = '', trim(u), concat(url_scheme(u), "
            f"'://', url_host(u), {portpart}, {norm_rest}))",
        ),
        _ddl(
            "surt_key", "u STRING", "STRING",
            f"IF({s_host} = '', '', concat(concat_ws(',', "
            f"reverse(split({s_host}, '\\\\.'))), {portpart}, ')', "
            f"{s_restq}))",
        ),
        _ddl(
            "registered_domain", "u STRING", "STRING",
            _registered_domain_sparksql("u", (), psl, col_is_host=False),
        ),
    ]
    names = []
    for ddl in ddls:
        spark.sql(ddl)
        names.append(ddl.split("FUNCTION ", 1)[1].split("(", 1)[0])
    return names


def install_sql_functions(spark: SparkSession) -> List[str]:
    """Register the Lantern SQL function surface on ``spark``.

    Returns the list of registered function names. Idempotent
    (``CREATE OR REPLACE``); temporary functions are session-scoped,
    matching the reference's per-database ``CREATE EXTENSION`` scope.
    """
    names = []
    for ddl in _kernel_ddls() + _SQL_FUNCTIONS:
        spark.sql(ddl)
        names.append(ddl.split("FUNCTION ", 1)[1].split("(", 1)[0])
    # Porter stemmer: the one non-expression kernel (same split as the
    # Python surface, functions/text.py). Registered as a vectorized
    # pandas UDF under an internal name, then wrapped by the public
    # text_to_stem_array SQL function (rust-engine semantics: unicode
    # tokenize -> stem -> stopword filter on the stemmed form,
    # stemmers.rs:96-117).
    from lantern_spark.functions.text import _stem_tokens_udf

    spark.udf.register("lantern_stem_tokens", _stem_tokens_udf)
    spark.sql(_STEM_SQL)
    names += ["lantern_stem_tokens", "text_to_stem_array"]
    return names


# ----------------------------------------------------------------------
# ORDER BY <dist> LIMIT k auto-routing (hnsw.c:164-172,236)
# ----------------------------------------------------------------------

# The reference's one planner trick: when a query orders by a distance
# function over an indexed column and takes a LIMIT, route the scan
# through the index (hnsw.c:164-172 builds the index path;
# lantern.sql:70-95 binds the operators the hook matches). The pattern
# below is deliberately as narrow as the reference's hook: a single
# table, ORDER BY one of the registered distance functions over a bare
# column and an array literal, LIMIT k. The match runs on the SQL TEXT
# because Catalyst INLINES the SQL-UDF bodies (by design — that is what
# makes them pushdown-friendly), so by analysis time the plan no longer
# contains a recognizable `l2sq_dist` call to rewrite.
import re as _re

_FN_CALL = (
    r"(?P<fn>l2sq_dist|l2_dist|cos_dist|hamming_dist)\s*\(\s*"
    r"(?P<col>\w+)\s*,\s*(?P<lit>array\s*\([^)]*\)|:\w+)\s*\)"
)

# form 1: ORDER BY <fn>(col, array(…)) directly. An optional WHERE
# clause is captured (hnsw_select.sql:51 — the reference's index path
# serves WHERE + ORDER BY, applying the filter post-hoc on heap rows
# after candidate generation; SURVEY §4 row 3).
_ANN_SQL_RX = _re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"(?:WHERE\s+(?P<where>.+?)\s+)?"
    r"ORDER\s+BY\s+" + _FN_CALL + r"\s*"
    r"(?:ASC\s+)?"
    r"(?:,\s*\w+\s*(?:ASC\s+)?)?"  # optional id tie-break column
    r"LIMIT\s+(?P<k>\d+)\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)

# form 2: SELECT …, <fn>(col, array(…)) AS d … ORDER BY d LIMIT k —
# the shape Spark 4 actually requires (SQL UDFs are not allowed
# directly inside Sort, UNSUPPORTED_SQL_UDF_USAGE), so it is the shape
# real queries take
_ANN_ALIAS_TAIL_RX = _re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"(?:WHERE\s+(?P<where>.+?)\s+)?"
    r"ORDER\s+BY\s+(?P<alias>\w+)\s*"
    r"(?:ASC\s+)?"
    r"(?:,\s*\w+\s*(?:ASC\s+)?)?"
    r"LIMIT\s+(?P<k>\d+)\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)


def _match_ann_sql(sql: str):
    """``(match_dict, None)`` when ``sql`` is the reference-hook shape
    in either form, else ``(None, reason)`` — the reason is what
    ``routed_sql(explain=True)`` reports so a silent exact fallback is
    diagnosable (review r8 item 7). The query vector is an
    ``array(...)`` literal or a ``:name`` parameter marker (resolved
    from ``routed_sql``'s ``params``)."""
    m = _ANN_SQL_RX.match(sql)
    if m is None:
        m2 = _ANN_ALIAS_TAIL_RX.match(sql)
        if m2 is None:
            return None, (
                "sql shape not recognized — routable forms are "
                "SELECT <proj> FROM <t> [WHERE ...] ORDER BY "
                "<dist>(col, array(...)|:param) [, id] LIMIT k, or "
                "the same with the distance aliased in the SELECT "
                "list and ORDER BY <alias>"
            )
        # the ORDER BY alias must be defined in the select list as
        # exactly one distance call over a bare column + array literal
        alias_def = _re.search(
            _FN_CALL + r"\s+AS\s+" + _re.escape(m2.group("alias")) + r"\b",
            m2.group("select"),
            _re.IGNORECASE | _re.DOTALL,
        )
        if alias_def is None:
            return None, (
                f"ORDER BY alias {m2.group('alias')!r} is not defined "
                "in the SELECT list as a single "
                "<dist>(col, array(...)|:param) call"
            )
        fn, col, lit = (
            alias_def.group("fn"),
            alias_def.group("col"),
            alias_def.group("lit"),
        )
        m = m2
    else:
        fn, col, lit = m.group("fn"), m.group("col"), m.group("lit")
    if lit.startswith(":"):
        query, param = None, lit[1:]
    else:
        nums = _re.findall(r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?", lit)
        query, param = [float(x) for x in nums], None
    return {
        "table": m.group("table"),
        "table_span": m.span("table"),
        "col": col,
        "metric": _METRIC_OF[fn.lower()],
        "query": query,
        "param": param,
        "k": int(m.group("k")),
        "where": m.group("where"),
    }, None

# ordering-equivalent metric per SQL function (l2_dist orders the same
# rows as l2sq — the monotone map the reference also exploits)
_METRIC_OF = {
    "l2sq_dist": "l2sq",
    "l2_dist": "l2sq",
    "cos_dist": "cos",
    "hamming_dist": "hamming",
}


from dataclasses import dataclass as _dataclass


@_dataclass
class SqlFallback:
    """Why ``routed_sql`` executed the plain exact scan instead of an
    index route — returned as the decision with ``explain=True`` so
    the fallback is never silent (review r8 item 7)."""

    reason: str
    access_path: str = "exact"


def routed_sql(
    spark: SparkSession,
    sql: str,
    catalog=None,
    recall_floor: float = 0.9,
    explain: bool = False,
    oversample: int = 4,
    params: Optional[dict] = None,
):
    """Run ``sql``, auto-routing ``[WHERE …] ORDER BY <dist>(col,
    array(…)) LIMIT k`` through the cost-based router when ``catalog``
    holds an index for (table, column, metric) whose measured recall
    clears ``recall_floor`` — the reference's planner-hook behavior
    (hnsw.c:164-172): the same SQL text silently uses the index when
    one exists and the exact scan otherwise.

    Index dispatch fetches the top candidate IDS from the routed
    access path, then re-executes the ORIGINAL SQL over just those
    rows (a temp-view rewrite of the FROM clause) — the final
    projection, WHERE filter, exact distance recompute, ordering, and
    tie-breaks are all Spark's, over the candidate rows. So the SELECT
    list is unrestricted, and result semantics match the unrouted
    query up to the index's recall contract. Non-matching SQL (or no
    catalog / no eligible index) falls through to ``spark.sql``
    untouched — Catalyst's TakeOrderedAndProject IS the exact path.

    Filtered queries (the reference's post-filter contract,
    test/sql/hnsw_select.sql:51 + SURVEY §4 row 3): when the SQL has a
    WHERE clause, the index fetches ``k·oversample`` candidates — the
    filter is applied POST-HOC by the re-executed SQL, so a filter
    whose selectivity on the true neighborhood is below
    ``1/oversample`` may UNDERFILL k (the reference's documented
    behavior; raise ``oversample``, or fall back to the exact scan,
    which always fills). The WHERE may reference any table column —
    candidates are re-read from the table itself, not from index
    payloads.

    Named query vectors (r9): write ``<dist>(col, :qvec)`` and pass
    ``params={"qvec": [...]}`` — realistic embedding dims never belong
    inline in SQL text. ``params`` also feeds Spark's native named
    parameter markers on every execution path (exact fallback and the
    candidate re-execution), so non-vector ``:params`` in WHERE work
    too.

    Returns the DataFrame, or ``(DataFrame, RouteDecision |
    SqlFallback)`` with ``explain=True`` — a ``SqlFallback`` carries
    the REASON the exact path ran (unparseable SQL, missing param, no
    catalog), so fallbacks are diagnosable rather than silent."""
    from lantern_spark.plans.router import route, search_entry

    def run_sql(q):
        return spark.sql(q, args=params) if params else spark.sql(q)

    m, why = _match_ann_sql(sql)
    if m is None or catalog is None:
        out = run_sql(sql)
        fb = SqlFallback(reason=why or "no index catalog provided")
        return (out, fb) if explain else out
    table, col = m["table"], m["col"]
    metric, query, k = m["metric"], m["query"], m["k"]
    if m["param"] is not None:
        if params is None or m["param"] not in params:
            # the exact path could not execute either (the SQL's
            # parameter marker is unbound) — fail with OUR message,
            # not Spark's generic UNBOUND_SQL_PARAMETER
            raise ValueError(
                f"routed_sql: named query-vector parameter "
                f":{m['param']} not provided in params"
            )
        query = [float(v) for v in params[m["param"]]]
    decision = route(catalog, table, col, metric, recall_floor=recall_floor)
    e = decision.entry
    if decision.access_path == "exact" or e is None:
        out = run_sql(sql)
        return (out, decision) if explain else out
    # WHERE → over-fetch so the post-hoc filter can still fill k
    fetch_k = k * max(1, int(oversample)) if m["where"] else k
    cand, id_col = search_entry(spark, catalog, e, query, fetch_k)
    ids = [r[0] for r in cand.select(id_col).collect()]  # ≤ fetch_k rows
    df = spark.table(table)
    view = f"{table}__ann_candidates"
    df.filter(df[id_col].isin(ids)).createOrReplaceTempView(view)
    start, end = m["table_span"]
    out = run_sql(sql[:start] + view + sql[end:])
    return (out, decision) if explain else out


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Optional[Sequence[str]] = None,
) -> List[str]:
    """Create a temp view per parquet table under ``sf_dir``.

    Uses the same loaders as the Python query surface (``load_table``
    handles the events NTZ timestamp normalization), so SQL and
    DataFrame queries see identical data. Missing tables are skipped.
    Returns the list of registered view names.
    """
    import os

    from lantern_spark.types import load_table, table_path

    out = []
    for t in tables or DEFAULT_TABLES:
        # skip ONLY genuinely absent tables — a corrupt/unreadable
        # parquet must raise, not masquerade as "missing" and surface
        # later as a confusing TABLE_OR_VIEW_NOT_FOUND
        if not os.path.exists(table_path(sf_dir, t)):
            continue
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        out.append(t)
    return out
