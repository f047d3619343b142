"""Registered text-search queries (SURVEY §2.F parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lantern_spark.functions.text import (
    duck_tokenize_sql,
    text_to_stem_array,
    tokenize,
)
from lantern_spark.operators.bm25 import search_bm25
from lantern_spark.queries.common import ORACLE_ART as _ORACLE_ART, load_table
from lantern_spark.registry import register

_TOK = duck_tokenize_sql("text")

# Per-sf cached BM25 stats: postings persist once per process, every
# bm25 query after the first reuses the materialized postings (at real
# scale the postings table would be a written artifact, not rebuilt
# per query — the cache models that).
_STATS_CACHE: dict = {}


def _stats_for(spark, sf_dir, stem: bool):
    key = (sf_dir, stem)
    if key not in _STATS_CACHE:
        from lantern_spark.operators.bm25 import (
            build_bm25_stats_materialized,
        )

        docs = load_table(spark, sf_dir, "documents")
        # Postings materialized via an eager lineage cut (r14, guide
        # §2 — a persist() compiled without AQE coalescing); corpus
        # stats ride that SAME materialization as an Observation and
        # land in a driver-local one-row relation (r15, guide §1.4 —
        # the r14 shape still paid two count jobs + a one-row corpus
        # cut, and every search's crossJoin broadcast was a job over
        # the cut RDD where a LocalTableScan broadcast is free).
        # Value parity with build_bm25_stats' own corpus aggregate is
        # pinned in tests/test_text.py (NULL/empty-text edges
        # included).
        _STATS_CACHE[key] = build_bm25_stats_materialized(
            docs, "doc_id", "text", stem=stem
        )
    return _STATS_CACHE[key]


@register(
    "tokenize_docs",
    f"""
    SELECT doc_id, len({_TOK}) AS ntoks, {_TOK}[1] AS first_tok,
           {_TOK}[-1] AS last_tok
    FROM documents
    """,
)
def tokenize_docs(spark, sf_dir):
    """Pure-expression tokenizer stage of text_to_stem_array
    (stemmers.rs:96-117, pre-stem)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokenize("text")).alias("ntoks"),
        F.element_at(tokenize("text"), 1).alias("first_tok"),
        F.element_at(tokenize("text"), -1).alias("last_tok"),
    )


@register(
    "bm25_search_top20",
    f"""
    WITH tl AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS doc_len FROM documents
    ),
    postings AS (
      SELECT term, doc_id, count(*) AS fq, any_value(doc_len) AS doc_len
      FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM tl)
      GROUP BY term, doc_id
    ),
    corpus AS (SELECT count(*) AS num_docs, avg(doc_len) AS avg_doc_len FROM tl),
    q AS (SELECT unnest(['spark','join','vector']) AS term),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    scored AS (
      SELECT p.doc_id,
        ln((c.num_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
          * (p.fq * 2.2) / (p.fq + 1.2*(1 - 0.75 + 0.75*p.doc_len/c.avg_doc_len)) AS s
      FROM postings p JOIN q USING(term) JOIN dfreq d USING(term) CROSS JOIN corpus c
    )
    SELECT doc_id, round(sum(s), 6) AS bm25_score
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id LIMIT 20
    """,
)
def bm25_search_top20(spark, sf_dir):
    """search_bm25 analog (bm25_api.sql:63-106), exact scoring join —
    no bloom approximation tier needed on Spark (bm25_agg.rs:161-216)."""
    stats = _stats_for(spark, sf_dir, stem=False)
    return search_bm25(
        stats, "spark join vector", limit=20, stem=False, round_digits=6
    )


# bm25 approximation tier (r7 promotion, VERDICT r6 item 5): 'dup' is
# the corpus's rarest term (df≈25 at every SF — its candidate pool is
# far under the limit·10 bloom_limit, so the exact-tier cut has no
# boundary and the query is fully deterministic); 'vector' is hot at
# threshold 100 (df≈380). The seed-42 bloom's hit set is persisted as
# `bloom_hits_oracle` at query time (the centroids_oracle/params_oracle
# pattern), so the oracle replays ONLY bloom membership — the candidate
# selection, the bm25(fq=1, doc_len=avg) ≡ idf constant
# (bm25_agg.rs:174-184), and the blend are all recomputed in SQL.
_APPROX_THRESHOLD = 100
_APPROX_BLOOM_CACHE: dict = {}


@register(
    "bm25_approx_top20",
    f"""
    WITH tl AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS doc_len FROM documents
    ),
    postings AS (
      SELECT term, doc_id, count(*) AS fq, any_value(doc_len) AS doc_len
      FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM tl)
      GROUP BY term, doc_id
    ),
    corpus AS (SELECT count(*) AS num_docs, avg(doc_len) AS avg_doc_len FROM tl),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    cold_scored AS (
      SELECT p.doc_id,
        sum(ln((c.num_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
          * (p.fq * 2.2) / (p.fq + 1.2*(1 - 0.75 + 0.75*p.doc_len/c.avg_doc_len))) AS s
      FROM postings p JOIN dfreq d USING(term) CROSS JOIN corpus c
      WHERE p.term = 'dup'
      GROUP BY p.doc_id
    ),
    bonus_const AS (
      SELECT ln((c.num_docs - d.df + 0.5)/(d.df + 0.5) + 1.0) AS bonus
      FROM dfreq d CROSS JOIN corpus c WHERE d.term = 'vector'
    ),
    hits AS (
      SELECT DISTINCT doc_id
      FROM read_parquet('{_ORACLE_ART}/bm25_approx/bloom_hits_oracle/*.parquet')
      WHERE term = 'vector'
    )
    SELECT cs.doc_id,
           round(cs.s + CASE WHEN h.doc_id IS NOT NULL THEN b.bonus
                             ELSE 0 END, 6) AS bm25_score
    FROM cold_scored cs
    LEFT JOIN hits h USING (doc_id)
    CROSS JOIN bonus_const b
    ORDER BY bm25_score DESC, doc_id
    LIMIT 20
    """,
)
def bm25_approx_top20(spark, sf_dir):
    """search_bm25 with the reference's hot-term bloom approximation
    tier engaged (bm25_agg.rs:161-216 + finalize_base:314-355): the
    cold term scores exactly, the hot term contributes the constant
    bm25(fq=1, doc_len=avg) ≡ idf to every bloom-passing candidate.
    Deterministic (seed-42 blooms); the persisted hit set makes the
    approximation SQL-replayable, so this is hash-checked — the r7
    promotion of the approximation tier into the oracle roster."""
    from lantern_spark.operators.bloom import bloom_contains
    from lantern_spark.operators.bm25 import (
        BM25Stats,
        hot_term_blooms,
        search_bm25_approx,
    )
    from lantern_spark.queries.common import artifact_dir

    stats = _stats_for(spark, sf_dir, stem=False)
    if sf_dir in _APPROX_BLOOM_CACHE:
        blooms = _APPROX_BLOOM_CACHE[sf_dir]
        artifact_dir(sf_dir, "bm25_approx")  # repoint the oracle link
    else:
        # build-time work (bm25_api.sql:55 builds blooms at
        # create_bm25_table time): blooms + the oracle replay artifact
        # persist once per sf_dir/process
        from lantern_spark.types import local_df

        hot_df = F.broadcast(
            local_df(spark, [("vector",)], "term string")
        )
        blooms = hot_term_blooms(
            BM25Stats(
                postings=stats.postings.join(hot_df, "term"),
                corpus=stats.corpus,
            ),
            _APPROX_THRESHOLD,
        ).persist()
        art = artifact_dir(sf_dir, "bm25_approx")
        docs = stats.postings.select("doc_id").distinct()
        (
            docs.crossJoin(F.broadcast(blooms.select("term", "bloom")))
            .where(bloom_contains("bloom", "doc_id"))
            .select("term", "doc_id")
            .repartition(1)
            .write.mode("overwrite")
            .parquet(f"{art}/bloom_hits_oracle")
        )
        _APPROX_BLOOM_CACHE[sf_dir] = blooms
    return search_bm25_approx(
        stats, "dup vector", limit=20, stem=False,
        threshold=_APPROX_THRESHOLD, blooms=blooms, round_digits=6,
    )


@register(
    "stem_docs",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                         x -> x <> '') AS toks
      FROM documents),
    d AS (SELECT token, stem
          FROM read_parquet('{_ORACLE_ART}/stem_dict/*.parquet')),
    ex AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS i, toks FROM t),
    j AS (
      SELECT e.doc_id, e.i, d.stem
      FROM ex e JOIN d ON d.token = e.toks[e.i]
      WHERE d.stem IS NOT NULL),
    agg AS (
      SELECT doc_id, string_agg(stem, ' ' ORDER BY i) AS stemmed
      FROM j GROUP BY doc_id)
    SELECT doc_id, coalesce(agg.stemmed, '') AS stemmed
    FROM documents LEFT JOIN agg USING (doc_id)
    """,
)
def stem_docs(spark, sf_dir):
    """Full text_to_stem_array pipeline over documents (stemmers.rs).

    Hash-checked (round 2) via the artifact-replay pattern: the
    distinct token→stem dictionary (stem NULL when the stemmed form is
    a stopword) is persisted to parquet, and the oracle re-tokenizes in
    SQL (same Unicode split) and joins the dictionary — verifying
    tokenization parity, stopword-drop, ordering and serialization.
    The Porter stemmer itself is pinned by golden tests
    (test_text.py, stemmers.rs:148-280 ports). The stem array is
    serialized with concat_ws — the driver's pandas canonicalizer
    cannot sort raw array columns (round-1 crash).
    """
    from pyspark.sql import types as T

    from lantern_spark.functions.text import stem_token_list
    from lantern_spark.queries.common import artifact_dir

    docs = load_table(spark, sf_dir, "documents")

    @F.pandas_udf(T.StringType())
    def _stem_one(s):
        return s.map(lambda t: (stem_token_list([t]) or [None])[0])

    dict_df = (
        docs.select(
            F.explode(
                F.array_distinct(tokenize("text", unicode=True))
            ).alias("token")
        )
        .distinct()
        .withColumn("stem", _stem_one(F.col("token")))
    )
    dict_df.repartition(1).write.mode("overwrite").parquet(
        artifact_dir(sf_dir, "stem_dict")
    )
    return docs.select(
        "doc_id",
        F.concat_ws(" ", text_to_stem_array("text")).alias("stemmed"),
    )


@register(
    "bm25_consolidated_top20",
    f"""
    WITH tl AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS doc_len FROM documents
    ),
    postings AS (
      SELECT term, doc_id, count(*) AS fq, any_value(doc_len) AS doc_len
      FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM tl)
      GROUP BY term, doc_id
    ),
    corpus AS (SELECT count(*) AS num_docs, avg(doc_len) AS avg_doc_len FROM tl),
    q AS (SELECT unnest(['spark','join','vector']) AS term),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    scored AS (
      SELECT p.doc_id,
        ln((c.num_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
          * (p.fq * 2.2) / (p.fq + 1.2*(1 - 0.75 + 0.75*p.doc_len/c.avg_doc_len)) AS s
      FROM postings p JOIN q USING(term) JOIN dfreq d USING(term) CROSS JOIN corpus c
    )
    SELECT doc_id, round(sum(s), 6) AS bm25_score
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id LIMIT 20
    """,
)
def bm25_consolidated_top20(spark, sf_dir):
    """consolidate_bm25_table analog (bm25_api.sql:108-160): postings
    built on two disjoint halves of the corpus, merged with
    merge_bm25_stats, then searched. The oracle scores against a
    SINGLE full-corpus build — merge correctness IS the assertion:
    merged halves must be indistinguishable from one build."""
    from lantern_spark.operators.bm25 import (
        build_bm25_stats,
        merge_bm25_stats,
    )
    from lantern_spark.plans.lineage import cut_lineage
    from lantern_spark.types import local_df

    docs = load_table(spark, sf_dir, "documents")
    # r15 (guide §1.2/§2): the old shape re-ran both halves' full
    # tokenize trees once for the search's corpus broadcast and again
    # for the scoring job (14 jobs, 1.7 s). Now each half's postings
    # tree carries a LAZY lineage cut and ONE combined Σfq action
    # materializes BOTH cuts inside a single job (their subtrees run
    # concurrently — no serialized eager materializations); the
    # per-half corpus stats derive from that action plus one
    # column-pruned count pass, value-identical to
    # build_bm25_stats's own corpus aggregate (the r14 _stats_for
    # derivation: Σ fq ≡ Σ doc_len, num_docs counts all rows, the avg
    # divisor counts non-NULL-text rows only; integer sums are exact,
    # the final IEEE division is the same op). Both half-builds remain
    # FULL RECOMPUTES on every call — nothing persists across runs;
    # merge ≡ build stays the thing this row proves.
    # The cuts are constructed from a 2-thread pool (guide §2.6):
    # even a LAZY localCheckpoint of a shuffled plan materializes its
    # AQE map stages at construction time, so sequential construction
    # would serialize the two halves' tokenize+groupBy stages.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def built_half(parity: int):
        st = build_bm25_stats(
            docs.filter(F.col("doc_id") % 2 == parity),
            "doc_id",
            "text",
            stem=False,
        )
        st.postings = cut_lineage(
            st.postings, eager=False, scheduling_only=True
        )
        return st

    # inheritable_thread_target: the halves' jobs run under the caller's
    # job group (and a pooled py4j connection cannot hand them another)
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = pool.map(inheritable_thread_target(spark)(built_half), (0, 1))
    sums = {
        int(r["h"]): r["s"]
        for r in a.postings.select(F.lit(0).alias("h"), "fq")
        .unionByName(b.postings.select(F.lit(1).alias("h"), "fq"))
        .groupBy("h")
        .agg(F.sum("fq").alias("s"))
        .collect()
    }
    counts = {
        int(r["h"]): (int(r["nd"]), int(r["nl"]))
        for r in docs.groupBy((F.col("doc_id") % 2).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("nd"), F.count("text").alias("nl")
        )
        .collect()
    }
    for half, parity in ((a, 0), (b, 1)):
        nd, nl = counts.get(parity, (0, 0))
        # no postings rows but non-NULL docs exist ⇒ every doc
        # tokenized empty: Σ doc_len is 0, not NULL (avg must be 0.0,
        # matching build_bm25_stats's own aggregate)
        s = sums.get(parity)
        if s is None and nl:
            s = 0
        avg = float(s) / float(nl) if nl else None
        half.corpus = local_df(
            spark, [(nd, avg)], "num_docs long, avg_doc_len double"
        )
    merged = merge_bm25_stats(a, b)
    return search_bm25(
        merged, "spark join vector", limit=20, stem=False, round_digits=6
    )


def bloom_term_postings(spark, sf_dir):
    """Per-term doc-id blooms for the 10 hottest terms (array_to_bloom
    analog, bloom.rs:46-60), verified end-to-end by the no-false-negative
    contract: probing every member id must hit, so member_hits == n_docs
    — which IS the oracle-checkable value.

    Retired from the oracle roster in r14 (50-query driver cap, the
    standing r12/r13 suggestion): ``bm25_approx_top20`` subsumes its
    semantics — the bloom prefilter tier hashes the SAME
    array_to_bloom/bloom_member_hits kernels inside a ranked search
    whose oracle is stricter (scores, not just membership counts), and
    the no-false-negative contract stays pinned directly in
    tests/test_bloomset.py. Its slot funds ``doc_domain_hop_prior``,
    the graph→documents join layer's first driver-hash row (review
    r13 item 5). Kept callable and still TIMED in bench.py.

    Probe shape: ONE vectorized (bloom, doc_ids) → hit-count call per
    term; the serialized bloom never rides an exploded per-id row (that
    shape is O(n²) bytes per hot term at scale)."""
    from lantern_spark.operators.bloom import array_to_bloom, bloom_member_hits

    # NOT ensure_parallelism'd (r15, measured 0.84 → 1.11 s): the
    # explode/groupBy shuffle dominates; spreading the scan stage
    # costs more than the tokenize kernel saves at this size
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(tokenize("text"))).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.collect_list("doc_id").alias("doc_ids"),
        )
        .orderBy(F.col("n_docs").desc(), "term")
        .limit(10)
    )
    with_bloom = postings.withColumn("bloom", array_to_bloom("doc_ids"))
    return with_bloom.select(
        "term",
        "n_docs",
        bloom_member_hits("bloom", "doc_ids").alias("member_hits"),
    ).orderBy(F.col("n_docs").desc(), "term")
