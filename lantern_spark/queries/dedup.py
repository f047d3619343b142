"""Registered dedup queries (north-star pipeline extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lantern_spark.operators.dedup import (
    content_hash,
    embedding_near_pairs,
    lsh_candidate_pairs,
    minhash_docs,
    ngram_jaccard,
    simhash_docs,
    simhash_near_pairs,
)
from lantern_spark.queries.common import ORACLE_ART, load_table
from lantern_spark.registry import register

_TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_SH = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _minhash_sql(i: int) -> str:
    # Kirsch-Mitzenmacher double hashing: h1 + i*h2 from ONE md5 per
    # shingle, 48-bit halves (matches operators.dedup.minhash_signature)
    return (
        "list_min(list_transform(s, x -> "
        "('0x' || substr(md5(x), 1, 12))::BIGINT"
        f" + {i} * ('0x' || substr(md5(x), 17, 12))::BIGINT))"
    )


@register(
    "dedup_exact_survivors",
    """
    SELECT count(*)::BIGINT AS n_docs, count(DISTINCT md5(text))::BIGINT AS n_unique
    FROM documents
    """,
)
def dedup_exact_survivors(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(content_hash("text")).alias("n_unique"),
    )


@register(
    "lsh_candidate_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH} AS s FROM t),
    sig AS (
      SELECT doc_id, [{", ".join(_minhash_sql(i) for i in range(8))}] AS sig
      FROM sh WHERE len(s) > 0
    ),
    bands AS (
      SELECT doc_id, b.band,
             md5(array_to_string(list_transform(sig[b.band*2+1 : b.band*2+2],
                 x -> x::VARCHAR), chr(31))) AS key
      FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
    """,
)
def lsh_pairs_q(spark, sf_dir):
    """LSH banding candidates: 8 minhashes × 4 bands × 2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_docs(docs, "text", "doc_id", n_hashes=8)
    return lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2)


@register(
    "ngram_jaccard_same_source",
    f"""
    WITH t AS (SELECT doc_id, source, {_TOK} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {_SH} AS s FROM t)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 40
    WHERE len(a.s) > 0 AND len(b.s) > 0
    """,
)
def ngram_jaccard_same_source(spark, sf_dir):
    """Exact n-gram Jaccard on blocked pairs (same source, near ids —
    a deterministic bounded pair set for the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source")
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") <= F.col("a.doc_id") + 40),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    out = ngram_jaccard(docs, "text", "doc_id", pairs)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "embedding_near_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1]*x[2]))
             / sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x->x*x))
                  * list_sum(list_transform(b.embedding::DOUBLE[], x->x*x))), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1]*x[2]))
             / sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x->x*x))
                  * list_sum(list_transform(b.embedding::DOUBLE[], x->x*x))), 6) >= 0.3
    """,
)
def embedding_near_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label. Thresholds on
    the ROUNDED similarity on both sides (ADVICE r1: boundary pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_near_pairs(
        emb, "embedding", "vec_id", threshold=0.3, block_col="label",
        round_digits=6,
    )
    return out.select("id_a", "id_b", "cos_sim")


@register(
    "simhash_near_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, tk -> md5(tk)) AS hs
          FROM t WHERE len(toks) > 0),
    bits AS (
      SELECT doc_id, list_transform(range(0, 64), i ->
        CASE WHEN list_sum(list_transform(hs, s ->
          2*((('0x' || s[i//4 + 1])::INT >> (3 - (i % 4))) & 1) - 1)) > 0
        THEN 1 ELSE 0 END) AS b
      FROM h),
    pairs AS (
      SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             list_sum(list_transform(range(1, 65), i ->
               CASE WHEN a.b[i] <> c.b[i] THEN 1 ELSE 0 END))::BIGINT AS hamming
      FROM bits a JOIN bits c ON a.doc_id < c.doc_id
      WHERE a.b[49:64] = c.b[49:64] OR a.b[33:48] = c.b[33:48]
         OR a.b[17:32] = c.b[17:32] OR a.b[1:16] = c.b[1:16])
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8
    """,
)
def simhash_near_pairs_q(spark, sf_dir):
    """SimHash near-pairs, hash-checked (round-2): md5 bit-votes are
    SQL-expressible, and the oracle replays the pigeonhole band join —
    band j of the int64 fingerprint (LSB-first 16-bit chunks) equals
    bit-array positions 49-16j..64-16j (MSB-first)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = simhash_docs(docs, "text", "doc_id")
    out = simhash_near_pairs(hashes, "doc_id", max_hamming=8, chunks=4)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@register(
    "dedup_prefix_groups",
    """
    SELECT md5(substr(text, 1, 64)) AS head_hash, count(*)::BIGINT AS n_docs,
           array_to_string(list_transform(list_sort(list(doc_id)),
                                          x -> x::VARCHAR), ',') AS doc_ids
    FROM documents GROUP BY md5(substr(text, 1, 64)) HAVING count(*) > 1
    """,
)
def dedup_prefix_groups(spark, sf_dir):
    """Head-prefix dedup groups: exact-hash grouping keyed on the first
    64 chars — the boilerplate/template-collision detector (full-text
    exact dedup on this corpus is all-unique, so this is the variant
    with non-trivial groups to verify the grouping machinery).

    doc_ids is serialized to a CSV string: the driver's canonicalizer
    cannot sort raw array columns (round-1 crash).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.md5(F.substring("text", 1, 64)).alias("head_hash")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH} AS s FROM t),
    sig AS (
      SELECT doc_id, [{", ".join(_minhash_sql(i) for i in range(8))}] AS sig
      FROM sh WHERE len(s) > 0
    ),
    bands AS (
      SELECT doc_id, b.band,
             md5(array_to_string(list_transform(sig[b.band*2+1 : b.band*2+2],
                 x -> x::VARCHAR), chr(31))) AS key
      FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(id, comp) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id
    )
    SELECT id, min(comp)::BIGINT AS comp
    FROM walk GROUP BY id ORDER BY id
    """,
)
def dedup_components(spark, sf_dir):
    """Connected components over the LSH candidate graph (the dedup
    clustering step): distributed min-label propagation + pointer
    jumping vs a DuckDB recursive-CTE reachability oracle."""
    from lantern_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_docs(docs, "text", "doc_id", n_hashes=8)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2)
    return (
        connected_components(pairs)
        .select(F.col("id"), F.col("comp").cast("long").alias("comp"))
        .orderBy("id")
    )


# --- URL dedup (RefinedWeb's cheapest tier) ---------------------------

# The documents table carries no URL column, so both engines synthesize
# the SAME deterministic messy URL from doc_id (the `pii_redact_docs`
# augmentation pattern) covering every normalization branch: scheme
# case, userinfo, default port, rooted-FQDN host, multi-label public
# suffix, tracking params, fragments. Normalization must then collapse
# the mess so distinct doc_ids collide and the first-occurrence rule
# has real work to do.
_URL_HOSTS = [
    "example.com", "News.BBC.co.uk", "a.b.shop.com.au",
    "x.co", "Sub.Domain.org", "example.com.",
]
_URL_AUTH = r"^([A-Za-z][A-Za-z0-9+.\-]*)://(?:[^/@?#]*@)?([^/?#]*)"


def synth_url_expr() -> "F.Column":
    """The Spark twin of :func:`_synth_url_sql` — one deterministic
    messy URL per ``doc_id`` (shared with bench.py's
    registered-domain witness so both measure the same corpus)."""
    d = F.col("doc_id")
    hosts = F.array(*[F.lit(h) for h in _URL_HOSTS])
    return F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(d % 5 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
        F.element_at(hosts, (d % 6).cast("int") + 1),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"), (d % 10).cast("string"),
        F.when(d % 3 == 0, F.lit("?utm_source=x&utm_medium=y"))
        .when(d % 3 == 1, F.lit("?fbclid=abc123"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def _synth_url_sql() -> str:
    hosts = ", ".join(f"'{h}'" for h in _URL_HOSTS)
    return (
        "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)"
        " || '://'"
        " || (CASE WHEN doc_id % 5 = 0 THEN 'user:pw@' ELSE '' END)"
        f" || ([{hosts}])[(doc_id % 6)::INT + 1]"
        " || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)"
        " || '/page/' || (doc_id % 10)::VARCHAR"
        " || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&utm_medium=y'"
        "          WHEN doc_id % 3 = 1 THEN '?fbclid=abc123'"
        "          ELSE '' END)"
        " || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)"
    )


def _url_dedup_oracle_sql() -> str:
    """DuckDB replay of synth → normalize_url → registered_domain →
    first-occurrence keep, generated from the SAME constants as the
    engine expressions (operators/weburl.py) so patterns can't drift.
    The domain column replays the r10 default — the bundled-PSL
    when-chain, codegen'd rule-for-rule by ``psl_duckdb_case`` from
    the same parse the Spark expression compiles."""
    from lantern_spark.operators.weburl import (
        MULTI_LABEL_SUFFIXES,
        TRACKING_PARAMS,
        default_psl,
        psl_duckdb_case,
    )

    psl = default_psl()
    if psl is not None:
        domain_case = psl_duckdb_case(
            psl, host="host", labels="labels", n="len(labels)"
        )
    else:
        # Bundle missing (e.g. a package-data-less install): the
        # engine falls back to the embedded 2-label chain, so the
        # oracle must replay THAT — not crash on psl['exception'].
        sufs = ",".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
        domain_case = f"""CASE WHEN len(labels) <= 1 THEN host
                  WHEN len(labels) >= 3 AND
                       (labels[-2] || '.' || labels[-1]) IN ({sufs})
                  THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                  ELSE labels[-2] || '.' || labels[-1]
             END"""
    return f"""
    WITH urls AS (SELECT doc_id, {_synth_url_sql()} AS u FROM documents),
    parts AS (
      SELECT doc_id, u,
             lower(regexp_extract(u, '{_URL_AUTH}', 1)) AS scheme,
             lower(regexp_extract(u, '{_URL_AUTH}', 2)) AS hostport,
             regexp_extract(u, '{_URL_AUTH}([^#]*)', 3) AS rest0
      FROM urls),
    hp AS (
      SELECT *,
             regexp_replace(regexp_replace(hostport, ':[0-9]*$', ''),
                            '\\.$', '') AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port
      FROM parts),
    cleaned AS (
      SELECT *,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(rest0, '({TRACKING_PARAMS})=[^&#]*', '', 'g'),
               '&&+', '&', 'g'), '\\?&', '?', 'g'),
               '[?&]+$', '', 'g') AS rest1
      FROM hp),
    normed AS (
      SELECT doc_id, u, host,
             CASE WHEN scheme = '' THEN u
                  ELSE scheme || '://' || host ||
                    CASE WHEN port <> '' AND NOT (
                           (scheme='http' AND port='80') OR
                           (scheme='https' AND port='443'))
                         THEN ':' || port ELSE '' END ||
                    CASE WHEN rest1 = '' THEN '/' ELSE rest1 END
             END AS n,
             string_split(host, '.') AS labels
      FROM cleaned),
    ranked AS (
      SELECT doc_id, n,
             {domain_case} AS d,
             row_number() OVER (PARTITION BY n ORDER BY doc_id) AS rn
      FROM normed)
    SELECT doc_id, n AS norm_url, d AS domain FROM ranked WHERE rn = 1
    """


@register("url_dedup_docs", _url_dedup_oracle_sql())
def url_dedup_docs(spark, sf_dir):
    """URL dedup (RefinedWeb's cheapest tier, promoted to the roster in
    r8): first-occurrence keep on the NORMALIZED URL — one short-string
    shuffle, zero content reads. Both engines synthesize the same
    deterministic messy URL per doc_id, then must agree on the full
    normalize → registered-domain → survivor chain (pure column exprs
    in the Java∩RE2 dialect, so the oracle replays every step)."""
    from lantern_spark.operators.weburl import (
        _codegen_exile,
        normalize_url,
        registered_domain,
        url_dedup,
    )

    # NOT ensure_parallelism'd (r15, measured): a doc_id proxy shuffle
    # before URL synthesis read 0.82 → 1.00 s across three bench runs
    # — the window shuffle inside url_dedup already bounds the serial
    # kernel, so the extra exchange is pure cost at this size
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    survivors = url_dedup(
        docs.withColumn("url", synth_url_expr()), "url", "doc_id"
    )
    # _codegen_exile: the PSL chain fused with the window-survivor
    # filter sits at janino's 64 KB edge (intermittent failed-compile
    # tax, r12) — isolate it in a splittable ProjectExec
    return survivors.select(
        "doc_id",
        normalize_url("url").alias("norm_url"),
        _codegen_exile(registered_domain("url")).alias("domain"),
    )


# --- ExactSubstr detection layer (Lee et al. 2022) ---------------------

_SUBSTR_W = 12


@register(
    "substr_dup_windows_docs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(t[i : i + {_SUBSTR_W - 1}], chr(1)) AS win
      FROM toks, unnest(generate_series(1, len(t) - {_SUBSTR_W} + 1)) AS u(i)
      WHERE len(t) >= {_SUBSTR_W}),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
      FROM wins)
    SELECT doc_id, pos::INT AS pos FROM ranked WHERE rn > 1
    """,
)
def substr_dup_windows_docs(spark, sf_dir):
    """ExactSubstr detection layer (arXiv:2107.06499, promoted to the
    roster in r8): every non-first occurrence of a duplicated
    {w}-token window as (doc_id, pos). The engine keys windows on two
    independent 64-bit rolling hashes of vectorized SipHash token
    hashes (collision odds ~2^-128 — treated as exact; r9: the
    per-token Python md5 loop is gone); the oracle keys on
    the literal token sequence, so a hash-match here proves the
    rolling-hash windowing IS window equality on this corpus."""
    from lantern_spark.operators.dedup import duplicate_token_windows

    docs = load_table(spark, sf_dir, "documents")
    out = duplicate_token_windows(
        docs, "text", "doc_id", min_tokens=_SUBSTR_W
    )
    return out.select("doc_id", "pos")


_SEMDEDUP_THR = 0.4


@register(
    "semdedup_survivors",
    f"""
    WITH asg AS (SELECT vec_id, cluster_id
                 FROM read_parquet('{ORACLE_ART}/semdedup/assign/*.parquet')),
    v AS (
      SELECT e.vec_id, a.cluster_id, e.embedding::DOUBLE[] AS emb
      FROM embeddings e JOIN asg a USING (vec_id)
    ),
    mx AS (
      SELECT a.vec_id AS id, a.cluster_id,
             max(round(
               list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1]*x[2]))
               / sqrt(list_sum(list_transform(a.emb, x -> x*x))
                    * list_sum(list_transform(b.emb, x -> x*x))), 6))
               AS max_prior_sim
      FROM v a LEFT JOIN v b
        ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
      GROUP BY a.vec_id, a.cluster_id
    )
    SELECT id, cluster_id,
           (max_prior_sim IS NULL OR max_prior_sim < {_SEMDEDUP_THR}) AS kept,
           max_prior_sim
    FROM mx
    """,
)
def semdedup_survivors(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): cosine-k-means clusters bound the
    pair space; within each cluster the first-occurrence rule keeps a
    row iff no smaller-id member is ≥ 0.4 similar. The engine persists
    its (id, cluster) assignment so the oracle replays the prune rule
    over the SAME clustering in SQL (hash-checked approximate dedup:
    the approximation — the clustering — is pinned by the shared
    artifact, the decision logic is re-derived independently).

    The assignment collect is O(n·12B) — an oracle-replay device, same
    contract as the IVF `centroids_oracle` artifacts, not a pipeline
    pattern (at scale the assignment stays a DataFrame column)."""
    from lantern_spark._localpq import write_local_parquet
    from lantern_spark.operators.dedup import semantic_dedup
    from lantern_spark.queries.common import artifact_dir

    path = artifact_dir(sf_dir, "semdedup")
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, "embedding", "vec_id", n_clusters=16,
        threshold=_SEMDEDUP_THR, seed=42, round_digits=6,
    )
    rows = out.select("id", "cluster_id").collect()
    write_local_parquet(
        f"{path}/assign",
        {
            "vec_id": [int(r["id"]) for r in rows],
            "cluster_id": [int(r["cluster_id"]) for r in rows],
        },
    )
    return out
