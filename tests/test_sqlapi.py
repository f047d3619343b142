"""SQL surface parity: the registered SQL functions must be expression-
for-expression equivalent to the Python Column builders, inline into the
plan (no UDF boundary), and support the reference's SQL entry point
(``ORDER BY dist LIMIT k``) end-to-end."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lantern_spark.functions.distances import (
    cos_dist,
    hamming_dist,
    inner_dist,
    l1_dist,
    l2_dist,
    l2sq_dist,
)
from lantern_spark.functions.text import text_to_stem_array, tokenize
from lantern_spark.functions.vectors import (
    vec_add,
    vec_dot,
    vec_norm,
    vec_normalize,
    vec_scale,
    vec_sub,
)
from lantern_spark.operators.pq import sq_decode_i8, sq_encode_i8
from lantern_spark.sqlapi import install_sql_functions, register_tables


@pytest.fixture(scope="module", autouse=True)
def _installed(spark):
    return install_sql_functions(spark)


def _synth_blobs(spark, tmp_path):
    """2000 points in 8 well-separated blobs (250 each, dim 4),
    registered as view `synth_emb` + an IVF catalog over it. The
    query vector sits in blob 0, so its true neighbors all share one
    IVF list — a partial probe that routes is also EXACT, which makes
    routed-vs-exact row equality a fair assertion."""
    from lantern_spark.operators.index import IVFIndex
    from lantern_spark.plans.router import IndexCatalog

    rows = []
    for i in range(2000):
        b = i // 250
        jit = (i % 250) * 0.003
        rows.append(
            (i, [100.0 * b + jit, 100.0 * b, 100.0 * b - jit, 0.0])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.createOrReplaceTempView("synth_emb")
    idx = IVFIndex.build(
        df, "embedding", "vec_id", str(tmp_path / "ivf_synth"),
        metric="l2sq", nlist=8, seed=42,
    )
    cat = IndexCatalog(str(tmp_path / "cat_synth"))
    cat.register_ivf(idx, "synth_emb", nprobe=3, recall_estimate=0.99)
    query = [0.001, 0.0, 0.0, 0.0]  # inside blob 0
    return cat, query


VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.5, -1.25, 8.0], [0.5, -1.25, 8.0]),
    ([-3.0, 0.0, 0.25], [1.0, 1.0, 1.0]),
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero norm (cos -> NULL)
    (None, [1.0, 2.0, 3.0]),  # NULL in -> NULL out
]


@pytest.fixture(scope="module")
def pairs(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.DoubleType())),
            T.StructField("b", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(VECS, schema)
    df.createOrReplaceTempView("sql_pairs")
    return df


class TestDistanceParity:
    @pytest.mark.parametrize(
        "name,builder",
        [
            ("l2sq_dist", l2sq_dist),
            ("cos_dist", cos_dist),
            ("l1_dist", l1_dist),
            ("inner_dist", inner_dist),
            ("l2_dist", l2_dist),
        ],
    )
    def test_sql_equals_python(self, spark, pairs, name, builder):
        # one body per kernel: bit-equal, NULL and zero-norm rows included
        got = spark.sql(
            f"SELECT {name}(a, b) AS d FROM sql_pairs"
        ).collect()
        want = pairs.select(builder("a", "b").alias("d")).collect()
        assert got == want

    def test_float_array_implicit_cast(self, spark):
        """real[] columns (array<float>) work through the DOUBLE-typed
        SQL signature — pgvector/real[] interop (hnsw.c:435-448)."""
        schema = T.StructType(
            [
                T.StructField("a", T.ArrayType(T.FloatType())),
                T.StructField("b", T.ArrayType(T.FloatType())),
            ]
        )
        spark.createDataFrame(
            [([1.0, 2.0], [3.0, 5.0])], schema
        ).createOrReplaceTempView("sql_pairs_f32")
        row = spark.sql(
            "SELECT l2sq_dist(a, b) AS d FROM sql_pairs_f32"
        ).first()
        assert row["d"] == pytest.approx(13.0)

    def test_dim_mismatch_raises(self, spark):
        msg = r"l2sq_dist: dimension mismatch \(1 vs 2\)"
        with pytest.raises(Exception, match=msg):
            spark.sql(
                "SELECT l2sq_dist(array(1.0d), array(1.0d, 2.0d))"
            ).collect()
        df = spark.createDataFrame(
            [([1.0], [1.0, 2.0])], "a array<double>, b array<double>"
        )
        with pytest.raises(Exception, match=msg):
            df.select(l2sq_dist("a", "b")).collect()

    def test_hamming_parity(self, spark):
        schema = T.StructType(
            [
                T.StructField("a", T.ArrayType(T.IntegerType())),
                T.StructField("b", T.ArrayType(T.IntegerType())),
            ]
        )
        df = spark.createDataFrame(
            [([0b1011, -1], [0b0010, 0]), ([7, 7], [7, 7])], schema
        )
        df.createOrReplaceTempView("sql_pairs_ham")
        got = [
            r["h"]
            for r in spark.sql(
                "SELECT hamming_dist(a, b) AS h FROM sql_pairs_ham"
            ).collect()
        ]
        want = [
            r["h"]
            for r in df.select(hamming_dist("a", "b").alias("h")).collect()
        ]
        assert got == want == [2 + 32, 0]

    def test_l2_is_rooted(self, spark):
        row = spark.sql(
            "SELECT l2_dist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d"
        ).first()
        assert row["d"] == pytest.approx(5.0)


class TestVectorAlgebraParity:
    def test_all_ops(self, spark, pairs):
        got = spark.sql(
            """
            SELECT vec_dot(a, b) AS dot, vec_norm(a) AS na,
                   vec_normalize(a) AS an, vec_add(a, b) AS s,
                   vec_sub(a, b) AS diff, vec_scale(a, 2.5) AS sc
            FROM sql_pairs WHERE a IS NOT NULL
            """
        ).collect()
        want = pairs.where(F.col("a").isNotNull()).select(
            vec_dot("a", "b").alias("dot"),
            vec_norm("a").alias("na"),
            vec_normalize("a").alias("an"),
            vec_add("a", "b").alias("s"),
            vec_sub("a", "b").alias("diff"),
            vec_scale("a", 2.5).alias("sc"),
        ).collect()
        assert got == want


class TestQuantAndTextParity:
    def test_sq_i8_roundtrip(self, spark):
        df = spark.createDataFrame(
            [([0.1, -0.9, 0.5, 0.0],)], "a array<double>"
        )
        df.createOrReplaceTempView("sql_sq")
        got = spark.sql(
            "SELECT sq_decode_i8(sq_encode_i8(a, -1.0d, 1.0d), -1.0d, 1.0d)"
            " AS r, sq_encode_i8(a, -1.0d, 1.0d) AS codes FROM sql_sq"
        ).first()
        want = df.select(
            sq_decode_i8(sq_encode_i8("a", -1.0, 1.0), -1.0, 1.0).alias("r"),
            sq_encode_i8("a", -1.0, 1.0).alias("codes"),
        ).first()
        assert got["codes"] == want["codes"]
        assert got["r"] == pytest.approx(want["r"], abs=1e-12)

    def test_tokenize_parity(self, spark):
        df = spark.createDataFrame(
            [("The Quick, Brown FOX!! jumps-42 över",)], "s string"
        )
        df.createOrReplaceTempView("sql_tok")
        got = spark.sql("SELECT tokenize_text(s) AS t FROM sql_tok").first()
        want = df.select(tokenize("s").alias("t")).first()
        assert got["t"] == want["t"]
        got_u = spark.sql(
            "SELECT tokenize_text_unicode(s) AS t FROM sql_tok"
        ).first()
        want_u = df.select(tokenize("s", unicode=True).alias("t")).first()
        assert got_u["t"] == want_u["t"]
        assert "över" in got_u["t"]  # unicode letters survive

    def test_stem_parity_and_golden(self, spark):
        """SQL text_to_stem_array ≡ Python rust-engine pipeline, pinned
        on the reference golden (stemmers.rs:155-166)."""
        df = spark.createDataFrame(
            [("The quick brown fox jumps over the lazy dog",)], "s string"
        )
        df.createOrReplaceTempView("sql_stem")
        got = spark.sql(
            "SELECT text_to_stem_array(s) AS t FROM sql_stem"
        ).first()
        want = df.select(text_to_stem_array("s").alias("t")).first()
        assert got["t"] == want["t"]
        assert got["t"] == ["quick", "brown", "fox", "jump", "over",
                            "lazi", "dog"]

    def test_bm25_term_score_matches_reference_math(self, spark):
        # idf * fq*(k1+1)/(fq + k1*(1 - b + b*len/avg)), bm25_agg.rs:139-151
        row = spark.sql(
            "SELECT bm25_term_score(3.0d, 120.0d, 5.0d, 100.0d, 100.0d,"
            " 1.2d, 0.75d) AS s"
        ).first()
        idf = math.log((100 - 5 + 0.5) / (5 + 0.5) + 1.0)
        denom = 3.0 + 1.2 * (1 - 0.75 + 0.75 * 120.0 / 100.0)
        assert row["s"] == pytest.approx(idf * 3.0 * 2.2 / denom, rel=1e-12)


class TestPlanAndEndToEnd:
    def test_sql_udf_inlines_no_python_boundary(self, spark, pairs):
        """The distance SQL functions must inline into the plan: no
        BatchEvalPython / ArrowEvalPython / SQLFunction call node."""
        plan = (
            spark.sql("SELECT l2sq_dist(a, b) AS d FROM sql_pairs")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan
        assert "aggregate(zip_with" in plan  # raw inlined expression

    def test_order_by_limit_is_take_ordered(self, spark, sf_dir):
        """The reference's entry point — ORDER BY v <-> q LIMIT k — as
        literal Spark SQL, planned as TakeOrderedAndProject (the exact
        top-k physical operator knn_search gets)."""
        views = register_tables(spark, sf_dir, ["embeddings"])
        assert views == ["embeddings"]
        q = "array(" + ", ".join(
            f"{0.01 * i}d" for i in range(64)
        ) + ")"
        sql = f"""
            SELECT vec_id, l2sq_dist(embedding, {q}) AS dist
            FROM embeddings ORDER BY dist, vec_id LIMIT 10
        """
        df = spark.sql(sql)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        rows = df.collect()
        assert len(rows) == 10
        # equivalence with the Python surface
        from lantern_spark.operators.knn import knn_search
        from lantern_spark.types import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        want = [
            r["vec_id"]
            for r in knn_search(
                emb, "embedding", [0.01 * i for i in range(64)], k=10
            ).collect()
        ]
        assert [r["vec_id"] for r in rows] == want

    def test_install_idempotent(self, spark):
        names = install_sql_functions(spark)
        assert "l2sq_dist" in names and "text_to_stem_array" in names
        # second install is a no-op semantically
        row = spark.sql(
            "SELECT cos_dist(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS d"
        ).first()
        assert row["d"] == pytest.approx(1.0)


class TestRoutedSql:
    """The reference's planner hook (hnsw.c:164-172): the SAME SQL text
    silently uses an index when the catalog has an eligible one, and
    the exact scan otherwise — VERDICT r6 missing item 1."""

    def _sql(self, probe):
        # the alias form: Spark 4 forbids SQL UDFs directly in Sort
        # (UNSUPPORTED_SQL_UDF_USAGE), so ORDER BY the select alias is
        # the shape real queries take
        q = "array(" + ", ".join(f"{x}d" for x in probe) + ")"
        return (
            f"SELECT vec_id, l2sq_dist(embedding, {q}) AS dist "
            f"FROM embeddings "
            f"ORDER BY dist, vec_id LIMIT 5"
        )

    def test_same_sql_routes_by_catalog(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.plans.router import IndexCatalog
        from lantern_spark.sqlapi import register_tables, routed_sql
        from lantern_spark.types import load_table

        register_tables(spark, sf_dir, ["embeddings"])
        emb = load_table(spark, sf_dir, "embeddings")
        probe = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        sql = self._sql(probe)

        # empty catalog → exact scan, result identical to plain SQL
        empty = IndexCatalog(str(tmp_path / "cat0"))
        out, dec = routed_sql(spark, sql, catalog=empty, explain=True)
        assert dec is not None and dec.access_path == "exact"
        exact_rows = [(r["vec_id"], round(r["dist"], 6)) for r in out.collect()]
        assert exact_rows == [
            (r["vec_id"], round(r["dist"], 6))
            for r in spark.sql(sql).collect()
        ]

        # catalog WITH a cheap IVF entry → the same text routes to it
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42,
        )
        cat = IndexCatalog(str(tmp_path / "cat1"))
        cat.register_ivf(idx, "embeddings", nprobe=4, recall_estimate=0.99)
        out2, dec2 = routed_sql(spark, sql, catalog=cat, explain=True)
        assert dec2.access_path == "ivf", dec2.reason
        rows2 = out2.collect()
        assert len(rows2) == 5
        # the probe IS a corpus member: its own row must surface at
        # distance 0 through the index route (the probed cell contains
        # it by construction)
        assert rows2[0]["vec_id"] == emb.orderBy("vec_id").first()["vec_id"]
        assert rows2[0]["dist"] == pytest.approx(0.0, abs=1e-9)
        # projection + ordering come from re-running the ORIGINAL SQL
        # over the candidate ids — columns identical to the exact path
        assert out2.columns == out.columns

    def test_recall_floor_gates_routing(self, spark, sf_dir, tmp_path):
        """An index whose measured recall is below the caller's floor
        must NOT capture the query (router contract on the SQL path)."""
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.plans.router import IndexCatalog
        from lantern_spark.sqlapi import register_tables, routed_sql
        from lantern_spark.types import load_table

        register_tables(spark, sf_dir, ["embeddings"])
        emb = load_table(spark, sf_dir, "embeddings")
        probe = [0.25] * 64
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=8, seed=42,
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf(idx, "embeddings", nprobe=1, recall_estimate=0.5)
        _, dec = routed_sql(
            spark, self._sql(probe), catalog=cat,
            recall_floor=0.9, explain=True,
        )
        assert dec.access_path == "exact"

    def test_filtered_sql_routes_with_post_filter(
        self, spark, sf_dir, tmp_path
    ):
        """WHERE + ORDER BY dist LIMIT k hits the index (the
        reference's hnsw_select.sql:51 shape): candidates are
        over-fetched k·oversample and the WHERE applies post-hoc in
        the re-executed SQL.

        Equality with the exact scan is guaranteed BY CONSTRUCTION:
        four well-separated clusters, the probe at cluster 0's center,
        in-cluster points ordered by id with alternating parity — so
        the query's entire true neighborhood (filtered or not) lives
        in the probe's own cell, which a partial probe provably
        visits, and the k·oversample candidate pool contains every
        even row the filtered top-k needs. (A FULL probe can never
        win the cost race — nlist + n > n — so this is the honest
        routed shape whose candidate set is still exhaustive for the
        query.) Scarce filters may underfill k — the documented
        post-filter/oversample contract — which the second query
        exercises."""
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.plans.router import IndexCatalog
        from lantern_spark.sqlapi import routed_sql

        centers = [(0.0, 0.0), (1000.0, 0.0), (0.0, 1000.0), (1000.0, 1000.0)]
        rows = []
        for ci, (cx, cy) in enumerate(centers):
            for i in range(250):
                rows.append((ci * 250 + i, [cx + i * 0.01, cy]))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        df.createOrReplaceTempView("clustered_vecs")
        sql = (
            "SELECT vec_id, l2sq_dist(embedding, array(0.0d, 0.0d)) AS dist "
            "FROM clustered_vecs "
            "WHERE vec_id % 2 = 0 "
            "ORDER BY dist, vec_id LIMIT 5"
        )
        idx = IVFIndex.build(
            df, "embedding", "vec_id", str(tmp_path / "ivf"),
            metric="l2sq", nlist=4, seed=42,
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf(
            idx, "clustered_vecs", nprobe=3, recall_estimate=1.0
        )
        out, dec = routed_sql(
            spark, sql, catalog=cat, explain=True, oversample=4
        )
        assert dec.access_path == "ivf", dec.reason
        got = [(r["vec_id"], round(r["dist"], 6)) for r in out.collect()]
        want = [
            (r["vec_id"], round(r["dist"], 6))
            for r in spark.sql(sql).collect()
        ]
        assert got == want and len(got) == 5
        assert [v for v, _ in got] == [0, 2, 4, 6, 8]

        # scarce filter (selectivity << 1/oversample): the post-filter
        # contract UNDERFILLS k instead of erroring
        scarce = sql.replace("WHERE vec_id % 2 = 0", "WHERE vec_id = 8")
        out2, dec2 = routed_sql(
            spark, scarce, catalog=cat, explain=True, oversample=2
        )
        assert dec2.access_path == "ivf"
        assert out2.count() <= 1

    def test_non_matching_sql_falls_through(self, spark, sf_dir, tmp_path):
        from lantern_spark.plans.router import IndexCatalog
        from lantern_spark.sqlapi import register_tables, routed_sql

        register_tables(spark, sf_dir, ["embeddings"])
        cat = IndexCatalog(str(tmp_path / "cat"))
        out, dec = routed_sql(
            spark,
            "SELECT count(*) AS n FROM embeddings",
            catalog=cat,
            explain=True,
        )
        # r9: the fallback is decision-logged, not silent — the
        # reason says WHY the exact path ran
        from lantern_spark.sqlapi import SqlFallback

        assert isinstance(dec, SqlFallback)
        assert dec.access_path == "exact"
        assert "not recognized" in dec.reason
        assert out.first()["n"] > 0

    def test_projected_filtered_routed_equals_exact(
        self, spark, sf_dir, tmp_path
    ):
        """Real user SQL — projection list + WHERE + aliased distance —
        must route AND return the same rows as the unrouted exact
        query (r9, review r8 item 7)."""
        from lantern_spark.sqlapi import routed_sql

        cat, q = _synth_blobs(spark, tmp_path)
        lit = "array(" + ", ".join(f"{v}D" for v in q) + ")"
        sql = (
            "SELECT vec_id, "
            f"l2sq_dist(embedding, {lit}) AS d "
            "FROM synth_emb WHERE vec_id % 2 = 0 "
            "ORDER BY d, vec_id LIMIT 5"
        )
        exact = spark.sql(sql).collect()
        routed, dec = routed_sql(
            spark, sql, catalog=cat, explain=True, recall_floor=0.0,
            oversample=64,
        )
        assert dec.access_path != "exact", dec.reason
        got = routed.collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]
        assert got[0].asDict().keys() == exact[0].asDict().keys()

    def test_named_query_vector_param_routes(
        self, spark, sf_dir, tmp_path
    ):
        """`<dist>(col, :qvec)` + params routes identically to the
        inline-literal form — realistic dims never belong in SQL
        text."""
        from lantern_spark.sqlapi import SqlFallback, routed_sql

        cat, q = _synth_blobs(spark, tmp_path)
        sql = (
            "SELECT vec_id, l2sq_dist(embedding, :qvec) AS d "
            "FROM synth_emb ORDER BY d, vec_id LIMIT 5"
        )
        routed, dec = routed_sql(
            spark, sql, catalog=cat, explain=True, recall_floor=0.0,
            params={"qvec": q},
        )
        assert dec.access_path != "exact", dec.reason
        lit = "array(" + ", ".join(f"{v}D" for v in q) + ")"
        exact = spark.sql(sql.replace(":qvec", lit)).collect()
        assert [r["vec_id"] for r in routed.collect()] == [
            r["vec_id"] for r in exact
        ]
        # missing vector param: the exact path could not run either
        # (unbound marker) — expect OUR clear error, not Spark's
        with pytest.raises(ValueError, match=":qvec"):
            routed_sql(
                spark, sql, catalog=cat, explain=True,
                recall_floor=0.0, params={"qvec2": q},
            )
        assert SqlFallback is not None  # imported symbol exercised above


class TestSqlOnlyBM25:
    def test_pure_sql_bm25_matches_operator(self, spark, sf_dir):
        """The reference's search_bm25 composed ENTIRELY in Spark SQL
        from the registered surface (tokenize_text + bm25_term_score):
        a reference user can express full-text scoring without any
        Python API, and it must match operators/bm25.search_bm25."""
        from lantern_spark.operators.bm25 import build_bm25_stats, search_bm25
        from lantern_spark.sqlapi import register_tables
        from lantern_spark.types import load_table

        register_tables(spark, sf_dir, ["documents"])
        got = spark.sql(
            """
            WITH tl AS (
              SELECT doc_id, tokenize_text(text) AS toks FROM documents
            ),
            tl2 AS (SELECT doc_id, toks, size(toks) AS doc_len FROM tl),
            postings AS (
              SELECT term, doc_id, CAST(count(*) AS INT) AS fq,
                     any_value(doc_len) AS doc_len
              FROM (SELECT doc_id, doc_len, explode(toks) AS term FROM tl2)
              GROUP BY term, doc_id
            ),
            corpus AS (
              SELECT count(*) AS num_docs, avg(doc_len) AS avg_doc_len
              FROM tl2
            ),
            q AS (SELECT explode(array('spark','join','vector')) AS term),
            dfreq AS (
              SELECT term, count(*) AS df FROM postings GROUP BY term
            ),
            scored AS (
              SELECT p.doc_id,
                     sum(bm25_term_score(
                           CAST(p.fq AS DOUBLE), CAST(p.doc_len AS DOUBLE),
                           CAST(d.df AS DOUBLE), CAST(c.num_docs AS DOUBLE),
                           c.avg_doc_len, 1.2d, 0.75d)) AS bm25_score
              FROM postings p
              JOIN q USING (term) JOIN dfreq d USING (term)
              CROSS JOIN corpus c
              GROUP BY p.doc_id
            )
            SELECT doc_id, round(bm25_score, 6) AS bm25_score
            FROM scored ORDER BY bm25_score DESC, doc_id LIMIT 20
            """
        ).collect()
        docs = load_table(spark, sf_dir, "documents")
        stats = build_bm25_stats(docs, "doc_id", "text", stem=False)
        want = search_bm25(
            stats, "spark join vector", limit=20, stem=False, round_digits=6
        ).collect()
        assert [(r["doc_id"], r["bm25_score"]) for r in got] == [
            (r["doc_id"], r["bm25_score"]) for r in want
        ]


class TestRoutedSqlIvfPq:
    def test_ivf_pq_entry_dispatches_adc(self, spark, sf_dir, tmp_path):
        """A catalog whose best path is the ADC tier must route
        through search_adc, not crash in the ivf_graph branch
        (review r7 #2)."""
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.plans.router import IndexCatalog
        from lantern_spark.sqlapi import (
            install_sql_functions,
            register_tables,
            routed_sql,
        )
        from lantern_spark.types import PQSpec

        install_sql_functions(spark)
        register_tables(spark, sf_dir, ["embeddings"])
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb, "embedding", "vec_id", str(tmp_path / "pq"),
            metric="l2sq", nlist=4, seed=42,
            pq=PQSpec(dim=64, splits=8, clusters=16, seed=42),
        )
        cat = IndexCatalog(str(tmp_path / "cat"))
        cat.register_ivf_pq(
            idx, "embeddings", nprobe=4, oversample=8,
            recall_estimate=0.98,
        )
        # make ADC the only candidate: no other entries registered
        q = "array(" + ", ".join(
            f"{(i * 37 % 97) / 97.0}d" for i in range(64)
        ) + ")"
        sql = (
            f"SELECT vec_id, l2sq_dist(embedding, {q}) AS dist "
            "FROM embeddings ORDER BY dist, vec_id LIMIT 5"
        )
        out, decision = routed_sql(
            spark, sql, catalog=cat, explain=True, recall_floor=0.9
        )
        rows = out.collect()
        assert decision.access_path == "ivf_pq"
        assert len(rows) == 5


class TestUrlSqlFunctions:
    """r13: the URL-curation surface as SQL functions — every SQL body
    must agree with its Column operator byte-for-byte over a URL zoo
    (the bodies are built from the same regex/rule constants; this
    test is the drift pin)."""

    ZOO = [
        "https://www.Example.co.uk/A/b?x=1",
        "HTTP://user:pw@Example.COM:80/path?utm_source=x&keep=1#frag",
        "https://example.com:8443/x?b=2&a=1",
        "https://example.com?b=2&a=1",
        "https://example.com/p?&a=1&&b=2&",
        "http://sub.test.com.",
        "https://news.bbc.co.uk/story",
        "https://x.shop.foo.nagoya.jp/wild",
        "https://city.nagoya.jp/exception",
        "https://me.blogspot.com/private",
        "ftp://host.org/f",
        "  https://spaced.example.net/t  ",
        "not a url",
        "",
        None,
    ]

    def test_sql_matches_column_operators(self, spark):
        from pyspark.sql import functions as F

        from lantern_spark.operators.weburl import (
            normalize_url,
            registered_domain,
            surt_key,
            url_host,
            url_scheme,
        )
        from lantern_spark.sqlapi import install_url_functions

        names = install_url_functions(spark)
        assert set(names) == {
            "url_scheme", "url_host", "normalize_url", "surt_key",
            "registered_domain",
        }
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(self.ZOO)], "i long, u string"
        )
        df.createOrReplaceTempView("url_zoo")
        sql_rows = {
            r.i: (r.s, r.h, r.n, r.k, r.d)
            for r in spark.sql(
                "SELECT i, url_scheme(u) s, url_host(u) h, "
                "normalize_url(u) n, surt_key(u) k, "
                "registered_domain(u) d FROM url_zoo"
            ).collect()
        }
        col_rows = {
            r.i: (r.s, r.h, r.n, r.k, r.d)
            for r in df.select(
                "i",
                url_scheme("u").alias("s"),
                url_host("u").alias("h"),
                normalize_url("u").alias("n"),
                surt_key("u").alias("k"),
                registered_domain("u").alias("d"),
            ).collect()
        }
        bad = {
            self.ZOO[i]: (sql_rows[i], col_rows[i])
            for i in sql_rows
            if sql_rows[i] != col_rows[i]
        }
        assert bad == {}, bad

    def test_sql_url_dedup_shape(self, spark):
        """The SQL-first URL-dedup recipe: normalize + group, entirely
        in SQL, no Python in the plan."""
        from lantern_spark.sqlapi import install_url_functions

        install_url_functions(spark)
        spark.createDataFrame(
            [
                (1, "https://Example.com/a?utm_source=x"),
                (2, "http://example.com/a"),
                (3, "https://example.com/a"),
                (4, "https://other.net/b"),
            ],
            "doc_id long, url string",
        ).createOrReplaceTempView("docs_urls")
        out = spark.sql(
            "SELECT normalize_url(url) AS key, count(*) AS n, "
            "min(doc_id) AS keeper FROM docs_urls GROUP BY 1 ORDER BY 1"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        rows = {r.key: (r.n, r.keeper) for r in out.collect()}
        # scheme differs (http vs https) -> two of the three /a URLs
        # collapse; tracking param stripped
        assert rows["https://example.com/a"] == (2, 1)
        assert rows["http://example.com/a"] == (1, 2)
