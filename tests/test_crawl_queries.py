"""r11 roster swap: wet_documents_docs / packed_ids_export in,
events_rollup_type_hour / pq_adc_topk out (50-query driver cap).

Pins: the roster shape itself, oracle parity of both new queries at
sf0.001 (the driver re-checks at sf0.01), and the retired ROLLUP
query's DuckDB replay (promised in its retirement note — grouping-sets
parity must survive leaving the roster)."""

import duckdb
import pytest

from lantern_spark import registry

SF = "/root/testdata/sf0.001"
TABLES = ["events", "documents"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return con


class TestRosterShape:
    def test_swap(self):
        qs = registry.queries()
        oracles = registry.oracle_sql()
        assert "wet_documents_docs" in qs and "wet_documents_docs" in oracles
        assert "packed_ids_export" in qs and "packed_ids_export" in oracles
        assert "events_rollup_type_hour" not in qs
        assert "pq_adc_topk" not in qs
        # r12 swap: ivf_fullprobe_top10 out, domain_link_graph_edges in
        assert "domain_link_graph_edges" in qs
        assert "domain_link_graph_edges" in oracles
        assert "ivf_fullprobe_top10" not in qs
        assert len(qs) == 50  # the driver cap, exactly filled


class TestNewQueriesOracleParity:
    @pytest.mark.parametrize(
        "name",
        ["wet_documents_docs", "packed_ids_export",
         "domain_link_graph_edges"],
    )
    def test_hash_parity_sf0001(self, spark, duck, name):
        df = registry.queries()[name](spark, SF)
        srows, scols = df.collect(), df.columns
        orows = duck.execute(registry.oracle_sql()[name]).fetchall()
        ocols = [d[0] for d in duck.description]
        assert len(srows) > 0
        assert sorted(scols) == sorted(ocols)
        assert _rowset(srows, scols) == _rowset(orows, ocols)

    @pytest.mark.parametrize(
        "name,bound",
        # every job the call submits (construction + collect) at sf0.001
        # when first pinned; bm25_consolidated_top20 counts its two
        # construction threads' jobs too
        [("bm25_consolidated_top20", 16), ("packed_ids_export", 11)],
    )
    def test_job_count(self, spark, spark_jobs, name, bound):
        query = registry.queries()[name]
        _, jobs = spark_jobs(lambda: query(spark, SF).collect())
        assert jobs <= bound, f"{name} ran {jobs} jobs"

    def test_packed_export_token_conservation(self, spark):
        """Every non-empty document's ids (+eos) appear exactly once
        across packs (truncated tails excepted — bounded by one doc
        per pack), and doc_starts line up with n_docs. Runs against
        the ARRAY form (packed_ids_full) — the roster row projects it
        to driver-canonicalizable scalars."""
        from lantern_spark.queries.crawl import packed_ids_full

        df = packed_ids_full(spark, SF)
        rows = df.collect()
        for r in rows:
            assert r.n_tokens == len(r.input_ids) <= 512
            assert 1 <= len(r.doc_starts) <= r.n_docs
            assert r.doc_starts[0] == 0
            assert all(
                a < b for a, b in zip(r.doc_starts, r.doc_starts[1:])
            )

    def test_wet_fixture_is_gzipped_archive(self, spark):
        import gzip

        from lantern_spark.queries.crawl import _build_wet_fixture

        path = _build_wet_fixture(spark, SF)
        with open(path, "rb") as fh:
            assert fh.read(2) == b"\x1f\x8b"
        with gzip.open(path, "rb") as fh:
            assert fh.read(5) == b"WARC/"


class TestRetiredRollupReplay:
    """events_rollup_type_hour left the roster but its grouping-sets
    parity pin lives on here (retirement-note promise)."""

    SQL = """
    SELECT event_type,
           CASE WHEN GROUPING(hour) = 1 THEN NULL ELSE hour END AS hour,
           count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value,
           GROUPING(event_type)::INT + 2*GROUPING(hour)::INT AS lvl
    FROM (SELECT event_type, date_part('hour', ts)::INT AS hour, value
          FROM events)
    GROUP BY ROLLUP(event_type, hour)
    """

    def test_rollup_duckdb_parity(self, spark, duck):
        from lantern_spark.queries.relational import events_rollup_type_hour

        df = events_rollup_type_hour(spark, SF)
        srows, scols = df.collect(), df.columns
        orows = duck.execute(self.SQL).fetchall()
        ocols = [d[0] for d in duck.description]
        assert len(srows) == len(orows) > 0
        assert sorted(scols) == sorted(ocols)
        assert _rowset(srows, scols) == _rowset(orows, ocols)
