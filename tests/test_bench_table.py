"""bench.py's entry table and its one measurement helper (Bench.run)."""

import pytest

import bench


class _NoCodegenFailures:
    def advance(self):
        return []


@pytest.fixture
def b(tracer, sf_dir):
    return bench.Bench(tracer, sf_dir, _NoCodegenFailures())


def _boom(_):
    raise RuntimeError("boom")


def test_failing_entry_records_minus_one_and_the_run_goes_on(b, capsys):
    b.run(bench.Entry("boom", _boom, headline=True))
    b.run(bench.Entry("quality", lambda _: {"k": 1}))
    assert b.timings == {"boom": -1.0}
    assert b.layers["boom"] == {"s": -1.0}
    assert b.quality == {"k": 1}
    assert "# bench boom FAILED: boom" in capsys.readouterr().err


def test_dataframe_entry_is_materialized_under_its_job_group(b):
    entry = bench.Entry(
        "df",
        lambda bb: bb.spark.range(100).selectExpr("id", "id * 2 AS x"),
        reps=2,
        headline=True,
    )
    b.run(entry)
    assert len(b.runs["df"]) == 2
    assert b.timings["df"] == round(min(b.runs["df"]), 3) >= 0
    assert b.total > 0
    rec = b.layers["df"]
    assert rec["jobs"] >= 1 and rec["tasks"] >= 1
    assert set(bench.LAYER_FIELDS) <= set(rec)


def test_every_headline_name_resolves_to_a_callable():
    qs = bench.headline_queries()
    assert list(qs) == bench.HEADLINE
    assert all(callable(fn) for fn in qs.values())
    table = bench.table()
    names = [e.name for e in table]
    assert len(names) == len(set(names))
    assert [e.name for e in table if e.headline and e.reps == 2] == (
        bench.HEADLINE
    )
