"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import refs  # noqa: E402
import stats  # noqa: E402


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


@pytest.mark.parametrize("make", [
    lambda s: gen.vector_corpus(s, 300, 20),
    lambda s: gen.write_stream(s, gen.vector_corpus(1, 300, 0)[1], 3, 5, 3, 3),
    lambda s: gen.documents(s, 120),
    lambda s: gen.bm25_queries(s, gen.documents(1, 50)[4], 30),
])
def test_generators_repeat_per_seed_and_differ_across_seeds(make):
    assert _same(make(7), make(7))
    assert not _same(make(7), make(8))


def test_documents_have_the_promised_mix():
    ids, texts, labels, groups, _vocab = gen.documents(3, 200)
    assert len(set(ids.tolist())) == 200
    assert labels.count("exact") == labels.count("near") == labels.count("low") == 20
    for t, lab, g in zip(texts, labels, groups):
        if lab == "exact":
            assert t == texts[g]
        elif lab == "near":
            assert t != texts[g]
        elif lab == "low":
            assert len(refs.tokenize(t)) < 5


def test_write_stream_never_touches_a_deleted_id():
    x = gen.vector_corpus(2, 200, 0)[1]
    dead = set()
    for c in gen.write_stream(2, x, 6, 5, 4, 4):
        touched = set(c["update_ids"].tolist()) | set(c["delete_ids"].tolist())
        assert not touched & dead
        assert not set(c["update_ids"].tolist()) & set(c["delete_ids"].tolist())
        dead |= set(c["delete_ids"].tolist())


def test_percentile_refuses_without_ten_samples_beyond():
    with pytest.raises(ValueError):
        stats.percentile(range(99), 90)
    assert stats.percentile(range(100), 90) == pytest.approx(89.1)
    assert stats.percentile(range(20), 50) == pytest.approx(9.5)
    with pytest.raises(ValueError):
        stats.percentile(range(19), 50)


def test_latency_summary_omits_an_unsupported_p90():
    s = stats.latency_summary(list(range(50)))
    assert s["n"] == 50 and "p90" not in s
    assert s["first_half_p50"] == 12 and s["second_half_p50"] == 37
    assert "p90" in stats.latency_summary(list(range(100)))


def test_interval_union_counts_overlaps_once_and_clips():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert stats.interval_union(jobs) == pytest.approx(4.0)
    assert stats.interval_union(jobs, 1.5, 5.25) == pytest.approx(1.75)
    assert stats.interval_union([]) == 0.0
    # driver gap of a 10 s call whose jobs cover 4 s of it
    assert 10.0 - stats.interval_union(jobs, 0.0, 10.0) == pytest.approx(6.0)


def test_self_time_subtracts_only_direct_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps its sibling
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.5},
        {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_exact_topk_and_tie_tolerant_compare():
    ids = np.arange(5, dtype=np.int64)
    x = np.asarray([[0.0], [1.0], [-1.0], [2.0], [3.0]], dtype=np.float32)
    got_ids, d = refs.exact_topk(ids, x, [0.0], 2)
    assert got_ids.tolist() == [0, 1] and d.tolist() == [0.0, 1.0]
    # id 2 ties with id 1 at the boundary: either is a valid answer
    assert refs.same_topk([0, 2], [0.0, 1.0], got_ids, d)
    assert not refs.same_topk([1, 2], [1.0, 1.0], got_ids, d)


def test_bm25_reference_scores_by_hand():
    ref = refs.BM25Reference([1, 2], ["apple pie", "apple apple tart tart"])
    sc = ref.scores("tart")
    idf = np.log((2 - 1 + 0.5) / (1 + 0.5) + 1.0)
    avgdl = 3.0
    expect = idf * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 4 / avgdl))
    assert sc == {2: pytest.approx(expect)}
    ok, rc = ref.check("tart", [(2, expect)], k=10)
    assert ok and rc == 1.0
    assert not ref.check("tart", [(1, expect)], k=10)[0]


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import run

    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_search_layers_reduce_over_window_calls_only():
    def rec(layer, ms, in_window, jobs=1):
        return dict(dict.fromkeys(layers._UNITS, 0.0), layer=layer, traced=True,
                    in_window=in_window, ms=ms, build_ms=ms, jobs=jobs)

    calls = [rec("index.search", 900.0, False, jobs=5),  # warm-up
             rec("index.search", 100.0, True), rec("index.search", 120.0, True),
             rec("index.build", 2000.0, False), rec("index.build", 4000.0, False)]
    vals = layers.from_calls(calls)
    assert vals["index.search.build_ms"] == pytest.approx(110.0)
    assert vals["index.search.jobs"] == pytest.approx(1.0)
    # set-up layers keep every call
    assert vals["index.build.s"] == pytest.approx(3.0)
    assert vals["hnsw.search.build_ms"] == 0.0
