"""The ``text_curation`` workload: batch curation, near-dedup, text
statistics and a BM25 postings build, then closed-loop BM25 search."""

from __future__ import annotations

import time

import numpy as np

import gen
import refs
from harness import median

N_DOCS = 400
K = 10
WARM_QUERIES = 36  # fixed, like the vector warm-up
SETUP_REPS = 3
TRACED_QUERIES = 16
# Near-dedup recall floor over the generator's ground truth. A generated
# near duplicate shares about 0.83 of its word 3-shingles with its
# source, so the program's 4x4-band LSH (P(candidate) ~ 0.92 at that
# Jaccard) and its 0.8 verify threshold miss some pairs by design: ten
# seeds gave recall 0.775-0.95 (about 40 removable documents each). The
# floor sits five standard deviations below that; a stage that finds
# nothing scores 0.
NEAR_DEDUP_MIN_RECALL = 0.6


def text_curation(run) -> dict:
    from lantern_spark.operators import bm25, curate, dedup, textstats

    rep_s, build_s = [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        ids, texts, labels, groups, vocab = gen.documents(run.seed, N_DOCS)
        path = run.write_parquet(f"docs{rep}.parquet", {"id": ids, "text": texts})
        df = run.spark.read.parquet(path)
        stats, r = run.op("bm25.build", lambda: bm25.build_bm25_stats_materialized(
            df, "id", "text", stem=False))
        if stats is None:
            raise RuntimeError("BM25 build failed: " + run.errors[-1])
        rep_s.append(time.perf_counter() - t0)
        build_s.append(r["ms"] / 1e3)

    ref = refs.BM25Reference(ids, texts)
    queries = gen.bm25_queries(run.seed, vocab, 4096)
    state = {"i": 0}
    recalls = []

    def one_query(_i=None):
        qtext = queries[state["i"] % len(queries)]
        state["i"] += 1

        def check(rows):
            ok, rc = ref.check(qtext, [(int(r[0]), float(r[1])) for r in rows], K)
            if run.measuring:
                recalls.append(rc)
            return ok

        with run.tracer.request("bm25_query"):
            run.op("bm25.search", lambda: bm25.search_bm25(stats, qtext, limit=K, stem=False),
                   lambda out: out.collect(), "query", check)

    run.warm_up(one_query, WARM_QUERIES)
    wall = run.window("window", run.alternating(one_query), run.seconds,
                      fixed_rounds=TRACED_QUERIES if run.trace else None)

    # batch stages, checked against the generator's ground truth
    text_of = {int(i): t for i, t in zip(ids, texts)}
    label_of = {int(i): lab for i, lab in zip(ids, labels)}
    # duplicate group of a document: the position of the unique document
    # it copies (its own position for a unique one); None for low quality
    group_key = {int(i): grp if grp >= 0 else (pos if lab == "unique" else None)
                 for pos, (i, lab, grp) in enumerate(zip(ids, labels, groups))}
    cfg = curate.CurationConfig(near_dedup=False)  # near dedup is its own stage below

    def check_curated(rows):
        kept = {int(r[0]) for r in rows}
        run.detail["curate_survivors"] = len(kept)
        kept_texts = [text_of[i] for i in kept]
        must_keep = {text_of[i] for i, lab in label_of.items() if lab in ("unique", "near")}
        # no low-quality survivor, one survivor per distinct text, and
        # every unique or near-duplicate text survives in some copy
        return (all(label_of[i] != "low" for i in kept)
                and len(set(kept_texts)) == len(kept_texts)
                and must_keep <= set(kept_texts))

    def check_dedup(present):
        def check(rows):
            kept = {int(r[0]) for r in rows}
            removed = present - kept
            run.detail["near_dedup_removed"] = len(removed)
            members: dict = {}
            for i in present:
                g = group_key.get(i)
                if g is not None:
                    members.setdefault(g, []).append(i)
            lowest = {g: min(m) for g, m in members.items()}
            # every member of a duplicate group but its smallest should go
            removable = {i for g, m in members.items() for i in m if i != lowest[g]}
            recall = len(removed & removable) / len(removable) if removable else 1.0
            run.detail["near_dedup_recall"] = recall
            # only a document with a smaller near-duplicate may go, the
            # smallest member of every duplicate group stays, and most
            # of the removable ones go
            return (removed <= removable and kept <= present
                    and all(i in kept for i in lowest.values())
                    and recall >= NEAR_DEDUP_MIN_RECALL)
        return check

    tok_counts = {int(i): len(refs.tokenize(t)) for i, t in zip(ids, texts)}

    def check_stats(rows):
        got = {int(r[0]): int(r[1]) for r in rows}
        return got == tok_counts

    curated_path = run.path("curated.parquet")

    def batch_phase():
        out = {}
        _, r = run.op("curate.curate_corpus",
                      lambda: curate.curate_corpus(df, "text", "id", config=cfg),
                      lambda d: d.write.mode("overwrite").parquet(curated_path))
        out["curate"] = r["ms"] / 1e3 if r else float("nan")
        # near dedup runs on the curated corpus, the published pipeline
        # order (quality filters first, then dedup)
        curated = run.spark.read.parquet(curated_path)
        rows = curated.select("id").collect()
        run.expect(check_curated(rows), "curate_corpus: wrong survivors")
        present = {int(r[0]) for r in rows}
        _, r = run.op("dedup.near_dedup",
                      lambda: dedup.near_dedup_minhash(curated, "text", "id"),
                      lambda d: d.select("id").collect(), None, check_dedup(present))
        out["dedup"] = r["ms"] / 1e3 if r else float("nan")
        _, r = run.op("textstats.text_stats", lambda: textstats.text_stats(df, "text", "id"),
                      lambda d: d.select("id", "n_tokens_ws").collect(), None, check_stats)
        out["text_stats"] = r["ms"] / 1e3 if r else float("nan")
        return out

    stage_s = run.timed_phase("batch", batch_phase)
    stage_s["bm25_build"] = median(build_s)
    if run.trace:
        _dedup_counters(run, run.spark.read.parquet(curated_path))
    q = run.lat.get("query", [])
    docs_per_s = N_DOCS / sum(stage_s.values())
    run.detail.update({"docs": N_DOCS, "stage_s": stage_s, "docs_per_s": docs_per_s,
                       "bm25_build_docs_per_s": N_DOCS / median(build_s)})
    return {
        "setup_rep_s": rep_s,
        "query_ms": q,
        "round_ms": run.round_ms,
        "queries_per_s": len(q) / wall,
        "batch_items_per_s": docs_per_s,
        "build_items_per_s": run.detail["bm25_build_docs_per_s"],
        "recall_at10": float(np.mean(recalls)) if recalls else 0.0,
    }


def _dedup_counters(run, df) -> None:
    """LSH candidate and verified pair counts, from the dedup module's
    public stages (traced runs only; untimed)."""
    from lantern_spark.operators import dedup

    sigs = dedup.minhash_docs(df, "text", "id")
    cands = dedup.lsh_candidate_pairs(sigs, "id")
    n_cand = cands.count()
    n_ver = dedup.ngram_jaccard(df, "text", "id", cands, 3, 0.8).count()
    run.detail["dedup_candidate_pairs"] = n_cand
    run.detail["dedup_verify_yield"] = n_ver / n_cand if n_cand else 0.0
