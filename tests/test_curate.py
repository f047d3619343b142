"""Corpus curation pipeline: stage semantics, determinism, plan shape."""

import pytest
from pyspark.sql import functions as F

from lantern_spark.operators.curate import CurationConfig, curate_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    long_doc = " ".join(f"w{i} token body text" for i in range(40))
    rows = [
        (1, long_doc + " the quick brown fox jumps over the lazy dog"),
        (2, long_doc + " the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, long_doc + " the quick brown fox jumps over a lazy dog"),  # near dup of 1
        (4, "tiny"),  # fails min_tokens
        (5, "!!! ??? ... ###"),  # punctuation junk → low quality
        (6, " ".join(f"spark cluster item{i} executor shuffle" for i in range(40))),
        (7, None),  # null text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCurate:
    def test_stage_semantics(self, corpus):
        out, report = curate_corpus(
            corpus, "text", "doc_id",
            CurationConfig(min_tokens=5, min_quality=0.2, near_threshold=0.7),
            report=True,
        )
        ids = sorted(r["doc_id"] for r in out.collect())
        # 4 (short), 5 (junk), 7 (null) drop at heuristics; 2 drops at
        # exact dedup (dup of 1); 3 drops at near dedup (near-dup of 1,
        # min-id survivor keeps 1)
        assert ids == [1, 6]
        assert report["input"] == 7
        assert report["heuristics"] == 4
        assert report["exact_dedup"] == 3
        assert report["near_dedup"] == 2

    def test_stages_toggle(self, corpus):
        cfg = CurationConfig(
            min_tokens=5, min_quality=0.2, exact_dedup=False, near_dedup=False
        )
        ids = sorted(
            r["doc_id"]
            for r in curate_corpus(corpus, "text", "doc_id", cfg).collect()
        )
        assert ids == [1, 2, 3, 6]  # dups survive with dedup off

    def test_deterministic(self, corpus):
        cfg = CurationConfig(min_tokens=5, min_quality=0.2, near_threshold=0.7)
        a = sorted(
            r["doc_id"]
            for r in curate_corpus(corpus, "text", "doc_id", cfg).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in curate_corpus(corpus, "text", "doc_id", cfg).collect()
        )
        assert a == b

    def test_extra_predicates(self, corpus):
        cfg = CurationConfig(
            min_tokens=5, min_quality=0.2, exact_dedup=False,
            near_dedup=False,
            extra_predicates=[F.col("doc_id") % 2 == 0],
        )
        ids = sorted(
            r["doc_id"]
            for r in curate_corpus(corpus, "text", "doc_id", cfg).collect()
        )
        assert ids == [2, 6]

    def test_heuristics_fuse_into_one_scan(self, corpus):
        """Stages 1-3 are column expressions — no shuffle, no Python
        workers before the dedup stages."""
        cfg = CurationConfig(
            min_tokens=5, min_quality=0.2, exact_dedup=False, near_dedup=False
        )
        out = curate_corpus(corpus, "text", "doc_id", cfg)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan

    def test_corpus_scale_smoke(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = curate_corpus(
            docs, "text", "doc_id", CurationConfig(near_dedup=True)
        )
        n = out.count()
        assert 0 < n <= docs.count()


class TestDecontaminate:
    @pytest.fixture(scope="class")
    def sets(self, spark):
        base = (
            "alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike"
        )  # exactly 13 tokens
        train = spark.createDataFrame(
            [
                (0, f"prefix words {base} suffix words"),  # contains eval 13-gram
                (1, "totally unrelated content about sparkly engines here"),
                (2, "short doc"),  # < 13 tokens: never flagged
                (3, base),  # the eval text verbatim
            ],
            "doc_id long, text string",
        )
        heldout = spark.createDataFrame(
            [(100, base + " november oscar")],
            "doc_id long, text string",
        )
        return train, heldout

    def test_drop_removes_overlaps(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate

        train, heldout = sets
        kept = decontaminate(train, heldout, "text", "doc_id", ngram=13)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]

    def test_flag_mode_audits(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate

        train, heldout = sets
        flagged = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(
                train, heldout, "text", "doc_id", ngram=13, mode="flag"
            ).collect()
        }
        assert flagged == {0: True, 1: False, 2: False, 3: True}

    def test_short_docs_never_match_each_other(self, spark):
        from lantern_spark.operators.curate import decontaminate

        train = spark.createDataFrame(
            [(0, "tiny one"), (1, "tiny one")], "doc_id long, text string"
        )
        heldout = spark.createDataFrame(
            [(9, "tiny one")], "doc_id long, text string"
        )
        kept = decontaminate(train, heldout, "text", "doc_id", ngram=13)
        assert kept.count() == 2  # no 13-gram exists on either side

    def test_no_python_eval(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate

        train, heldout = sets
        plan = (
            decontaminate(train, heldout, "text", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan


class TestCuratePerplexityStage:
    def test_lm_stage_filters(self, spark, tmp_path):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )
        from lantern_spark.operators.ngram_lm import train_ngram_lm

        ref = spark.createDataFrame(
            [(i, "clean reference text flows nicely here") for i in range(4)],
            "doc_id long, text string",
        )
        lm = train_ngram_lm(ref, "text", str(tmp_path), n=2)
        mixed = spark.createDataFrame(
            [
                (0, "clean reference text flows nicely here"),
                (1, "zxq wvu gibberish tokens qqq ppp lll kkk"),
            ],
            "doc_id long, text string",
        )
        in_ppl = lm.score_docs(
            mixed.where("doc_id = 0"), "text", "doc_id"
        ).first()["ppl"]
        cfg = CurationConfig(
            near_dedup=False, exact_dedup=False,
            lm=lm, max_ppl=in_ppl * 3,
        )
        out, rep = curate_corpus(
            mixed, "text", "doc_id", config=cfg, report=True
        )
        assert [r["doc_id"] for r in out.collect()] == [0]
        assert rep["perplexity"] == 1
        assert set(out.columns) == {"doc_id", "text"}  # ppl dropped


class TestModelQualityAndPIIStages:
    def test_quality_model_stage_filters(self, spark):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )
        from lantern_spark.operators.quality_clf import (
            train_quality_classifier,
        )

        good = (
            "the quick brown fox jumps over the lazy dog and the bird "
            "sings while a friend reads books in the quiet house %d"
        )
        bad = "zqx wkj vvv zzz qqq xkcd jjj zz qq xx kk jj ww vv %d"
        train = spark.createDataFrame(
            [(i, good % i, 1.0) for i in range(40)]
            + [(100 + i, bad % i, 0.0) for i in range(40)],
            "doc_id long, text string, label double",
        )
        m = train_quality_classifier(
            train, "text", "label", n_features=1 << 12, max_iter=100,
            reg_param=1e-6,
        )
        corpus = spark.createDataFrame(
            [(1, good % 99), (2, bad % 99)], "doc_id long, text string"
        )
        out, rep = curate_corpus(
            corpus, "text", "doc_id",
            CurationConfig(
                near_dedup=False, exact_dedup=False,
                quality_model=m, min_model_prob=0.5,
            ),
            report=True,
        )
        rows = out.collect()
        assert [r["doc_id"] for r in rows] == [1]
        assert "quality_prob" in out.columns  # kept for mixture weighting
        assert rep["model_quality"] == 1 and rep["heuristics"] == 2

    def test_pii_stage_rewrites_in_place(self, spark):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )

        corpus = spark.createDataFrame(
            [
                (1, "write to me at jane.doe@example.com for the files "
                    "and call (555) 123-4567 tomorrow morning ok"),
            ],
            "doc_id long, text string",
        )
        out = curate_corpus(
            corpus, "text", "doc_id",
            CurationConfig(
                near_dedup=False, exact_dedup=False, redact_pii=True,
            ),
        )
        row = out.first()
        assert "<EMAIL>" in row["text"] and "<PHONE>" in row["text"]
        assert "example.com" not in row["text"]


class TestLineDedupStage:
    def test_line_dedup_runs_before_filters(self, spark):
        """A doc that is pure boilerplate after line dedup must fail
        the min_tokens filter — proving the scrub precedes the
        heuristics (the published pipeline order)."""
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )

        boiler = "accept all cookies to continue to the article content"
        good = ("the quick brown fox jumps over the lazy dog while the "
                "bird watches from a branch above the garden gate")
        df = spark.createDataFrame(
            [
                (1, f"{good}\n{boiler}"),
                (2, boiler),  # only the (now deduped) boilerplate
            ],
            "doc_id long, text string",
        )
        out, rep = curate_corpus(
            df, "text", "doc_id",
            CurationConfig(
                near_dedup=False, exact_dedup=False,
                line_dedup_scope="corpus", min_tokens=5,
            ),
            report=True,
        )
        rows = {r["doc_id"]: r["text"] for r in out.collect()}
        assert set(rows) == {1}
        assert boiler in rows[1] and good in rows[1]  # first occurrence
        assert rep["line_dedup"] == 2 and rep["heuristics"] == 1

class TestUrlStages:
    def test_blocklist_and_url_dedup_run_first(self, spark):
        """URL stages precede every content stage (RefinedWeb's order):
        a blocked-domain doc and a re-crawled URL both drop without
        their text ever being scored."""
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )

        good = ("the quick brown fox jumps over the lazy dog while the "
                "bird watches from a branch above the garden gate")
        df = spark.createDataFrame(
            [
                (1, good, "https://example.com/article"),
                (2, good + " again", "https://ads.spam.com/buy"),
                (3, good, "HTTPS://EXAMPLE.COM/article?utm_source=x"),
                (4, good + " four", None),  # NULL url always survives
            ],
            "doc_id long, text string, url string",
        )
        out, rep = curate_corpus(
            df, "text", "doc_id",
            CurationConfig(
                near_dedup=False, exact_dedup=False,
                url_col="url", blocked_domains=["spam.com"],
                url_dedup=True, min_tokens=5,
            ),
            report=True,
        )
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [1, 4]  # 2 blocked, 3 is a re-crawl of 1
        assert rep["url_blocklist"] == 3
        assert rep["url_dedup"] == 2
        assert rep["heuristics"] == 2


class TestSubstrDedupStage:
    def test_substr_dedup_runs_before_filters(self, spark):
        """A doc that is mostly a duplicated span must be judged by its
        POST-dedup token count — proving the rewrite precedes the
        heuristics, like line dedup."""
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )

        span = ("one two three four five six seven eight nine ten "
                "eleven twelve")
        df = spark.createDataFrame(
            [
                (1, f"{span} and a genuinely original closing sentence"),
                (2, f"{span} tiny tail"),  # 2 tokens after dedup
            ],
            "doc_id long, text string",
        )
        out, rep = curate_corpus(
            df, "text", "doc_id",
            CurationConfig(
                near_dedup=False, exact_dedup=False,
                substr_dedup_min_tokens=6, min_tokens=5,
                min_quality=0.0,
            ),
            report=True,
        )
        rows = {r["doc_id"]: r["text"] for r in out.collect()}
        assert set(rows) == {1}
        assert span in rows[1]  # first occurrence untouched
        assert rep["substr_dedup"] == 2 and rep["heuristics"] == 1
        # audit columns are internal to the stage, not pipeline output
        assert "removed_tokens" not in out.columns


class TestCurationAudit:
    """Single-pass drop accounting: heuristic_drop_reason must agree
    with the sequential curate_corpus filters, rule by rule, and the
    whole audit must be ONE scan."""

    def _cfg(self):
        from lantern_spark.operators.curate import CurationConfig

        return CurationConfig(
            min_tokens=3, max_tokens=10, min_quality=0.2,
            require_english=True, max_dup_line_frac=0.5,
            exact_dedup=False, near_dedup=False,
        )

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (0, None),                                   # null_text
                (1, "one two"),                              # too_short
                (2, " ".join(["tok"] * 20)),                 # too_long
                (3, "a1!!! b2??? c3%%% d4$$$ e5###"),        # low_quality
                (4, "zzz qqq xxx vvv www"),                  # not_english
                (5, "the dog\nthe dog\nthe dog\nthe dog"),   # dup_lines
                (6, "the quick brown fox is here"),          # kept
                (7, "a small cat sat on the mat"),           # kept
            ],
            "doc_id long, text string",
        )

    def test_reasons_match_rules(self, spark):
        from lantern_spark.operators.curate import heuristic_drop_reason

        df = self._corpus(spark)
        got = {
            r["doc_id"]: r["why"]
            for r in df.select(
                "doc_id",
                heuristic_drop_reason("text", self._cfg()).alias("why"),
            ).collect()
        }
        assert got[0] == "null_text"
        assert got[1] == "too_short"
        assert got[2] == "too_long"
        assert got[3] == "low_quality"
        assert got[4] == "not_english"
        assert got[5] == "dup_lines"
        assert got[6] is None and got[7] is None

    def test_kept_equals_sequential_pipeline(self, spark):
        from lantern_spark.operators.curate import (
            curate_corpus,
            curation_audit,
        )

        df = self._corpus(spark)
        audit = {
            r["stage"]: r["n_rows"]
            for r in curation_audit(df, "text", self._cfg()).collect()
        }
        survivors = curate_corpus(df, "text", "doc_id", self._cfg())
        assert audit.get("kept", 0) == survivors.count() == 2
        assert sum(audit.values()) == df.count()

    def test_extra_predicate_null_drops(self, spark):
        """filter(pred) drops NULL-evaluating rows; the audit must
        attribute them to the predicate, not count them kept."""
        from pyspark.sql import functions as F

        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
            curation_audit,
        )

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox is here", 5),
                (2, "a small cat sat on the mat", None),
            ],
            "doc_id long, text string, score int",
        )
        cfg = CurationConfig(
            min_quality=0.0, exact_dedup=False, near_dedup=False,
            extra_predicates=[F.col("score") > 3],
        )
        audit = {
            r["stage"]: r["n_rows"]
            for r in curation_audit(df, "text", cfg).collect()
        }
        assert audit == {"kept": 1, "extra_predicate_0": 1}
        assert curate_corpus(df, "text", "doc_id", cfg).count() == 1

    def test_single_scan_plan(self, spark, sf_dir):
        from lantern_spark.operators.curate import curation_audit

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (
            curation_audit(docs, "text", self._cfg())
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") == 1
        assert "EvalPython" not in plan


class TestCurateStaged:
    """Checkpointed pipeline: identical output, real resume, config
    invalidation, crash-staging cleanup."""

    def _cfg(self):
        from lantern_spark.operators.curate import CurationConfig

        return CurationConfig(
            min_tokens=2, min_quality=0.0, line_dedup_scope="corpus",
            line_dedup_min_chars=4, near_dedup=False,
        )

    def _corpus(self, spark):
        boiler = "shared boilerplate line here"
        rows = [
            (i, f"doc {i} opening words\n{boiler}\ndoc {i} closing words")
            for i in range(12)
        ] + [(100, "the same duplicated document"),
             (101, "the same duplicated document")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _mtimes(self, ckpt):
        import glob
        import os

        return {
            os.path.basename(d): os.path.getmtime(d)
            for d in glob.glob(f"{ckpt}/*")
            if os.path.isdir(d)
        }

    def test_staged_equals_inline(self, spark, tmp_path):
        from lantern_spark.operators.curate import (
            curate_corpus,
            curate_corpus_staged,
        )

        df = self._corpus(spark)
        want = sorted(
            map(tuple, curate_corpus(df, "text", "doc_id", self._cfg()).collect())
        )
        got = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id",
                    str(tmp_path / "ckpt"), self._cfg(),
                ).collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_resume_reuses_checkpoints(self, spark, tmp_path):
        from lantern_spark.operators.curate import curate_corpus_staged

        df = self._corpus(spark)
        ckpt = str(tmp_path / "ckpt")
        first = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        m1 = self._mtimes(ckpt)
        assert set(m1) == {"00_line_dedup", "01_heuristics", "02_exact_dedup"}
        second = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        assert second == first
        assert self._mtimes(ckpt) == m1  # nothing recomputed

    def test_config_change_invalidates_downstream_only(self, spark, tmp_path):
        import dataclasses

        from lantern_spark.operators.curate import curate_corpus_staged

        df = self._corpus(spark)
        ckpt = str(tmp_path / "ckpt")
        curate_corpus_staged(spark, df, "text", "doc_id", ckpt, self._cfg())
        m1 = self._mtimes(ckpt)
        cfg2 = dataclasses.replace(self._cfg(), min_tokens=3)
        out = curate_corpus_staged(spark, df, "text", "doc_id", ckpt, cfg2)
        m2 = self._mtimes(ckpt)
        # fingerprints are PER-STAGE (r9): a heuristics knob leaves the
        # line_dedup checkpoint untouched and recomputes only the first
        # affected stage and everything after it
        assert m2["00_line_dedup"] == m1["00_line_dedup"]
        assert m2["01_heuristics"] > m1["01_heuristics"]
        assert m2["02_exact_dedup"] > m1["02_exact_dedup"]
        assert out.count() > 0

    def test_late_stage_knob_reuses_upstream(self, spark, tmp_path):
        """The resume feature's main use case (r8 ADVICE): tuning a
        LAST-stage parameter after the expensive dedup shuffles must
        recompute only that stage."""
        import dataclasses

        from lantern_spark.operators.curate import curate_corpus_staged

        cfg = dataclasses.replace(
            self._cfg(), near_dedup=True, near_threshold=0.8
        )
        df = self._corpus(spark)
        ckpt = str(tmp_path / "ckpt")
        curate_corpus_staged(spark, df, "text", "doc_id", ckpt, cfg)
        m1 = self._mtimes(ckpt)
        cfg2 = dataclasses.replace(cfg, near_threshold=0.7)
        out = curate_corpus_staged(spark, df, "text", "doc_id", ckpt, cfg2)
        m2 = self._mtimes(ckpt)
        assert m2["03_near_dedup"] > m1["03_near_dedup"]
        for kept in ("00_line_dedup", "01_heuristics", "02_exact_dedup"):
            assert m2[kept] == m1[kept], kept
        assert out.count() > 0

    def test_corrupt_meta_recomputes_instead_of_crashing(
        self, spark, tmp_path
    ):
        from lantern_spark.operators.curate import curate_corpus_staged

        df = self._corpus(spark)
        ckpt = str(tmp_path / "ckpt")
        first = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        with open(f"{ckpt}/01_heuristics/_curate_meta.json", "w") as fh:
            fh.write('{"fingerprint": "tru')  # truncated mid-write
        again = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        assert again == first

    def test_crash_staging_cleared_and_partial_recomputed(self, spark, tmp_path):
        import os
        import shutil

        from lantern_spark.operators.curate import curate_corpus_staged

        df = self._corpus(spark)
        ckpt = str(tmp_path / "ckpt")
        first = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        # simulate a crash: stale __tmp staging + a checkpoint whose
        # _SUCCESS marker is missing (half-written)
        os.makedirs(f"{ckpt}/01_heuristics__tmp", exist_ok=True)
        os.remove(f"{ckpt}/01_heuristics/_SUCCESS")
        again = sorted(
            map(
                tuple,
                curate_corpus_staged(
                    spark, df, "text", "doc_id", ckpt, self._cfg()
                ).collect(),
            )
        )
        assert again == first
        assert not os.path.isdir(f"{ckpt}/01_heuristics__tmp")
        assert os.path.isfile(f"{ckpt}/01_heuristics/_SUCCESS")
        shutil.rmtree(ckpt, ignore_errors=True)


class TestCompressionBandStage:
    def test_band_filters_and_audit_agree(self, spark):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
            curation_audit,
        )

        import random
        import string

        rng = random.Random(8)
        prose = (
            "Researchers at the institute announced a collaboration to "
            "study coastal erosion patterns along the northern shoreline. "
            "Early findings suggest that sediment transport varies "
            "seasonally, with winter storms moving far more material than "
            "summer currents. Local officials plan to incorporate the "
            "results into the next infrastructure review."
        )  # non-repetitive prose: ratio ~0.64
        boiler = "buy now click here " * 150  # ~0.02
        soup = "".join(
            rng.choice(string.ascii_letters + string.digits + string.punctuation + " ")
            for _ in range(3000)
        )  # ~0.8
        df = spark.createDataFrame(
            [(0, boiler), (1, prose), (2, soup)], "doc_id long, text string"
        )
        cfg = CurationConfig(
            min_quality=0.0, exact_dedup=False, near_dedup=False,
            min_compression_ratio=0.3, max_compression_ratio=0.7,
        )
        kept = [r["doc_id"] for r in curate_corpus(df, "text", "doc_id", cfg).collect()]
        assert kept == [1]
        audit = {
            r["stage"]: r["n_rows"]
            for r in curation_audit(df, "text", cfg).collect()
        }
        assert audit == {
            "too_compressible": 1, "kept": 1, "incompressible": 1
        }


class TestGopherAndC4Stages:
    def test_gopher_stage_and_audit(self, spark):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
            curation_audit,
        )

        good = (
            "The researchers have found that the new method works well "
            "and scales to larger corpora of text with consistent "
            "improvements across every benchmark they tried so far in "
            "the latest series of experiments which continued for weeks "
            "and produced results that have to be checked with care by "
            "independent reviewers before the final publication appears."
        )
        listy = "\n".join(f"- bullet item number {i} right here today" for i in range(20))
        df = spark.createDataFrame(
            [(0, good), (1, listy)], "doc_id long, text string"
        )
        cfg = CurationConfig(
            min_quality=0.0, min_tokens=1, exact_dedup=False,
            near_dedup=False, gopher_rules=True,
        )
        kept = [r["doc_id"] for r in curate_corpus(df, "text", "doc_id", cfg).collect()]
        assert kept == [0]
        audit = {
            r["stage"]: r["n_rows"]
            for r in curation_audit(df, "text", cfg).collect()
        }
        assert audit == {"kept": 1, "gopher_rules": 1}

    def test_c4_stage_rewrites_and_drops(self, spark):
        from lantern_spark.operators.curate import (
            CurationConfig,
            curate_corpus,
        )

        good = (
            "This is the first proper sentence of the page.\n"
            "no punctuation here so it goes away\n"
            "Here is another complete sentence that stays!\n"
            "And more sentences follow. They keep coming. Right here."
        )
        df = spark.createDataFrame(
            [
                (0, good),
                (1, "Contains lorem ipsum. " + good),  # page marker drop
            ],
            "doc_id long, text string",
        )
        cfg = CurationConfig(
            min_quality=0.0, min_tokens=1, exact_dedup=False,
            near_dedup=False, c4_clean=True,
        )
        out = {r["doc_id"]: r["text"] for r in curate_corpus(df, "text", "doc_id", cfg).collect()}
        assert set(out) == {0}
        assert "no punctuation here" not in out[0]
        assert "first proper sentence" in out[0]


class TestDecontaminateFuzzy:
    """Fuzzy (MinHash/LSH + Jaccard-verified) decontamination: catches
    paraphrased eval leakage the exact 13-gram rule misses."""

    @pytest.fixture(scope="class")
    def sets(self, spark):
        import random

        rng = random.Random(7)
        words = [f"w{i:03d}" for i in range(400)]
        eval_toks = [words[rng.randrange(400)] for _ in range(120)]
        eval_text = " ".join(eval_toks)
        # Paraphrase: swap every 10th token — the longest verbatim run
        # is 9 tokens, so NO 13-gram survives, but ~70% of 3-shingles
        # are shared (substantially the same document).
        para = list(eval_toks)
        for i in range(0, len(para), 10):
            para[i] = "swapped" + str(i)
        para_text = " ".join(para)
        clean = " ".join(words[200 + i] for i in range(120))
        train = spark.createDataFrame(
            [
                (0, eval_text),   # verbatim leak
                (1, para_text),   # paraphrased leak — fuzzy-only
                (2, clean),       # clean
            ],
            "doc_id long, text string",
        )
        heldout = spark.createDataFrame(
            [(0, eval_text)], "hid long, text string"
        )
        return train, heldout

    def test_exact_rule_misses_paraphrase(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate

        train, heldout = sets
        kept = decontaminate(train, heldout, "text", "doc_id")
        assert sorted(r.doc_id for r in kept.collect()) == [1, 2]

    def test_fuzzy_catches_paraphrase(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate_fuzzy

        train, heldout = sets
        kept = decontaminate_fuzzy(train, heldout, "text", "doc_id")
        assert sorted(r.doc_id for r in kept.collect()) == [2]

    def test_flag_mode(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate_fuzzy

        train, heldout = sets
        flagged = {
            r.doc_id: r.contaminated
            for r in decontaminate_fuzzy(
                train, heldout, "text", "doc_id", mode="flag"
            ).collect()
        }
        assert flagged == {0: True, 1: True, 2: False}

    def test_verification_kills_banding_fps(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate_fuzzy

        train, heldout = sets
        # An impossible threshold: banding candidates all fail
        # verification, nothing drops — proving the Jaccard check is
        # live (threshold=None would drop every collision).
        kept = decontaminate_fuzzy(
            train, heldout, "text", "doc_id", threshold=1.01
        )
        assert kept.count() == 3
        dropped_unverified = decontaminate_fuzzy(
            train, heldout, "text", "doc_id", threshold=None
        )
        assert dropped_unverified.count() < 3

    def test_no_python_eval(self, spark, sets):
        from lantern_spark.operators.curate import decontaminate_fuzzy

        train, heldout = sets
        plan = (
            decontaminate_fuzzy(train, heldout, "text", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan

    def test_train_corpus_never_hash_shuffled(self, spark, sf_dir):
        """The held-out side and the candidates are the small sides:
        no hash exchange in the executed plan carries train rows."""
        from lantern_spark.operators.curate import decontaminate_fuzzy
        from tests.conftest import plan_nodes

        train = spark.read.parquet(f"{sf_dir}/documents.parquet")
        heldout = spark.createDataFrame(
            [(r.text,) for r in train.orderBy("doc_id").limit(3).collect()],
            "text string",
        )
        out = decontaminate_fuzzy(train, heldout, "text", "doc_id")
        assert len(out.collect()) <= train.count() - 3  # the 3 leaks at least
        final = out._jdf.queryExecution().executedPlan().executedPlan()
        for n in plan_nodes(final):
            if n.nodeName() == "Exchange" and str(
                n.outputPartitioning()
            ).startswith("hashpartitioning"):
                out_cols = [
                    n.output().apply(i).name() for i in range(n.output().size())
                ]
                assert "text" not in out_cols, n.toString()
