"""Corpus curation pipeline: the canonical pretraining-data filter.

North-star extension (BASELINE.json): the standard LLM training-data
recipe — language filter → quality filter → exact dedup → near dedup —
composed from this repo's operators into one declarative pipeline.
Every stage is a DataFrame→DataFrame transform, so Catalyst fuses the
column-expression stages (lang-ID, quality, length) into a single scan
pass; only the dedup stages shuffle.

Scale notes (100 TB):
- stages 1-3 (lang/quality/length) are pure column expressions — ONE
  map-only pass over the corpus, no Python workers;
- exact dedup shuffles md5 hashes once (never the content);
- near dedup is MinHash→LSH→verify→connected-components — the
  O(n·bands) shuffle shape of operators/dedup, never all-pairs;
- the report aggregates per-stage drop counts with a single pass per
  stage boundary (one job each) — at scale, run with ``report=False``
  and the whole filter is (1 scan + dedup shuffles), no extra actions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lantern_spark.operators.dedup import dedup_clusters, exact_dedup
from lantern_spark.operators.textstats import (
    lang_id_en,
    quality_score,
    token_count_ws,
)


@dataclass
class CurationConfig:
    """Thresholds of the standard filter (Gopher/C4-style heuristics —
    published rules, tuned loose by default)."""

    min_tokens: int = 5
    max_tokens: int = 100_000
    min_quality: float = 0.25
    require_english: bool = False
    # Gopher repetition rules (Rae et al. 2021 Table A1: 0.30 dup-line,
    # 0.20 top-2-gram); None (default) disables a rule — OPT-IN so
    # adding these fields never silently changes an existing pipeline's
    # corpus composition. Pure expressions — they fuse into the same
    # map-only heuristic scan.
    max_dup_line_frac: Optional[float] = None
    max_top2gram_frac: Optional[float] = None
    # Dolma-family compression-ratio band (zlib bytes / raw bytes):
    # boilerplate compresses far below prose, byte soup above it —
    # keep the middle. OPT-IN; the signal is an Arrow kernel, so
    # enabling it adds one ArrowEvalPython stage to the heuristic scan
    # (still map-only, no shuffle).
    min_compression_ratio: Optional[float] = None
    max_compression_ratio: Optional[float] = None
    # the FULL Gopher Table A1 document-rule block at published
    # defaults (word-count band, mean word length, symbol/word ratio,
    # bullet/ellipsis line fractions, alpha-word fraction, >= 2
    # required stopwords) as one fused boolean expr; pair with the
    # repetition knobs above for the complete Gopher filter. OPT-IN.
    gopher_rules: bool = False
    # C4 cleaning (Raffel et al. 2020 §2.2): drop pages with bad
    # markers / < 5 sentences, then REWRITE pages keeping only lines
    # with >= 3 words ending in terminal punctuation. A rewrite stage —
    # runs with the other rewrites BEFORE the heuristics. OPT-IN.
    c4_clean: bool = False
    exact_dedup: bool = True
    near_dedup: bool = True
    near_threshold: float = 0.8
    minhash_hashes: int = 16
    minhash_bands: int = 4
    shingle_k: int = 3
    extra_predicates: list = field(default_factory=list)
    # optional CCNet-style perplexity stage: an operators/ngram_lm
    # NGramLM plus a ceiling; runs after the heuristics (joins against
    # the LM counts table — not fuseable into the map-only scan).
    # Contract (ADVICE r6): the stage's inner join drops any row the
    # LM cannot score. Inside curate_corpus that is moot — stage 1
    # already removed NULL-text rows — but standalone
    # perplexity_filter callers can pass keep_unscored=True for a
    # pass-through left join instead.
    lm: Optional[object] = None
    max_ppl: Optional[float] = None
    # optional model-based quality stage (GPT-3/LLaMA-style): a trained
    # operators/quality_clf.QualityClassifier plus a probability floor.
    # Runs after the heuristics — scoring is a map pass (broadcast
    # model), but it crosses into ML transformers so it cannot fuse
    # into the heuristic scan. OPT-IN like the LM stage. Adds and
    # keeps a `quality_prob` column for downstream mixture weighting.
    quality_model: Optional[object] = None
    min_model_prob: Optional[float] = None
    # optional PII scrub (C4/FineWeb-style): redact emails/SSNs/IPv4s/
    # phones IN PLACE on text_col. A pure regexp chain — fuses into
    # the heuristic scan. Redaction is a rewrite, not a filter, so it
    # never changes row counts.
    redact_pii: bool = False
    # optional line-level exact dedup (C4/RefinedWeb boilerplate
    # scrub): rewrite text_col keeping each line's first occurrence.
    # Runs BEFORE the heuristic filters so quality/repetition scores
    # see the de-boilerplated text (the published pipelines' order).
    # None disables; "corpus" or "doc" selects the scope.
    line_dedup_scope: Optional[str] = None
    line_dedup_min_chars: int = 16
    # salt=N runs the skew-bounded two-phase first-occurrence plan in
    # the line/substr dedup stages (mega-duplicated boilerplate keys
    # spread over N tasks; output identical) — turn on at corpus scale
    line_dedup_salt: Optional[int] = None
    substr_dedup_salt: Optional[int] = None
    # optional URL stages (r8, operators/weburl — RefinedWeb/C4 run
    # these FIRST: one string key per row, no content reads): a url
    # column enables them; blocked_domains applies the C4-style
    # registered-domain blocklist (subdomain-inclusive), url_dedup
    # keeps each normalized URL's first occurrence.
    url_col: Optional[str] = None
    blocked_domains: Optional[list] = None
    url_dedup: bool = False
    # optional exact-substring dedup (Lee et al. 2022 "ExactSubstr",
    # arXiv:2107.06499): remove duplicated runs of >= this many
    # whitespace tokens, keeping each span's first corpus occurrence
    # (paper default 50). A REWRITE like line dedup, so it runs with
    # the rewrite stages BEFORE the heuristics — quality/repetition
    # scores then see the de-duplicated text. None disables. This is
    # the one curation stage that shuffles ~one row per corpus token;
    # enable deliberately.
    substr_dedup_min_tokens: Optional[int] = None
    # optional attribute SIDECAR for the heuristics stage (r11,
    # operators/attributes — the Dolma tag-once/filter-many shape):
    # a parquet path of (id, n_tokens, quality, lang_en, …) written by
    # `write_attributes`. When set, every THRESHOLD rule of the
    # heuristics stage evaluates on the narrow sidecar scan (predicates
    # push to its footer stats) and surviving ids recover their text
    # rows via ONE LEFT SEMI join — mixture/threshold experiments then
    # re-read ~1% of corpus bytes instead of re-deriving stats from
    # text. Required sidecar columns per enabled knob are checked
    # loudly; `extra_predicates` and the `redact_pii` rewrite still
    # evaluate on text (they are text-valued by contract). CONTRACT:
    # the sidecar must have been tagged over the text AS IT ENTERS the
    # heuristics stage — with rewrite stages enabled between tagging
    # and filtering (c4_clean, line_dedup, substr_dedup), tag the
    # rewritten checkpoint, not the raw corpus, or the decisions
    # diverge from the inline path.
    attributes_path: Optional[str] = None


def _curation_stages(text_col: str, id_col: str, cfg: CurationConfig):
    """The pipeline as an ordered ``[(name, DataFrame -> DataFrame)]``
    list — the single source of stage order, shared by the one-plan
    :func:`curate_corpus` and the checkpointed
    :func:`curate_corpus_staged`."""
    stages = []

    # URL stages run FIRST (RefinedWeb's order): they key on one short
    # string per row, so dropping here saves every later content read
    if cfg.url_col is not None and cfg.blocked_domains:
        from lantern_spark.operators.weburl import filter_domain_blocklist

        stages.append((
            "url_blocklist",
            lambda f: filter_domain_blocklist(
                f, cfg.url_col, cfg.blocked_domains
            ),
        ))
    if cfg.url_col is not None and cfg.url_dedup:
        from lantern_spark.operators.weburl import url_dedup

        stages.append((
            "url_dedup", lambda f: url_dedup(f, cfg.url_col, id_col)
        ))

    if cfg.c4_clean:
        from lantern_spark.operators.textstats import (
            c4_clean_lines,
            c4_page_ok,
        )

        stages.append((
            "c4_clean",
            lambda f: f.filter(c4_page_ok(text_col)).withColumn(
                text_col, c4_clean_lines(text_col)
            ),
        ))

    if cfg.line_dedup_scope is not None:
        from lantern_spark.operators.dedup import line_dedup

        stages.append((
            "line_dedup",
            lambda f: line_dedup(
                f, text_col, id_col,
                min_chars=cfg.line_dedup_min_chars,
                scope=cfg.line_dedup_scope,
                salt=cfg.line_dedup_salt,
            ),
        ))

    if cfg.substr_dedup_min_tokens is not None:
        from lantern_spark.operators.dedup import exact_substring_dedup

        stages.append((
            "substr_dedup",
            lambda f: exact_substring_dedup(
                f, text_col, id_col,
                min_tokens=cfg.substr_dedup_min_tokens,
                salt=cfg.substr_dedup_salt,
            ).drop("removed_tokens", "removed_spans"),
        ))

    def heuristics_sidecar(out: DataFrame) -> DataFrame:
        # r11 (review r10 item 7): threshold rules evaluate on the
        # NARROW sidecar scan; survivors recover text via LEFT SEMI —
        # the text table is never read by the filter itself
        attrs = out.sparkSession.read.parquet(cfg.attributes_path)
        need = {"n_tokens", "quality"}
        pred = (
            (F.col("n_tokens") >= cfg.min_tokens)
            & (F.col("n_tokens") <= cfg.max_tokens)
            & (F.col("quality") >= cfg.min_quality)
        )
        if cfg.require_english:
            need.add("lang_en")
            pred = pred & (F.col("lang_en") == "en")
        if cfg.max_dup_line_frac is not None:
            need.add("dup_line_fraction")
            pred = pred & (
                F.col("dup_line_fraction") <= cfg.max_dup_line_frac
            )
        if cfg.max_top2gram_frac is not None:
            need.add("top2gram_fraction")
            pred = pred & (
                F.col("top2gram_fraction") <= cfg.max_top2gram_frac
            )
        if cfg.gopher_rules:
            need.add("gopher_ok")
            pred = pred & F.col("gopher_ok")
        if (
            cfg.min_compression_ratio is not None
            or cfg.max_compression_ratio is not None
        ):
            need.add("compression_ratio")
            if cfg.min_compression_ratio is not None:
                pred = pred & (
                    F.col("compression_ratio") >= cfg.min_compression_ratio
                )
            if cfg.max_compression_ratio is not None:
                pred = pred & (
                    F.col("compression_ratio") <= cfg.max_compression_ratio
                )
        missing = need - set(attrs.columns)
        if missing:
            raise ValueError(
                f"attributes sidecar {cfg.attributes_path} lacks columns "
                f"required by the enabled heuristics: {sorted(missing)} "
                "(tag with default_taggers(), or add the missing tagger)"
            )
        keep = attrs.where(pred).select(id_col)
        out = out.filter(F.col(text_col).isNotNull()).join(
            keep, id_col, "left_semi"
        )
        # text-valued pieces stay inline by contract
        for p in cfg.extra_predicates:
            out = out.filter(p)
        if cfg.redact_pii:
            from lantern_spark.operators.textstats import redact_pii

            out = out.withColumn(text_col, redact_pii(text_col))
        return out

    def heuristics(out: DataFrame) -> DataFrame:
        if cfg.attributes_path is not None:
            return heuristics_sidecar(out)
        # one fused map-only pass (pure column expressions)
        toks = token_count_ws(text_col)
        out = out.filter(
            F.col(text_col).isNotNull()
            & (toks >= cfg.min_tokens)
            & (toks <= cfg.max_tokens)
        )
        out = out.filter(quality_score(text_col) >= cfg.min_quality)
        if cfg.require_english:
            # lang_id_en yields a label ('en'/'unk'), not a boolean —
            # the bare filter(label) form crashed under ANSI casts
            # (caught by the r8 audit tests; the stage had no coverage)
            out = out.filter(lang_id_en(text_col) == "en")
        if cfg.max_dup_line_frac is not None:
            from lantern_spark.operators.textstats import dup_line_fraction

            out = out.filter(
                dup_line_fraction(text_col) <= cfg.max_dup_line_frac
            )
        if cfg.max_top2gram_frac is not None:
            from lantern_spark.operators.textstats import top_ngram_fraction

            out = out.filter(
                top_ngram_fraction(text_col, 2) <= cfg.max_top2gram_frac
            )
        if cfg.gopher_rules:
            from lantern_spark.operators.textstats import gopher_rules_ok

            out = out.filter(gopher_rules_ok(text_col))
        if (
            cfg.min_compression_ratio is not None
            or cfg.max_compression_ratio is not None
        ):
            from lantern_spark.operators.textstats import compression_ratio

            cr = compression_ratio(text_col)
            if cfg.min_compression_ratio is not None:
                out = out.filter(cr >= cfg.min_compression_ratio)
            if cfg.max_compression_ratio is not None:
                out = out.filter(cr <= cfg.max_compression_ratio)
        for pred in cfg.extra_predicates:
            out = out.filter(pred)
        if cfg.redact_pii:
            from lantern_spark.operators.textstats import redact_pii

            out = out.withColumn(text_col, redact_pii(text_col))
        return out

    stages.append(("heuristics", heuristics))

    if cfg.quality_model is not None and cfg.min_model_prob is not None:
        stages.append((
            "model_quality",
            lambda f: cfg.quality_model.filter(
                f, text_col, min_prob=cfg.min_model_prob
            ),
        ))

    if cfg.lm is not None and cfg.max_ppl is not None:
        stages.append((
            "perplexity",
            lambda f: cfg.lm.perplexity_filter(
                f, text_col, id_col, cfg.max_ppl
            ).drop("ppl"),
        ))

    if cfg.exact_dedup:
        stages.append((
            "exact_dedup", lambda f: exact_dedup(f, text_col, id_col)
        ))
    if cfg.near_dedup:
        stages.append((
            "near_dedup",
            lambda f: dedup_clusters(
                f,
                text_col,
                id_col,
                threshold=cfg.near_threshold,
                n_hashes=cfg.minhash_hashes,
                bands=cfg.minhash_bands,
                shingle_k=cfg.shingle_k,
            ),
        ))
    return stages


def curate_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    config: Optional[CurationConfig] = None,
    report: bool = False,
):
    """Apply the full curation pipeline; returns the filtered DataFrame,
    or (DataFrame, report dict) with per-stage surviving counts when
    ``report=True`` (each report row costs one count() job — leave off
    in production and read stage counts from the Spark UI instead, or
    use :func:`curation_audit` for one-scan heuristic accounting).
    """
    cfg = config or CurationConfig()
    stages = {}

    def note(name: str, frame: DataFrame) -> DataFrame:
        if report:
            stages[name] = frame.count()
        return frame

    out = note("input", df)
    for name, fn in _curation_stages(text_col, id_col, cfg):
        out = note(name, fn(out))
    if report:
        return out, stages
    return out


# Which CurationConfig fields each stage's OUTPUT depends on (given its
# input). Fields claimed by no stage are hashed into EVERY stage's
# fingerprint — the conservative fallback, so forgetting to register a
# future knob can only over-invalidate, never reuse a stale checkpoint.
_STAGE_FIELDS = {
    "url_blocklist": ("url_col", "blocked_domains"),
    "url_dedup": ("url_col", "url_dedup"),
    "c4_clean": ("c4_clean",),
    "line_dedup": (
        "line_dedup_scope", "line_dedup_min_chars", "line_dedup_salt",
    ),
    "substr_dedup": ("substr_dedup_min_tokens", "substr_dedup_salt"),
    "heuristics": (
        "min_tokens", "max_tokens", "min_quality", "require_english",
        "max_dup_line_frac", "max_top2gram_frac", "gopher_rules",
        "min_compression_ratio", "max_compression_ratio",
        "extra_predicates", "redact_pii", "attributes_path",
    ),
    "model_quality": ("quality_model", "min_model_prob"),
    "perplexity": ("lm", "max_ppl"),
    "exact_dedup": ("exact_dedup",),
    "near_dedup": (
        "near_dedup", "near_threshold", "minhash_hashes",
        "minhash_bands", "shingle_k",
    ),
}


def _fingerprint_value(name: str, v):
    if name in ("lm", "quality_model"):
        return None if v is None else type(v).__name__
    if name == "extra_predicates":
        return [str(p) for p in v]
    return v


def _config_fingerprint(
    text_col: str, id_col: str, cfg: CurationConfig, stage: str = None
) -> str:
    """Stable hash of everything that determines a stage's OUTPUT given
    its input: the column names plus the config fields THAT STAGE
    consumes (``_STAGE_FIELDS``) plus any unregistered fields (hashed
    everywhere, the safe default). With ``stage=None``, hashes every
    field — the whole-pipeline fingerprint.

    Per-stage scoping is what makes resume useful for tuning: changing
    ``near_threshold`` after a multi-day run re-runs near_dedup alone,
    not the dedup shuffles before it. The lm / quality_model objects
    cannot be fingerprinted robustly — they contribute presence +
    class name; swapping in a different trained artifact of the same
    class between resumed runs is the caller's responsibility (same
    contract as swapping the input DataFrame)."""
    import dataclasses
    import hashlib
    import json

    all_names = [f.name for f in dataclasses.fields(cfg)]
    if stage is None:
        names = all_names
    else:
        claimed = {n for fields in _STAGE_FIELDS.values() for n in fields}
        names = [
            n
            for n in all_names
            if n in _STAGE_FIELDS.get(stage, ()) or n not in claimed
        ]
    d = {n: _fingerprint_value(n, getattr(cfg, n)) for n in names}
    d["__cols"] = [text_col, id_col]
    return hashlib.md5(
        json.dumps(d, sort_keys=True, default=str).encode()
    ).hexdigest()


def curate_corpus_staged(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    checkpoint_dir: str,
    config: Optional[CurationConfig] = None,
) -> DataFrame:
    """:func:`curate_corpus` with a parquet CHECKPOINT after every
    stage — the operational shape of a multi-day 100 TB curation run:

    - each stage writes ``<checkpoint_dir>/<NN>_<stage>`` via a staged
      temp dir + one atomic rename, so a crash mid-stage leaves only a
      ``__tmp`` dir the next run clears — never a half-written
      checkpoint;
    - a re-run RESUMES: stages whose checkpoint exists (Spark
      ``_SUCCESS`` marker + a config fingerprint match) are loaded,
      not recomputed — a failure in stage 7 of 9 costs stage 7, not
      the week of dedup shuffles behind it;
    - a CONFIG change invalidates the first stage it affects and
      everything after it: fingerprints are PER-STAGE (each hashes
      only the config fields that stage consumes, ``_STAGE_FIELDS``),
      so tuning a late-stage knob after days of dedup shuffles re-runs
      that stage forward, not the whole pipeline (r8 ADVICE: the old
      global fingerprint recomputed everything on any change);
    - each checkpoint also truncates lineage, so the near-dedup stage's
      plan never re-derives the URL scrub.

    The price is one corpus write + read per stage — at 100 TB, buy it
    for the expensive shuffle stages by running the cheap map-only
    stages inline (they're one fused scan in :func:`curate_corpus`)
    and checkpointing the output of each dedup tier; this helper
    checkpoints every stage for a uniform resume contract.

    Resuming against a DIFFERENT input DataFrame is undetectable (an
    input fingerprint would cost a full scan) and on the caller, as
    with any checkpointed pipeline. Single-writer, like the index
    maintenance paths.
    """
    import glob
    import json
    import os
    import shutil

    cfg = config or CurationConfig()
    os.makedirs(checkpoint_dir, exist_ok=True)
    # a crash mid-stage leaves __tmp staging — clear it first
    for stale in glob.glob(os.path.join(checkpoint_dir, "*__tmp")):
        shutil.rmtree(stale, ignore_errors=True)

    def meta_path(d):
        return os.path.join(d, "_curate_meta.json")

    def valid(d, name, fp):
        if not os.path.isfile(os.path.join(d, "_SUCCESS")):
            return False
        try:
            with open(meta_path(d)) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            # unreadable OR corrupt/truncated meta: the checkpoint is
            # not trustworthy — recompute (r8 ADVICE: JSONDecodeError
            # crashed the resume instead)
            return False
        return m.get("fingerprint") == fp and m.get("stage") == name

    out = df
    invalidated = False
    for i, (name, fn) in enumerate(_curation_stages(text_col, id_col, cfg)):
        stage_dir = os.path.join(checkpoint_dir, f"{i:02d}_{name}")
        fp = _config_fingerprint(text_col, id_col, cfg, stage=name)
        if invalidated and os.path.isdir(stage_dir):
            # an earlier stage recomputed — everything downstream is
            # derived from it and must too
            shutil.rmtree(stage_dir, ignore_errors=True)
        if not invalidated and valid(stage_dir, name, fp):
            out = spark.read.parquet(stage_dir)
            continue
        invalidated = True
        shutil.rmtree(stage_dir, ignore_errors=True)
        tmp = stage_dir + "__tmp"
        fn(out).write.mode("overwrite").parquet(tmp)
        with open(meta_path(tmp), "w") as fh:
            json.dump({"fingerprint": fp, "stage": name}, fh)
        os.rename(tmp, stage_dir)  # atomic promote
        out = spark.read.parquet(stage_dir)
    return out


def heuristic_drop_reason(text_col: str, config: Optional[CurationConfig] = None):
    """The FIRST heuristic stage that drops a row, as a string column
    (NULL = the row survives every map-only stage). Stage order matches
    ``curate_corpus`` exactly, so ``count(reason = s)`` equals the rows
    stage ``s`` would remove from its input in the sequential pipeline.

    Pure column expression — composes into any scan. This is how a
    100 TB run answers "what did each filter cost me" in ONE pass
    (see :func:`curation_audit`) instead of one count() job per stage
    boundary (``report=True``'s shape, which re-scans per boundary).
    """
    cfg = config or CurationConfig()
    toks = token_count_ws(text_col)
    reason = (
        F.when(F.col(text_col).isNull(), F.lit("null_text"))
        .when(toks < cfg.min_tokens, F.lit("too_short"))
        .when(toks > cfg.max_tokens, F.lit("too_long"))
        .when(quality_score(text_col) < cfg.min_quality, F.lit("low_quality"))
    )
    if cfg.require_english:
        reason = reason.when(
            lang_id_en(text_col) != "en", F.lit("not_english")
        )
    if cfg.max_dup_line_frac is not None:
        from lantern_spark.operators.textstats import dup_line_fraction

        reason = reason.when(
            dup_line_fraction(text_col) > cfg.max_dup_line_frac,
            F.lit("dup_lines"),
        )
    if cfg.max_top2gram_frac is not None:
        from lantern_spark.operators.textstats import top_ngram_fraction

        reason = reason.when(
            top_ngram_fraction(text_col, 2) > cfg.max_top2gram_frac,
            F.lit("repetitive_2gram"),
        )
    if cfg.gopher_rules:
        from lantern_spark.operators.textstats import gopher_rules_ok

        reason = reason.when(
            ~gopher_rules_ok(text_col), F.lit("gopher_rules")
        )
    if (
        cfg.min_compression_ratio is not None
        or cfg.max_compression_ratio is not None
    ):
        from lantern_spark.operators.textstats import compression_ratio

        cr = compression_ratio(text_col)
        if cfg.min_compression_ratio is not None:
            reason = reason.when(
                cr < cfg.min_compression_ratio, F.lit("too_compressible")
            )
        if cfg.max_compression_ratio is not None:
            reason = reason.when(
                cr > cfg.max_compression_ratio, F.lit("incompressible")
            )
    for i, pred in enumerate(cfg.extra_predicates):
        # filter(pred) drops NULL-evaluating rows too — so must the audit
        reason = reason.when(
            ~F.coalesce(pred, F.lit(False)), F.lit(f"extra_predicate_{i}")
        )
    return reason.otherwise(F.lit(None))


def curation_audit(
    df: DataFrame,
    text_col: str,
    config: Optional[CurationConfig] = None,
) -> DataFrame:
    """Per-stage drop accounting for the map-only heuristic stages in
    ONE job: ``(stage, n_rows)`` where ``stage`` is the first filter
    that would drop the row (``kept`` = survives them all). Contrast
    with ``curate_corpus(report=True)``, which runs one count() job —
    one full scan — per stage boundary; at 100 TB this is the audit
    you can afford to run on every ingest.

    Evaluates the heuristics on the text AS GIVEN: run it after any
    rewrite stages (line/substr dedup, PII redaction) to see what the
    filters do to the text the pipeline actually scores. The dedup
    stages' drops are not included — they are shuffle stages with their
    own single-aggregate accounting (``exact_dup_groups`` et al.)."""
    reason = heuristic_drop_reason(text_col, config)
    return (
        df.select(F.coalesce(reason, F.lit("kept")).alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_rows"))
    )


def decontaminate(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 13,
    heldout_text_col: Optional[str] = None,
    mode: str = "drop",
):
    """Remove (or flag) training documents that overlap a held-out
    evaluation set — the published GPT-3-style decontamination rule:
    a training doc is contaminated when it shares ANY ``ngram``-token
    window with any held-out document (13-grams are the standard
    width: long enough that chance collisions are negligible, short
    enough to catch partial quotes).

    Plan shape (100 TB-safe): both sides tokenize and explode to
    n-gram windows, grams reduce to 64-bit ``xxhash64`` keys
    IMMEDIATELY (the raw text never shuffles — 8 bytes/window instead
    of ~100), the held-out side deduplicates (eval sets are small:
    typically broadcast by AQE), and one LEFT SEMI join marks
    contaminated train ids. ``mode='drop'`` anti-joins them out;
    ``mode='flag'`` returns the input plus a ``contaminated`` bool —
    the audit-first variant.

    Documents shorter than ``ngram`` tokens produce no windows and are
    never flagged (standard behavior — there is no 13-gram to match).
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be drop|flag, got {mode!r}")
    h_text = heldout_text_col or text_col

    def gram_hashes(frame: DataFrame, col: str, keep):
        from lantern_spark.functions.text import ngram_windows, tokenize

        # shared windowing kernel: NULL/short docs yield NO windows
        grams = F.transform(
            ngram_windows(F.col("__toks"), ngram),
            lambda g: F.xxhash64(g),
        )
        return (
            frame.withColumn("__toks", tokenize(col))
            .select(*keep, F.explode(grams).alias("__g"))
        )

    train_grams = gram_hashes(train, text_col, [F.col(id_col)])
    held_grams = gram_hashes(heldout, h_text, []).select("__g").distinct()
    contaminated = (
        train_grams.join(held_grams, "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return _apply_contamination(train, contaminated, id_col, mode)


def _apply_contamination(
    train: DataFrame, contaminated: DataFrame, id_col: str, mode: str
) -> DataFrame:
    """Shared drop/flag tail of the exact and fuzzy decontamination
    tiers — one definition so the flag-column contract can't drift."""
    if mode == "flag":
        return train.join(
            contaminated.withColumn("contaminated", F.lit(True)),
            id_col,
            "left",
        ).fillna(False, subset=["contaminated"])
    return train.join(contaminated, id_col, "left_anti")


def decontaminate_fuzzy(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str,
    id_col: str,
    heldout_text_col: Optional[str] = None,
    threshold: Optional[float] = 0.5,
    n_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    mode: str = "drop",
):
    """Near-duplicate decontamination: drop (or flag) training docs
    that are FUZZY matches of held-out eval documents.

    The exact rule (:func:`decontaminate`) requires a verbatim
    13-token run; light paraphrase — a word swapped every few tokens,
    the common shape of eval data that leaked through a rewrite —
    defeats it while leaving the document substantially the eval item
    (the contamination analyses in Lee et al. 2022 and the GPT-3
    appendix both note this gap). This is the fuzzy tier: MinHash
    signatures on both sides, LSH banding (same parameters on both
    tables, so bucket keys are comparable), and exact shingle-Jaccard
    verification of colliding (train, heldout) pairs at ``threshold``
    — banding false positives must not drop clean data, the same
    verify-after-LSH contract as ``near_dedup_minhash``.

    Defaults lean RECALL (bands=8, rows_per_band=2 over 16 hashes):
    for decontamination a missed contaminated doc poisons an eval
    number, while a false candidate only costs one verification
    Jaccard. ``threshold=None`` skips verification (pure banding —
    only with tuned params).

    Plan shape (100 TB-safe): signatures are fixed-width (n_hashes ×
    8 B), band keys are 32 B; the heldout side is eval-set-sized, so
    the band join broadcasts it. The verify is ``dedup.candidate_jaccard``
    over the (train id, heldout id) candidates: only candidate train
    docs are shingled, once each. The candidates and the contaminated
    ids are broadcast into the train-side joins — the train corpus is
    never shuffled, only scanned.
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be drop|flag, got {mode!r}")
    from lantern_spark.operators.dedup import (
        candidate_jaccard,
        lsh_band_keys,
        minhash_docs,
    )

    h_text = heldout_text_col or text_col
    t_sigs = minhash_docs(train, text_col, id_col, n_hashes, shingle_k)
    # Stable heldout key: content hash (monotonically_increasing_id
    # could number the two heldout pipelines below differently).
    held = heldout.select(
        F.col(h_text).alias("__h_text"),
        F.xxhash64(F.col(h_text)).alias("__h_id"),
    )
    h_sigs = minhash_docs(held, "__h_text", "__h_id", n_hashes, shingle_k)
    t_bands = lsh_band_keys(t_sigs, id_col, bands, rows_per_band)
    h_bands = lsh_band_keys(h_sigs, "__h_id", bands, rows_per_band)
    cand = (
        t_bands.join(h_bands, ["band", "key"])
        .select(F.col(id_col).alias("id_a"), F.col("__h_id").alias("id_b"))
        .distinct()
    )
    if threshold is not None:
        cand = candidate_jaccard(
            F.broadcast(cand),
            train,
            held.select(F.col("__h_id").alias(id_col), F.col("__h_text").alias(text_col)),
            id_col, text_col, shingle_k, float(threshold),
        )
    contaminated = cand.select(F.col("id_a").alias(id_col)).distinct()
    return _apply_contamination(train, F.broadcast(contaminated), id_col, mode)
