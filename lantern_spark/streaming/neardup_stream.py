"""Continuous near-duplicate gating: stream documents through a
persisted MinHash/LSH bucket store.

Completes the streaming dedup family (exact: O(distinct) state;
Bloom: constant state, approximate) with the NEAR-dup tier — the
RefinedWeb/Dolma shape where yesterday's crawl must not re-admit
today's lightly-edited copies. Mirrors ``streaming/bm25_stream``'s
daemon pattern: ``foreachBatch`` over the document source; each
micro-batch computes MinHash band keys for ONLY the new docs, joins
them against the persisted bucket store, optionally VERIFIES LSH
candidates with exact n-gram Jaccard against the stored survivors
(LSH alone is a candidate generator — unverified gating would drop at
the banding false-positive rate), and appends the batch's surviving
docs + their buckets in per-epoch OVERWRITE directories (replayed
micro-batches rewrite identical files — the at-least-once idempotence
contract). Replay safety is structural: history reads list the
committed ``batch_*`` directories explicitly, EXCLUDING the current
epoch's own (a crashed attempt's leftover would otherwise self-pair
every doc and erase the batch), a ``__new_id != __old_id`` guard
backstops the join, and in-stream consolidation folds only epochs
strictly older than the one being processed (committed, so they never
replay).

Semantics (first-seen-representative, like the exact/Bloom gates): a
doc is dropped when it is a (verified) near-duplicate of an earlier
SURVIVOR — duplicates-of-duplicates chain to the surviving
representative because the dropped copy's buckets are never stored,
so any later copy still collides with the representative's buckets
for all bands they share. Within a batch the min-id bucket winner
survives (deterministic, the repo convention).

State: the bucket store is a parquet table of (band, key, doc_id) —
O(survivors × bands) rows of ~20 B, a few GB per billion survivors;
it lives on storage (not the state store), so restarts recover from
the checkpoint + the epoch directories alone. The survivor text store
doubles as the verification corpus.

Scale honesty: a micro-batch with probable collisions joins its band
keys against the FULL store — one shuffle whose store side grows with
history (AQE broadcasts the batch side once the store dominates, so
the steady state is a store-partitioned semi-join). The default
``bloom_prefilter`` (r10, review r9 item 2) bounds how often that
scan happens: a sharded Bloom set over the stored ``band\\x1fkey``
composites (operators/bloomset — constant ``m_bits/8`` memory, NO
false negatives, so semantics are unchanged) is probed first, and a
batch none of whose keys are probable members skips the store read
entirely — the steady-state cost for collision-free traffic is one
tiny cogroup against a 16 MB filter instead of a history-sized scan.
The filter updates by OR-merge per epoch (idempotent under replay)
and bootstraps from the full store when the gate first runs against
pre-existing history. Keep ``consolidate_every_batches`` on so the
scans that DO happen read compacted files.
"""

from __future__ import annotations

import logging
from typing import Any, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lantern_spark.operators.dedup import minhash_docs

_log = logging.getLogger(__name__)

__all__ = [
    "incremental_neardup_job",
    "load_neardup_survivors",
    "consolidate_neardup_store",
]


def _band_keys(
    df: DataFrame, text_col: str, id_col: str,
    n_hashes: int, bands: int, shingle_k: int,
) -> DataFrame:
    """(band, key, id) LSH bucket rows — the same banding math as
    ``lsh_candidate_pairs`` (md5 over signature slices), factored so
    batch and store rows key identically."""
    rows = bands
    rpb = n_hashes // bands
    sigs = minhash_docs(df, text_col, id_col, n_hashes, shingle_k)
    band_cols = []
    for b in range(rows):
        chunk = F.slice(F.col("sig"), b * rpb + 1, rpb)
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("\x1f", chunk.cast("array<string>"))
                ).alias("key"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.col(id_col),
    )


def load_neardup_survivors(
    spark: SparkSession, path: str, fs=None
) -> DataFrame:
    """All surviving docs written so far (epoch subdirectories)."""
    from lantern_spark._fsutil import LOCAL_FS, vd_live

    fs = fs or LOCAL_FS
    return spark.read.option("recursiveFileLookup", "true").parquet(
        vd_live(fs.join(path, "docs"), fs)
    )


def consolidate_neardup_store(
    spark: SparkSession,
    path: str,
    exclude_epoch: Optional[int] = None,
    fs=None,
) -> None:
    """Compact the per-epoch fragments (the small-file problem of any
    epoch-append layout — the bm25_stream consolidation analog): docs
    and buckets each rewrite as one ``batch_consolidated`` directory
    via staged write + publish (``_fsutil.vd_commit`` — the
    recoverable ``__old`` swap locally, the atomic generation-pointer
    PUT on rename-less stores; ``vd_recover`` at job start heals a
    crash on either side). Contents are unchanged — reads go through
    ``recursiveFileLookup`` either way.

    ``exclude_epoch``: leave that epoch's ``batch_<epoch>`` directory
    standalone (copied into the staged layout, not folded). The
    in-stream cadence passes the CURRENT epoch here so consolidation
    only ever folds checkpoint-committed epochs — an uncommitted
    epoch that later replays must overwrite its own directory, and
    folding it first would leave its rows duplicated in
    ``batch_consolidated``. Out-of-band (no ``exclude_epoch``) is the
    full compaction: run it only while the stream is stopped."""
    from lantern_spark._fsutil import (
        LOCAL_FS,
        vd_commit,
        vd_live,
        vd_recover,
        vd_stage,
    )

    fs = fs or LOCAL_FS
    keep = (
        f"batch_{exclude_epoch}" if exclude_epoch is not None else None
    )
    for sub in ("docs", "buckets"):
        root = fs.join(path, sub)
        vd_recover(root, fs)
        live = vd_live(root, fs)
        if not fs.isdir(live):
            continue
        srcs = [
            fs.join(live, n)
            for n in fs.listdir(live)
            if n.startswith("batch_") and n != keep
        ]
        if len(srcs) < 2:
            continue
        staged = vd_stage(root, fs)
        fs.rmtree(staged)
        (
            spark.read.parquet(*srcs)
            .write.mode("overwrite")
            .parquet(fs.join(staged, "batch_consolidated"))
        )
        if keep is not None and fs.isdir(fs.join(live, keep)):
            fs.copy_tree(fs.join(live, keep), fs.join(staged, keep))
        vd_commit(root, staged, fs)


def incremental_neardup_job(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    checkpoint: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    verify_threshold: Optional[float] = 0.8,
    trigger: Optional[dict] = None,
    consolidate_every_batches: Optional[int] = 32,
    bloom_prefilter: bool = True,
    bloom_m_bits: int = 1 << 27,
    bloom_shards: int = 64,
    bloom_k: int = 7,
    bloom_max_fill_ratio: Optional[float] = 0.95,
    bloom_resize_fill_ratio: Optional[float] = 0.5,
    fs=None,
):
    """Start the gate; returns the StreamingQuery.

    ``verify_threshold``: exact n-gram Jaccard floor for dropping an
    LSH-collided doc (None = drop on ANY bucket collision — cheaper,
    but pays the banding FP rate in lost unique docs; the default
    verifies, the batch operator's contract). Layout under
    ``store_path``: ``docs/batch_<epoch>`` (survivors, full input
    schema) and ``buckets/batch_<epoch>`` ((band, key, doc_id));
    fragments compact every ``consolidate_every_batches`` epoch dirs
    (:func:`consolidate_neardup_store` — staged swap, contents
    unchanged; None disables).

    ``bloom_prefilter`` (r10): keep a sharded Bloom set over the
    stored band-key composites at ``store_path/bloom`` and skip the
    history scan for batches with no probable member (no false
    negatives — a skip is always safe; a Bloom FP merely pays the
    scan that finds nothing). Default sizing 2^27 bits = 16 MB / 64
    shards / k=7 holds ~10M bucket keys under 1% FP — size up via
    ``bloom_m_bits`` for bigger survivor stores. Probes run the
    ``bloom_max_fill_ratio`` saturation guard (operators/bloomset,
    the r9 loud-failure contract): a saturated filter raises instead
    of silently degrading every batch back to the full scan.

    ``bloom_resize_fill_ratio`` (r11, review r10 item 8): after each
    fold the filter's max shard fill is measured (one popcount pass
    over the ≤ m_bits/8 bytes already being rewritten); past this
    ratio the filter REBUILDS at doubled ``m_bits`` from the
    authoritative bucket store (staged swap, same crash contract as
    the stores) instead of ever reaching the loud guard — long-lived
    gates then autotune their filter to observed survivor cardinality.
    The adopted size persists in the manifest and survives restarts
    (a restart with the original ``bloom_m_bits`` config keeps the
    grown filter — shrinking would re-saturate it). ``None``
    disables; ``bloom_m_bits`` is then a fixed size as before.
    Gate semantics are unchanged either way: the Bloom set has no
    false negatives at ANY size, so a resize can never admit a
    duplicate — sizing only tunes how often a collision-free batch
    pays a pointless history scan.

    ``fs`` (r14): the injectable filesystem adapter — on a rename-less
    object store every staged publish (consolidation, bloom folds and
    resizes) degrades to the generation-pointer commit; local default
    unchanged. See ``_fsutil``."""
    from lantern_spark._fsutil import LOCAL_FS, vd_live, vd_recover

    fs = fs or LOCAL_FS
    spark = stream_df.sparkSession
    for sub in ("docs", "buckets", "bloom"):
        vd_recover(fs.join(store_path, sub), fs)

    def _live(sub: str) -> str:
        return vd_live(fs.join(store_path, sub), fs)

    def _fragments(sub: str) -> int:
        d = _live(sub)
        if not fs.isdir(d):
            return 0
        return sum(1 for n in fs.listdir(d) if n.startswith("batch_"))

    def _epoch_dirs(sub: str, epoch: int) -> list:
        """Committed store fragments — every ``batch_*`` directory
        EXCEPT the current epoch's own: an at-least-once replay finds
        its crashed attempt's ``batch_<epoch>`` already on disk, and
        reading it back would pair every doc with its own stored copy
        (Jaccard 1.0), empty the survivor set, and let the epoch
        overwrite erase the batch — the exact data-loss the
        idempotence contract forbids."""
        d = _live(sub)
        if not fs.isdir(d):
            return []
        skip = f"batch_{epoch}"
        return [
            fs.join(d, n)
            for n in fs.listdir(d)
            if n.startswith("batch_") and n != skip
        ]

    bloom_root = fs.join(store_path, "bloom")
    bloom_params_path = fs.join(store_path, "bloom_params.json")
    _bkey = F.concat_ws(
        "\x1f", F.col("band").cast("string"), F.col("key")
    ).alias("__bk")

    def _have_bloom() -> bool:
        d = _live("bloom")
        return fs.isdir(d) and any(
            n.endswith(".parquet") or n.startswith("part-")
            for n in fs.listdir(d)
        )

    _bloom_params = {
        "m_bits": int(bloom_m_bits),
        "shards": int(bloom_shards),
        "k": int(bloom_k),
    }

    def _committed_fragments() -> list:
        d = _live("buckets")
        if not fs.isdir(d):
            return []
        return sorted(n for n in fs.listdir(d) if n.startswith("batch_"))

    def _write_bloom_manifest() -> None:
        import json

        fs.write_text(
            bloom_params_path,
            json.dumps(
                {**_bloom_params, "covered": _committed_fragments()}
            ),
        )

    def _check_bloom_params() -> None:
        """A persisted filter built with different (m_bits, shards, k)
        probes old bits with new arithmetic — silent FALSE NEGATIVES
        (admitted duplicates) or shard index errors (review finding).
        The manifest also pins STORE COVERAGE (the bucket fragments
        folded into the filter): a run with ``bloom_prefilter=False``
        stores fragments without folding them, and probing the stale
        filter afterward would skip history scans for exactly those
        docs (second review finding). On params mismatch, a
        pre-manifest filter, or uncovered fragments, the stale filter
        is DROPPED and rebuilt from the store via the existing
        bootstrap path — never probed. (Consolidation renames
        fragments; the manifest is refreshed after an in-run fold, and
        a fold done by a prefilter-off run shows up here as an
        uncovered name → rebuild, safe.)"""
        import json

        if not _have_bloom():
            return
        stored = None
        raw = fs.read_text(bloom_params_path)
        if raw is not None:
            try:
                stored = json.loads(raw)
            except ValueError:
                stored = None
        # r11: a GROWN filter (resize-on-saturation) is valid — adopt
        # its m_bits when it is a power-of-two multiple of the
        # configured size (the only sizes the resizer produces);
        # shards/k must still match exactly, and coverage still gates.
        stored_m = stored.get("m_bits") if stored else None
        m_ok = stored_m == _bloom_params["m_bits"] or (
            isinstance(stored_m, int)
            and stored_m > _bloom_params["m_bits"]
            and stored_m % _bloom_params["m_bits"] == 0
            and (stored_m // _bloom_params["m_bits"]).bit_count() == 1
        )
        ok = (
            stored is not None
            and m_ok
            and all(
                stored.get(k) == v
                for k, v in _bloom_params.items()
                if k != "m_bits"
            )
            and set(_committed_fragments())
            <= set(stored.get("covered", []))
        )
        if ok:
            _bloom_params["m_bits"] = int(stored_m)
        else:
            # drop the whole versioned bloom layout (generations +
            # pointer alike) — the filter is rebuildable state
            fs.rmtree(bloom_root)
            fs.delete_file(bloom_params_path)

    if bloom_prefilter:
        _check_bloom_params()

    def _history_probable(keys_df: DataFrame) -> bool:
        """One cogroup of the batch's composite band keys against the
        16 MB filter: False means NO key is even probably in the
        store — the history scan is skipped outright (Bloom sets have
        no false negatives, so a skip can never admit a duplicate)."""
        from lantern_spark.operators.bloomset import probe_bloom_set

        flags = probe_bloom_set(
            keys_df.select(_bkey),
            spark.read.parquet(_live("bloom")),
            "__bk",
            n_shards=bloom_shards,
            m_bits=_bloom_params["m_bits"],
            k=bloom_k,
            max_fill_ratio=bloom_max_fill_ratio,
        )
        return (
            flags.filter(F.col("probable_member")).limit(1).count() > 0
        )

    def _update_bloom(
        new_keys_df: DataFrame, bootstrap_paths: list
    ) -> None:
        """Fold the epoch's surviving band keys into the persisted
        filter (staged swap — crash-recoverable like the stores). OR
        is idempotent, so a replayed epoch re-folding the same keys
        is a no-op; ``bootstrap_paths`` seeds the filter from a
        pre-existing store the first time the prefilter runs."""

        from lantern_spark._fsutil import vd_commit, vd_stage
        from lantern_spark.operators.bloomset import build_bloom_set

        src = new_keys_df.select(_bkey)
        if bootstrap_paths:
            src = src.unionByName(
                spark.read.parquet(*bootstrap_paths).select(_bkey)
            )
        delta = build_bloom_set(
            src, "__bk", n_shards=bloom_shards,
            m_bits=_bloom_params["m_bits"], k=bloom_k,
        )
        if _have_bloom():
            delta = spark.read.parquet(_live("bloom")).unionByName(delta)
        out_schema = "shard int, bits binary"

        def or_fold(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            acc = None
            for b in pdf["bits"]:
                arr = np.frombuffer(b, dtype=np.uint8)
                acc = arr.copy() if acc is None else (acc | arr)
            return pd.DataFrame(
                {"shard": [int(key[0])], "bits": [acc.tobytes()]}
            )

        merged = delta.groupBy("shard").applyInPandas(
            or_fold, out_schema
        )
        staged = vd_stage(bloom_root, fs)
        fs.rmtree(staged)
        merged.write.mode("overwrite").parquet(staged)
        vd_commit(bloom_root, staged, fs)
        # coverage = every committed fragment now on disk: the filter
        # either bootstrapped them or covered them per the setup check
        _write_bloom_manifest()

    def _maybe_resize_bloom() -> None:
        """Resize-on-saturation (r11): when the fold left any shard's
        fill past ``bloom_resize_fill_ratio``, rebuild the filter at a
        doubled ``m_bits`` from the AUTHORITATIVE bucket store — the
        keys are all there, so growth is a pure rebuild, not a lossy
        migration. The new size is chosen so the PREDICTED fill
        (1 − (1−f)^(m_old/m_new), exact for the independent-bit model)
        drops back under the trigger with headroom; it persists in the
        manifest and is adopted on restart."""
        from lantern_spark._fsutil import vd_commit, vd_stage
        from lantern_spark.operators.bloomset import (
            bloom_fill_stats,
            build_bloom_set,
        )

        if bloom_resize_fill_ratio is None or not _have_bloom():
            return
        m = _bloom_params["m_bits"]
        max_fill = (
            bloom_fill_stats(
                spark.read.parquet(_live("bloom")),
                m_bits=m,
                n_shards=bloom_shards,
                k=bloom_k,
            )
            .agg(F.max("fill_ratio").alias("f"))
            .first()["f"]
            or 0.0
        )
        if max_fill <= bloom_resize_fill_ratio:
            return
        # predicted fill at m_new: bits-set probability scales as
        # 1-(1-f)^(m/m_new); double until it clears HALF the trigger
        # (headroom: resizing every few epochs would thrash)
        new_m = m
        f = min(max_fill, 0.999999)
        while 1.0 - (1.0 - f) ** (m / new_m) > bloom_resize_fill_ratio / 2:
            new_m *= 2
        frags = _committed_fragments()
        if not frags:
            return
        src = spark.read.parquet(
            *[fs.join(_live("buckets"), n) for n in frags]
        ).select(_bkey)
        rebuilt = build_bloom_set(
            src, "__bk", n_shards=bloom_shards, m_bits=new_m, k=bloom_k
        )
        staged = vd_stage(bloom_root, fs)
        fs.rmtree(staged)
        rebuilt.write.mode("overwrite").parquet(staged)
        vd_commit(bloom_root, staged, fs)
        _bloom_params["m_bits"] = new_m
        _write_bloom_manifest()
        _log.info(
            "neardup bloom resized: max fill %.3f > %.2f, m_bits %d -> %d",
            max_fill, bloom_resize_fill_ratio, m, new_m,
        )

    def process(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            keys = _band_keys(
                batch_df, text_col, id_col, n_hashes, bands, shingle_k
            ).persist()
            # in-batch: min-id winner per bucket; a doc losing ANY
            # bucket to a smaller in-batch id is an in-batch near-dup
            # CANDIDATE (verified below together with history hits)
            w = Window.partitionBy("band", "key").orderBy(
                F.col(id_col).asc()
            )
            in_batch = (
                keys.withColumn("__first", F.first(id_col).over(w))
                .filter(F.col("__first") != F.col(id_col))
                .select(
                    F.col(id_col).alias("__new_id"),
                    F.col("__first").alias("__old_id"),
                )
            )
            bucket_dir = _live("buckets")
            docs_dir = _live("docs")
            pairs = in_batch
            bucket_paths = _epoch_dirs("buckets", epoch)
            doc_paths = _epoch_dirs("docs", epoch)
            need_bootstrap = (
                bloom_prefilter and bool(bucket_paths) and not _have_bloom()
            )
            hist_scan = bool(bucket_paths)
            if hist_scan and bloom_prefilter and _have_bloom():
                hist_scan = _history_probable(keys)
            if hist_scan:
                store = spark.read.parquet(*bucket_paths)
                hist = (
                    keys.join(
                        store.withColumnRenamed(id_col, "__old_id"),
                        ["band", "key"],
                    )
                    .select(
                        F.col(id_col).alias("__new_id"),
                        F.col("__old_id"),
                    )
                    # defense in depth against a replayed epoch's own
                    # rows reaching the store read: a doc is never a
                    # near-dup of itself
                    .filter(F.col("__new_id") != F.col("__old_id"))
                )
                pairs = pairs.unionByName(hist)
            pairs = pairs.distinct()
            if verify_threshold is not None:
                # exact Jaccard verify against the stored/in-batch
                # survivor texts — LSH is a candidate generator
                olds = batch_df.select(
                    F.col(id_col).alias("__old_id"),
                    F.col(text_col).alias("__old_text"),
                )
                # stored survivor texts are only candidate partners
                # when the history join actually ran — in-batch pairs
                # always verify against batch texts
                if doc_paths and hist_scan:
                    olds = olds.unionByName(
                        spark.read.parquet(*doc_paths).select(
                            F.col(id_col).alias("__old_id"),
                            F.col(text_col).alias("__old_text"),
                        )
                    )
                both = (
                    pairs.join(
                        batch_df.select(
                            F.col(id_col).alias("__new_id"),
                            F.col(text_col).alias("__new_text"),
                        ),
                        "__new_id",
                    )
                    .join(olds, "__old_id")
                )
                cand = both.select(
                    F.col("__new_id").alias("id_a"),
                    F.col("__old_id").alias("id_b"),
                    F.col("__new_text").alias("__text_a"),
                    F.col("__old_text").alias("__text_b"),
                )
                dropped = _verified_ids(
                    cand, shingle_k, float(verify_threshold)
                )
            else:
                dropped = pairs.select(
                    F.col("__new_id").alias(id_col)
                ).distinct()
            survivors = batch_df.join(
                dropped.withColumnRenamed("id_a", id_col)
                if verify_threshold is not None
                else dropped,
                id_col,
                "left_anti",
            ).persist()
            # idempotent epoch writes (bm25_stream convention):
            # replayed batches overwrite their own directories
            survivors.write.mode("overwrite").parquet(
                fs.join(docs_dir, f"batch_{epoch}")
            )
            kept_keys = keys.join(survivors.select(id_col), id_col)
            kept_keys.write.mode("overwrite").parquet(
                fs.join(bucket_dir, f"batch_{epoch}")
            )
            if bloom_prefilter:
                _update_bloom(
                    kept_keys,
                    bootstrap_paths=bucket_paths if need_bootstrap else [],
                )
                _maybe_resize_bloom()
            survivors.unpersist()
            keys.unpersist()
            if (
                consolidate_every_batches
                and _fragments("buckets") >= consolidate_every_batches
            ):
                # fold only epochs STRICTLY OLDER than this one — those
                # are checkpoint-committed (foreachBatch for epoch N
                # runs only after N-1 committed) and never replay; the
                # current epoch stays standalone so a replay's
                # overwrite is idempotent instead of duplicating its
                # rows next to a consolidated copy
                consolidate_neardup_store(
                    spark, store_path, exclude_epoch=epoch, fs=fs
                )
                if bloom_prefilter and _have_bloom():
                    # fragments were renamed (folded), keys unchanged —
                    # refresh the coverage names so the next startup
                    # doesn't see batch_consolidated as uncovered
                    _write_bloom_manifest()
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _verified_ids(cand: DataFrame, shingle_k: int, threshold: float):
    """ids (as ``id_a``) whose exact shingle Jaccard with any candidate
    partner clears the floor — the same tokenize→shingle→overlap math
    as ``dedup.ngram_jaccard``, inlined over the paired texts."""
    from lantern_spark.functions.text import tokenize
    from lantern_spark.operators.dedup import shingles

    sa = shingles(tokenize(F.col("__text_a")), shingle_k)
    sb = shingles(tokenize(F.col("__text_b")), shingle_k)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    uni = F.size(F.array_union(sa, sb)).cast("double")
    jac = F.when(uni > 0, inter / uni).otherwise(F.lit(0.0))
    return (
        cand.withColumn("__j", jac)
        .filter(F.col("__j") >= threshold)
        .select("id_a")
        .distinct()
    )
