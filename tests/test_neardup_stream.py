"""Streaming near-duplicate gate (streaming/neardup_stream, r9): the
MinHash/LSH tier of the continuous-dedup family — history collisions,
in-batch min-id winners, Jaccard verification, epoch idempotence."""

import time

import pytest
from pyspark.sql import functions as F


def _wait(q, seconds=60):
    deadline = time.time() + seconds
    while time.time() < deadline:
        q.processAllAvailable()
        return
    raise TimeoutError


BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from a mossy log near the river bend and "
    "count passing clouds all afternoon in complete silence"
)


def _docs():
    return {
        1: BASE,
        2: BASE.replace("clouds", "boats"),          # near-dup of 1
        3: "an entirely different document about spark shuffles and "
           "partition pruning with no shared shingles at all here",
        4: BASE.replace("turtles", "rabbits"),       # near-dup of 1
        5: "another unique text concerning bloom filters rolling "
           "hashes and suffix arrays in large corpora deduplication",
        6: BASE.replace("clouds", "boats").replace("silence", "quiet"),
    }


class TestStreamingNearDup:
    def _run(self, spark, tmp_path, batches, verify_threshold=0.8, **kw):
        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
            load_neardup_survivors,
        )

        src = tmp_path / "src"
        src.mkdir(parents=True)
        schema = "doc_id long, text string"
        docs = _docs()
        for i, ids in enumerate(batches):
            spark.createDataFrame(
                [(d, docs[d]) for d in ids], schema
            ).repartition(1).write.mode("overwrite").parquet(
                str(src / f"b{i}")
            )
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        store = str(tmp_path / "store")
        q = incremental_neardup_job(
            stream, "text", "doc_id", store,
            str(tmp_path / "chk"),
            verify_threshold=verify_threshold,
            **kw,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(
            r["doc_id"]
            for r in load_neardup_survivors(spark, store).collect()
        )

    def test_history_and_in_batch_dups_drop(self, spark, tmp_path):
        # batch 0: original + unrelated; batch 1: two near-dups of doc
        # 1 (one also in-batch-dup of the other) + a fresh unique doc
        got = self._run(spark, tmp_path, [[1, 3], [2, 4, 5]])
        assert got == [1, 3, 5]

    def test_in_batch_min_id_wins(self, spark, tmp_path):
        # 6 differs from 2 by ONE token — an in-batch near-dup pair
        got = self._run(spark, tmp_path, [[2, 6, 3]])
        assert got == [2, 3]  # min id survives the shared buckets

    @pytest.mark.slow
    def test_verification_rescues_banding_fps(self, spark, tmp_path):
        """verify_threshold=None drops on ANY bucket collision;
        the default verifies with exact Jaccard, so genuinely
        different docs survive even if a band ever collides — and
        near-dups still drop under both modes."""
        strict = self._run(
            spark, tmp_path / "a", [[1], [2, 3]], verify_threshold=0.8
        )
        assert strict == [1, 3]
        loose = self._run(
            spark, tmp_path / "b", [[1], [2, 3]], verify_threshold=None
        )
        assert 2 not in loose and 1 in loose

    def test_chained_duplicates_collapse_to_representative(
        self, spark, tmp_path
    ):
        """2 dups of 1 arriving in separate batches both collapse to
        doc 1 — the dropped copy's buckets are never stored, so the
        third copy still collides with the representative."""
        got = self._run(spark, tmp_path, [[1], [2], [4]])
        assert got == [1]

    def test_bucket_fragments_match_batch_banding(self, spark, tmp_path):
        """Stored buckets keep their (doc_id, band, key) layout and key
        exactly as the batch operator's ``lsh_band_keys``."""
        from lantern_spark.operators.dedup import lsh_band_keys, minhash_docs

        got = self._run(spark, tmp_path, [[1, 3], [2, 4, 5]])
        assert got == [1, 3, 5]
        stored = spark.read.parquet(
            str(tmp_path / "store" / "buckets" / "batch_0")
        )
        assert stored.columns == ["doc_id", "band", "key"]
        docs = _docs()
        batch = spark.createDataFrame(
            [(d, docs[d]) for d in (1, 3)], "doc_id long, text string"
        )
        want = lsh_band_keys(minhash_docs(batch, "text", "doc_id"), "doc_id")
        assert sorted(stored.collect()) == sorted(want.collect())

    def test_bloom_prefilter_skips_store_scan(
        self, spark, tmp_path, monkeypatch
    ):
        """r10 (review r9 item 2): batches whose band keys all probe
        definitely-absent never read the bucket/doc stores — the
        history cost for collision-free traffic is one cogroup
        against the 16 MB filter. Spied via DataFrameReader.parquet
        (every store read in the gate goes through it)."""
        from pyspark.sql.readwriter import DataFrameReader

        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
            load_neardup_survivors,
        )

        src = tmp_path / "src"
        src.mkdir(parents=True)
        schema = "doc_id long, text string"
        docs = _docs()
        # three batches of mutually-unique docs: no history collision
        for i, ids in enumerate([[1], [3], [5]]):
            spark.createDataFrame(
                [(d, docs[d]) for d in ids], schema
            ).repartition(1).write.mode("overwrite").parquet(
                str(src / f"b{i}")
            )
        store = str(tmp_path / "store")
        reads = []
        real = DataFrameReader.parquet

        def spy(self, *paths, **kw):
            reads.extend(paths)
            return real(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        q = incremental_neardup_job(
            stream, "text", "doc_id", store, str(tmp_path / "chk")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        monkeypatch.undo()
        store_reads = [
            p for p in reads
            if "/buckets/batch" in p or "/docs/batch" in p
        ]
        assert store_reads == []  # bloom said absent → no store scan
        assert any("/bloom" in p for p in reads)  # ...but probes ran
        got = sorted(
            r["doc_id"]
            for r in load_neardup_survivors(spark, store).collect()
        )
        assert got == [1, 3, 5]

    def test_bloom_prefilter_off_same_output(self, spark, tmp_path):
        on = self._run(spark, tmp_path / "on", [[1, 3], [2, 4, 5]])
        off = self._run(
            spark, tmp_path / "off", [[1, 3], [2, 4, 5]],
            bloom_prefilter=False,
        )
        assert on == off == [1, 3, 5]

    def _replay_last_epoch(self, spark, tmp_path, batches, **kw):
        """Run the gate to completion, then delete the LAST epoch's
        commit marker from the checkpoint and restart — Structured
        Streaming's at-least-once contract replays that epoch against
        a store already holding its own writes."""
        import os

        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
            load_neardup_survivors,
        )

        src = tmp_path / "src"
        src.mkdir(parents=True)
        schema = "doc_id long, text string"
        docs = _docs()
        for i, ids in enumerate(batches):
            spark.createDataFrame(
                [(d, docs[d]) for d in ids], schema
            ).repartition(1).write.mode("overwrite").parquet(
                str(src / f"b{i}")
            )
        store = str(tmp_path / "store")
        chk = str(tmp_path / "chk")

        def _go():
            stream = spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", "1"
            ).parquet(str(src) + "/*")
            q = incremental_neardup_job(
                stream, "text", "doc_id", store, chk, **kw
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        _go()
        last = max(
            int(n) for n in os.listdir(os.path.join(chk, "commits"))
            if n.isdigit()
        )
        os.remove(os.path.join(chk, "commits", str(last)))
        crc = os.path.join(chk, "commits", f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        _go()
        rows = load_neardup_survivors(spark, store).collect()
        return sorted(r["doc_id"] for r in rows)

    def test_replayed_epoch_keeps_its_survivors(self, spark, tmp_path):
        """At-least-once replay must NOT erase the epoch's survivors:
        the crashed attempt's own batch dir is on disk, and reading it
        back as history would self-pair every doc (Jaccard 1.0) and
        overwrite the epoch with an empty survivor set."""
        got = self._replay_last_epoch(
            spark, tmp_path, [[1, 3], [2, 4, 5]]
        )
        assert got == [1, 3, 5]

    @pytest.mark.slow
    def test_replay_after_consolidation_no_duplicates(
        self, spark, tmp_path
    ):
        """In-stream consolidation folds only committed (strictly
        older) epochs, so a replayed epoch's overwrite stays
        idempotent instead of duplicating its rows next to a
        consolidated copy."""
        got = self._replay_last_epoch(
            spark, tmp_path, [[1], [3], [2, 5]],
            consolidate_every_batches=2,
        )
        assert got == [1, 3, 5]  # each survivor exactly once

    def test_consolidation_compacts_and_preserves(self, spark, tmp_path):
        """Fragment compaction (the bm25_stream analog): with the
        threshold at 2, three batches collapse the epoch dirs while
        the gate's output stays identical."""
        import os

        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
            load_neardup_survivors,
        )

        src = tmp_path / "src"
        src.mkdir(parents=True)
        schema = "doc_id long, text string"
        docs = _docs()
        for i, ids in enumerate([[1], [3], [2, 5]]):
            spark.createDataFrame(
                [(d, docs[d]) for d in ids], schema
            ).repartition(1).write.mode("overwrite").parquet(
                str(src / f"b{i}")
            )
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        store = str(tmp_path / "store")
        q = incremental_neardup_job(
            stream, "text", "doc_id", store, str(tmp_path / "chk"),
            consolidate_every_batches=2,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            r["doc_id"]
            for r in load_neardup_survivors(spark, store).collect()
        )
        assert got == [1, 3, 5]  # 2 dropped as near-dup of 1
        frags = [
            n for n in os.listdir(os.path.join(store, "buckets"))
            if n.startswith("batch_")
        ]
        assert len(frags) <= 2  # compacted at least once


class TestBloomParamsManifest:
    """Review finding: a persisted filter probed with different
    (m_bits, shards, k) than it was built with yields silent false
    negatives. The params manifest must detect the change and rebuild
    the filter from the store instead of probing stale bits."""

    def _batch(self, spark, tmp_path, sub, ids):
        docs = _docs()
        d = tmp_path / "src" / sub
        spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        ).repartition(1).write.mode("overwrite").parquet(str(d))

    def _run_once(self, spark, tmp_path, **kw):
        import shutil

        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
            load_neardup_survivors,
        )

        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(tmp_path / "src") + "/*")
        # fresh checkpoint per run so every batch replays against the
        # persisted store (simulating a restarted job)
        shutil.rmtree(tmp_path / "chk", ignore_errors=True)
        q = incremental_neardup_job(
            stream, "text", "doc_id", str(tmp_path / "store"),
            str(tmp_path / "chk"), verify_threshold=0.8, **kw,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(
            r["doc_id"]
            for r in load_neardup_survivors(
                spark, str(tmp_path / "store")
            ).collect()
        )

    def test_resized_filter_rebuilds_and_still_drops_dups(
        self, spark, tmp_path
    ):
        import json
        import os

        (tmp_path / "src").mkdir(parents=True)
        self._batch(spark, tmp_path, "b0", [1, 3])
        got = self._run_once(
            spark, tmp_path, bloom_m_bits=1 << 16, bloom_shards=4
        )
        assert got == [1, 3]
        params = json.load(
            open(tmp_path / "store" / "bloom_params.json")
        )
        assert {k: params[k] for k in ("m_bits", "shards", "k")} == {
            "m_bits": 1 << 16, "shards": 4, "k": 7}
        assert params["covered"]  # store coverage recorded

        # Restart with a RESIZED filter: the stale filter must be
        # dropped + rebuilt (manifest updated), and the near-dup of
        # doc 1 must still drop — with the old bits probed under new
        # arithmetic it would false-negative straight past the store.
        self._batch(spark, tmp_path, "b1", [4, 5])
        got = self._run_once(
            spark, tmp_path, bloom_m_bits=1 << 18, bloom_shards=8
        )
        assert got == [1, 3, 5]
        params = json.load(
            open(tmp_path / "store" / "bloom_params.json")
        )
        assert {k: params[k] for k in ("m_bits", "shards", "k")} == {
            "m_bits": 1 << 18, "shards": 8, "k": 7}

    def test_pre_manifest_filter_treated_as_stale(self, spark, tmp_path):
        import os

        (tmp_path / "src").mkdir(parents=True)
        self._batch(spark, tmp_path, "b0", [1, 3])
        self._run_once(spark, tmp_path)
        os.remove(tmp_path / "store" / "bloom_params.json")
        self._batch(spark, tmp_path, "b1", [4])
        got = self._run_once(spark, tmp_path)
        assert got == [1, 3]  # dup still dropped after rebuild
        assert (tmp_path / "store" / "bloom_params.json").exists()

    @pytest.mark.slow
    def test_prefilter_off_run_staleness_detected(self, spark, tmp_path):
        """Review finding: a bloom_prefilter=False run stores fragments
        the filter never folded; a later prefilter=True run must treat
        the filter as stale (coverage check) instead of probing it —
        otherwise a near-dup of an unfolded doc skips the history scan
        and is admitted."""
        (tmp_path / "src").mkdir(parents=True)
        # run 1: prefilter ON, stores doc 1 + 3, filter covers them
        self._batch(spark, tmp_path, "b0", [1, 3])
        assert self._run_once(spark, tmp_path) == [1, 3]
        # run 2: prefilter OFF, stores doc 5 (unique) — NOT folded
        self._batch(spark, tmp_path, "b1", [5])
        assert self._run_once(
            spark, tmp_path, bloom_prefilter=False
        ) == [1, 3, 5]
        # run 3: prefilter ON again; batch has a near-dup of doc 5's
        # content? (no near-dup fixture for 5 — use doc 2/4/6 which
        # near-dup doc 1's family: the coverage check must rebuild so
        # ANY stored doc's dup still drops). Also verify the manifest
        # now covers every fragment.
        import json

        self._batch(spark, tmp_path, "b2", [4])
        got = self._run_once(spark, tmp_path)
        assert got == [1, 3, 5]  # 4 (near-dup of 1) dropped post-rebuild
        params = json.load(open(tmp_path / "store" / "bloom_params.json"))
        frags = sorted(
            n for n in __import__("os").listdir(tmp_path / "store" / "buckets")
            if n.startswith("batch_")
        )
        assert set(frags) <= set(params["covered"])


class TestBloomResize:
    """r11 (review r10 item 8): resize-on-saturation — a filter driven
    past bloom_resize_fill_ratio rebuilds at doubled m_bits from the
    bucket store (staged swap), the grown size persists in the
    manifest and is ADOPTED on restart (not wiped as stale), and gate
    semantics are unchanged throughout."""

    @staticmethod
    def _unique(i):
        # long enough that a one-token edit keeps exact Jaccard above
        # the 0.8 verify floor (one edit flips ~3 of ~38 shingles)
        return (
            f"document number {i} discusses topic {i * 7} and subject "
            f"{i * 13} with distinct content tokens alpha{i} beta{i} "
            f"gamma{i} delta{i} epsilon{i} zeta{i} eta{i} theta{i} "
            "followed by a long shared tail of ordinary filler words "
            "that every document in this fixture repeats verbatim so "
            "single token edits stay well above the verification "
            "threshold for near duplicate detection in these tests"
        )

    def _job(self, spark, src, store, chk, **kw):
        from lantern_spark.streaming.neardup_stream import (
            incremental_neardup_job,
        )

        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        return incremental_neardup_job(
            stream, "text", "doc_id", str(store), str(chk),
            # 40 docs × 4 bands over a 1024-bit filter measures ~0.40
            # max shard fill — the 0.35 trigger is hit on batch 1
            bloom_m_bits=1 << 10, bloom_shards=2, bloom_k=7,
            bloom_resize_fill_ratio=0.35,
            **kw,
        )

    @pytest.mark.slow
    def test_grow_persist_adopt(self, spark, tmp_path):
        import json

        from lantern_spark.streaming.neardup_stream import (
            load_neardup_survivors,
        )

        src = tmp_path / "src"
        src.mkdir(parents=True)
        schema = "doc_id long, text string"
        # two batches of unique docs: ~40 docs × 4 band keys ≈ 160
        # keys over a 1024-bit filter (k=7) — past the 0.35 trigger
        b0 = [(i, self._unique(i)) for i in range(100, 120)]
        b1 = [(i, self._unique(i)) for i in range(200, 220)]
        # plus a near-dup of doc 100 arriving in batch 1
        b1.append((900, self._unique(100).replace("alpha100", "alphaX")))
        spark.createDataFrame(b0, schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(str(src / "b0"))
        q = self._job(spark, src, tmp_path / "store", tmp_path / "chk")
        try:
            q.processAllAvailable()
            spark.createDataFrame(b1, schema).repartition(1).write.mode(
                "overwrite"
            ).parquet(str(src / "b1"))
            q.processAllAvailable()
        finally:
            q.stop()

        manifest = json.load(
            open(tmp_path / "store" / "bloom_params.json")
        )
        assert manifest["m_bits"] > (1 << 10)  # grew
        assert manifest["m_bits"] % (1 << 10) == 0  # by doubling
        grown = manifest["m_bits"]

        got = sorted(
            r["doc_id"]
            for r in load_neardup_survivors(
                spark, str(tmp_path / "store")
            ).collect()
        )
        assert 900 not in got  # near-dup still dropped post-resize
        assert got == sorted(range(100, 120)) + sorted(range(200, 220))

        # restart with the ORIGINAL configured size: the grown filter
        # must be adopted (power-of-two multiple), not wiped as stale
        b2 = [
            (300, self._unique(300)),
            (901, self._unique(205).replace("beta205", "betaX")),
        ]
        spark.createDataFrame(b2, schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(str(src / "b2"))
        q2 = self._job(spark, src, tmp_path / "store", tmp_path / "chk")
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        manifest2 = json.load(
            open(tmp_path / "store" / "bloom_params.json")
        )
        assert manifest2["m_bits"] >= grown  # adopted (may grow more)
        got2 = sorted(
            r["doc_id"]
            for r in load_neardup_survivors(
                spark, str(tmp_path / "store")
            ).collect()
        )
        assert 901 not in got2  # history near-dup dropped after restart
        assert 300 in got2
