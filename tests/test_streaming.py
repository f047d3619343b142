"""Structured Streaming: stateful sessionization + incremental embed.

The sessionizer function is unit-tested directly (no streaming query
needed — it is a plain generator over pandas frames + a state object),
then end-to-end through applyInPandasWithState on a file stream.
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F


class FakeState:
    """Minimal GroupState stand-in for driving the sessionizer fn."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        pass


def _pdf(ts_list, values=None):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(ts_list),
            "value": values or [1.0] * len(ts_list),
        }
    )


class TestSessionizerFn:
    def test_single_session_stays_open(self):
        from lantern_spark.streaming.sessionize import make_sessionizer

        fn = make_sessionizer(gap_seconds=1800)
        st = FakeState()
        out = list(fn((7,), iter([_pdf(["2026-01-01 10:00", "2026-01-01 10:10"])]), st))
        assert out == []  # nothing closed
        start_us, last_us, n, sv = st.get
        assert n == 2 and sv == 2.0

    def test_gap_closes_session(self):
        from lantern_spark.streaming.sessionize import make_sessionizer

        fn = make_sessionizer(gap_seconds=1800)
        st = FakeState()
        out = list(
            fn(
                (7,),
                iter(
                    [
                        _pdf(
                            [
                                "2026-01-01 10:00",
                                "2026-01-01 10:10",
                                "2026-01-01 12:00",  # > 30 min gap
                            ]
                        )
                    ]
                ),
                st,
            )
        )
        assert len(out) == 1
        closed = out[0].iloc[0]
        assert closed["n_events"] == 2 and closed["closed_by"] == "gap"
        # open session carries the last event
        assert st.get[2] == 1

    def test_state_spans_batches(self):
        from lantern_spark.streaming.sessionize import make_sessionizer

        fn = make_sessionizer(gap_seconds=1800)
        st = FakeState()
        list(fn((7,), iter([_pdf(["2026-01-01 10:00"])]), st))
        out = list(fn((7,), iter([_pdf(["2026-01-01 10:20"])]), st))
        assert out == []
        assert st.get[2] == 2  # same session continued across batches

    def test_timeout_flushes_open_session(self):
        from lantern_spark.streaming.sessionize import make_sessionizer

        fn = make_sessionizer(gap_seconds=1800)
        st = FakeState()
        list(fn((7,), iter([_pdf(["2026-01-01 10:00"])]), st))
        st.hasTimedOut = True
        out = list(fn((7,), iter([]), st))
        assert len(out) == 1
        assert out[0].iloc[0]["closed_by"] == "timeout"
        assert st.removed

    def test_matches_batch_sessionization(self, spark, sf_dir):
        """Feeding ALL events through the stateful fn per user must
        reproduce the batch window-based session count."""
        from lantern_spark.streaming.sessionize import make_sessionizer
        from lantern_spark.types import load_events

        ev = (
            load_events(spark, sf_dir)
            .select("user_id", "ts", "value")
            .orderBy("ts")
            .limit(2000)
            .toPandas()
        )
        gap = 1800
        # stream path: one batch per user + forced timeout flush
        n_stream = 0
        fn = make_sessionizer(gap_seconds=gap)
        for uid, grp in ev.groupby("user_id"):
            st = FakeState()
            n_stream += len(
                list(fn((uid,), iter([grp[["ts", "value"]]]), st))
            )
            st.hasTimedOut = True
            n_stream += len(list(fn((uid,), iter([]), st)))
        # batch path: lag/gap cumsum
        ev = ev.sort_values(["user_id", "ts"], kind="stable")
        gaps = (
            ev.groupby("user_id")["ts"].diff().dt.total_seconds() > gap
        )
        n_batch = int(gaps.sum()) + ev["user_id"].nunique()
        assert n_stream == n_batch


class TestStreamingEndToEnd:
    def test_file_stream_sessionize(self, spark, sf_dir, tmp_path):
        from lantern_spark.streaming.sessionize import streaming_sessionize
        from lantern_spark.types import load_events

        src = str(tmp_path / "src")
        os.makedirs(src)
        ev = load_events(spark, sf_dir).select("user_id", "ts", "value")
        ev.limit(500).coalesce(1).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_sessionize(stream, gap_seconds=600)
        q = (
            out.writeStream.format("memory")
            .queryName("sess_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM sess_test").collect()
            # closed sessions must be well-formed
            for r in rows:
                assert r["session_end"] >= r["session_start"]
                assert r["n_events"] >= 1
        finally:
            q.stop()

    def test_incremental_embed_exactly_once(self, spark, tmp_path):
        from lantern_spark.streaming.embed_stream import (
            incremental_embedding_job,
        )

        src = str(tmp_path / "in")
        out_p = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        os.makedirs(src)
        df1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "id long, body string"
        )
        df1.coalesce(1).write.mode("append").parquet(src)
        q = incremental_embedding_job(
            spark, src, df1.schema, "body", "emb", out_p, ckpt, id_col="id"
        )
        try:
            q.processAllAvailable()
            n1 = spark.read.parquet(out_p).count()
            assert n1 == 2
            # new file → only the new rows embed
            spark.createDataFrame(
                [(3, "gamma")], "id long, body string"
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = spark.read.parquet(out_p)
            assert got.count() == 3
            assert got.filter(F.col("emb").isNull()).count() == 0
        finally:
            q.stop()


class TestIncrementalIndex:
    def test_stream_feeds_index_and_rebuilds(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.streaming.index_stream import incremental_index_job

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter("vec_id < 300")
        rest = emb.filter("vec_id >= 300")
        idx = IVFIndex.build(
            base, "embedding", "vec_id", str(tmp_path / "idx"),
            nlist=4, seed=42,
        )
        src = str(tmp_path / "src")
        import os
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src, base.schema, str(tmp_path / "ck"),
            rebuild_threshold_rows=150,
        )
        try:
            rest.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        live = state["index"]
        assert state["rebuilds"] == 1  # 200 delta rows >= 150 threshold
        assert live.manifest.num_vectors == emb.count()
        # a streamed row is searchable in the rebuilt index
        probe = emb.filter("vec_id = 450").first()["embedding"]
        top = live.search(spark, list(probe), k=1, nprobe=4).first()
        assert top["vec_id"] == 450 and top["dist"] == 0.0

    def test_below_threshold_stays_delta(self, spark, sf_dir, tmp_path):
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.streaming.index_stream import incremental_index_job

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb.filter("vec_id < 480"), "embedding", "vec_id",
            str(tmp_path / "idx"), nlist=4, seed=42,
        )
        src = str(tmp_path / "src")
        import os
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src, emb.schema, str(tmp_path / "ck"),
            rebuild_threshold_rows=10_000,
        )
        try:
            emb.filter("vec_id >= 480").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert state["rebuilds"] == 0
        # delta rows searchable without rebuild (the live-view delta union)
        probe = emb.filter("vec_id = 490").first()["embedding"]
        top = state["index"].search(spark, list(probe), k=1, nprobe=4).first()
        assert top["vec_id"] == 490

    def test_hnsw_stream_sync_and_rebuild(self, spark, sf_dir, tmp_path):
        """Daemon continuous-sync parity for the GRAPH index: streamed
        rows land in the delta (searchable immediately), and the
        size-triggered rebuild folds them into fresh graphs — same
        lifecycle as IVF, same job function (duck-typed)."""
        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.streaming.index_stream import incremental_index_job

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter("vec_id < 300")
        rest = emb.filter("vec_id >= 300")
        idx = HNSWIndex.build(
            base, "embedding", "vec_id", str(tmp_path / "hidx"),
            shards=2, seed=42,
        )
        src = str(tmp_path / "hsrc")
        import os

        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src, base.schema, str(tmp_path / "hck"),
            rebuild_threshold_rows=150,
        )
        try:
            rest.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        live = state["index"]
        assert state["rebuilds"] == 1
        # the rebuilt graph index holds every row and validates clean
        stats = live.validate(spark)
        assert stats["n_total"] == emb.count()
        # a streamed row is searchable in the rebuilt graphs
        probe = emb.filter("vec_id = 450").first()["embedding"]
        top = live.search(spark, list(probe), k=1, ef=64).first()
        assert top["vec_id"] == 450
        import pytest as _pt

        assert top["dist"] == _pt.approx(0.0, abs=1e-9)

    def test_quantized_hnsw_stream_rebuild_no_drift(self, spark, sf_dir, tmp_path):
        """The ADVICE-r5 scenario end-to-end: a QUANTIZED graph index in
        the streaming rebuild chain must re-read exact originals from
        its persisted heap vectors — the rebuilt index's stored
        originals stay bit-identical to the source instead of
        compounding quantization error per rebuild."""
        import os

        import numpy as np

        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.streaming.index_stream import incremental_index_job

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter("vec_id < 300")
        idx = HNSWIndex.build(
            base, "embedding", "vec_id", str(tmp_path / "qidx"),
            shards=2, seed=42, quant="i8",
        )
        src = str(tmp_path / "qsrc")
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src, base.schema, str(tmp_path / "qck"),
            rebuild_threshold_rows=150,
        )
        try:
            emb.filter("vec_id >= 300").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        live = state["index"]
        assert state["rebuilds"] == 1
        assert live.manifest["quant"] == "i8"
        # the rebuilt artifact carries its own heap vectors dir and
        # they are EXACT originals, not dequantized reconstructions
        assert os.path.isdir(os.path.join(live.path, "vectors"))
        got = {
            r["vec_id"]: r["embedding"]
            for r in live._all_rows(spark).collect()
        }
        for r in emb.limit(40).collect():
            assert np.array_equal(
                np.asarray(got[r["vec_id"]], dtype=np.float32),
                np.asarray(r["embedding"], dtype=np.float32),
            ), f"vec {r['vec_id']} drifted through streaming rebuild"


class TestStreamingDedup:
    def test_deduper_fn_first_batch_min_id_wins(self):
        from lantern_spark.streaming.dedup_stream import make_stream_deduper

        fn = make_stream_deduper("doc_id", "text")
        st = FakeState()
        batch = pd.DataFrame({"doc_id": [9, 3, 5], "text": ["x", "x", "x"]})
        out = list(fn(("h1",), iter([batch]), st))
        assert len(out) == 1 and out[0]["doc_id"].iloc[0] == 3
        assert st.get == (3,)

    def test_deduper_fn_seen_hash_drops_all(self):
        from lantern_spark.streaming.dedup_stream import make_stream_deduper

        fn = make_stream_deduper("doc_id", "text")
        st = FakeState(value=(1,))
        batch = pd.DataFrame({"doc_id": [7], "text": ["x"]})
        assert list(fn(("h1",), iter([batch]), st)) == []

    def test_file_stream_dedup_end_to_end(self, spark, tmp_path):
        """Two micro-batches with overlapping content: the second batch
        re-sends a duplicate (dropped: state spans batches) plus a new
        doc (emitted)."""
        from lantern_spark.streaming.dedup_stream import streaming_exact_dedup

        src = tmp_path / "src"
        src.mkdir()
        chk = str(tmp_path / "chk")
        schema = "doc_id long, text string"
        spark.createDataFrame(
            [(1, "alpha"), (2, "alpha"), (3, "beta")], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        out = streaming_exact_dedup(stream, "text", "doc_id")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_stream_t")
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got1 = {
                (r["doc_id"], r["text"])
                for r in spark.sql("select * from dedup_stream_t").collect()
            }
            assert got1 == {(1, "alpha"), (3, "beta")}

            spark.createDataFrame(
                [(4, "alpha"), (5, "gamma")], schema
            ).coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
            q.processAllAvailable()
            got2 = {
                (r["doc_id"], r["text"])
                for r in spark.sql("select * from dedup_stream_t").collect()
            }
            assert got2 == {(1, "alpha"), (3, "beta"), (5, "gamma")}
        finally:
            q.stop()


class TestStreamingFoldTier:
    """r7: the cheap maintenance tier — fold_delta on a small
    threshold keeps query latency flat between (rare) rebuilds."""

    def test_fold_tier_folds_without_rebuild(self, spark, sf_dir, tmp_path):
        import os

        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.streaming.index_stream import (
            incremental_index_job,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IVFIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "idx"), nlist=4, seed=42,
        )
        src = str(tmp_path / "src")
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src, emb.schema, str(tmp_path / "ck"),
            fold_threshold_rows=50,
            rebuild_threshold_rows=100_000,
        )
        try:
            emb.filter("vec_id >= 400").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert state["folds"] >= 1 and state["rebuilds"] == 0
        live = state["index"]
        assert live is idx  # fold keeps the handle (in-place)
        assert not os.path.exists(str(tmp_path / "idx" / "delta"))
        assert live.manifest.num_vectors == emb.count()
        probe = emb.filter("vec_id = 450").first()["embedding"]
        top = live.search(spark, list(probe), k=1, nprobe=4).first()
        assert top["vec_id"] == 450 and top["dist"] == 0.0

    def test_fold_tier_hnsw(self, spark, sf_dir, tmp_path):
        import os

        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.streaming.index_stream import (
            incremental_index_job,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.build(
            emb.filter("vec_id < 400"), "embedding", "vec_id",
            str(tmp_path / "idx"), m=8, ef_construction=40, shards=2,
            seed=42,
        )
        src = str(tmp_path / "src")
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src,
            emb.select("vec_id", "embedding").schema,
            str(tmp_path / "ck"), fold_threshold_rows=50,
        )
        try:
            emb.filter("vec_id >= 400").select(
                "vec_id", "embedding"
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert state["folds"] >= 1
        assert idx.manifest.get("fold_epoch", 0) >= 1
        probe = [float(x) for x in emb.filter("vec_id = 450").first()["embedding"]]
        top = idx.search(spark, probe, k=1, ef=64).first()
        assert top["vec_id"] == 450


class TestStreamingRagIngestion:
    """r8: the RAG ingestion stack as ONE stream — new documents chunk
    and embed inside the stream transform (stateless pure exprs), the
    index syncs over CHUNK rows with doc provenance stored."""

    def test_chunk_embed_index_stream(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from lantern_spark.operators.chunk import chunk_text
        from lantern_spark.operators.embed import (
            md5_embed_batch,
            md5_embed_expr,
        )
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.streaming.index_stream import (
            incremental_index_job,
        )

        def rag(df):
            ch = chunk_text(df, "text", "doc_id", max_tokens=6, overlap=2)
            return ch.select(
                (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("vec_id"),
                md5_embed_expr("chunk_text", 16).alias("embedding"),
                "doc_id",
                "chunk_id",
            ).where(F.col("embedding").isNotNull())

        schema = "doc_id long, text string"
        base_docs = spark.createDataFrame(
            [
                (i, f"base document {i} with some body text tokens t{i} u{i}")
                for i in range(30)
            ],
            schema,
        )
        idx = IVFIndex.build(
            rag(base_docs), "embedding", "vec_id",
            str(tmp_path / "rag_idx"), metric="cos", nlist=4, seed=42,
            extra_columns=["doc_id", "chunk_id"],
        )
        src = str(tmp_path / "src")
        os.makedirs(src)
        q, state = incremental_index_job(
            spark, idx, src,
            spark.createDataFrame([], schema).schema,
            str(tmp_path / "ck"),
            transform=rag,
        )
        needle = "streamed rag needle tokens here"  # 5 tokens -> 1 chunk
        try:
            spark.createDataFrame(
                [(100, needle), (101, " ".join(f"w{j}" for j in range(14)))],
                schema,
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        # doc 101: 14 tokens -> ceil(8/4)+1 = 3 chunks; doc 100: 1 chunk
        qvec = md5_embed_batch([needle], 16)[0]
        hit = idx.search(
            spark, qvec, k=1, nprobe=4,
            select_columns=["doc_id", "chunk_id"],
        ).first()
        assert hit["doc_id"] == 100 and hit["chunk_id"] == 0
        assert hit["vec_id"] == 100000
        assert hit["dist"] == pytest.approx(0.0, abs=1e-9)
        # the stream ingested CHUNK rows (1 + 3), not document rows
        assert state["ingested"] == 4
