"""Continuous index maintenance: stream new rows into an ANN index.

Daemon parity (SURVEY §2.E last row / daemon/*): the reference daemon
watches for new rows and keeps indexes in sync (init + continuous).
The Spark rendition: readStream over the source → ``foreachBatch``
appending each micro-batch to the index's delta set (exactly-once via
the checkpoint), searched immediately; a size-triggered ``rebuild``
folds deltas into fresh lists/graphs when they grow past a threshold —
the streaming twin of Lantern's insert-then-reindex lifecycle
(insert.c + reindex).

Works against ANY index obeying the delta lifecycle contract
(``add_delta(df)`` / ``rebuild(spark, path)`` / ``.path``): both
``IVFIndex`` and ``HNSWIndex`` qualify — the daemon's continuous sync
applies to the graph index exactly as to the list index.

Scale notes: each micro-batch append is a bounded map-only write; only
the rebuild (amortized) re-shuffles, and it runs from the foreachBatch
driver thread with plain batch semantics.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from lantern_spark.operators.artifact import first_parquet


def incremental_index_job(
    spark: SparkSession,
    index,  # IVFIndex | HNSWIndex (delta-lifecycle duck type)
    source_path: str,
    source_schema,
    checkpoint_path: str,
    rebuild_threshold_rows: Optional[int] = None,
    rebuild_path: Optional[str] = None,
    max_files_per_trigger: int = 4,
    fold_threshold_rows: Optional[int] = None,
    max_fold_shards: int = 8,
    transform=None,
):
    """Start a stream appending new source rows to ``index``'s delta.

    ``transform`` (r8): an optional STATELESS ``DataFrame -> DataFrame``
    applied to the stream before ingestion — the hook that turns this
    into the RAG ingestion stack: ``transform=lambda df:
    embed(chunk_text(df, ...))`` chunks and embeds each new document
    micro-batch and the index syncs over CHUNK rows (map-only
    transforms keep the stream append-only; stateful transforms belong
    in their own stage).

    Returns (query, state) where ``state["index"]`` always points at
    the live index handle (it changes identity after an automatic
    rebuild). Drain with ``query.processAllAvailable()`` in tests.

    ``fold_threshold_rows`` (r7) enables the cheap maintenance tier:
    when the unfolded delta reaches it, ``fold_delta`` folds it into
    the existing structure (affected partitions / one new shard) —
    orders of magnitude cheaper than a rebuild, so it can trigger
    often. The two tiers compose: fold at a small threshold keeps
    query latency flat; rebuild at a large one (or offline) re-trains
    the structure. Fold runs BEFORE the rebuild check each batch, and
    the rebuild threshold counts TOTAL ingested-since-rebuild rows
    (``state["ingested"]``) — folded rows leave the delta dir, but
    they still age the structure toward retraining.

    ``max_fold_shards`` (r8) bounds fold-shard accumulation for
    shard-appending indexes (HNSW): a steady stream of small folds
    would otherwise grow the live shard set — and per-query
    deserialize+walk cost — without bound until the rebuild tier
    fires. Passed through to ``fold_delta`` when the index's fold
    supports it (IVF folds rewrite partitions in place and need no
    cap)."""
    import inspect

    state = {"index": index, "rebuilds": 0, "folds": 0, "ingested": 0}

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    if transform is not None:
        stream = transform(stream)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        idx = state["index"]
        idx.add_delta(batch_df)
        state["ingested"] += batch_df.count()
        if fold_threshold_rows:
            delta_path = os.path.join(idx.path, "delta")
            if first_parquet(delta_path) is not None:
                n = spark.read.parquet(delta_path).count()
                if n >= fold_threshold_rows:
                    if "max_fold_shards" in inspect.signature(
                        idx.fold_delta
                    ).parameters:
                        idx.fold_delta(
                            spark, max_fold_shards=max_fold_shards
                        )
                    else:
                        idx.fold_delta(spark)
                    state["folds"] += 1
        if rebuild_threshold_rows and state["ingested"] >= rebuild_threshold_rows:
            new_path = rebuild_path or idx.path + f"_r{state['rebuilds'] + 1}"
            state["index"] = idx.rebuild(spark, new_path)
            state["rebuilds"] += 1
            state["ingested"] = 0

    query = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(write_batch)
        .start()
    )
    return query, state
