"""Corpus-scale Bloom membership set: the Dolma-style dedup sketch.

North-star extension (AI2 Dolma's deduper: a single Bloom filter over
document URLs / paragraph hashes gates a multi-TB crawl with constant
memory; same role as the reference daemon's "only process unseen rows"
contract, lantern_cli/src/daemon). Exact dedup holds O(distinct keys)
state — unbounded over a 100 TB ingestion history. A Bloom set caps
memory at ``m_bits/8`` bytes forever, at the cost of a bounded
false-positive rate (a false positive DROPS a unique document; there
are no false negatives, so no duplicate ever sneaks through within
the filter's design capacity).

Design (100 TB):
- The filter is SHARDED: ``shard = xxhash64(key) mod n_shards`` (JVM
  expression — the shuffle key never touches Python), each shard an
  independent Bloom of ``m_bits/n_shards`` bits over its key share.
  Uniform key spread keeps every shard at the global load factor, so
  the sharded FPR equals the monolithic one.
- Bit positions use Kirsch-Mitzenmacher double hashing
  ``(h1 + i*h2) % m_shard`` with h1/h2 cut from md5 of the seeded key
  — computed as JVM expressions too (``conv(substring(md5hex))``), so
  the build/probe groups carry 20 B/row (shard, h1, h2), never raw
  text. Size ``n_shards`` so a shard's hash rows fit one task:
  n/n_shards × 20 B (plus its m_shard/8 bitset).
- Build folds each shard's positions into a numpy bitset in ONE
  groupBy — task memory is O(shard rows + m_shard/8).
- Probe uses COGROUP, delivering the shard's bitset to the task
  exactly once; a plain equi-join would copy the multi-MB bitset onto
  every probe row (the bloom_member_hits lesson, operators/bloom.py).

FPR: (1 - e^{-k·n/m})^k — e.g. m=2^33 bits (1 GiB), k=7 holds ~860M
keys at 1%. The streaming twin (bounded-state continuous dedup) lives
in streaming/dedup_stream.streaming_bloom_dedup.
"""

from __future__ import annotations

from typing import Any, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SEED = 42


def _m_shard(m_bits: int, n_shards: int) -> int:
    if m_bits % n_shards != 0 or (m_bits // n_shards) % 8 != 0:
        raise ValueError(
            f"m_bits ({m_bits}) must split into n_shards ({n_shards}) "
            "byte-aligned slices: m_bits % n_shards == 0 and "
            "(m_bits / n_shards) % 8 == 0"
        )
    return m_bits // n_shards


def _shard_col(key_col: Column, n_shards: int) -> Column:
    return F.pmod(F.xxhash64(key_col), F.lit(n_shards)).cast("int")


def _hash_cols(key_col: Column, seed: int) -> tuple:
    """(h1, h2) as 60-bit longs from md5 of the seeded key — pure JVM
    expressions (hex chars 1-15 and 17-31; the md5 is seeded, so these
    are independent of the xxhash64 shard). 60 bits lose nothing at
    realistic m_shard, and ``(h1%m + i*(h2%m)) % m`` keeps every
    intermediate < m·k — overflow-free int64 (operators/bloom.py
    ``_positions`` exactness note)."""
    hx = F.md5(F.concat(F.lit(f"{seed}:"), key_col))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 17, 15), 16, 10).cast("long")
    return h1, h2


def _positions_np(h1: np.ndarray, h2: np.ndarray, m: int, k: int):
    """(n, k) int64 bit positions; h2 forced odd for full-period
    stride."""
    h1 = h1 % m
    h2 = (h2 | 1) % m
    strides = np.arange(k, dtype=np.int64)
    return (h1[:, None] + strides[None, :] * h2[:, None]) % m


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(
        bits,
        (pos >> 3).astype(np.int64),
        (np.uint8(1) << (pos & 7).astype(np.uint8)),
    )


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Row-wise all-k-bits-set over an (n, k) position matrix."""
    got = (bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(
        np.uint8
    )) & 1
    return got.all(axis=1)


def build_bloom_set(
    df: DataFrame,
    key_col: str,
    n_shards: int = 256,
    m_bits: int = 1 << 30,
    k: int = 7,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Fold every (non-NULL) ``key_col`` value into a sharded Bloom
    set: one row per non-empty shard, ``(shard int, bits binary)``.
    Persist the result (it is ``m_bits/8`` bytes total, tiny next to
    the corpus) and probe new data against it forever after —
    dedup-against-history without ever re-reading the history.
    """
    m_shard = _m_shard(m_bits, n_shards)
    kc = F.col(key_col)
    h1, h2 = _hash_cols(kc, seed)
    hashed = df.filter(kc.isNotNull()).select(
        _shard_col(kc, n_shards).alias("shard"),
        h1.alias("__h1"),
        h2.alias("__h2"),
    )
    out_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("bits", T.BinaryType()),
        ]
    )

    def fold(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_shard // 8, dtype=np.uint8)
        pos = _positions_np(
            pdf["__h1"].to_numpy(np.int64),
            pdf["__h2"].to_numpy(np.int64),
            m_shard,
            k,
        )
        _set_bits(bits, pos)
        return pd.DataFrame(
            {"shard": [int(key[0])], "bits": [bits.tobytes()]}
        )

    return hashed.groupBy("shard").applyInPandas(fold, out_schema)


# byte → set-bit-count lookup (one pass popcount, no 8x unpack blowup)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _fill_ratio(bits: np.ndarray) -> float:
    """Set-bit fraction of one shard bitset — O(bytes), table-driven."""
    if len(bits) == 0:
        return 0.0
    return float(_POPCOUNT8[bits].sum(dtype=np.int64)) / (len(bits) * 8)


def bloom_fill_stats(
    bloom_df: DataFrame, m_bits: int = 1 << 30, n_shards: int = 256,
    k: int = 7,
) -> DataFrame:
    """Per-shard saturation diagnostics: ``(shard, fill_ratio,
    fpr_estimate)`` where ``fpr_estimate = fill_ratio**k`` (a probe
    false-positives iff all k bits are set; with fill fraction p of
    bits set, that is ~p^k). Distributed popcount — each task reads
    only its shard's bytes; aggregate with ``avg(fill_ratio)`` /
    ``max(fill_ratio)`` for the corpus view. The silent failure mode
    this surfaces (r8 review item 6): an over-capacity filter's FPR →
    1, i.e. it starts dropping EVERYTHING as "seen"."""
    del m_bits, n_shards  # sizing is implicit in the stored bitsets
    schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("fill_ratio", T.DoubleType()),
            T.StructField("fpr_estimate", T.DoubleType()),
        ]
    )

    def stats(batches):
        for pdf in batches:
            fills = [
                _fill_ratio(np.frombuffer(b, dtype=np.uint8))
                for b in pdf["bits"]
            ]
            yield pd.DataFrame(
                {
                    "shard": pdf["shard"].astype("int32"),
                    "fill_ratio": fills,
                    "fpr_estimate": [f**k for f in fills],
                }
            )

    return bloom_df.mapInPandas(stats, schema)


def probe_bloom_set(
    df: DataFrame,
    bloom_df: DataFrame,
    key_col: str,
    n_shards: int = 256,
    m_bits: int = 1 << 30,
    k: int = 7,
    seed: int = DEFAULT_SEED,
    flag_col: str = "probable_member",
    max_fill_ratio: Optional[float] = 0.95,
) -> DataFrame:
    """All rows of ``df`` plus a boolean ``flag_col``: True when
    ``key_col`` is PROBABLY in the Bloom set (FPR by sizing), False
    when it is DEFINITELY absent (NULL keys probe False — they were
    never inserted). Parameters must match the build call.

    Filter ``~probable_member`` to keep only history-unseen rows.
    COGROUP shape: each task receives (its shard's probe rows, its
    shard's one bitset row) — the bitset crosses once per shard, never
    once per row. Missing shard rows (no history in that shard) probe
    False.

    Saturation guard (r9, review r8 item 6): each probe task popcounts
    its shard's bitset (O(m_shard/8), already in memory) and REFUSES —
    raises ValueError — when the fill fraction exceeds
    ``max_fill_ratio``: past saturation the FPR → 1 and the filter
    silently drops everything as "seen", which is far worse than
    failing loudly. ``max_fill_ratio=None`` disables (diagnostics via
    :func:`bloom_fill_stats`). At the default 0.95 the k=7 FPR is
    already ~0.70 — any sane sizing sits far below."""
    m_shard = _m_shard(m_bits, n_shards)
    kc = F.col(key_col)
    h1, h2 = _hash_cols(kc, seed)
    hashed = df.withColumns(
        {
            "__shard": F.when(
                kc.isNotNull(), _shard_col(kc, n_shards)
            ).otherwise(F.lit(-1)),
            "__h1": F.coalesce(h1, F.lit(0)),
            "__h2": F.coalesce(h2, F.lit(0)),
        }
    )
    out_fields = list(df.schema.fields) + [
        T.StructField(flag_col, T.BooleanType())
    ]
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in df.schema.fields]
    key_name = key_col

    def probe(
        key: Tuple[Any, ...], left: pd.DataFrame, right: pd.DataFrame
    ) -> pd.DataFrame:
        res = left[out_cols].copy()
        if len(right) == 0 or int(key[0]) < 0:
            res[flag_col] = False
            return res
        bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
        if max_fill_ratio is not None:
            fill = _fill_ratio(bits)
            if fill > max_fill_ratio:
                raise ValueError(
                    f"bloom shard {int(key[0])} is saturated: fill "
                    f"ratio {fill:.3f} > max_fill_ratio "
                    f"{max_fill_ratio} (estimated FPR {fill**k:.3f} — "
                    "the filter would drop unique docs as 'seen'); "
                    "rebuild with larger m_bits"
                )
        pos = _positions_np(
            left["__h1"].to_numpy(np.int64),
            left["__h2"].to_numpy(np.int64),
            m_shard,
            k,
        )
        member = _test_bits(bits, pos)
        member &= left[key_name].notna().to_numpy()
        res[flag_col] = member
        return res

    return (
        hashed.groupBy("__shard")
        .cogroup(bloom_df.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


def bloom_fpr(n_keys: int, m_bits: int, k: int = 7) -> float:
    """Theoretical false-positive rate (1 - e^{-kn/m})^k — size
    ``m_bits`` so this is acceptable: a false positive is a unique
    document dropped."""
    import math

    if n_keys <= 0:
        return 0.0
    return (1.0 - math.exp(-k * n_keys / m_bits)) ** k
