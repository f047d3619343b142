"""Core types: metric enum, vector column spec, index manifests.

Reference parity:
- metric names {l2sq, cos, cosine, hamming} mirror
  lantern_hnsw/src/hnsw/utils.c:267-278 (``ldb_ResolveMetric``).
- ``VectorColumnSpec`` plays the role of Lantern's declared/inferred
  dimension checking (lantern_hnsw/src/hnsw/build.c:242-369,
  options.c:233-243): Spark arrays are variable-length, so the
  fixed-dim invariant must be asserted explicitly.
- ``IndexManifest`` is the analog of ``HnswIndexHeaderPage``
  (lantern_hnsw/src/hnsw/external_index.h:38-56): the small metadata
  blob that makes a persisted index artifact self-describing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from enum import Enum


class Metric(str, Enum):
    """Distance metric. Values mirror utils.c:267-278 name resolution."""

    L2SQ = "l2sq"
    COS = "cos"
    COSINE = "cosine"  # alias accepted by the reference
    HAMMING = "hamming"
    INNER = "inner"  # negative inner product (pgvector-style extension)

    @classmethod
    def resolve(cls, name: "str | Metric") -> "Metric":
        if isinstance(name, Metric):
            m = name
        else:
            try:
                m = cls(str(name).lower())
            except ValueError:
                raise ValueError(
                    f"Unsupported metric kind: {name} "
                    f"(expected one of {[m.value for m in cls]})"
                ) from None
        return cls.COS if m is cls.COSINE else m


# Reference default HNSW build params (lantern_hnsw/src/hnsw/options.h:14-27)
DEFAULT_M = 16
DEFAULT_EF_CONSTRUCTION = 128
DEFAULT_EF = 64
DEFAULT_INIT_K = 10  # options.h:44
MAX_K = 1000  # options.h:45
MAX_DIM = 2000  # options.h:15


@dataclass(frozen=True)
class VectorColumnSpec:
    """Schema contract for a vector column (fixed dim + metric).

    Lantern infers/declares dim and re-checks on every insert
    (build.c:339-352 CheckHnswIndexDimensions). ``validate(df)``
    is that check as a DataFrame assertion.
    """

    column: str
    dim: int
    metric: Metric = Metric.L2SQ
    dtype: str = "float"  # float | int (hamming bit-packed int32)

    def __post_init__(self):
        if self.dim <= 0:
            raise ValueError("dim must be positive")
        if self.dim > MAX_DIM:
            raise ValueError(f"dim {self.dim} exceeds max {MAX_DIM} (options.h:15)")

    def validate(self, df):
        """Return rows violating the fixed-dim invariant (empty == valid).

        NULL vectors are allowed (Lantern skips them: build.c:153-154).
        """
        from pyspark.sql import functions as F

        c = F.col(self.column)
        return df.filter(c.isNotNull() & (F.size(c) != self.dim))

    def assert_valid(self, df) -> None:
        bad = self.validate(df)
        n = bad.limit(1).count()
        if n:
            row = bad.select(self.column).first()
            got = len(row[0]) if row and row[0] is not None else None
            raise ValueError(
                f"Vector column '{self.column}' dimension mismatch: "
                f"expected {self.dim}, found array of length {got}"
            )


@dataclass
class IndexManifest:
    """Self-describing metadata for a persisted ANN index artifact.

    Analog of HnswIndexHeaderPage (external_index.h:38-56): stores the
    params needed to open/search the index without rescanning data.
    Stored as the artifact's ``manifest.json``, which only the
    journaled commit of operators/artifact.py writes (tmp + atomic
    replace), so a killed writer never leaves a torn manifest.
    """

    kind: str  # "ivf" | "ivf_hnsw" | "flat"
    column: str
    id_column: str
    metric: str
    dim: int
    num_vectors: int
    nlist: int = 0  # IVF partition count (0 = flat)
    params: dict = field(default_factory=dict)
    # IVF centroids inline (nlist×dim floats — header-page-sized by
    # construction, like usearch_header living inside
    # HnswIndexHeaderPage): probing then needs NO Spark job at all
    centroids: list = field(default_factory=list)
    version: int = 1
    magic: str = "lantern-spark-index"  # header magicNumber analog
    # artifact format version "major.minor" (the extension-upgrade
    # compatibility gate the reference tests in test_updates.py): a
    # reader refuses unknown MAJORS with a clear error instead of
    # failing obscurely mid-search; minors are read-compatible
    format_version: str = "1.1"

    @classmethod
    def from_dict(cls, d: dict, path: str) -> "IndexManifest":
        if d.get("magic") != "lantern-spark-index":
            raise ValueError(f"Not a lantern-spark index at {path}")
        check_format_version(d.setdefault("format_version", "1.0"), path)
        return cls(**d)


FORMAT_MAJOR = 1


def check_format_version(fv, path: str) -> None:
    """Refuse artifacts written under an unknown format MAJOR (the
    test_updates.py upgrade-path analog). Manifests predating the field
    are read as 1.0 — same major, accepted."""
    try:
        major = int(str(fv).split(".", 1)[0])
    except ValueError:
        raise ValueError(
            f"index at {path} has unparseable format_version {fv!r}"
        )
    if major != FORMAT_MAJOR:
        raise ValueError(
            f"index at {path} has format_version {fv} (major {major}); "
            f"this reader supports major {FORMAT_MAJOR} only — rebuild "
            "the index or upgrade lantern_spark"
        )


@dataclass(frozen=True)
class PQSpec:
    """Product-quantization parameters.

    Constraints mirror pqtable.c:81-91,118-127: clusters ≤ 256,
    dim divisible by splits (subvector count).
    """

    dim: int
    splits: int
    clusters: int = 256
    seed: int = 42

    def __post_init__(self):
        if self.clusters > 256:
            raise ValueError("clusters must be ≤ 256 (pqtable.c:85-87)")
        if self.clusters < 1:
            raise ValueError("clusters must be ≥ 1")
        if self.splits < 1 or self.splits > self.dim:
            raise ValueError("splits must be in [1, dim] (pqtable.c:118-127)")
        if self.dim % self.splits != 0:
            raise ValueError(
                f"dim {self.dim} not divisible by splits {self.splits} "
                "(pqtable.c:81-91)"
            )

    @property
    def subdim(self) -> int:
        return self.dim // self.splits


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    """Benchmark data dir, overridable via $SPARK_GRAFT_SF_DIR."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark, sf_dir: str, name: str):
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def local_df(spark, rows, schema):
    """Small driver-side relation via the Arrow/pandas construction
    path (r14 optimization, guide §4 — the Python boundary).

    ``spark.createDataFrame(list_of_tuples)`` parallelizes the list
    into ``defaultParallelism`` slices and launches a Python worker
    PER SLICE to unpickle a handful of rows: a measured ~0.65 s fixed
    cost per call on local[32] for a 5-row relation. The pandas path
    converts driver-side and ships Arrow batches — ~50 ms for the same
    relation (13×), no Python workers. Every query-side tiny relation
    (BM25 query terms, seed lists, codebooks, centroid tables) goes
    through here.

    ``schema`` is the usual DDL string / StructType and is applied
    verbatim, so column names and types are identical to the plain
    ``createDataFrame(rows, schema)`` call this replaces. Falls back
    to the classic path for shapes pandas cannot round-trip (no such
    caller today, but correctness beats speed if one appears).
    """
    import pandas as pd

    rows = list(rows)
    try:
        if isinstance(schema, str):
            names = [
                f.strip().split()[0].strip("`")
                for f in _split_ddl_fields(schema)
            ]
        else:  # StructType
            names = list(schema.fieldNames())
        # NULL identity (r14 ADVICE): pandas dtype inference turns a
        # None in an otherwise-float column into float64 NaN, and Arrow
        # ships NaN to Spark as NaN, not NULL (int columns raise and
        # would hit the fallback; doubles do not). Callers like
        # ppl_buckets rely on None surviving as SQL NULL for null-safe
        # (<=>) joins — so any column containing a None is constructed
        # at object dtype, where None→NULL round-trips exactly.
        cols = {}
        for i, n in enumerate(names):
            vals = [r[i] for r in rows]
            if any(v is None for v in vals):
                cols[n] = pd.Series(vals, dtype=object)
            else:
                cols[n] = vals
        pdf = pd.DataFrame(cols, columns=names)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def _split_ddl_fields(ddl: str) -> list:
    """Split a DDL schema string on TOP-LEVEL commas only (array<…>
    and struct<…, …> field types contain commas of their own)."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def ensure_parallelism(df, min_partitions: int = 0):
    """Repartition a DataFrame whose scan is under-parallelized.

    A single large unsplittable file (one parquet row group) yields one
    task no matter how many cores exist — CPU-heavy text/vector kernels
    then run 1-way. This helper repartitions only when the current
    partition count is below the session's default parallelism, so at
    real scale (many input files) it is a no-op and adds NO shuffle.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def load_events(spark, sf_dir: str):
    """Load the events table, normalizing `ts` to a timestamp column.

    Testdata generations have shipped `ts` either as a native
    timestamp[us] (current, surfaces as TIMESTAMP_NTZ) or as
    TIMESTAMP(NANOS), which Spark's parquet reader only accepts as a
    nanosecond BIGINT under `nanosAsLong`. Branch on the loaded dtype:
    a LongType column is treated as ns-epoch and converted with exact
    integer division (double division would lose precision at ns-epoch
    magnitude); an NTZ column is converted via pure NTZ arithmetic —
    ``timestampdiff(MICROSECOND, epoch, ts)`` → ``timestamp_micros`` —
    which treats the stored wall time as UTC regardless of session
    timezone (a plain ``cast("timestamp")`` would re-interpret under
    whatever zone the session happens to use).

    SESSION-WIDE SIDE EFFECT (deliberate, ADVICE r5): this sets
    ``spark.sql.session.timeZone=UTC`` for the session and does NOT
    restore it. The conversion above no longer needs it, but every
    registered events query downstream (hourly rollup, sessionize,
    as-of) date_truncs and renders this column, and those operations
    ARE session-zone-dependent — they must match the DuckDB oracle's
    naive-UTC reading of the same file. Restoring the previous zone
    after returning would silently shift the lazily-evaluated
    downstream plans instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df
