"""On-disk lifecycle of an index artifact, shared by every index family.

An index artifact is one directory: parquet relations (``lists/``,
``graphs/``, ``vectors/``, ``delta/``, ``tombstones/``, …) plus small
JSON control files (``manifest.json``, ``delta_seq``, the hybrid's
``cell_graphs_meta.json``). :class:`IVFIndex`, :class:`HNSWIndex` and
:class:`IVFGraphIndex` read and mutate it only through this module.

Commit protocol (the Spark analog of Lantern's generic WAL, insert.c /
external_index.c: immutability + one atomic publish). Every mutation —
build, in-place rebuild, IVF fold, HNSW fold and compaction, hybrid
attach/refresh, delta and tombstone appends — runs in three steps:

1. Spark writes the new relations into ``_stage/`` inside the
   artifact (same filesystem, so moving them in is a rename; a rebuild
   may read the live relations lazily while it writes).
2. :func:`commit` writes ONE journal, ``_journal.json``, with
   ``FS.write_text`` (atomic: tmp + replace). It lists directory or
   file moves ``(staged, live)`` (``staged=None`` removes ``live``),
   the control files to write and the paths to delete. Writing the
   journal is the commit point.
3. :func:`_replay` applies the journal idempotently: each move trashes
   the old live path (an atomic rename into ``_trash/``) and renames
   the staged one in; then the control files are written; then the
   deletes are trashed; then ``_trash/``, ``_stage/`` and the journal
   are removed.

Crash recovery is the same replay: :func:`recover` runs at every writer
entry point (build, add_delta, delete, fold_delta, rebuild, attach,
refresh) and finishes a journal left by a killed process, or drops the
stage of a commit that never reached its journal. Readers (``load``,
searches) never replay — a reader's renames could race a live writer's
(the single-writer contract). The replay order keeps a reader's view
correct at every step for the folds: moves land before the manifest,
and the delta and tombstone dirs (whose rows the moved-in relations now
hold) are removed only after the manifest's watermark hides them.

``FS`` is the module's filesystem object; tests patch it to kill a
child process at a chosen operation.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Optional, Sequence, Tuple

from lantern_spark import _fsutil

FS = _fsutil.LOCAL_FS

MANIFEST = "manifest.json"
JOURNAL = "_journal.json"
STAGE = "_stage"
TRASH = "_trash"
DELTA = "delta"
TOMBSTONES = "tombstones"
DELTA_SEQ = "delta_seq"


# ---------------------------------------------------------------------------
# Control files and the journaled commit
# ---------------------------------------------------------------------------


def read_json(root: str, name: str = MANIFEST):
    """A control file's JSON value (the manifest by default); raises
    ``FileNotFoundError`` when absent."""
    raw = FS.read_text(os.path.join(root, name))
    if raw is None:
        raise FileNotFoundError(os.path.join(root, name))
    return json.loads(raw)


def stage_path(root: str, name: str) -> str:
    """Where a writer puts the staged copy of relation ``name``."""
    return os.path.join(root, STAGE, name)


def commit(
    root: str,
    moves: Sequence[Tuple[Optional[str], str]] = (),
    writes: Optional[dict] = None,
    deletes: Iterable[str] = (),
) -> None:
    """Publish staged outputs: write the journal (the commit point),
    then replay it. Paths are relative to ``root``; ``writes`` maps a
    control-file name to its JSON value."""
    journal = {
        "moves": [[s, d] for s, d in moves],
        "writes": dict(writes or {}),
        "deletes": list(deletes),
    }
    FS.write_text(os.path.join(root, JOURNAL), json.dumps(journal))
    _replay(root, journal)


def recover(root: str) -> bool:
    """Finish a commit a killed process left behind (replay its
    journal), or drop the stage of one that never reached its journal.
    Returns True when a journal was replayed — the caller's in-memory
    manifest is then stale."""
    raw = FS.read_text(os.path.join(root, JOURNAL))
    if raw is None:
        _drop_scratch(root)
        return False
    _replay(root, json.loads(raw))
    return True


def _drop_scratch(root: str) -> None:
    for d in (TRASH, STAGE):
        if FS.exists(os.path.join(root, d)):
            FS.rmtree(os.path.join(root, d))


def _replay(root: str, journal: dict) -> None:
    """Apply a journal. Idempotent: a move whose staged source is gone
    already happened; a trashed or deleted path that is absent is
    already done; control files are rewritten whole."""
    trash = os.path.join(root, TRASH)

    def to_trash(path: str, slot: str) -> None:
        if FS.exists(path):
            FS.makedirs(trash)
            FS.rename(path, os.path.join(trash, slot))

    for i, (src, dst) in enumerate(journal["moves"]):
        live = os.path.join(root, dst)
        staged = os.path.join(root, src) if src is not None else None
        if staged is not None and not FS.exists(staged):
            continue
        to_trash(live, f"m{i}")
        if staged is not None:
            FS.makedirs(os.path.dirname(live))
            FS.rename(staged, live)
    for name, value in journal["writes"].items():
        FS.write_text(os.path.join(root, name), json.dumps(value, indent=2))
    for i, rel in enumerate(journal["deletes"]):
        to_trash(os.path.join(root, rel), f"d{i}")
    _drop_scratch(root)
    FS.delete_file(os.path.join(root, JOURNAL))


def staged_file_moves(root: str, name: str) -> list:
    """Moves that append every data file of staged relation ``name``
    into the live one (Spark part files carry unique names)."""
    stage = stage_path(root, name)
    return [
        (os.path.join(STAGE, name, f), os.path.join(name, f))
        for f in FS.listdir(stage)
        if not f.startswith(("_", "._"))
    ]


def partition_moves(root: str, name: str, key: str, values) -> list:
    """Moves replacing each live partition ``name/key=V`` by its staged
    copy; a partition the staged write left empty has no staged dir,
    so its move is a delete."""
    staged = set(FS.listdir(stage_path(root, name)))
    return [
        (
            os.path.join(STAGE, name, f"{key}={v}")
            if f"{key}={v}" in staged
            else None,
            os.path.join(name, f"{key}={v}"),
        )
        for v in values
    ]


def newest_per_id(df, id_col: str):
    """One row per id from rows tagged ``__src`` (0 = delta, 1 =
    stored) and ``__seq`` (recency): delta rows win, then the highest
    sequence — the deterministic rebuild rule of every index family
    (review r7 #7)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(id_col).orderBy(
        F.col("__src").asc(), F.col("__seq").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src", "__seq")
    )


# ---------------------------------------------------------------------------
# Read side
# ---------------------------------------------------------------------------


def _dir_fingerprint(path: str):
    """Cheap fs token for a parquet directory: sorted (name, mtime_ns,
    size) of DIRECT children, plus — for child DIRECTORIES (partition
    dirs like ``list_id=N``) — one shallow scandir of the child's own
    entries. The second level matters on filesystems with coarse
    timestamps (1 s on HFS+/some NFS): replacing the part files inside
    ``list_id=N`` does not change the subdir's name or size, so with a
    same-tick mtime the shallow token would miss the rewrite; the
    part-file names (UUID-bearing) and sizes cannot collide across
    writes.

    Returns ``None`` when the path cannot be scanned — missing dir,
    permission error, or a non-local URI (``s3://…`` raises ENOENT or
    similar locally). Callers MUST treat ``None`` as "never cache":
    ``None == None`` would otherwise hit a stale entry forever."""
    try:
        out = []
        with os.scandir(path) as it:
            for e in it:
                st = e.stat(follow_symlinks=False)
                if e.is_dir(follow_symlinks=False):
                    try:
                        with os.scandir(e.path) as sub:
                            inner = tuple(
                                sorted(
                                    (
                                        s.name,
                                        s.stat(follow_symlinks=False).st_mtime_ns,
                                        s.stat(follow_symlinks=False).st_size,
                                    )
                                    for s in sub
                                )
                            )
                    except OSError:
                        return None
                else:
                    inner = None
                out.append((e.name, st.st_mtime_ns, st.st_size, inner))
        return tuple(sorted(out))
    except OSError:
        return None


def first_parquet(path: str) -> Optional[str]:
    """One ``*.parquet`` file under local directory ``path``, or None."""
    if not os.path.isdir(path):
        return None
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                return os.path.join(root, f)
    return None


class IndexArtifact:
    """Base of the index handles: the artifact's cached relation reads,
    its delta log and its writer entry. Subclasses provide ``load`` and
    :meth:`_delta_keys`."""

    def __init__(self, path: str):
        self.path = path
        # lazy-relation cache for the artifact's parquet dirs (r14
        # guide §1.2/§7: `spark.read.parquet` over a partitioned dir
        # costs ~200-250 ms of DRIVER time per call — file listing +
        # schema resolution). Holds ONLY unexecuted DataFrame handles
        # (no rows: each action still scans parquet), validated by a
        # directory fingerprint so a mutation through ANY handle — even
        # another instance on the same path — is seen before the next
        # read.
        self._rel_cache: dict = {}

    def _cached_read(self, spark, sub: str):
        """`spark.read.parquet(self.path/sub)`, memoized while the
        directory's fingerprint is unchanged: commits rename whole
        directories or part files in and out, which changes the token.
        The session object is pinned in the value so `id(spark)`
        cannot recycle across sessions."""
        tok = _dir_fingerprint(os.path.join(self.path, sub))
        if tok is None:
            # Unscannable path (object-store URI, permission error,
            # vanished dir): never cache — `None == None` would pin a
            # stale handle forever. Drop any prior entry too.
            self._rel_cache.pop(sub, None)
            return spark.read.parquet(os.path.join(self.path, sub))
        hit = self._rel_cache.get(sub)
        if hit is not None and hit[0] == tok and hit[2] is spark:
            return hit[1]
        df = spark.read.parquet(os.path.join(self.path, sub))
        self._rel_cache[sub] = (tok, df, spark)
        return df

    def _has(self, sub: str) -> bool:
        return first_parquet(os.path.join(self.path, sub)) is not None

    def _delta_keys(self) -> Tuple[str, str, int]:
        """(id column, vector column, folded_seq watermark)."""
        raise NotImplementedError

    def _stored_types(self, spark) -> dict:
        """{column: Spark type} of the stored rows. Delta appends cast
        to it, so every ``delta/`` file carries one physical type per
        column whatever the caller passed."""
        raise NotImplementedError

    # -- writer side ----------------------------------------------------

    def _writer_entry(self) -> None:
        """Finish any commit a killed writer left; reload the manifest
        when that changed it."""
        if recover(self.path):
            self.manifest = type(self).load(self.path).manifest

    def _append(self, sub: str, df, writes: Optional[dict] = None) -> None:
        """Append ``df``'s rows to relation ``sub`` as one commit."""
        df.write.mode("overwrite").parquet(stage_path(self.path, sub))
        commit(
            self.path,
            moves=staged_file_moves(self.path, sub),
            writes=writes,
        )

    def _append_delta(self, df) -> None:
        """aminsert: append ``df`` to the delta log stamped with the
        next ``__delta_seq``. Rows and counter publish in one commit,
        so a killed append leaves neither."""
        from pyspark.sql import functions as F

        self._writer_entry()
        seq = int(FS.read_text(os.path.join(self.path, DELTA_SEQ)) or 0) + 1
        # one footer type per column: a multi-file read of delta/ takes
        # its schema from one footer and fails on any file that differs
        # (array<double> batch after array<float>)
        stored = self._stored_types(df.sparkSession)
        df = df.select(
            *[
                F.col(c).cast(stored[c]).alias(c) if c in stored else F.col(c)
                for c in df.columns
            ]
        )
        self._append(
            DELTA,
            df.withColumn("__delta_seq", F.lit(seq).cast("long")),
            writes={DELTA_SEQ: seq},
        )

    def _unfolded_delta(self, spark):
        """Delta rows not yet folded (``__delta_seq`` > the manifest's
        ``folded_seq`` watermark), newest row per id, or None. The
        watermark keeps rows that a fold already moved into the index
        out of every search and future fold, even while the delta dir
        still holds them. The per-id dedup (highest sequence wins)
        means two add_delta updates of one id surface as ONE row in
        every search, matching what the eventual fold/rebuild keeps."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if not self._has(DELTA):
            return None
        id_col, col, folded = self._delta_keys()
        d = self._cached_read(spark, DELTA)
        if "__delta_seq" not in d.columns:
            # seq-less legacy delta: can never be partially folded
            # (fold_delta refuses it), so folded_seq > 0 means gone
            return d if folded == 0 else None
        # xxhash64(vector) breaks ties BETWEEN rows sharing one
        # append's sequence (an input batch carrying the same id
        # twice): content-keyed, so the winner is identical across
        # runs/layouts — and because fold/rebuild consume THIS frame,
        # search and fold agree by construction
        w = Window.partitionBy(id_col).orderBy(
            F.col("__delta_seq").desc(), F.xxhash64(F.col(col)).desc()
        )
        return (
            d.filter(F.coalesce(F.col("__delta_seq"), F.lit(0)) > folded)
            .withColumn("__drn", F.row_number().over(w))
            .filter(F.col("__drn") == 1)
            .drop("__drn")
        )
