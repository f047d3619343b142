"""Hard-kill crash tests for the journaled index-artifact commit.

Every index mutation (build, rebuild, IVF fold, HNSW fold and
compaction, hybrid refresh, delta/tombstone appends) publishes through
``operators/artifact.commit``: staged outputs, one atomic journal, an
idempotent replay. These tests kill a child process with ``os._exit(9)``
at each filesystem operation of a commit — no exception handler, no
``finally`` runs — then run what the next writer call runs first
(``artifact.recover``) and check that the artifact is exactly the
pre-commit state (kill before the journal landed) or exactly the
post-commit state (kill after it), with no stage, trash or journal left.

The replay-level cases run on tiny synthetic artifacts in forked
children, without a JVM. Two Spark cases re-run the IVF fold and the
in-place IVF rebuild end to end in a subprocess killed mid-commit.
"""

import json
import os
import shutil
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from lantern_spark import _fsutil
from lantern_spark.operators import artifact

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _KillingFS(_fsutil.LocalFS):
    """LocalFS that ends the process at its ``kill_at``-th mutation."""

    def __init__(self, kill_at: int):
        self.kill_at = kill_at
        self.n = 0

    def _tick(self):
        self.n += 1
        if self.n == self.kill_at:
            os._exit(9)

    def rename(self, src, dst):
        self._tick()
        super().rename(src, dst)

    def write_text(self, path, data):
        self._tick()
        super().write_text(path, data)

    def rmtree(self, path):
        self._tick()
        super().rmtree(path)

    def delete_file(self, path):
        self._tick()
        super().delete_file(path)


def _in_child(fn, kill_at: int) -> int:
    """Run ``fn`` in a forked child whose artifact FS dies at the
    ``kill_at``-th mutation; returns the child's exit code (9 = killed,
    0 = ran to completion). Fork (not spawn) keeps ~100 children under
    a few seconds; the child only renames, writes and removes files,
    takes no lock another thread could hold, and leaves by
    ``os._exit``."""
    pid = os.fork()
    if pid == 0:
        code = 0
        try:
            artifact.FS = _KillingFS(kill_at)
            fn()
        except BaseException:
            code = 1
        os._exit(code)
    _, status = os.waitpid(pid, 0)
    return os.waitstatus_to_exitcode(status)


def _snapshot(root: str) -> dict:
    out = {}
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if not dirs and not files:
            out[rel + "/"] = None
        for f in files:
            with open(os.path.join(d, f)) as fh:
                out[os.path.normpath(os.path.join(rel, f))] = fh.read()
    return out


def _put(root: str, files: dict) -> None:
    for rel, data in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            fh.write(data if isinstance(data, str) else json.dumps(data, indent=2))


def _no_leftovers(root: str) -> None:
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            assert not any(
                t in name for t in ("stage", "trash", "journal")
            ), os.path.join(d, name)


def _assert_writes_before_deletes(mid: dict, before: dict, kw: dict):
    """Readers see the artifact between a kill and the next writer
    call: a delete may only have happened once every control file
    (the manifest whose watermark hides folded delta rows) landed."""
    def present(snap, rel):
        return any(k == rel or k.startswith(rel + "/") for k in snap)

    if any(present(before, d) and not present(mid, d) for d in kw.get("deletes", ())):
        for name, value in kw.get("writes", {}).items():
            assert json.loads(mid[name]) == value, name


def _check_every_kill_point(tmp_path, live: dict, staged: dict, plan):
    """``live``/``staged`` are {relpath: content} of the artifact before
    the commit; ``plan(root)`` returns commit's keyword arguments (it
    may list the stage, as the writers do). Kill at every mutation of
    the commit in turn, recover, compare with the two legal states."""
    def fresh(name):
        root = str(tmp_path / name)
        shutil.rmtree(root, ignore_errors=True)
        _put(root, live)
        before = _snapshot(root)
        _put(root, {os.path.join(artifact.STAGE, k): v for k, v in staged.items()})
        return root, before

    root, before = fresh("reference")
    artifact.commit(root, **plan(root))
    after = _snapshot(root)
    _no_leftovers(root)
    assert after != before
    kill_at = 1
    while True:
        root, _ = fresh(f"k{kill_at}")
        kw = plan(root)
        code = _in_child(lambda: artifact.commit(root, **kw), kill_at)
        assert code in (0, 9), code
        if code == 0:
            break  # the commit has fewer mutations than kill_at
        _assert_writes_before_deletes(_snapshot(root), before, kw)
        assert artifact.recover(root) is (kill_at > 1)
        _no_leftovers(root)
        # op 1 is the journal write: killed there, nothing committed
        assert _snapshot(root) == (before if kill_at == 1 else after), kill_at
        kill_at += 1
    # every move, write and delete was a separate kill point
    assert kill_at > 3
    return after


_MF_OLD = {"magic": "lantern-spark-index", "num_vectors": 4, "folded_seq": 0}
_MF_NEW = {"magic": "lantern-spark-index", "num_vectors": 5, "folded_seq": 3}


def _ivf_live(**extra) -> dict:
    live = {
        "manifest.json": _MF_OLD,
        "lists/list_id=0/part-a.parquet": "a",
        "lists/list_id=1/part-b.parquet": "b",
        "lists/list_id=2/part-c.parquet": "c",
        "delta/part-d.parquet": "d",
        "tombstones/part-t.parquet": "t",
        "delta_seq": "3",
    }
    live.update(extra)
    return live


def _dir_moves(*names):
    return [(os.path.join(artifact.STAGE, n), n) for n in names]


class TestReplayKillPoints:
    def test_build_over_existing_artifact(self, tmp_path):
        after = _check_every_kill_point(
            tmp_path,
            _ivf_live(),
            {
                "lists/list_id=0/part-x.parquet": "x",
                "lists/list_id=3/part-y.parquet": "y",
                "pq_codebook/part-p.parquet": "p",
            },
            lambda root: dict(
                moves=_dir_moves("lists", "pq_codebook"),
                writes={artifact.MANIFEST: _MF_NEW},
                deletes=[artifact.DELTA, artifact.TOMBSTONES, artifact.DELTA_SEQ],
            ),
        )
        assert sorted(k for k in after if k.startswith("lists/")) == [
            "lists/list_id=0/part-x.parquet",
            "lists/list_id=3/part-y.parquet",
        ]
        assert not any(k.startswith(("delta", "tombstones")) for k in after)

    def test_in_place_rebuild_keeps_unowned_cell_tier(self, tmp_path):
        """The rebuild commit is the build commit; an attached cell tier
        is not the IVF index's to touch (its stale guard must fire)."""
        tier = {
            "cell_graphs/shard_id=0/part-g.parquet": "g",
            "cell_graphs_meta.json": {"num_vectors": 4},
        }
        after = _check_every_kill_point(
            tmp_path,
            _ivf_live(**tier),
            {"lists/list_id=1/part-z.parquet": "z"},
            lambda root: dict(
                moves=_dir_moves("lists"),
                writes={artifact.MANIFEST: _MF_NEW},
                deletes=[artifact.DELTA, artifact.TOMBSTONES, artifact.DELTA_SEQ],
            ),
        )
        assert after["cell_graphs/shard_id=0/part-g.parquet"] == "g"
        assert json.loads(after["cell_graphs_meta.json"]) == {"num_vectors": 4}

    def test_ivf_fold_with_emptied_and_new_list(self, tmp_path):
        """Lists 1 and 3 are rewritten (3 is new), list 2 is emptied by
        the fold and becomes a delete, list 0 is untouched."""

        def plan(root):
            return dict(
                moves=artifact.partition_moves(root, "lists", "list_id", [1, 2, 3]),
                writes={artifact.MANIFEST: _MF_NEW},
                deletes=[artifact.DELTA, artifact.TOMBSTONES],
            )

        after = _check_every_kill_point(
            tmp_path,
            _ivf_live(),
            {
                "lists/list_id=1/part-b2.parquet": "b2",
                "lists/list_id=3/part-n.parquet": "n",
            },
            plan,
        )
        assert sorted(k for k in after if k.startswith("lists/")) == [
            "lists/list_id=0/part-a.parquet",
            "lists/list_id=1/part-b2.parquet",
            "lists/list_id=3/part-n.parquet",
        ]
        assert after["delta_seq"] == "3"

    def test_ivf_fold_no_affected_lists(self, tmp_path):
        _check_every_kill_point(
            tmp_path,
            _ivf_live(),
            {},
            lambda root: dict(
                writes={artifact.MANIFEST: _MF_NEW},
                deletes=[artifact.DELTA, artifact.TOMBSTONES],
            ),
        )

    def test_hnsw_fold(self, tmp_path):
        epoch2 = os.path.join("graphs_delta", "fold_epoch=2")
        after = _check_every_kill_point(
            tmp_path,
            {
                "manifest.json": {"fold_epoch": 1, "shards": 3},
                "graphs/part-g.parquet": "g",
                "graphs_delta/fold_epoch=1/part-f1.parquet": "f1",
                "delta/part-d.parquet": "d",
            },
            {f"{epoch2}/part-f2.parquet": "f2"},
            lambda root: dict(
                moves=[(os.path.join(artifact.STAGE, epoch2), epoch2)],
                writes={artifact.MANIFEST: {"fold_epoch": 2, "shards": 4}},
                deletes=[artifact.DELTA],
            ),
        )
        assert after["graphs_delta/fold_epoch=1/part-f1.parquet"] == "f1"
        assert after[f"{epoch2}/part-f2.parquet"] == "f2"

    def test_hnsw_compaction_with_quantized_heap(self, tmp_path):
        epoch3 = os.path.join("graphs_delta", "fold_epoch=3")

        def plan(root):
            return dict(
                moves=[(os.path.join(artifact.STAGE, epoch3), epoch3)]
                + artifact.staged_file_moves(root, "vectors"),
                writes={
                    artifact.MANIFEST: {"fold_epoch": 3, "fold_epoch_base": 2}
                },
                deletes=[
                    artifact.DELTA,
                    os.path.join("graphs_delta", "fold_epoch=1"),
                    os.path.join("graphs_delta", "fold_epoch=2"),
                ],
            )

        after = _check_every_kill_point(
            tmp_path,
            {
                "manifest.json": {"fold_epoch": 2, "fold_epoch_base": 0},
                "graphs/part-g.parquet": "g",
                "graphs_delta/fold_epoch=1/part-f1.parquet": "f1",
                "graphs_delta/fold_epoch=2/part-f2.parquet": "f2",
                "vectors/part-v0.parquet": "v0",
                "delta/part-d.parquet": "d",
            },
            {
                f"{epoch3}/part-f3.parquet": "f3",
                "vectors/part-v3.parquet": "v3",
                "vectors/.part-v3.parquet.crc": "c",
                "vectors/_SUCCESS": "",
            },
            plan,
        )
        assert sorted(k for k in after if k.startswith("graphs_delta")) == [
            f"{epoch3}/part-f3.parquet"
        ]
        assert sorted(k for k in after if k.startswith("vectors/")) == [
            "vectors/.part-v3.parquet.crc",
            "vectors/part-v0.parquet",
            "vectors/part-v3.parquet",
        ]

    def test_delta_counter_and_rows_publish_together(self, tmp_path):
        after = _check_every_kill_point(
            tmp_path,
            {
                "manifest.json": _MF_OLD,
                "delta/part-1.parquet": "r1",
                "delta_seq": "1",
            },
            {"delta/part-2.parquet": "r2", "delta/_SUCCESS": ""},
            lambda root: dict(
                moves=artifact.staged_file_moves(root, artifact.DELTA),
                writes={artifact.DELTA_SEQ: 2},
            ),
        )
        assert int(after["delta_seq"]) == 2
        assert after["delta/part-2.parquet"] == "r2"

    def test_killed_recovery_is_recovered(self, tmp_path):
        """A kill during the replay that recovery itself runs: the next
        recovery still lands the post-commit state."""
        plan = dict(
            moves=[
                (os.path.join(artifact.STAGE, "lists", "list_id=1"),
                 os.path.join("lists", "list_id=1")),
                (None, os.path.join("lists", "list_id=2")),
            ],
            writes={artifact.MANIFEST: _MF_NEW},
            deletes=[artifact.DELTA, artifact.TOMBSTONES],
        )
        staged = {"lists/list_id=1/part-b2.parquet": "b2"}
        ref = str(tmp_path / "ref")
        _put(ref, _ivf_live())
        _put(ref, {os.path.join(artifact.STAGE, k): v for k, v in staged.items()})
        artifact.commit(ref, **plan)
        after = _snapshot(ref)
        for first in range(2, 8):
            for second in range(1, 8):
                root = str(tmp_path / f"r{first}_{second}")
                _put(root, _ivf_live())
                _put(root, {
                    os.path.join(artifact.STAGE, k): v for k, v in staged.items()
                })
                if _in_child(lambda: artifact.commit(root, **plan), first) != 9:
                    continue
                _in_child(lambda: artifact.recover(root), second)
                artifact.recover(root)
                _no_leftovers(root)
                assert _snapshot(root) == after, (first, second)


# ---------------------------------------------------------------------------
# End to end: a Spark writer killed mid-commit
# ---------------------------------------------------------------------------

_CHILD = textwrap.dedent(
    """
    import builtins, os, sys
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    mode, path = sys.argv[1], sys.argv[2]
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from lantern_spark.operators.index import IVFIndex

    x = np.random.default_rng(7).normal(size=(500, 8))
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(500), "v": x.tolist()}),
        "id long, v array<double>",
    )
    idx = IVFIndex.build(df.filter("id < 400"), "v", "id", path, nlist=8, seed=42)
    idx.add_delta(df.filter("id >= 400"))

    if mode == "fold":
        # die right after the first live list dir moves to the trash
        real_rename, n = os.rename, [0]
        def rename(a, b):
            n[0] += 1
            if n[0] == 2:
                os._exit(9)
            real_rename(a, b)
        os.rename = rename
        idx.fold_delta(spark)
    else:
        # die when the manifest is about to be written
        real_open = builtins.open
        def open_(p, mode="r", *a, **k):
            if "w" in mode and os.path.basename(str(p)).startswith("manifest.json"):
                os._exit(9)
            return real_open(p, mode, *a, **k)
        builtins.open = open_
        idx.rebuild(spark)
    os._exit(0)
    """
)


def _kill_spark_writer(tmp_path, mode: str) -> str:
    path = str(tmp_path / mode)
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, mode, path],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 9, proc.stderr[-3000:]
    return path


def _assert_consistent(spark, idx):
    rows = idx.lists(spark).select("id", "v", "list_id").collect()
    assert sorted(r["id"] for r in rows) == list(range(500))
    assert idx.manifest.num_vectors == len(rows) == 500
    # every stored row sits in the list of its nearest manifest centroid
    c = np.asarray(idx.manifest.centroids)
    x = np.asarray([r["v"] for r in rows])
    near = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert (near == np.asarray([r["list_id"] for r in rows])).all()
    assert idx.validate(spark, sample_queries=2)["problems"] == []
    _no_leftovers(idx.path)


class TestKilledSparkWriter:
    def test_fold_killed_after_first_trash_rename(self, spark, tmp_path):
        from lantern_spark.operators.index import IVFIndex

        path = _kill_spark_writer(tmp_path, "fold")
        IVFIndex.load(path).fold_delta(spark)  # the next writer call
        _assert_consistent(spark, IVFIndex.load(path))

    def test_in_place_rebuild_killed_at_manifest_write(self, spark, tmp_path):
        from lantern_spark.operators.index import IVFIndex

        path = _kill_spark_writer(tmp_path, "rebuild")
        IVFIndex.load(path).fold_delta(spark)  # the next writer call
        _assert_consistent(spark, IVFIndex.load(path))
