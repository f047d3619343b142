"""Shared fixtures for registered queries: deterministic query vectors."""

from __future__ import annotations

import os

from lantern_spark.types import load_table  # noqa: F401

DIM = 64  # driver testdata embeddings dim

# Deterministic artifact root: queries persist small derived artifacts
# (PQ codebook, IVF centroids/lists) here so the DuckDB oracle can
# read_parquet the SAME bytes and replicate argmin-encode/probe/ADC in
# SQL — this is what converts the PQ/IVF family from rows-only to
# hash-checked. Oracle SQL strings are fixed at registration time, so
# they read through a per-process ``oracle_<pid>`` symlink, which every
# artifact_dir() call repoints at the sf currently being queried (the
# engine query always runs — and writes its artifacts — before its
# oracle executes, per the driver/pytest compare order). The pid suffix
# keeps concurrent processes at different SFs (e.g. pytest at sf0.001
# beside a driver run at sf0.01) from repointing each other's link;
# oracle strings and artifact writes always share one process.
ARTIFACTS = "/tmp/lantern_artifacts"
ORACLE_ART = os.path.join(ARTIFACTS, f"oracle_{os.getpid()}")


def artifact_dir(sf_dir: str, name: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    target = os.path.join(ARTIFACTS, sf)
    os.makedirs(target, exist_ok=True)
    link_tmp = ORACLE_ART + ".tmp"
    try:
        os.remove(link_tmp)
    except FileNotFoundError:
        pass
    os.symlink(target, link_tmp)
    os.replace(link_tmp, ORACLE_ART)
    return os.path.join(target, name)

# Deterministic query vectors (seed-free closed form, identical across runs)
Q64 = [float((i * 37 % 97) / 97.0) for i in range(DIM)]
Q64_B = [float((i * 53 % 101) / 101.0) for i in range(DIM)]


def duck_lit(vals) -> str:
    """DuckDB DOUBLE[] literal for a python float list."""
    return "[" + ",".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


def duck_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> (x[1]-x[2])*(x[1]-x[2])))"
    )


def duck_cos(a: str, b: str) -> str:
    return (
        f"(1.0 - list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]))"
        f" / sqrt(list_sum(list_transform({a}, x -> x*x))"
        f"      * list_sum(list_transform({b}, x -> x*x))))"
    )
