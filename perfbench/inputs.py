"""Benchmark inputs: pages and zones made from the seed and written
inside the work dir, and the fixed query-mix fixture shipped with the
benchmark.

The program only ever receives these files; the seed never reaches it
except through the generators ``pages_pandas``/``make_zone_rings``, whose
seed argument is part of their public signature. All inputs are written
with pyarrow, without a Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def write_pages(path: str, n_pages: int, seed: int, files: int) -> None:
    """The pages fact table in ``files`` parquet files, from the program's
    pure-Python generator (byte-identical to ``pages_df``; it needs no
    Spark job, so the JVM's first jobs are the timed set-ups)."""
    from pyproj_spark.sources.pages import pages_pandas
    table = pa.Table.from_pandas(pages_pandas(n_pages, seed),
                                 preserve_index=False)
    os.makedirs(path, exist_ok=True)
    step = -(-n_pages // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"),
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)


def write_zones(path: str, n_zones: int, seed: int) -> None:
    """The zones dimension table: the rows ``zones_df`` builds, written
    with pyarrow in one file."""
    from pyproj_spark.functions import cells
    from pyproj_spark.sources.zones import make_zone_rings
    rows = []
    for zid, name, ring in make_zone_rings(n_zones, seed):
        lons = np.array([p[0] for p in ring])
        lats = np.array([p[1] for p in ring])
        rows.append({"zone_id": zid, "name": name,
                     "ring": [{"lon": a, "lat": b} for a, b in ring],
                     "cells": cells.covering_np(lons, lats,
                                                cells.DEFAULT_RES).tolist()})
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(path, "part-00000.parquet"))


def check_pages(spark, path: str, n_pages: int, files: int) -> None:
    """Row count and file count of a written pages table (footers only)."""
    got = spark.read.parquet(path).count()
    n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    if got != n_pages or n_files != files:
        raise RuntimeError(f"pages input {path}: {got} rows in {n_files} "
                           f"files, expected {n_pages} in {files}")


def expected_anchor_total(n_pages: int, seed: int) -> int:
    """Closed form of the generator: page i carries min((i+seed) % 6, 5)
    anchors."""
    i = np.arange(n_pages, dtype=np.int64)
    return int(np.minimum((i + seed) % 6, 5).sum())


#: the query-mix fixture: byte copies of the project's sf0.01 test tables
#: (seed 42) that the mix's queries read, with their row counts
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixture")
FIXTURE_ROWS = {"documents": 500, "embeddings": 500, "orders": 15_000,
                "lineitem": 60_000}


def check_fixture(path: str) -> None:
    """Row count of every fixture table, from the parquet footers."""
    for name, n in FIXTURE_ROWS.items():
        got = pq.ParquetFile(os.path.join(path, f"{name}.parquet")) \
            .metadata.num_rows
        if got != n:
            raise RuntimeError(f"fixture {name}: {got} rows, expected {n}")
