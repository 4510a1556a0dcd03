"""Benchmark inputs.

The base tables under ``perfbench/data`` are byte copies of the
repository's synthetic test tables (TESTDATA.md): documents and
embeddings at sf0.1 and sf0.01, the scales the workloads run at. Every
run copies its scale's tables byte for byte into its own work directory,
so the built graph can be checked against the digests pinned for those
tables, and the program receives only that copy.

The workload seed does not change the tables. It orders the calls of
each round (``workloads.py``).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def make_inputs(scale: str, out_dir: str) -> str:
    """Copy the ``scale`` base tables into ``out_dir`` and return it."""
    src_dir = os.path.join(DATA_DIR, scale)
    names = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    if not names:
        raise FileNotFoundError(f"no base tables under {src_dir}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        shutil.copyfile(os.path.join(src_dir, name), os.path.join(out_dir, name))
    return out_dir


def row_count(sf_dir: str, table: str = "documents") -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
