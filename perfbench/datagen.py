"""Seeded input tables for the benchmark.

``tables/<sf>/`` holds byte-for-byte copies of the engine's shared test
tables (TESTDATA.md: ten parquet files per scale factor, seed 42), so a
checkout carries the benchmark's inputs with it.  ``--seed`` fixes the
ROW ORDER of every table, a seeded permutation; content and schema are
kept.  A change of seed moves the physical layout the engine scans,
hashes and shuffles, but never the answer the oracle expects.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def scale_factors() -> list[str]:
    return sorted(os.listdir(SOURCE))


def write(out_dir: str, sf: str, seed: int) -> str:
    """Write every table of scale factor ``sf`` to ``out_dir`` in a row
    order fixed by ``seed``, one single-row-group file per table.

    A directory that already holds a complete set is reused as is; a
    set is published by renaming a fully written build directory, so a
    half-written set is never read."""
    if os.path.isfile(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    build = f"{out_dir}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    order = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(os.path.join(SOURCE, sf, f"{name}.parquet"))
        table = table.take(pa.array(order.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(build, f"{name}.parquet"),
                       compression="snappy", row_group_size=table.num_rows)
    open(os.path.join(build, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(build, out_dir)
    return out_dir
