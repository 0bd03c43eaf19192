"""The query mix's input tables.

``data/sf0.01/`` holds a frozen copy of the deterministic TPC-H-shaped
test tables at scale factor 0.01 that TESTDATA.md describes (data seed
42; ``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each; 60,000 lineitem rows).
The bench scale factor 0.1 is ten times larger: one pass over it takes
too long for a benchmark run.  The sf0.01 tables are
the tables the registry's oracle checks run on, so the query mix
measures the registry on the data it is tuned and checked on.  Table
*contents* never change, so the recorded result digests stay valid; the
run seed only permutes the row order of every file, which the
order-insensitive digests must not notice.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIR = os.path.join(HERE, "data", "sf0.01")


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``, rows permuted
    by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(SOURCE_DIR)):
        table = pq.read_table(os.path.join(SOURCE_DIR, name))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, name))
