"""Seeded benchmark inputs derived from the sf0.1 fixture tables.

The content is the fixed subset of the fixtures under ``fixtures/``
(see ``fixtures/subset.py``), identical for every benchmark seed, so
the DuckDB oracle results stay comparable across seeds. The benchmark
seed only permutes the row order of each table and the row-group split
of its parquet file, which changes how the rows reach Spark's scan
tasks but not what any query returns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Mixed with the benchmark seed; fixed, so each seed's layout repeats.
LAYOUT_SEED = 42

# Row groups per parquet file. Fixed per table so that every seed
# schedules the same number of scan tasks; the seed moves the
# boundaries between them.
ROW_GROUPS = {"lineitem": 8, "orders": 4, "events": 4, "customer": 2, "part": 2}


def fixture_path(name: str) -> str:
    return os.path.join(FIXTURES, f"{name}.parquet")


def rows(name: str) -> int:
    return pq.ParquetFile(fixture_path(name)).metadata.num_rows


def _split_points(rng: np.random.Generator, n: int, groups: int) -> list[int]:
    """Row-group boundaries: an even split with each inner boundary
    moved by up to a quarter of a group."""
    width = n / groups
    inner = [int(round(width * (k + rng.uniform(-0.25, 0.25)))) for k in range(1, groups)]
    return [0, *inner, n]


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` in a seed-chosen
    row order and row-group split; return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, LAYOUT_SEED])
    counts = {}
    for name in TABLES:
        table = pq.read_table(fixture_path(name))
        table = table.take(rng.permutation(table.num_rows))
        bounds = _split_points(rng, table.num_rows, ROW_GROUPS.get(name, 1))
        with pq.ParquetWriter(os.path.join(out_dir, f"{name}.parquet"), table.schema) as w:
            for lo, hi in zip(bounds, bounds[1:]):
                w.write_table(table.slice(lo, hi - lo), row_group_size=hi - lo)
        counts[name] = table.num_rows
    return counts
