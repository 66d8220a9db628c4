"""Seeded benchmark inputs.

The base tables in ``base/`` are the repository's sf0.01 fixture tables
(TESTDATA.md), copied here so the benchmark reads nothing outside its
own checkout. A seed turns them into one input set by adding
``k * OFFSET`` to every entity key, with ``k`` derived from the seed.
This is the key-shift model of ``tools/scale_probe.py`` for a single
replica: foreign keys stay consistent, and because OFFSET is a multiple
of 10^9 every ``key % m`` grouping the operators use (era = vec_id % 20,
the doc_id % 5 delta split, the ``% 1000`` hash-noise terms) and every
group size stay fixed. What changes with the seed are the key values
themselves and so every hash-derived choice (md5/xxhash buckets,
permutations, sampling), which is the input property the workloads
should vary.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.scale_probe import KEY_COLS, OFFSET

BASE = Path(__file__).resolve().parent / "base"
TABLES = tuple(sorted(p.stem for p in BASE.glob("*.parquet")))

# k = 1 + seed % SHIFTS: 997 distinct input sets, keys below 10^12, far
# from int64 overflow in any key arithmetic the operators do
SHIFTS = 997


def generate(dest: Path, seed: int) -> dict[str, int]:
    """Write every base table into ``dest`` with keys shifted for
    ``seed``; return the row count per table. The same seed writes
    byte-identical files."""
    dest.mkdir(parents=True, exist_ok=True)
    shift = (1 + seed % SHIFTS) * OFFSET
    rows = {}
    for name in TABLES:
        table = pq.read_table(BASE / f"{name}.parquet")
        for col in KEY_COLS[name]:
            i = table.schema.get_field_index(col)
            table = table.set_column(i, col, pc.add(table[col], shift))
        pq.write_table(table, dest / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
