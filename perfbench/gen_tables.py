"""Seeded copy of the headline queries' input tables.

The tables under ``data/`` are the engine's smallest test scale (sf0.001:
TPC-H-style tables and a documents table). The copy keeps every row and
value but puts the rows in a seed-dependent order and splits each file
into seed-dependent row groups, so a query whose result depends on input
order shows up as a check failure on some seed.

Run: ``python3 perfbench/gen_tables.py OUT_DIR --seed N``
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    a = p.parse_args()
    rng = np.random.default_rng(a.seed)
    os.makedirs(a.out_dir, exist_ok=True)
    for name in sorted(os.listdir(DATA)):
        table = pq.read_table(os.path.join(DATA, name))
        table = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(1, 5))
        pq.write_table(table, os.path.join(a.out_dir, name),
                       row_group_size=max(1, -(-table.num_rows // groups)))


if __name__ == "__main__":
    main()
