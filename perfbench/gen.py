"""Seeded inputs for the benchmark.

The ten base tables the engine's graph views read (``graph.BASE_TABLES``)
are the repo's sf0.01 test tables, kept unchanged under ``data/sf0.01``.
From the seed, ``make_inputs`` writes into one directory:

- ``customer``: every customer that bears no crawl seed, plus a seeded
  subset of the seed-bearing ones (key a multiple of 15), rows
  unchanged. The graph views take the crawl's seed list from these
  rows, so the seed draws which requests the crawl starts from;
- ``documents``: a seeded subset of the documents (the corpus sample
  the search suite runs on), rows unchanged;

and links the other eight tables to their unchanged copies. The same
seed always gives the same inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


@dataclass(frozen=True)
class Scale:
    seeds: int  # seed-bearing customers kept (of 100)
    docs: int   # documents kept (of 500)


SCALES = {
    "bench": Scale(seeds=90, docs=450),
    # smoke-test size
    "tiny": Scale(seeds=6, docs=60),
}


def _subset(table, mask, keep: int, rng):
    """``table`` with every row outside ``mask`` plus ``keep`` rows drawn
    from those inside it, in the table's own order."""
    inside = np.flatnonzero(mask)
    chosen = rng.choice(inside, min(keep, len(inside)), replace=False)
    rows = np.sort(np.concatenate([np.flatnonzero(~mask), chosen]))
    return table.take(rows)


def make_inputs(out_dir: str, seed: int, scale: str = "bench") -> str:
    """Write the inputs for ``seed`` into ``out_dir``; returns it."""
    sc = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    cust = pq.read_table(os.path.join(DATA, "customer.parquet"))
    keys = cust.column("c_custkey").to_numpy()
    pq.write_table(_subset(cust, keys % 15 == 0, sc.seeds, rng),
                   os.path.join(out_dir, "customer.parquet"))

    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    every = np.ones(docs.num_rows, bool)
    pq.write_table(_subset(docs, every, sc.docs, rng),
                   os.path.join(out_dir, "documents.parquet"))

    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(DATA, f"{name}.parquet"), dst)
    return out_dir
