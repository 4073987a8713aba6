"""Seeded row-order copies of the fixture tables.

Every pass reads its own copy, written to a fresh directory, so the
program's in-process memos (keyed by input plan or path) never carry
over from one pass to the next: each pass pays what a first call on a
dataset pays while the JVM stays warm. The fixtures are only read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from thrill_spark.catalog import TABLES


class SeededCopies:
    """Reads the fixture tables once; writes one permuted copy per pass.

    The row order of table ``i`` in pass ``p`` is a permutation drawn
    from ``numpy.random.default_rng([seed, p, i])``, so the same seed
    gives the same inputs. Each table is written as one row group, like
    the fixtures, so scan split counts do not change.
    """

    def __init__(self, fixture_dir: str, seed: int):
        self.seed = seed
        self.tables = {
            t: pq.read_table(os.path.join(fixture_dir, f"{t}.parquet"))
            for t in TABLES
        }

    def rows(self) -> dict[str, int]:
        return {t: tab.num_rows for t, tab in self.tables.items()}

    def write(self, dst_dir: str, pass_no: int) -> str:
        os.makedirs(dst_dir)
        for i, (t, tab) in enumerate(self.tables.items()):
            rng = np.random.default_rng([self.seed, pass_no, i])
            perm = tab.take(rng.permutation(tab.num_rows))
            pq.write_table(
                perm,
                os.path.join(dst_dir, f"{t}.parquet"),
                row_group_size=max(1, tab.num_rows),
            )
        return dst_dir
