"""The benchmark's workloads: which registered queries a pass runs, and
the independent property checks made on the check pass's outputs.

A property check gets a `Ctx` (the check pass's collected outputs and a
DuckDB connection over the same input copy) and raises AssertionError on
a wrong result.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from perfbench import checks

# The FM-index queries' patterns, as their oracles spell them out.
FM_PATTERNS = ("sort", "batch", "row", "the")


@dataclass
class Ctx:
    outputs: dict[str, pd.DataFrame]
    con: object  # duckdb connection over the input copy

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]


def _running_total(c: Ctx) -> None:
    total = c.scalar(
        "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders"
    )
    checks.check_running_total(c.outputs["prefix_sum_totalprice"], total)


def _index_permutation(c: Ctx) -> None:
    n = c.scalar("SELECT count(*) FROM orders")
    checks.check_index_permutation(c.outputs["zip_with_index_orders"], n)


def _survivors(c: Ctx) -> None:
    ids = [r[0] for r in c.con.execute("SELECT doc_id FROM documents").fetchall()]
    checks.check_survivors(c.outputs["dedup_pipeline_survivors"], ids)


def _fm_locate_doc0(c: Ctx) -> None:
    text = c.scalar("SELECT lower(text) FROM documents WHERE doc_id = 0")
    checks.check_fm_locations(c.outputs["suffix_fm_locate_doc0"], text, FM_PATTERNS)


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    properties: tuple  # (name, check(Ctx)) pairs


# Each list is a subset of the engine's registered queries, sized so that
# setup, a cold check pass and two timed passes fit in about 40 s on a
# 4-core host, and 70 runs over the three workloads in under an hour
# (README.md says what was left out and why).
WORKLOADS = {
    "dia_core": Workload(
        queries=(
            "flatmap_wordcount", "sort_top_orders", "group_by_key_median",
            "reduce_by_key_pricing", "zip_with_index_orders",
            "prefix_sum_totalprice", "window_disjoint_blocks",
            "reduce_to_index_nation",
        ),
        properties=(
            ("running_total", _running_total),
            ("index_permutation", _index_permutation),
        ),
    ),
    "curation_dedup": Workload(
        queries=("dedup_pipeline_survivors",),
        properties=(("survivors", _survivors),),
    ),
    "suffix_index": Workload(
        # locate alone builds the index on each fresh copy and then reads
        # it; its check also covers the per-pattern counts
        queries=("suffix_fm_locate_doc0",),
        properties=(("fm_locate_doc0", _fm_locate_doc0),),
    ),
}
