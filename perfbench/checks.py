"""Output checks: each query against its DuckDB oracle, compared as
tests/oracle.py compares (row count, sorted column names, order-free
multiset of normalised rows), plus properties computed independently of
the program. Every check takes plain pandas frames and raises
CheckFailed on a wrong result, so tests can feed it corrupted ones.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from tests.oracle import rows_multiset


class CheckFailed(AssertionError):
    """A program output is wrong."""


def require(ok: bool, message: str) -> None:
    # an explicit raise, not `assert`, so `python -O` keeps the checks
    if not ok:
        raise CheckFailed(message)


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    require(len(got) == len(want), f"{name}: row count {len(got)} vs oracle {len(want)}")
    require(
        sorted(got.columns) == sorted(want.columns),
        f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}",
    )
    g = rows_multiset(list(got.columns), got.itertuples(index=False, name=None))
    w = rows_multiset(list(want.columns), want.itertuples(index=False, name=None))
    if g != w:
        only_g = sorted(set(g) - set(w))[:3]
        only_w = sorted(set(w) - set(g))[:3]
        raise CheckFailed(f"{name}: value mismatch; program-only {only_g}, oracle-only {only_w}")


# --- dia_core ---------------------------------------------------------------

def check_running_total(prefix_sum: pd.DataFrame, total: float) -> None:
    """The running total at the last order key equals SUM(o_totalprice)."""
    last = prefix_sum.sort_values("o_orderkey")["running_total"].iloc[-1]
    require(
        math.isclose(last, total, rel_tol=1e-12, abs_tol=0.005),
        f"prefix_sum_totalprice: last running_total {last} vs SUM(o_totalprice) {total}",
    )


def check_index_permutation(zipped: pd.DataFrame, n: int) -> None:
    """`_idx` is a permutation of 0..n-1."""
    require(
        sorted(int(i) for i in zipped["_idx"]) == list(range(n)),
        f"zip_with_index_orders: _idx is not a permutation of 0..{n - 1}",
    )


# --- curation_dedup -----------------------------------------------------------

def check_survivors(survivors: pd.DataFrame, doc_ids) -> None:
    """Survivors are input doc ids, and every removed doc shares its
    cluster with a survivor."""
    ids = set(int(d) for d in doc_ids)
    keep = survivors["is_survivor"].astype(bool)
    kept_ids = set(int(d) for d in survivors["doc_id"][keep])
    require(
        kept_ids <= ids,
        f"dedup_pipeline_survivors: survivors not in the input: {sorted(kept_ids - ids)[:5]}",
    )
    kept_clusters = set(int(c) for c in survivors["cluster"][keep])
    removed = survivors[~keep]
    orphans = [int(d) for d, c in zip(removed["doc_id"], removed["cluster"])
               if int(c) not in kept_clusters]
    require(
        not orphans,
        f"dedup_pipeline_survivors: removed docs without a surviving cluster member: {orphans[:5]}",
    )


# --- suffix_index -------------------------------------------------------------

def count_occurrences(text: str, pattern: str) -> int:
    """Occurrences of pattern in text, overlapping ones included."""
    n, i = 0, text.find(pattern)
    while i >= 0:
        n += 1
        i = text.find(pattern, i + 1)
    return n


def check_fm_locations(located: pd.DataFrame, text: str, patterns) -> None:
    """Every located position starts its pattern, and every occurrence of
    each pattern in the text is located exactly once."""
    found = set()
    for pattern, pos in zip(located["pattern"], located["pos"]):
        pos = int(pos)
        require(
            text[pos:pos + len(pattern)] == pattern,
            f"suffix_fm_locate_doc0: '{pattern}' does not start at pos {pos}",
        )
        found.add((pattern, pos))
    require(len(found) == len(located), "suffix_fm_locate_doc0: a position is located twice")
    per_pattern = Counter(p for p, _ in found)
    for pattern in patterns:
        want = count_occurrences(text, pattern)
        require(
            per_pattern[pattern] == want,
            f"suffix_fm_locate_doc0: '{pattern}' located {per_pattern[pattern]} times, text has {want}",
        )
