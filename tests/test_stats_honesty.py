"""Planner-stats honesty for the iterative algorithms.

Plain localCheckpoint copies the ORIGIN plan's sizeInBytes ESTIMATE
onto the checkpointed LogicalRDD; in a join/groupBy fixpoint the
estimate compounds multiplicatively per round (measured ~7000x/round
on a 1000-row probe), so any consumer joining the result against a
big table silently loses broadcast eligibility — the defect class
that cost the r10 ExactSubstr descent 10.19x at K=8 before 622fafb.
_honest_ckpt (plans/algorithms.py) pins each checkpoint's origin to a
materialized InMemoryRelation whose stats are actual bytes. The graph
fixpoints run on _fixpoint: plain round checkpoints with an honest
reset every 8th round (none for the join-free star CC rounds), and an
honest entry and return frame. These tests assert the invariant holds
END-TO-END on every iterative algorithm's returned frame, run long
enough to hit the per-round checkpoint path. A regression returning a
plain checkpoint fails the bound by 10+ orders of magnitude, so the
threshold is not tight.
"""

from pyspark.sql import functions as F

# tiny inputs (tens of rows): honest stats are a few KB; a compounding
# estimate passes 1 GiB within 2-3 rounds
SANE_BYTES = 1 << 30


def _size(df):
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _chain_edges(spark, n=24):
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def test_pagerank_stats(spark):
    from thrill_spark.plans.algorithms import pagerank

    out = pagerank(_chain_edges(spark), iterations=7, checkpoint_every=2)
    assert out.count() == 24
    assert _size(out) < SANE_BYTES


def test_bfs_stats(spark):
    from thrill_spark.plans.algorithms import bfs

    out = bfs(_chain_edges(spark), source=0)
    assert out.count() == 24
    assert _size(out) < SANE_BYTES


def test_connected_components_stats(spark):
    from thrill_spark.plans.algorithms import _honest_ckpt, connected_components

    edges = _chain_edges(spark).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    for algo in ("star", "propagation"):
        out = connected_components(edges, max_iters=40, algorithm=algo)
        assert out.count() == 24, algo
        assert _size(out) < SANE_BYTES, algo
    # 13 rounds with plain per-round checkpoints: the join-free star
    # round must keep the estimate near the honest input size (a 4/3
    # per-round drift reaches 42x by the last round)
    edges = _chain_edges(spark, n=4096).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    out = connected_components(edges, max_iters=40)
    assert out.count() == 4096
    assert _size(out) <= 16 * _size(_honest_ckpt(edges))


def test_k_core_stats(spark):
    from thrill_spark.plans.algorithms import k_core

    # two triangles sharing a bridge node + a pendant chain: several
    # peel rounds before the 2-core stabilizes
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
            (5, 6), (6, 7), (7, 8)]
    edges = spark.createDataFrame(rows, ["u", "v"])
    out = k_core(edges, k=2)
    assert out.count() > 0
    assert _size(out) < SANE_BYTES


def test_sssp_stats(spark):
    from thrill_spark.plans.algorithms import sssp

    edges = _chain_edges(spark).withColumn("w", F.lit(2))
    out = sssp(edges, source=0)
    assert out.count() == 24
    assert _size(out) < SANE_BYTES


def test_label_propagation_stats(spark):
    from thrill_spark.plans.algorithms import label_propagation

    edges = _chain_edges(spark).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    out = label_propagation(edges, rounds=3)
    assert out.count() == 24
    assert _size(out) < SANE_BYTES


def test_scc_stats(spark):
    from thrill_spark.plans.algorithms import strongly_connected_components

    # two 3-cycles joined by a one-way bridge + a DAG tail
    rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
            (5, 6), (6, 7)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    out = strongly_connected_components(edges)
    assert out.count() == 8
    assert _size(out) < SANE_BYTES


def test_suffix_ladder_stats(spark):
    from thrill_spark.plans.algorithms import lcp_from_levels, suffix_array

    s = "abcab" * 16  # deep enough for 3 quadrupling rounds
    chars = spark.createDataFrame(list(enumerate(s)), ["pos", "ch"])
    ranked, levels = suffix_array(chars, len(s), step=4, keep_levels=True)
    assert _size(ranked) < SANE_BYTES
    for plen, tab in levels:
        assert _size(tab) < SANE_BYTES, plen
    lcp = lcp_from_levels(ranked, levels)
    assert lcp.count() == len(s)
    assert _size(lcp) < SANE_BYTES


def test_dc3_dc7_stats(spark):
    from thrill_spark.plans.algorithms import suffix_array_dc3, suffix_array_dc7

    s = "mississippi" * 6  # forces one real recursion level
    chars = spark.createDataFrame(list(enumerate(s)), ["pos", "ch"])
    for fn in (suffix_array_dc3, suffix_array_dc7):
        out = fn(chars, len(s), base_threshold=16)
        assert out.count() == len(s), fn.__name__
        assert _size(out) < SANE_BYTES, fn.__name__
