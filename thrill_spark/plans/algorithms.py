"""Iterative algorithms mirroring the reference's example workloads
(SURVEY §2.13): PageRank, k-means, triangle counting, k-th statistic.

These exercise the loop/Collapse/Cache discipline: Spark DataFrame
lineage grows per iteration, so each loop localCheckpoints (the
Collapse analogue, thrill/api/collapse.hpp:29 — fold the pending DAG
into a concrete node) to keep planning cost bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _honest_ckpt(df: DataFrame) -> DataFrame:
    """localCheckpoint with HONEST planner stats — the Collapse
    analogue hardened for fixpoint loops. Dataset.checkpoint copies
    the ORIGIN plan's sizeInBytes ESTIMATE onto the checkpointed
    LogicalRDD; in an iterative loop that estimate compounds
    multiplicatively per round (measured: ~7000x/round on a 1000-row
    join+groupBy probe, reaching 1e27 "bytes" by round 5), so every
    downstream join on the result silently loses broadcast
    eligibility and the stats visitor burns planning time on
    astronomically wide BigInts. Persisting first makes the
    checkpoint's origin the MATERIALIZED InMemoryRelation, whose
    stats are actual cached bytes; Dataset.checkpoint captures those
    stats eagerly, so the cache can be freed immediately (the
    checkpoint RDD's storage is independent of the cache). Same
    defect class as the r10 suffix-sort fix (K=8 ExactSubstr descent
    10.19x -> 2.00x on restoring broadcast eligibility).

    No small-estimate fast path: keeping even a sub-broadcast-size
    ESTIMATE (instead of actual bytes) re-enters the compounding the
    moment a consumer joins on the frame — measured as failed
    honesty bounds and a slower dedup pipeline when tried."""
    cached = df.persist()
    out = cached.localCheckpoint()
    cached.unpersist()
    return out


def _ckpt_with_sig(df: DataFrame, *sig_cols: str, honest: bool = True):
    """Checkpoint plus a (count, bit_xor(xxhash64(sig_cols))) set
    signature computed BY the checkpoint's own materialization job via
    Dataset.observe (accumulator-backed CollectMetrics) — the signature
    costs ZERO extra jobs/scheduler barriers, where the previous
    per-round `agg(...).first()` paid one full job per fixpoint round
    (the "signature-from-checkpoint-write" mechanism, guide §5.4).

    honest=True is _honest_ckpt with the signature: the observe node
    sits ABOVE the persist (so the CollectMetricsExec is in THIS
    action's executed plan, not hidden inside the InMemoryRelation
    where execution-end metric collection cannot see it) and BELOW the
    checkpoint (CollectMetrics is a row pass-through, so the
    checkpointed rows and their honest InMemoryRelation-backed stats
    are unchanged). honest=False is a plain localCheckpoint, which
    copies the origin plan's estimate: one job fewer (no persist
    pass), for loop rounds whose plan has no join, so the estimate
    cannot compound (_cc_star rounds).

    Returns (checkpointed_df, (n, h)); h is None for an empty set
    (bit_xor over zero rows), matching the old agg semantics."""
    from pyspark.sql import Observation

    src = df.persist() if honest else df
    obs = Observation()
    out = src.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*sig_cols)).alias("h"),
    ).localCheckpoint()
    if honest:
        src.unpersist()
    m = obs.get
    return out, (m["n"], m["h"])


def _loop_ckpt(df: DataFrame, rnd: int, every: int = 8) -> DataFrame:
    """Collapse for LONG fixpoint loops whose rounds JOIN: plain
    localCheckpoint per round (one storage pass), with an _honest_ckpt
    stats reset every `every`-th round to bound the origin estimate
    that the round joins compound. The k-core lesson: a persist-backed
    checkpoint EVERY round costs an extra block-storage pass each time
    (5.2 s vs 2.4 s on the k-core bench graph over 7 rounds), while
    in-loop joins are SMJ-correct at any scale — per-round honesty
    only pays where round joins need broadcasts (suffix bucket sort).
    Join-free rounds need no reset at all (_cc_star). Algorithm RETURN
    frames still go through _honest_ckpt so consumers see honest stats
    (tests/test_stats_honesty.py)."""
    if (rnd + 1) % every == 0:
        return _honest_ckpt(df)
    return df.localCheckpoint()


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank (examples/page_rank/page_rank.hpp:70-: iterative
    Zip+FlatMap+ReduceToIndex loop; here: join+groupBy loop).

    Returns (node, rank). Dangling mass is redistributed uniformly.
    Scale: ranks are hash-partitioned by node on each groupBy; the edge
    table is re-used unshuffled (co-partitioned join would use
    bucketing in a persisted deployment).
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    ).cache()
    n = nodes.count()
    out_deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    edges_deg = edges.join(out_deg, on=src).select(
        F.col(src).alias("node"), F.col(dst).alias("to"), "deg"
    ).cache()
    pending: list[DataFrame] = []
    for i in range(iterations):
        # rollup, not groupBy: the grand-total row IS the linked-rank
        # sum (Σ_edges rank/deg = Σ_{src with outdeg} rank), so the
        # dangling-mass scalar rides this aggregation instead of a
        # separate ranks⋈out_deg job per iteration (r11 VERDICT #7 —
        # one fewer stage barrier per round). grouping() tells the
        # total row apart from any real NULL node group.
        contribs = (
            edges_deg.join(ranks, on="node")
            .select(F.col("to").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .rollup("node")
            .agg(F.sum("c").alias("contrib"), F.grouping("node").alias("_g"))
            .persist()
        )
        pending.append(contribs)
        # rollup over an EMPTY input yields no grand-total row (unlike
        # a global agg) — e.g. every src NULL ⇒ edges_deg empty
        total_row = contribs.filter(F.col("_g") == 1).first()
        total_linked = (total_row["contrib"] if total_row else None) or 0.0
        dangling = 1.0 - total_linked
        per_node = contribs.filter(F.col("_g") == 0).drop("_g")
        ranks = (
            nodes.join(per_node, on="node", how="left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        # Collapse: cut iterative lineage; also on the LAST iteration
        # so the returned frame reports honest stats to consumers.
        # Once ranks is materialized the cached contribs feeding its
        # lineage can be freed.
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            ranks = _honest_ckpt(ranks)
            for p in pending:
                p.unpersist()
            pending = []
    return ranks


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> int:
    """Triangle counting (examples/triangles/triangles.hpp:49-60: double
    InnerJoin). Edges are canonicalized a<b; count closed triples via
    two joins — Catalyst picks sort-merge and reuses the shuffle."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"), F.greatest(F.col(a), F.col(b)).alias("v")
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .cache()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, on="y")
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    return wedges.join(e3, on=["x", "z"]).count()


def kmeans(
    points: DataFrame,
    k: int = 4,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_history: bool = False,
):
    """k-means (examples/k-means/k-means.hpp: iterative
    Map+ReduceToIndex+Collapse loop).

    Centroids are driver-side (k x dim is tiny) and re-broadcast each
    iteration as literal arrays — the classify step stays wholly
    JVM-side (zip_with fold distance, no Python UDF). Returns
    (id, cluster) assignments; with return_history=True, also the
    per-iteration inertia (sum of squared distance to the assigned
    centroid), which must be non-increasing for a correct update step
    — the property the oracle checks for this FP-iterative algorithm.
    """
    init = points.orderBy(id_col).limit(k).select(F.col(vec_col).alias("c")).collect()
    centroids = [[float(x) for x in r["c"]] for r in init]

    def dist_to(c: list[float]):
        arr = F.array(*[F.lit(x) for x in c])
        d = F.zip_with(F.col(vec_col), arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y))
        return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)

    assigned = None
    inertia: list[float] = []
    for _ in range(iterations):
        best = None
        for ci in range(len(centroids)):
            cand = F.struct(dist_to(centroids[ci]).alias("d"), F.lit(ci).alias("c"))
            best = cand if best is None else F.least(best, cand)
        assigned = points.select(
            F.col(id_col), F.col(vec_col), best["c"].alias("cluster"), best["d"].alias("_d")
        )
        dim = len(centroids[0])
        sums = assigned.groupBy("cluster").agg(
            *[F.sum(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"s{i}") for i in range(dim)],
            F.count("*").alias("n"),
            F.sum("_d").alias("_inertia"),
        )
        rows = {r["cluster"]: r for r in sums.collect()}
        inertia.append(sum(r["_inertia"] for r in rows.values()))
        centroids = [
            [rows[ci][f"s{i}"] / rows[ci]["n"] for i in range(dim)] if ci in rows else centroids[ci]
            for ci in range(len(centroids))
        ]
    out = assigned.select(id_col, "cluster")
    return (out, inertia) if return_history else out


def kth_statistic(df: DataFrame, col: str, kth: int):
    """k-th order statistic (examples/select/select.hpp:44-127 — sampled
    pivot recursion). Spark expression: exact via sort-limit on the
    k-prefix; for large k use approx quantile refinement instead."""
    return (
        df.select(F.col(col)).orderBy(col).limit(kth + 1).orderBy(F.col(col).desc()).limit(1).first()[0]
    )


def bfs(edges: DataFrame, source: int, max_iters: int = 25,
        src: str = "src", dst: str = "dst") -> DataFrame:
    """BFS shortest hop-distances from `source` (reference example
    listing, SURVEY §2.13). Iterative frontier expansion: each round
    joins the frontier to the edge table and anti-joins already-visited
    nodes; the driver only decides termination (isEmpty on the new
    frontier), never touches row data.

    Scale: frontier and dist are hash-partitioned by node; each round
    is one equi-join + one anti-join. localCheckpoint per round is the
    Collapse analogue keeping lineage flat."""
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node long, d int").localCheckpoint()
    frontier = dist
    for i in range(1, max_iters + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(dist, on="node", how="left_anti")
            .withColumn("d", F.lit(i))
        )
        nxt = _loop_ckpt(nxt, i)
        if nxt.isEmpty():
            break
        dist = _loop_ckpt(dist.unionByName(nxt), i)
        frontier = nxt
    else:
        raise RuntimeError(
            f"bfs: frontier still non-empty after max_iters={max_iters} "
            "rounds (graph eccentricity exceeds the bound); distances "
            "would be incomplete. Raise max_iters."
        )
    return _honest_ckpt(dist)


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iters: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """Connected components (reference example listing, SURVEY §2.13
    graph family; the dedup pipeline's cluster step: LSH candidate
    pairs -> duplicate groups).

    edges: undirected edge list (a, b). Returns (node, component) where
    component = MIN(node id) over the node's component, for every node
    incident to an edge. Output is identical under both algorithms.

    algorithm='star' (default, the 100 TB path): alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14), O(log^2 n) rounds on ANY graph
    shape including long chains. Each round is two window passes
    hash-partitioned on node id plus one distinct, with no join: 4
    Spark jobs per round including its checkpoint, no broadcast, no
    driver data.

    algorithm='propagation': min-label propagation, O(diameter) rounds.
    Near-duplicate graphs are unions of near-cliques (diameter 2-3), so
    it is competitive there; kept as the differential check for 'star'.

    Both raise RuntimeError instead of silently returning wrong labels
    when max_iters is exhausted without convergence. localCheckpoint
    per round is the Collapse analogue keeping lineage flat across
    iterations (thrill/api/collapse.hpp:29 use-case)."""
    if algorithm == "star":
        return _cc_star(edges, a, b, max_iters)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    und = _honest_ckpt(
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(edges.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
    )
    labels = _honest_ckpt(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iters):
        nbr_min = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        nxt = (
            labels.join(nbr_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.coalesce("nbr_component", "component") < F.col("component")).alias(
                    "_chg"
                ),
            )
        )
        nxt = _honest_ckpt(nxt)
        changed = nxt.filter(F.col("_chg")).isEmpty() is False
        labels = nxt.drop("_chg")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components(propagation): labels still changing "
            f"after max_iters={max_iters} rounds (graph diameter exceeds "
            "the bound); duplicate groups would be wrong. Raise max_iters "
            "or use algorithm='star'."
        )
    return labels


def _cc_star(edges: DataFrame, a: str, b: str, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al. SoCC'14).

    Invariant: the evolving edge set links every node to ever-smaller
    members of its component without ever disconnecting anything; the
    fixed point is a forest of depth-1 stars centered at each
    component's minimum id.

    large-star: for each node u (over symmetrized neighborhoods), link
    every STRICTLY LARGER neighbor v to m = min(N(u) + {u}).
    small-star: orient edges large->small; link every smaller neighbor
    and u itself to m = min of that in-neighborhood.

    A round has no join (the GraphX shape: one shuffle per message
    step, no join back to per-vertex state). The per-node minimum is a
    window over the node's partition, so each star step is one
    exchange, and the round ends in one distinct: 3 exchanges, 4 jobs
    with the checkpoint. The edge set is symmetrized by one explode
    scan, not a union of two scans. A window, not collect_list: a hub
    with millions of neighbors spills instead of building one giant
    array row.

    Round checkpoints are plain (_ckpt_with_sig honest=False): a
    join-free round's estimate does not compound, because every row-
    width change in its plan is undone by a later projection (see the
    small-star comment), so the rounds carry the honest init
    checkpoint's estimate (tests/test_stats_honesty.py).

    Convergence test: the (count, bit_xor(xxhash64)) signature of the
    edge set is compared between rounds — computed by the round's own
    checkpoint job via Dataset.observe (_ckpt_with_sig), so it costs no
    extra job and no edge-set diff shuffle (xor is overflow-free and
    order-independent;
    edges are distinct so self-cancellation cannot occur). A signature
    collision on inequal sets is ~2^-64; acceptable for a termination
    check whose false-positive merely stops one round early on an
    already-star-shaped graph."""
    # honest init checkpoint: the caller's edge plan may carry
    # join-product size estimates (e.g. the LSH verify chain), which a
    # plain checkpoint would copy — costing round 1 its broadcasts.
    e, prev_sig = _ckpt_with_sig(
        edges.select(F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # orient large -> small
        .distinct(),
        "u",
        "v",
    )
    by_u = Window.partitionBy("u")
    for _ in range(max_iters):
        # -- large-star: symmetrize in one scan, m = min(N(u) + {u}),
        # link every larger neighbor to m (v > u >= m: already large->small)
        sym = e.select(
            F.explode(
                F.array(
                    F.struct("u", "v"),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("p")
        ).select("p.u", "p.v")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # -- small-star: link u and every smaller neighbor to the
        # minimum m of that in-neighborhood; x >= m, so (x, m) is
        # oriented once the x = m row is dropped. Packing (u, v) into
        # one array column BEFORE the explode keeps the plan estimate
        # flat: the Generate copies its child's size, and a child of
        # (u, v, m) would grow it 4/3 per round.
        small = (
            large.select(
                F.min("v").over(by_u).alias("m"), F.array("u", "v").alias("xs")
            )
            .select(F.explode("xs").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e, sig = _ckpt_with_sig(small, "u", "v", honest=False)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components(star): edge set still changing after "
            f"max_iters={max_iters} rounds; raise max_iters."
        )
    # Fixed point is depth-1 stars (child -> component min). Labels:
    # children take their center, centers take themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def chunked_chars(
    df: DataFrame,
    text_col: str = "text",
    off_col: str | None = None,
    chunk: int = 4096,
    ch: str = "ch",
    assume_single_row: bool = False,
) -> DataFrame:
    """(pos, ch) character table over text rows WITHOUT funneling any
    one document through a single char-explode task — the suffix
    family's ingestion entry point (the chars-level analogue of
    queries_analytics.fm_search_chars).

    Each row is first sliced into `chunk`-char substrings with one
    JVM-side transform (O(n) string copies, no char rows yet), the
    slices are hash-repartitioned across the cluster, and only then
    char-exploded — so the char-row blowup and everything downstream
    (suffix sort, BWT, wavelet coding) is distributed even when the
    source is ONE long parquet row. `off_col` names each input row's
    base offset in the global concatenation (omit for a single row /
    offset 0 — multi-document corpora pass an ExPrefixSum over doc
    lengths, see q_suffix_array_dc3).

    Reference: examples/suffix_sorting/*.cpp read arbitrary files as
    a distributed byte DIA (thrill/api/read_binary.hpp splits on byte
    ranges); this is the parquet-row equivalent of that split.

    assume_single_row=True skips the multi-row contract guard's probe
    job for callers whose frame is ≤1 row BY CONSTRUCTION (a unique-key
    filter or a global aggregate) — the guard exists for arbitrary
    inputs, and the probe is one scheduling round-trip per call that
    such callers pay for nothing."""
    if (
        off_col is None
        and not assume_single_row
        and df.filter(F.length(F.col(text_col)) > 0).limit(2).count() > 1
    ):
        # Contract guard: without offsets every input row gets base 0,
        # so >1 non-empty row would silently produce colliding pos
        # values and a corrupt char table. The limit(2) scan is cheap
        # next to the suffix workloads this feeds.
        raise ValueError(
            "chunked_chars: off_col is required when the input has more "
            "than one non-empty row (omitting it assigns base offset 0 "
            "to every row, yielding colliding pos values)"
        )
    base = (F.col(off_col) if off_col else F.lit(0)).cast("long")
    slices = df.select(
        base.alias("_base"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (greatest(length({text_col}), 1) - 1)"
                f" div {chunk}),"
                f" i -> substring({text_col}, i * {chunk} + 1, {chunk}))"
            )
        ).alias("_si", "_slice"),
    )
    return (
        slices.repartition(F.col("_base"), F.col("_si"))
        .select(
            (F.col("_base") + F.col("_si").cast("long") * F.lit(chunk)).alias("_off"),
            F.posexplode(F.split(F.col("_slice"), "")).alias("_i", ch),
        )
        .filter(F.col(ch) != "")
        .select((F.col("_off") + F.col("_i")).alias("pos"), ch)
    )


def doc_offsets(
    lens: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "_len",
    off_col: str = "_off",
    driver_max: int = 1 << 16,
) -> tuple[DataFrame, int]:
    """(offsets_df, total): exclusive prefix-sum of per-document
    lengths in id order — the concatenation-offset table every
    generalized-suffix ingestion starts from — plus the total length
    as a driver scalar.

    Below `driver_max` documents the rollup happens on the driver from
    ONE collect (the document count is bounded by the caller's doc
    selection, the same boundedness the FM build gate rests on) and the
    offsets come back as a broadcastable local relation — replacing the
    two-shuffle distributed prefix-sum machinery plus the separate
    total-length aggregate job. Past the gate the distributed
    prefix_sum path runs unchanged."""
    from pyspark.sql.types import IntegralType

    from thrill_spark import ordering as O

    # The driver rollup Python-sorts ids and writes the offsets back
    # with a hard-coded `long` schema; a non-integral id column (valid
    # for the distributed prefix_sum fallback, which uses Spark's own
    # ordering) would raise or diverge in collation only on the gated
    # path (ADVICE r14) — route those to the distributed path instead.
    id_integral = isinstance(
        lens.schema[id_col].dataType, IntegralType
    )
    rows = (
        lens.select(id_col, len_col).limit(driver_max + 1).collect()
        if id_integral
        else []
    )
    if id_integral and len(rows) <= driver_max:
        srt = sorted((r[id_col], int(r[len_col])) for r in rows)
        acc = 0
        out = []
        for i, ln in srt:
            out.append((i, acc, ln))
            acc += ln
        # PySpark createDataFrame parallelizes to an RDD-backed plan
        # (LogicalRDD) whose default size statistic is Long.Max; that
        # estimate MULTIPLIES through every downstream join, so the
        # whole consumer cascade silently loses broadcast eligibility
        # (the r15 full-suite shuffle-budget failure on
        # dedup_exact_substr_clean/coverage: 3 -> 6 wide shuffles, SMJ
        # where r13 broadcast). One tiny honest checkpoint (coalesce(1)
        # so the materialization is a single task over ≤ driver_max
        # rows) restores actual-bytes stats; the broadcast hint makes
        # the intent explicit where offs sits on a broadcastable side.
        offs = F.broadcast(
            _honest_ckpt(
                lens.sparkSession.createDataFrame(
                    out, f"{id_col} long, {off_col} long, {len_col} long"
                ).coalesce(1)
            )
        )
        return offs, acc
    offs = O.prefix_sum(
        lens, [id_col], len_col, name=off_col, exclusive=True
    )
    total = int(
        offs.agg(
            F.max(F.col(off_col) + F.col(len_col)).alias("_n")
        ).first()["_n"]
        or 0
    )
    return offs, total


# Driver ceiling for the initial-rank alphabet histogram: character
# alphabets are bounded (≤ the charset; ASCII/latin fixtures are
# ~30-100 distinct chars), so collecting the (ch, count) histogram is
# the same boundedness class as the FM C-table driver dict. Past this
# many distinct characters suffix_array falls back to the distributed
# prefix-sum path.
_SA_ALPHA_DRIVER_MAX = 1 << 16


def suffix_array(
    chars: DataFrame, n: int, pos: str = "pos", step: int = 2,
    keep_levels: bool = False, max_prefix: int | None = None,
):
    """Suffix sorting by prefix doubling — or prefix QUADRUPLING with
    step=4 (the reference ships both: prefix_doubling.cpp and
    prefix_quadrupling.cpp; quadrupling trades wider per-round tuples
    for half the rounds, the right trade when round setup dominates).

    chars: (pos, ch) one row per character, pos in [0, n).
    Returns (pos, rank): rank of suffix starting at pos in the sorted
    suffix order, dense in [0, n).

    With keep_levels=True (step 2, 4 or 8) returns (ranked, levels)
    where levels is [(prefix_len, rank_df), ...] for EVERY power of
    two — the rank checkpoints lcp_from_levels binary-descends over,
    so no suffix string is ever materialized. With step=4 (8) each
    round emits BOTH (all THREE) intermediate levels from ONE bucket
    sort: the round sorts by the width-tuple (r_k[pos], r_k[pos+k],
    ...), whose 2- and 4-PREFIX groups are contiguous in the same
    order — so rank_{2k} (and rank_{4k}) are just extra min-index
    windows over the already-sorted partitions, no extra shuffle.
    Half (a third of) the sort rounds of doubling, identical level
    ladder, classic descent. The TERMINAL table (the level whose
    ranks came out fully distinct) is excluded: its descent joins can
    never match, and max LCP < its prefix length == 1 + sum of the
    retained levels' lengths, so coverage is intact.

    Each round: self-joins at offsets k..(width-1)k (Zip-with-shift),
    re-rank tuples via the distributed with_index discipline, stop
    when all ranks are distinct — O(log_step n) rounds, every step a
    shuffle-bounded DataFrame op (no driver-side strings), which is
    what makes this viable for distributed corpora, not just one doc.

    max_prefix: stop the ladder once a level of prefix length
    >= max_prefix has been emitted. The returned `ranked` is then the
    rank at that PREFIX length, NOT the full suffix order — only for
    callers that consume the levels (prefix_classes / lcp_ge_flags),
    where it caps rounds at O(log max_prefix) independent of n."""
    from thrill_spark import ordering as O

    if step < 2:
        raise ValueError("step must be >= 2")
    if keep_levels and step not in (2, 4, 8):
        raise ValueError("keep_levels requires step 2, 4 or 8")
    if max_prefix is not None and max_prefix < 1:
        raise ValueError(f"max_prefix must be >= 1, got {max_prefix}")
    if n <= 0:
        # empty text: zero suffixes — return the empty (pos, rank)
        # frame rather than running a degenerate round
        empty = chars.sparkSession.range(0).select(
            F.col("id").alias(pos), F.col("id").alias("r")
        )
        ranked = empty.select(F.col(pos), F.col("r").alias("rank"))
        if keep_levels:
            return ranked, [(1, empty)]
        return ranked
    # Initial ranks are POSITIONAL (start offset of each char's group
    # in sorted order = histogram exclusive prefix-sum), not ordinal
    # alphabet codes: the same equality classes and order, but every
    # round's rank components — including round 1's — are then
    # positions in [-1, n), which is what _round's analytic bucketing
    # divides by. Ordinal codes (all < |alphabet|) would funnel the
    # whole first round into bucket 0 — a single-task sort of the full
    # table, the exact scale defect this sort exists to avoid.
    #
    # The histogram is ALPHABET-BOUNDED (one row per distinct
    # character — the same boundedness the FM C-table's driver dict
    # rests on), so its exclusive prefix-sum is a driver rollup of one
    # collected aggregate, not the two-shuffle distributed prefix_sum
    # machinery: one job instead of ~three (sampling + totals collect)
    # per ladder invocation, and the rank assignment becomes a
    # broadcast hash join with no shuffle. A pathological alphabet
    # falls back to the distributed path.
    hist = chars.groupBy("ch").agg(F.count("*").alias("_c"))
    # Sort with the SAME collation Spark's distributed fallback uses
    # (UTF-8 binary order): Python's default code-point sort agrees for
    # well-formed strings, but split(text,'') can yield lone UTF-16
    # surrogates on astral-plane text, where the two gated paths would
    # rank characters differently (ADVICE r14).
    hrows = sorted(
        ((r["ch"], int(r["_c"]))
         for r in hist.limit(_SA_ALPHA_DRIVER_MAX + 1).collect()),
        key=lambda t: t[0].encode("utf-8", "surrogatepass"),
    )
    if len(hrows) > _SA_ALPHA_DRIVER_MAX:
        alpha_ranked = O.prefix_sum(
            hist, ["ch"], "_c", name="r", exclusive=True
        ).select("ch", "r")
    else:
        acc = 0
        pairs = []
        for ch, c in hrows:
            pairs.append((ch, acc))
            acc += c
        alpha_ranked = F.broadcast(
            chars.sparkSession.createDataFrame(pairs, "ch string, r long")
        )
    # honest checkpoint: this is ALSO the descent's level-1 rank table
    # (a join-product estimate here would cost it broadcast eligibility)
    ranks = _honest_ckpt(
        chars.join(alpha_ranked, on="ch")
        .select(pos, F.col("r").cast("long").alias("r"))
    )
    levels: list[tuple[int, DataFrame]] = [(1, ranks)]

    n_buckets = chars.sparkSession.conf.get("spark.sql.shuffle.partitions")
    n_buckets = int(n_buckets) if n_buckets and n_buckets.isdigit() else 200

    def _round(cur: DataFrame, k: int, width: int, emit_widths=()):
        """One re-rank round; returns (new_ranks, n_distinct,
        prefix_out) where prefix_out is [(w, rank_df_or_None, nd_w)]
        for each requested prefix width w in emit_widths (ascending) —
        keep_levels quadrupling/octupling derive rank_{2k} (and
        rank_{4k}) from the SAME sorted partitions as the full-width
        rank, one extra window each, no extra shuffle.

        Tuple assembly is ONE explode + ONE groupBy(pos): every rank
        row fans out to the `width` positions whose tuple needs it
        (target pos - j*k), then a per-pos max(when) gathers the
        components. The previous form — width-1 chained shift-joins —
        re-exchanged (or re-broadcast) the rank table width-1 times
        per round; the explode ships each component exactly once, so
        per-round shuffle volume is width*n skinny rows in one stage
        at any scale.

        Rank tuples are NUMERIC with a known range (every component in
        [-1, n)), so the global sort skips with_index's boundary
        SAMPLING job: the LEADING component maps analytically to range
        buckets via floor((r+1)/(n+1)*n_buckets). Bucketing on the
        leading component ONLY is load-bearing twice over: (a) it is
        exactly monotone in IEEE doubles (integer numerator <= n+1 <
        2^53 divided by a positive constant — a packed multi-component
        surrogate needs n1**width, which overflows 2^53 for any real
        text and silently loses monotonicity), and (b) it is CONSTANT
        within every full-key group and every sort-key-prefix (mid)
        group, so no rank class can straddle a bucket boundary — which
        keeps the per-bucket countDistinct sums exact and the
        min-index rank windows whole. Exact tuple order is restored by
        the within-bucket sort. One stats pass per round then yields the
        per-bucket offsets AND the distinct-tuple counts (the
        termination probe) together, and a new rank needs no
        groupBy+join: min-index-per-tuple == global_idx minus the
        row's 0-based position within its tuple group, both from
        windows over the same bucket sort — and any PREFIX of the sort
        key gets its own rank the same way, since prefix groups are
        contiguous in the same order. 3-4 jobs/round vs ~6 for the
        generic with_index discipline. All-identical keys still funnel
        one group to one task — exactly as sampled range partitioning
        would place them."""
        key_names = ["r"] + [f"r{j}" for j in range(2, width + 1)]
        fanout = [
            F.struct(
                (F.col(pos) - F.lit(j * k)).cast("long").alias(pos),
                F.lit(j).alias("_j"),
                F.col("r").alias("_r"),
            )
            for j in range(width)
        ]
        contrib = (
            cur.select(F.explode(F.array(*fanout)).alias("_e"))
            .select("_e.*")
            .filter(F.col(pos) >= 0)
        )
        paired = contrib.groupBy(pos).agg(
            *[
                F.max(F.when(F.col("_j") == j, F.col("_r"))).alias(key_names[j])
                for j in range(width)
            ]
        ).fillna({c: -1 for c in key_names[1:]})
        n1 = float(n + 1)
        bucket = F.least(
            F.floor(
                (F.col("r").cast("double") + F.lit(1.0))
                / F.lit(n1)
                * F.lit(n_buckets)
            ),
            F.lit(n_buckets - 1),
        ).cast("int")
        # PERSIST (not localCheckpoint) the sorted partitions: an
        # InMemoryRelation keeps the child's outputPartitioning and
        # ordering — so the rank windows below stream over the cache
        # with no second exchange or sort — and, once the stats pass
        # materializes it, reports its ACTUAL byte size. A
        # localCheckpoint here propagates the ORIGIN plan's size
        # estimate instead, which the explode+groupBy assembly above
        # compounds per round — after a few rounds the rank tables
        # look petabyte-sized to the planner and every downstream
        # join (the whole LCP descent) silently loses broadcast
        # eligibility. Measured: 8x ExactSubstr descent 79 s -> 3 s
        # on restoring honest stats (r10, with the then shift-join
        # assembly whose estimates grew ~4th-power per round).
        part = O._persist(
            paired.withColumn("_bkt", bucket)
            .repartition(n_buckets, F.col("_bkt"))
            .sortWithinPartitions("_bkt", *key_names, pos)
        )
        aggs = [
            F.count("*").alias("_c"),
            F.countDistinct(*key_names).alias("_d"),
        ] + [
            F.countDistinct(*key_names[:w]).alias(f"_d{w}")
            for w in emit_widths
        ]
        stats = part.groupBy("_bkt").agg(*aggs).collect()
        offs: dict[int, int] = {}
        acc = 0
        for row in sorted(stats, key=lambda r: r["_bkt"]):
            offs[row["_bkt"]] = acc
            acc += row["_c"]
        n_distinct = sum(r["_d"] for r in stats)
        # per-bucket prefix-distinct sums are exact: bucketing is on
        # the leading component, so no prefix class straddles buckets
        nds = {w: sum(r[f"_d{w}"] for r in stats) for w in emit_widths}
        # empty input => no stats rows => no map to index into; the
        # carry term is simply 0 (a NULL-typed literal here would fail
        # analysis on element extraction)
        carry_term = (
            F.coalesce(
                F.create_map(
                    *[F.lit(x) for kv in offs.items() for x in kv]
                )[F.col("_bkt")],
                F.lit(0),
            )
            if offs
            else F.lit(0)
        )
        w = Window.partitionBy("_bkt").orderBy(*key_names, pos)
        idx = F.row_number().over(w) - 1 + carry_term

        def _rank_col(group_cols, name):
            wg = Window.partitionBy("_bkt", *group_cols).orderBy(
                *key_names, pos
            )
            return (
                (idx - (F.row_number().over(wg) - 1)).cast("long").alias(name)
            )

        # ONE checkpointed frame carries every rank column: all the
        # windows share the cache's hash(_bkt) distribution and sort
        # order (each prefix group is a prefix of the full key), so
        # this is a single no-exchange window stage and a single
        # materialization job instead of one per level. A prefix
        # already fully distinct gets no rank column (its table would
        # be terminal — never used by the descent).
        live = [w for w in emit_widths if nds[w] < n]
        out_cols = [F.col(pos), _rank_col(key_names, "r")] + [
            _rank_col(key_names[:w], f"_r{w}") for w in live
        ]
        # Terminal-round detection mirrors the outer loop's breaks
        # exactly (prefix already distinct / full tuple distinct /
        # max_prefix reached).
        last = (
            n_distinct >= n
            or any(nds[w] >= n for w in emit_widths)
            or (max_prefix is not None and k * width >= max_prefix)
        )
        if last:
            # final round: eager checkpoint (stats captured from the
            # materialized cache — honest), cache freed immediately.
            combined = part.select(*out_cols).localCheckpoint()
        else:
            # Non-terminal round (r14): LAZY checkpoint fused with the
            # NEXT round's stats action — the windows run inside that
            # job instead of paying their own materialization job per
            # round. Stats stay honest: the LogicalRDD's size is
            # captured at call time from the origin plan, whose child
            # is the already-materialized sorted cache (the stats
            # collect above ran first). The cache must outlive the
            # materialization, so unpersist is DEFERRED to the outer
            # loop (after the next round's stats collect).
            combined = part.select(*out_cols).localCheckpoint(eager=False)
        new = combined.select(pos, "r")
        prefix_out = [
            (
                w,
                combined.select(pos, F.col(f"_r{w}").alias("r"))
                if w in live
                else None,
                nds[w],
            )
            for w in sorted(emit_widths)
        ]
        if last:
            part.unpersist()
            return new, n_distinct, prefix_out, None
        return new, n_distinct, prefix_out, part

    # keep_levels quadrupling/octupling: each round covers TWO (step
    # 4) or THREE (step 8) binary levels — rank_{2k}/rank_{4k} from
    # sort-key prefixes, the widest from the full tuple — for the
    # price of ONE bucket sort; half (third) the rounds of plain
    # doubling, identical level ladder and descent.
    width = step
    emit_widths = (
        tuple(2 ** i for i in range(1, step.bit_length() - 1))
        if (keep_levels and step in (4, 8))
        else ()
    )
    k = 1
    pending_part = None  # previous round's sorted cache, freed once the
    # next round's stats collect has materialized its lazy checkpoint
    try:
        while True:
            ranks, nd, prefix_out, part_handle = _round(
                ranks, k, width, emit_widths
            )
            if pending_part is not None:
                # the stats collect inside _round just materialized the
                # previous round's lazy checkpoint — its cache can go
                pending_part.unpersist()
            pending_part = part_handle
            terminal = False
            for w, mid, nd_w in prefix_out:  # ascending prefix widths
                if nd_w >= n:
                    # distinct already at this PREFIX length: every wider
                    # table of this round (and all later rounds) assigns
                    # identical singleton ranks — all terminal, exclude.
                    terminal = True
                    break
                levels.append((k * w, mid))
            if terminal:
                break
            plen = k * width
            if nd >= n:
                # Terminal table: ranks fully distinct, so no two suffixes
                # can ever rank-match at this prefix length — keeping it
                # in the levels would cost lcp_from_levels joins that
                # provably never match.
                break
            levels.append((plen, ranks))
            if max_prefix is not None and plen >= max_prefix:
                break
            k = plen
    except BaseException:
        # deferred-unpersist protocol: a mid-round failure (e.g. a
        # stats-collect error) must not leak the previous round's
        # persisted sort for the session's lifetime (ADVICE r14)
        if pending_part is not None:
            pending_part.unpersist()
        raise
    ranked = ranks.select(F.col(pos), F.col("r").cast("long").alias("rank"))
    if keep_levels:
        return ranked, levels
    return ranked


def prefix_classes(
    levels: list[tuple[int, DataFrame]], min_len: int, pos: str = "pos"
) -> DataFrame:
    """(pos, cls) — equivalence-class key of each suffix's first
    min_len characters, assembled directly from the prefix-rank
    ladder: the greedy decomposition min_len = p1 + p2 + ... maps to
    the key struct (r_{p1}[pos], r_{p2}[pos+p1], ...). Two suffixes
    get equal keys iff their first min_len chars are equal — each
    equal component certifies its window and the windows tile
    [0, min_len); conversely equal text implies equal window ranks.
    A suffix running past the end carries a -1 component (never a
    real rank), so it can only share a class with suffixes whose
    remaining text AND length pattern match — and ExactSubstr's
    in-document validity filter drops those members regardless.

    This is the whole of what ExactSubstr needs from suffix sorting:
    the duplicate-substring ISLANDS are exactly these classes
    (equal-first-L-chars is transitive, and a class is precisely a
    maximal run of SA neighbors with pairwise LCP >= L), so with the
    ladder early-stopped at max_prefix >= min_len island discovery
    costs O(log min_len) doubling rounds — independent of corpus
    size — instead of a full O(log n) suffix sort plus an exact-LCP
    descent plus an adjacency prefix-sum."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    lev = {plen: tab for plen, tab in levels}
    parts: list[int] = []
    rem = int(min_len)
    for p in sorted(lev, reverse=True):
        while p <= rem:
            parts.append(p)
            rem -= p
    if rem:
        raise ValueError(
            f"ladder {sorted(lev)} cannot compose min_len={min_len}"
        )
    out = None
    comps: list[str] = []
    off = 0
    for i, p in enumerate(parts):
        t = lev[p].select(
            (F.col(pos) - off).alias(pos), F.col("r").alias(f"_c{i}")
        )
        out = t if out is None else out.join(t, pos, "left")
        comps.append(f"_c{i}")
        off += p
    out = out.filter(F.col(pos) >= 0).fillna({c: -1 for c in comps})
    return out.select(F.col(pos), F.struct(*comps).alias("cls"))


def lcp_ge_flags(
    ranked: DataFrame,
    levels: list[tuple[int, DataFrame]],
    min_len: int,
    pos: str = "pos",
) -> DataFrame:
    """(rank, ge) — whether LCP(suffix at rank, suffix at rank-1) is
    >= min_len — WITHOUT computing exact LCPs: probe only a greedy
    exact decomposition of min_len over the available prefix-rank
    ladder (levels may repeat: 16 = 8+8 when the ladder topped out at
    8), so the cost is a handful of rank joins — ONE for a
    power-of-two min_len within the ladder — instead of the full
    log(n)-level Manber-Myers descent. A probe at offset h against
    level table p succeeds iff the two suffixes' rank-at-prefix-p
    agree at offset h, certifying p more common chars. If the true
    LCP >= min_len, every greedy probe must succeed (each tests a
    fully-matching region), and h can reach min_len only through
    all-success — so ge == (h == min_len) exactly. Rank 0 (no
    predecessor) gets ge = false. ExactSubstr's island flag is this
    boolean; the exact-LCP descent stays for consumers that need
    values (suffix_lcp*, LCS)."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    lev = {plen: tab for plen, tab in levels}
    parts: list[int] = []
    rem = int(min_len)
    for p in sorted(lev, reverse=True):
        while p <= rem:
            parts.append(p)
            rem -= p
    if rem:
        raise ValueError(
            f"ladder {sorted(lev)} cannot compose min_len={min_len}"
        )
    prev = ranked.select(
        (F.col("rank") + 1).alias("rank"), F.col(pos).alias("_ppos")
    )
    pairs = (
        ranked.join(prev, "rank", "left")
        .select("rank", F.col(pos).alias("_cpos"), "_ppos")
        .withColumn("h", F.lit(0).cast("long"))
    )
    for p in parts:
        tab = lev[p]
        ta = tab.select(F.col(pos).alias("_qa"), F.col("r").alias("_ra"))
        tb = tab.select(F.col(pos).alias("_qb"), F.col("r").alias("_rb"))
        pairs = (
            pairs.join(ta, F.col("_ppos") + F.col("h") == F.col("_qa"), "left")
            .join(tb, F.col("_cpos") + F.col("h") == F.col("_qb"), "left")
            .withColumn(
                "h",
                F.col("h")
                + F.when(
                    F.col("_ra").isNotNull() & (F.col("_ra") == F.col("_rb")),
                    F.lit(p),
                ).otherwise(F.lit(0)),
            )
            .drop("_qa", "_ra", "_qb", "_rb")
        )
    return _honest_ckpt(
        pairs.select("rank", (F.col("h") >= min_len).alias("ge"))
    )


def lcp_from_levels(
    ranked: DataFrame,
    levels: list[tuple[int, DataFrame]],
    pos: str = "pos",
    checkpoint_every: int = 4,
) -> DataFrame:
    """(rank, lcp) — LCP of each suffix with its rank-predecessor —
    computed ENTIRELY from the prefix-sort rank tables: generalized
    Manber-Myers descent, h += plen whenever the two suffixes'
    rank-at-prefix-length-plen agree at offset h. A rank match at
    level L certifies an L-char common prefix, so no suffix string is
    ever materialized and no text is broadcast — 2 equi-joins per
    schedule entry, each join distributed on the rank tables the sort
    already checkpointed (construct_lcp.hpp contract; the
    substring-scan alternative is O(n × avg_lcp), quadratic on
    repetitive text). `levels` is suffix_array(keep_levels=True)'s
    schedule — a complete power-of-two ladder under both step=2 and
    step=4 (quadrupling emits the mid level from the same sort).
    Repeated levels would also be sound (a successful match advances
    h by exactly its certified length; a failed probe adds 0), so the
    descent tolerates any schedule whose entries sum past max-LCP."""
    prev = ranked.select(
        (F.col("rank") + 1).alias("rank"), F.col(pos).alias("_ppos")
    )
    pairs = (
        ranked.join(prev, "rank", "left")
        .select("rank", F.col(pos).alias("_cpos"), "_ppos")
        .withColumn("h", F.lit(0).cast("long"))
    )
    for i, (plen, tab) in enumerate(sorted(levels, reverse=True, key=lambda t: t[0])):
        ta = tab.select(F.col(pos).alias("_qa"), F.col("r").alias("_ra"))
        tb = tab.select(F.col(pos).alias("_qb"), F.col("r").alias("_rb"))
        pairs = (
            pairs.join(ta, F.col("_ppos") + F.col("h") == F.col("_qa"), "left")
            .join(tb, F.col("_cpos") + F.col("h") == F.col("_qb"), "left")
            .withColumn(
                "h",
                F.col("h")
                + F.when(
                    F.col("_ra").isNotNull() & (F.col("_ra") == F.col("_rb")),
                    F.lit(plen),
                ).otherwise(F.lit(0)),
            )
            .drop("_qa", "_ra", "_qb", "_rb")
        )
        if (i + 1) % checkpoint_every == 0:
            # truncate lineage: log n chained joins would otherwise
            # compound into one enormous plan (and honest stats keep
            # the remaining level joins broadcast-eligible)
            pairs = _honest_ckpt(pairs)
    # Checkpoint the finished array: consumers use it 2-3x (scalar
    # max + winner join + island scan), and without this each use
    # re-plans (and re-runs) the final descent segment — plan trees
    # were duplicating those joins per branch. Honest stats keep the
    # downstream consumer joins broadcast-eligible.
    return _honest_ckpt(
        pairs.select(
            "rank",
            F.when(F.col("_ppos").isNull(), F.lit(0))
            .otherwise(F.col("h"))
            .cast("long")
            .alias("lcp"),
        )
    )


def logistic_regression_sgd(
    points: DataFrame,
    dim: int,
    iterations: int = 20,
    lr: float = 0.5,
    vec_col: str = "x",
    label_col: str = "y",
    return_history: bool = False,
):
    """Logistic regression via full-batch gradient descent (reference
    example listing, SURVEY §2.13). Weights are driver-side (dim
    floats); the gradient is one distributed aggregation per step —
    the same AllReduce shape as the reference's examples/logreg.

    Exact weights are not oracle-able (FP summation order), but the
    mean log-loss per iteration is tracked (return_history=True) —
    loss decrease plus final separation are the properties the oracle
    query checks."""
    w = [0.0] * dim
    losses: list[float] = []
    for _ in range(iterations):
        warr = F.array(*[F.lit(x) for x in w])
        margin = F.aggregate(
            F.zip_with(F.col(vec_col), warr, lambda x, wi: x.cast("double") * wi),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        y = F.col(label_col).cast("double")
        err = p - y
        eps = F.lit(1e-12)
        loss = -(y * F.log(p + eps) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p + eps))
        grads = points.select(
            *[
                F.sum(err * F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"g{i}")
                for i in range(dim)
            ],
            F.count("*").alias("n"),
            F.avg(loss).alias("_loss"),
        ).first()
        n = grads["n"]
        losses.append(float(grads["_loss"]))
        w = [w[i] - lr * grads[f"g{i}"] / n for i in range(dim)]
    return (w, losses) if return_history else w


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "u",
    b: str = "v",
    max_iters: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node with
    degree < k, restrict the edge set, repeat to fixpoint (Seidman's
    degeneracy peel; no reference analogue — Thrill's examples stop at
    PageRank/triangles/BFS).

    Each round is one equi-join (edge restriction) + one hash
    aggregation (degrees) — the scale-safe shape; the node set only
    shrinks, so consecutive equal COUNTs certify the fixpoint.
    localCheckpoint per round keeps lineage flat (the Collapse
    discipline shared by pagerank/bfs above). Raises on
    non-convergence rather than returning a wrong subgraph.

    Checkpoint policy (measured on the bench graph, 7 peel rounds):
    peeling can run tens of rounds (a chain at k=2 peels two nodes a
    round), and an _honest_ckpt per round costs an extra
    block-storage pass each time (5.2 s vs 2.4 s hybrid). So rounds
    use PLAIN localCheckpoint, with an honest reset every 8th round
    to bound the compounded origin estimate (BigInt stats stay
    narrow), and the entry/return frames are always honest — the
    consumer boundary is what the broadcast-loss trap actually needs
    (tests/test_stats_honesty.py asserts it).

    Returns (node, core_deg): the k-core nodes with their degree
    inside the core.
    """
    edges = _honest_ckpt(
        edges.select(F.col(a).alias("u"), F.col(b).alias("v")).distinct()
    )
    # No materialized node set up front: every node IS an edge endpoint,
    # so round 0's edge restriction is a no-op and the initial
    # distinct+count job is pure overhead. The fixpoint certificate is
    # consecutive equal survivor counts (the set only shrinks, so equal
    # counts ⇒ equal sets); an already-k-core graph pays one extra
    # (identical) round, every other graph runs the same rounds minus
    # the entry jobs.
    nodes = None
    prev = None
    for i in range(max_iters):
        ee = (
            edges
            if nodes is None
            else edges.join(
                nodes.select(F.col("n").alias("u")), "u"
            ).join(nodes.select(F.col("n").alias("v")), "v")
        )
        deg = (
            ee.select(F.col("u").alias("n"))
            .unionByName(ee.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # carry (n, d), not just n: at fixpoint this round's edge set
        # already IS the core (nodes stopped shrinking), so the d >= k
        # rows ARE (node, core_deg) — returning the converged round's
        # checkpointed frame skips rebuilding the double join + degree
        # re-aggregation the r11 version paid at the boundary
        # Lazy checkpoint fused with the fixpoint count (r14): the
        # count() is the materializing action, so the round's plan
        # runs ONCE instead of eager-checkpoint-job + count-job. The
        # every-8th honest reset stays eager (it must materialize the
        # cache before capturing stats).
        if (i + 1) % 8 == 0:
            nxt = _honest_ckpt(deg.filter(F.col("d") >= k))
        else:
            nxt = deg.filter(F.col("d") >= k).localCheckpoint(eager=False)
        c = nxt.count()
        nodes = nxt.select("n")
        if prev is not None and c == prev:
            # honest-checkpoint the RETURN frame (consumer boundary,
            # tests/test_stats_honesty.py)
            return _honest_ckpt(
                nxt.select(
                    F.col("n").alias("node"), F.col("d").alias("core_deg")
                )
            )
        prev = c
    raise RuntimeError(f"k_core: no fixpoint within {max_iters} rounds")


def sssp(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    max_iters: int = 40,
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford rounds):
    each round relaxes every edge once — one equi-join + one min
    aggregation — and the (node count, total distance) pair certifies
    the fixpoint (both are monotone under relaxation). Extends bfs()
    above to weighted graphs; raises instead of returning partial
    distances if the bound is hit.

    Returns (node, dist) with exact integer distances.
    """
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node long, dist long").localCheckpoint()
    prev = (1, 0)
    for i in range(max_iters):
        cand = (
            dist.join(edges, dist["node"] == edges[src])
            .select(F.col(dst).alias("node"), (F.col("dist") + F.col(w)).alias("dist"))
        )
        # lazy checkpoint + fixpoint aggregate in ONE job (see k_core)
        merged = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        merged = (
            _honest_ckpt(merged)
            if (i + 1) % 8 == 0
            else merged.localCheckpoint(eager=False)
        )
        row = merged.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("t")
        ).collect()[0]
        cur = (row["n"], row["t"])
        dist = merged
        if cur == prev:
            return _honest_ckpt(dist)
        prev = cur
    raise RuntimeError(f"sssp: no fixpoint within {max_iters} rounds")


def label_propagation(
    edges: DataFrame, a: str = "a", b: str = "b", rounds: int = 3
) -> DataFrame:
    """Synchronous label propagation (community detection), fixed
    `rounds`, fully deterministic: every node starts labelled with its
    own id; each round every node adopts the most frequent label among
    its neighbours (tie-break: smallest label); isolated behaviour
    cannot occur since nodes are defined as edge endpoints.

    Raghavan et al. 2007 made deterministic: the classic algorithm
    breaks ties randomly and updates asynchronously — here ties go to
    the smallest label and all nodes update simultaneously from the
    previous round's labels, so the result is a pure function of the
    edge set and both engines replay it exactly (the oracle unrolls
    the rounds as CTEs).

    Scale: each round is one shuffle-join (labels into edge endpoints)
    plus one groupBy argmax — the same per-round cost profile as
    pagerank/_cc_star above; fixed round count bounds total work.
    Returns (node, community).
    """
    und = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(edges.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    for _ in range(rounds):
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .select(F.col("u"), F.col("community").alias("nbr_label"))
            .groupBy("u", "nbr_label")
            .agg(F.count("*").alias("_cnt"))
        )
        # argmax by (count desc, label asc): max_by with a two-field
        # ordering struct — works for any orderable label type (string
        # labels included), unlike arithmetic negation of the label.
        labels = (
            votes.groupBy("u")
            .agg(
                F.min_by(
                    "nbr_label",
                    F.struct(
                        (-F.col("_cnt")).alias("_negcnt"),
                        F.col("nbr_label").alias("_lbl"),
                    ),
                ).alias("community")
            )
            .select(F.col("u").alias("node"), "community")
        )
        labels = _honest_ckpt(labels)
    return labels


def _dc3_base(spark, s: DataFrame, n: int) -> DataFrame:
    """DC3 recursion bottom: suffix-rank a string no longer than the
    base threshold on the driver (the K-S recursion's insertion-sort
    analogue — bounded by the threshold constant, NOT by data size, so
    it is not a driver-side scale funnel)."""
    arr = [0] * n
    for row in s.collect():
        arr[row["pos"]] = row["sym"]
    order = sorted(range(n), key=lambda i: arr[i:])
    rank = [0] * n
    for rk, p in enumerate(order):
        rank[p] = rk
    return spark.createDataFrame(
        [(p, rank[p]) for p in range(n)], "pos long, r long"
    )


def _dc3_rec(spark, s: DataFrame, n: int, base_threshold: int) -> DataFrame:
    """One DC3 level over s=(pos, sym): returns (pos, r) with r the
    dense rank of the suffix starting at pos, 0..n-1.

    Merge step without a sequential merge: with sample ranks R known,
    K1=(c[i], R[i+1]) totally orders S0∪S1 and K2=(c[i], c[i+1],
    R[i+2]) totally orders S0∪S2 (ties impossible: equal rank implies
    equal position). Two distributed with_index passes over those
    unions give, for every suffix, how many suffixes of the OTHER
    classes precede it; final ranks are sums of class-internal rank +
    cross-class counts — every step a bounded shuffle, no pairwise
    merge walk."""
    from thrill_spark import ordering as O

    if n <= base_threshold:
        return _dc3_base(spark, s, n)

    dummy = 1 if n % 3 == 1 else 0
    sample_max = n + dummy  # K-S: include pos n as an empty mod-1 sample
    n1cnt = (sample_max + 1) // 3

    samples = (
        spark.range(sample_max)
        .filter(F.col("id") % 3 != 0)
        .select(F.col("id").alias("pos"))
    )
    t = samples
    for off, cname in ((0, "c0"), (1, "c1"), (2, "c2")):
        t = t.join(
            s.select((F.col("pos") - off).alias("pos"), F.col("sym").alias(cname)),
            on="pos",
            how="left",
        )
    t = t.fillna({"c0": -1, "c1": -1, "c2": -1})
    from thrill_spark.ordering import _persist

    t = _persist(t)
    n12 = t.count()

    dist = t.select("c0", "c1", "c2").distinct()
    named_tr = O.with_index(dist, ["c0", "c1", "c2"], name="nm")
    n_names = dist.count()
    tn = t.join(named_tr, ["c0", "c1", "c2"]).select("pos", "nm")

    if n_names == n12:
        # all triples distinct: the triple name IS the sample rank
        R = tn.select("pos", F.col("nm").alias("r"))
    else:
        ridx = F.when(
            F.col("pos") % 3 == 1, (F.col("pos") - 1) / 3
        ).otherwise(F.lit(n1cnt) + (F.col("pos") - 2) / 3)
        # eager checkpoint: the reduced string must enter the recursion
        # as a concrete node, or lineage (and Catalyst analysis time)
        # compounds multiplicatively with depth
        reduced = _honest_ckpt(
            tn.select(ridx.cast("long").alias("pos"), F.col("nm").alias("sym"))
        )
        rr = _dc3_rec(spark, reduced, n12, base_threshold)
        back = tn.select("pos", ridx.cast("long").alias("ridx"))
        R = back.join(
            rr.select(F.col("pos").alias("ridx"), "r"), on="ridx"
        ).select("pos", "r")
    if dummy:
        # drop the empty-suffix sample and re-densify ranks
        R = O.with_index(
            R.filter(F.col("pos") < n), ["r"], name="_r2"
        ).select("pos", F.col("_r2").alias("r"))
    R = _honest_ckpt(R)

    attr = (
        spark.range(n)
        .select(F.col("id").alias("pos"))
        .join(s.withColumnRenamed("sym", "c0"), "pos", "left")
        .join(
            s.select((F.col("pos") - 1).alias("pos"), F.col("sym").alias("c1")),
            "pos",
            "left",
        )
        .join(
            R.select((F.col("pos") - 1).alias("pos"), F.col("r").alias("rn1")),
            "pos",
            "left",
        )
        .join(
            R.select((F.col("pos") - 2).alias("pos"), F.col("r").alias("rn2")),
            "pos",
            "left",
        )
        .join(R.select("pos", F.col("r").alias("selfr")), "pos", "left")
        .fillna({"c1": -1, "rn1": -1, "rn2": -1})
    )
    attr = _honest_ckpt(attr)

    m = F.col("pos") % 3
    iu1 = O.with_index(attr.filter(m != 2), ["c0", "rn1", "pos"], name="iu1")
    iu2 = O.with_index(attr.filter(m != 1), ["c0", "c1", "rn2", "pos"], name="iu2")
    r0 = O.with_index(attr.filter(m == 0), ["c0", "rn1", "pos"], name="rc")
    r1 = O.with_index(attr.filter(m == 1), ["selfr"], name="rc")
    r2 = O.with_index(attr.filter(m == 2), ["selfr"], name="rc")

    p0 = (
        r0.select("pos", "rc")
        .join(iu1.select("pos", "iu1"), "pos")
        .join(iu2.select("pos", "iu2"), "pos")
        .select("pos", (F.col("iu1") + F.col("iu2") - F.col("rc")).alias("r"))
    )
    p1 = (
        r1.select("pos", "selfr", "rc")
        .join(iu1.select("pos", "iu1"), "pos")
        .select("pos", (F.col("selfr") + F.col("iu1") - F.col("rc")).alias("r"))
    )
    p2 = (
        r2.select("pos", "selfr", "rc")
        .join(iu2.select("pos", "iu2"), "pos")
        .select("pos", (F.col("selfr") + F.col("iu2") - F.col("rc")).alias("r"))
    )
    return _honest_ckpt(p0.unionByName(p1).unionByName(p2))


def suffix_array_dc3(
    chars: DataFrame, n: int, pos: str = "pos", base_threshold: int = 4096
) -> DataFrame:
    """Suffix sorting by DC3 / skew (Kärkkäinen-Sanders 2003; the
    reference's examples/suffix_sorting/dc3.hpp algorithm re-expressed
    in DataFrame ops — not a port of its sequential merge).

    chars: (pos, ch) one row per character. Returns (pos, rank), the
    same contract as suffix_array (prefix doubling): rank of the
    suffix starting at pos, dense in [0, n).

    Shape per level: 3 shift-joins (triples), one distributed naming
    pass (with_index over distinct triples), a 2/3-size recursion, and
    a counting merge of two with_index passes — O(log_{1.5} n) levels,
    every step a bounded shuffle. The driver only ever materializes
    strings shorter than base_threshold (the recursion bottom)."""
    from thrill_spark import ordering as O

    spark = chars.sparkSession
    alpha = chars.select("ch").distinct()
    alpha_ranked = O.with_index(alpha, ["ch"], name="_sym")
    s = _honest_ckpt(
        chars.join(alpha_ranked, on="ch")
        .select(F.col(pos).alias("pos"), F.col("_sym").alias("sym"))
    )
    out = _dc3_rec(spark, s, n, base_threshold)
    return out.select(F.col("pos").alias(pos), F.col("r").cast("long").alias("rank"))


# ---------------------------------------------------------------------------
# DC7 suffix sorting (examples/suffix_sorting/dc7.cpp — the reference's
# 7-periodic difference-cover variant of DC3). Same output contract as
# suffix_array_dc3; the recursion shrinks to 3n/7 per level (vs 2n/3),
# trading fewer levels for a wider counting merge. Not a port: the
# reference interleaves a sequential multiway merge; here the merge is
# the generalized pairwise counting scheme — for every residue pair
# (a, b) there is a shift l with a+l and b+l both in the cover, so one
# distributed with_index over each class union yields exact
# cross-class counts and final ranks are pure arithmetic.
# ---------------------------------------------------------------------------
_DC7_D = (0, 1, 3)  # perfect difference cover mod 7


def _dc7_pair_shift(a: int, b: int) -> int:
    """Smallest l >= 0 with (a+l) % 7 and (b+l) % 7 both in the cover
    — exists for every pair by the difference-cover property."""
    for l in range(7):
        if (a + l) % 7 in _DC7_D and (b + l) % 7 in _DC7_D:
            return l
    raise AssertionError("difference cover property violated")


def _dc7_rec(spark, s: DataFrame, n: int, base_threshold: int) -> DataFrame:
    """One DC7 level over s=(pos, sym) with sym >= 0: returns (pos, r),
    r the dense rank of the suffix starting at pos, 0..n-1.

    End-of-string handling uses POSITION-DEPENDENT sentinels
    P[n+j] = -(j+1): every tuple or key prefix that runs past the end
    contains a globally-unique negative symbol, so (a) padded sample
    tuples are unique (each residue group's last tuple is padded —
    comparisons in the reduced string terminate before crossing group
    boundaries) and (b) every merge-key tie case at the string end
    resolves to the shorter-suffix-first rule exactly."""
    from thrill_spark import ordering as O
    from thrill_spark.ordering import _persist

    if n <= base_threshold:
        return _dc3_base(spark, s, n)

    pad = spark.createDataFrame(
        [(n + j, -(j + 1)) for j in range(14)], "pos long, sym long"
    )
    P = _honest_ckpt(s.unionByName(pad))

    # --- sample tuples: positions p in [0, n+7) with p % 7 in D -------
    samples = (
        spark.range(n + 7)
        .filter((F.col("id") % 7).isin(list(_DC7_D)))
        .select(F.col("id").alias("pos"))
    )
    t = samples
    for off in range(7):
        t = t.join(
            P.select((F.col("pos") - off).alias("pos"), F.col("sym").alias(f"c{off}")),
            on="pos",
            how="inner",
        )
    t = _persist(t)
    n_samp = t.count()

    tuple_cols = [f"c{off}" for off in range(7)]
    dist = t.select(*tuple_cols).distinct()
    named = O.with_index(dist, tuple_cols, name="nm")
    n_names = dist.count()
    tn = t.join(named, tuple_cols).select("pos", "nm")

    # reduced position: groups in cover order, within group by p // 7
    counts = [len(range(d, n + 7, 7)) for d in _DC7_D]
    offsets = {}
    acc = 0
    for d, cnt in zip(_DC7_D, counts):
        offsets[d] = acc
        acc += cnt
    ridx = None
    for d in _DC7_D:
        branch = F.lit(offsets[d]) + (F.col("pos") - d) / 7
        cond = F.col("pos") % 7 == d
        ridx = F.when(cond, branch) if ridx is None else ridx.when(cond, branch)

    if n_names == n_samp:
        R = tn.select("pos", F.col("nm").alias("r"))
    else:
        reduced = _honest_ckpt(
            tn.select(ridx.cast("long").alias("pos"), F.col("nm").alias("sym"))
        )
        rr = _dc7_rec(spark, reduced, n_samp, base_threshold)
        back = tn.select("pos", ridx.cast("long").alias("ridx"))
        R = back.join(
            rr.select(F.col("pos").alias("ridx"), "r"), on="ridx"
        ).select("pos", "r")
    # drop padded samples (pos >= n) and re-densify
    R = O.with_index(
        R.filter(F.col("pos") < n), ["r"], name="_r2"
    ).select("pos", F.col("_r2").alias("r"))
    R = _honest_ckpt(R)

    # --- attributes for the counting merge ----------------------------
    attr = spark.range(n).select(F.col("id").alias("pos"))
    for off in range(6):  # c0..c5 cover every pair shift (l <= 6 keys)
        attr = attr.join(
            P.select((F.col("pos") - off).alias("pos"), F.col("sym").alias(f"c{off}")),
            "pos",
            "inner",
        )
    shifts = sorted(
        {
            _dc7_pair_shift(a, b)
            for a in range(7)
            for b in range(7)
        }
    )
    for l in shifts:
        attr = attr.join(
            R.select((F.col("pos") - l).alias("pos"), F.col("r").alias(f"r{l}")),
            "pos",
            "left",
        )
    attr = _honest_ckpt(attr.fillna({f"r{l}": -1 for l in shifts}))

    def key_for(l: int) -> list[str]:
        return [f"c{i}" for i in range(l)] + [f"r{l}", "pos"]

    # rank(x in class a) = sum over b != a of U_ab(x)  -  5 * rc_a(x):
    # each U_ab counts predecessors of x within the union a ∪ b, so the
    # six unions containing a count every other class once and class a
    # itself six times — stacking all contributions (rc weighted -5)
    # and summing per pos assembles the final dense rank in ONE
    # groupBy, with no per-class join chains. The 28 ranking passes are
    # independent (each with_index samples boundaries and counts its
    # own subset), so their driver-side jobs are submitted from a
    # thread pool — wall time is the longest pass, not the sum.
    from concurrent.futures import ThreadPoolExecutor

    m = F.col("pos") % 7

    def _class_rank(a: int) -> DataFrame:
        la = _dc7_pair_shift(a, a)
        return O.with_index(attr.filter(m == a), key_for(la), name="_v").select(
            "pos", (F.lit(-5) * F.col("_v")).alias("_v")
        )

    def _pair_rank(ab) -> DataFrame:
        a, b = ab
        l = _dc7_pair_shift(a, b)
        return O.with_index(
            attr.filter(m.isin([a, b])), key_for(l), name="_v"
        ).select("pos", F.col("_v").cast("long").alias("_v"))

    pairs = [(a, b) for a in range(7) for b in range(a + 1, 7)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        contrib = list(pool.map(_class_rank, range(7))) + list(
            pool.map(_pair_rank, pairs)
        )
    # coalesce each narrow (pos, _v) contribution before the union:
    # 28 branches x n_buckets partitions of tiny tasks otherwise give
    # the final groupBy a ~900-map-task stage that is pure scheduling
    # overhead at any scale where the per-branch output fits 8 tasks
    stacked = contrib[0].coalesce(8)
    for c in contrib[1:]:
        stacked = stacked.unionByName(c.coalesce(8))
    return _honest_ckpt(
        stacked.groupBy("pos").agg(F.sum("_v").alias("r"))
    )


def suffix_array_dc7(
    chars: DataFrame, n: int, pos: str = "pos", base_threshold: int = 4096
) -> DataFrame:
    """Suffix sorting by DC7 (reference examples/suffix_sorting/dc7.cpp
    re-expressed as DataFrame ops — see _dc7_rec). Same contract as
    suffix_array_dc3: chars=(pos, ch) one row per character; returns
    (pos, rank) with rank dense in [0, n)."""
    from thrill_spark import ordering as O

    spark = chars.sparkSession
    alpha = chars.select("ch").distinct()
    alpha_ranked = O.with_index(alpha, ["ch"], name="_sym")
    s = _honest_ckpt(
        chars.join(alpha_ranked, on="ch")
        .select(F.col(pos).alias("pos"), F.col("_sym").alias("sym"))
    )
    out = _dc7_rec(spark, s, n, base_threshold)
    return out.select(F.col("pos").alias(pos), F.col("r").cast("long").alias("rank"))


def _min_label_fixpoint(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Min-label propagation with POINTER DOUBLING: each round takes
    the min over (self, in-neighbors' labels, label-of-label), so a
    label crosses distance 2^r paths after r rounds — O(log diameter)
    rounds instead of O(diameter) (the one-edge-per-round version
    silently truncates on long rings). nodes: (node); edges: (u, v)
    meaning u's label flows to v. Returns (node, c) = min id with a
    path to node. Rounds checkpoint via _loop_ckpt: plain
    localCheckpoint compounds sizeInBytes estimates ~3x/round and by
    round ~16-20 InjectRuntimeFilter's canBroadcastBySize spends the
    whole round multiplying astronomically wide BigInts (observed:
    0.4s rounds doubling to minutes; jstack pinned BigInteger.multiply
    under SizeInBytesOnlyStatsPlanVisitor; an earlier revision bounced
    through parquet every 6 rounds to work around it) — the periodic
    honest reset bounds the estimate at the cause, and the returned
    color table is always _honest_ckpt for consumers."""
    color = nodes.select("node", F.col("node").alias("c")).localCheckpoint()
    for _round in range(max_rounds):
        # One propagation join over (graph edges ∪ label edges): the
        # label edge c(v) -> v delivers c(c(v)) to v — the pointer-
        # doubling hop — in the same shuffle as the one-edge hop,
        # instead of two separate joins per round.
        ed = edges.unionByName(
            color.select(F.col("c").alias("u"), F.col("node").alias("v"))
        )
        via = color.join(ed, color["node"] == ed["u"]).select(
            F.col("v").alias("node"), F.col("c")
        )
        # Carry the previous label through the aggregation so the
        # changed flag materializes inside the SAME checkpoint job;
        # the stability probe is then a plain scan of the checkpointed
        # rows instead of a second shuffle join per round.
        nxt_full = _loop_ckpt(
            color.select("node", F.col("c").alias("_co"))
            .join(
                color.unionByName(via).groupBy("node").agg(F.min("c").alias("c")),
                "node",
            )
            .withColumn("_chg", F.col("c") != F.col("_co")),
            _round,
        )
        stable = nxt_full.filter(F.col("_chg")).limit(1).isEmpty()
        color = nxt_full.select("node", "c")
        if stable:
            return _honest_ckpt(color)
    raise RuntimeError("min-label propagation did not converge")


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Strongly connected components by iterative coloring (the
    FW-BW/coloring family used by distributed graph engines):

    Each round: (1) forward min-label fixpoint — every node gets the
    smallest id that can REACH it (its color; the color root c is the
    minimum member of its class and reaches the whole class); (2) a
    backward min-label fixpoint over ALL reversed edges — rcolor(v) is
    the smallest id v can reach; (3) BULK TRIM: every (color, rcolor)
    pair class of size 1 is a singleton SCC and peels immediately
    (members of a nontrivial SCC share the exact ancestor and
    descendant sets, hence the same pair — so a pair-singleton cannot
    sit in a nontrivial SCC). This collapses whole DAG regions — a
    k-node chain of singleton SCCs finishes in ONE peel round at
    O(log k) pointer-doubling depth, where peeling only color-root
    SCCs needed ~k rounds; (4) a backward min-label fixpoint over
    REVERSED same-color edges among the remainder — bcolor(v) == c
    exactly when v reaches its root: those nodes are SCC(c); (5) peel
    them, repeat. All fixpoints use pointer doubling (O(log diameter)
    rounds); the driver only checks convergence. Worst case O(#SCCs)
    peel rounds for chains OF NONTRIVIAL SCCs, but every color-root
    SCC peels per round and all trivial SCCs peel wholesale — both
    web-like and DAG-like topologies finish fast.

    Returns (node, scc_id) with scc_id = min member id.
    """
    spark = edges.sparkSession
    e = _honest_ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    nodes = _honest_ckpt(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    out = spark.createDataFrame([], "node long, scc_id long")
    for _ in range(max_rounds):
        if nodes.isEmpty():
            return out
        color = _min_label_fixpoint(nodes, e)
        rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        rcolor = _min_label_fixpoint(nodes, rev)
        pair = color.join(
            rcolor.select("node", F.col("c").alias("_rc")), "node"
        )
        singles = _honest_ckpt(
            pair.withColumn(
                "_n", F.count("*").over(Window.partitionBy("c", "_rc"))
            )
            .filter(F.col("_n") == 1)
            .select("node", F.col("node").alias("scc_id"))
        )
        trimmed = not singles.isEmpty()
        if trimmed:
            out = _honest_ckpt(out.unionByName(singles))
            nodes = _honest_ckpt(nodes.join(singles, "node", "left_anti"))
            e = _honest_ckpt(
                e.join(singles.select(F.col("node").alias("u")), "u", "left_anti")
                .join(singles.select(F.col("node").alias("v")), "v", "left_anti")
            )
            if nodes.isEmpty():
                return out
        # same-color edge set among the remainder, REVERSED for the
        # backward fixpoint. Color labels stay valid as class markers
        # after the trim: nontrivial-SCC members are never trimmed
        # (they share their pair with ≥2 nodes), so each surviving
        # class root's SCC still peels below.
        ec = (
            e.join(color.withColumnRenamed("node", "u"), "u")
            .withColumnRenamed("c", "cu")
            .join(
                color.select(F.col("node").alias("v"), F.col("c").alias("cv")),
                "v",
            )
            .filter(F.col("cu") == F.col("cv"))
            .select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ec = _honest_ckpt(ec)
        bcolor = _min_label_fixpoint(nodes, ec)
        scc = (
            color.join(
                bcolor.select("node", F.col("c").alias("_bc")), "node"
            )
            .filter(F.col("c") == F.col("_bc"))
            .select("node", F.col("c").alias("scc_id"))
        )
        out = _honest_ckpt(out.unionByName(scc))
        nodes = _honest_ckpt(nodes.join(scc, "node", "left_anti"))
        e = _honest_ckpt(
            e.join(scc.select(F.col("node").alias("u")), "u", "left_anti")
            .join(scc.select(F.col("node").alias("v")), "v", "left_anti")
        )
    raise RuntimeError(f"SCC did not converge in {max_rounds} rounds")
