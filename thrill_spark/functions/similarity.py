"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single pass, JVM-side
F.aggregate/zip_with fold (no Python UDF). Scale path: LSH bucketing by
random-hyperplane signs (signature equi-join) so candidate generation
is linear; IVF-style coarse quantization against sampled centroids.

The dot-product fold is a *sequential left fold* (F.aggregate), which
DuckDB's list_reduce reproduces exactly — that makes brute-force cosine
oracle-checkable bit-for-bit despite floating point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thrill_spark.session import local_frame


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of an array<double> (deterministic FP)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- expanded fixed-dimension kernels -------------------------------------
# F.aggregate / zip_with / transform are interpreted per element (no
# whole-stage codegen) — ~100x slower on wide-vector hot paths. For a
# statically-known dim we expand to plain arithmetic with the SAME
# left-fold order (bit-identical results). The expansion is emitted as
# ONE SQL string through F.expr: building the same tree per-term with
# Column operators costs thousands of Py4J round-trips (~10 s of
# driver time per query build at dim 64).


def _lit_sql(x: float) -> str:
    """Exact double literal for Spark SQL text (repr round-trips).
    Non-finite values (a NaN/inf centroid from degenerate training
    data) would emit invalid SQL like `nanD` — fail loudly instead."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"_lit_sql: non-finite value {v!r} cannot be embedded in SQL")
    return f"{v!r}D"


def _dot_sql(a: str, b: str, dim: int) -> str:
    """Left-fold dot product of two array columns, expanded."""
    terms = "".join(
        f" + (cast(element_at({a}, {i}) as double)"
        f" * cast(element_at({b}, {i}) as double))"
        for i in range(1, dim + 1)
    )
    return f"(0.0D{terms})"


def _norm_sql(a: str, dim: int) -> str:
    terms = "".join(
        f" + (cast(element_at({a}, {i}) as double)"
        f" * cast(element_at({a}, {i}) as double))"
        for i in range(1, dim + 1)
    )
    return f"sqrt(0.0D{terms})"


def _cosine_sql(a: str, b: str, dim: int) -> str:
    return f"({_dot_sql(a, b, dim)} / ({_norm_sql(a, dim)} * {_norm_sql(b, dim)}))"


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """cosine() for a statically-known dimension over two named array
    columns — bit-identical values, whole-stage-codegen execution."""
    return F.expr(_cosine_sql(a, b, dim))


def dot_fixed(a: str, b: str, dim: int) -> Column:
    """dot() for a statically-known dimension — bit-identical left-fold
    order, codegen'd."""
    return F.expr(_dot_sql(a, b, dim))


def norm_fixed(a: str, dim: int) -> Column:
    """norm() for a statically-known dimension — bit-identical left-fold
    order, codegen'd. Computing it once per ROW before a pair join (norm
    is pair-invariant) instead of per pair is value-identical: the same
    fold over the same doubles yields the same bits wherever it runs."""
    return F.expr(_norm_sql(a, dim))


def cosine_topk_for_query(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by cosine vs a literal query vector.

    One scan + TakeOrdered(k); ties broken by id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def cosine_self_join_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """Top-k neighbors for each probe row (or all rows) by brute-force
    cosine: broadcast the probe set, score against the full table, rank
    per probe. Cost O(|probes| * n) — the exact baseline ANN variants
    are judged against."""
    from pyspark.sql import Window

    probes = df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    if probe_ids is not None:
        probes = probes.filter(F.col("query_id").isin(probe_ids))
    scored = df.join(F.broadcast(probes), on=F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(vec_col), F.col("_qvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, n_planes: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed xorshift, no RNG
    state) for sign-LSH. Values in [-1, 1). seed selects an independent
    plane family (one per LSH table)."""
    planes = []
    state = 88172645463325252 ^ ((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    if state == 0:
        state = 1
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append((state % (1 << 20)) / float(1 << 19) - 1.0)
        planes.append(row)
    return planes


def lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    seed: int = 0,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Sign-LSH bucket id: bit b = 1 iff dot(vec, plane_b) > 0. Vectors
    in the same bucket are ANN candidates; bucket join is an equi-join.
    seed picks an independent plane family for OR-amplified multi-table
    LSH."""
    sig = None
    for b, plane in enumerate(hyperplanes(dim, n_planes, seed)):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(F.col(vec_col), p) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return df.withColumn(out_col, sig.cast("long"))


def _seq_fold_sum(mat) -> "np.ndarray":  # noqa: F821 (np imported by callers)
    """Row-wise sequential left-fold sum of a float64 matrix — the exact
    addition order of the JVM F.aggregate fold (0.0 + x0 + x1 + ...) and
    of DuckDB's list_reduce, so results are bit-identical to both.
    np.cumsum adds strictly left-to-right (unlike np.sum's pairwise
    summation, which reorders and drifts)."""
    import numpy as np

    return np.cumsum(mat, axis=1, dtype=np.float64)[:, -1]


def cosine_near_dup_pairs(
    df: DataFrame,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "block",
    block_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b), a<b, with
    cosine(a, b) >= tau. EXACT (recall 1) under every method — the
    approximate scale paths are ann_lsh_topk / ann_ivf_topk.

    Two phases, both inside the SAME task (no confirm join):
    1. CANDIDATES: a vectorized numpy matmul flags id pairs with
       cos >= tau - 1e-9 (the epsilon absorbs summation-order FP drift).
    2. EXACT CONFIRM: for flagged pairs only, cos_sim is recomputed with
       the sequential left-fold addition order (_seq_fold_sum) — bit-
       identical to the JVM F.aggregate fold and DuckDB's list_reduce —
       and the >= tau filter applied exactly. Fusing the confirm into
       the candidate task removes two shuffle joins from the plan; the
       recompute touches only candidate pairs, not the n^2 grid.

    method:
    - 'block' (default): distributed block matmul. Rows are bucketed
      into ceil(n/block_rows) blocks; every block pair (i <= j) is a
      cogroup whose task multiplies a (<=block_rows, d) matrix against
      another — BLAS speed, per-task memory O(block_rows*d), NO
      driver-side materialization of the table and no broadcast of it.
      Shuffle volume is n*(n/block_rows) vector rows — the exact
      all-pairs search is inherently quadratic in compute; this spreads
      it evenly across the cluster instead of funnelling through one
      node. This is the 100 TB-safe exact strategy.
    - 'broadcast': the whole embedding matrix is collect()ed and
      broadcast; each partition matmuls against it. Fastest when the
      table fits comfortably in executor+driver memory (n*d*8 bytes) —
      an explicit small-table opt-in, never the default.
    - 'allpairs': pure-JVM theta-join fold, no Python. O(n^2) pair
      folds; the tiny-data reference baseline.
    """
    eps = 1e-9
    import numpy as np

    def _exact_cos(L, R, r, c):
        """Exact cos_sim for candidate index pairs (r into L, c into R):
        sequential-fold dot and norms, the oracle's addition order."""
        dots = _seq_fold_sum(L[r] * R[c])
        nl = np.sqrt(_seq_fold_sum(L * L))
        nr = nl if R is L else np.sqrt(_seq_fold_sum(R * R))
        return dots / (nl[r] * nr[c])

    if method == "allpairs":
        n = df.select(
            F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_nrm")
        )
        a = n.select(
            F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na")
        )
        b = n.select(
            F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"), F.col("_nrm").alias("_nb")
        )
        pairs = a.join(b, on=F.col("a_id") < F.col("b_id")).select(
            "a_id",
            "b_id",
            (dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias("cos_sim"),
        )
        return pairs.filter(F.col("cos_sim") >= tau)

    if method == "broadcast":
        spark = df.sparkSession
        rows = df.select(id_col, vec_col).collect()
        ids = np.array([r[id_col] for r in rows], dtype=np.int64)
        mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
        b_ids = spark.sparkContext.broadcast(ids)
        b_mat = spark.sparkContext.broadcast(mat)

        def gen(batches):
            import pandas as pd

            M, I = b_mat.value, b_ids.value
            Mn = M / np.linalg.norm(M, axis=1)[:, None]
            for pdf in batches:
                if not len(pdf):
                    continue
                block = np.stack(pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
                bn = block / np.linalg.norm(block, axis=1)[:, None]
                sims = bn @ Mn.T  # (rows_in_block, n)
                bi = pdf[id_col].to_numpy()
                r, c = np.nonzero((sims >= tau - eps) & (bi[:, None] < I[None, :]))
                if not len(r):
                    continue
                cos = _exact_cos(block, M, r, c)
                keep = cos >= tau
                yield pd.DataFrame(
                    {"a_id": bi[r[keep]], "b_id": I[c[keep]], "cos_sim": cos[keep]}
                )

        return df.select(id_col, vec_col).mapInPandas(
            gen, "a_id long, b_id long, cos_sim double"
        )

    if method != "block":
        raise ValueError(f"unknown method {method!r}")

    # --- distributed block matmul -------------------------------------
    # One scalar count job sizes the block grid; the data itself never
    # leaves the executors.
    total = df.count()
    n_blocks = max(1, -(-total // block_rows))
    spark = df.sparkSession
    # Scale-adaptive grid: block_rows bounds per-task MEMORY, but when
    # n is small the memory-bound grid (e.g. 1 block for 2k rows) puts
    # the whole quadratic matmul in ONE task while the rest of the
    # cluster idles. Split finer until the i<=j grid has ~parallelism
    # cells, floored at 256-row blocks so per-task matmuls stay
    # BLAS-worthy. Results are blocking-invariant: every unordered id
    # pair lands in exactly one grid cell, cos_sim is recomputed
    # exactly per candidate pair, and the same-block dedup handles the
    # double orientation — so any n_blocks yields the identical pair
    # set. At production sizes total//block_rows already exceeds the
    # grid target and this branch is a no-op.
    import math

    p = spark.sparkContext.defaultParallelism
    grid_target = math.ceil((math.sqrt(8 * p + 1) - 1) / 2)
    if n_blocks < grid_target:
        n_blocks = min(grid_target, max(n_blocks, total // 256))
        n_blocks = max(1, n_blocks)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    tagged = df.select(F.col(id_col), F.col(vec_col)).withColumn("_blk", blk)
    grid = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    # Two independent copies of the tiny grid avoid the ambiguous-self-
    # join trap when the cogroup recombines the two replicated sides.
    bpairs_a = local_frame(spark, grid, "ba int, bb int")
    bpairs_b = local_frame(spark, grid, "ba int, bb int")
    # a-side: rows of block ba in every pair (ba, bb); b-side: rows of bb.
    a_rep = tagged.join(F.broadcast(bpairs_a), tagged["_blk"] == bpairs_a["ba"]).select(
        "ba", "bb", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    b_rep = tagged.join(F.broadcast(bpairs_b), tagged["_blk"] == bpairs_b["bb"]).select(
        "ba", "bb", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )

    def block_pairs(key, left, right):
        import pandas as pd

        empty = pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        if not len(left) or not len(right):
            return empty
        L = np.stack(left["_v"].apply(lambda v: np.asarray(v, dtype=np.float64)))
        R = np.stack(right["_v"].apply(lambda v: np.asarray(v, dtype=np.float64)))
        Ln = L / np.linalg.norm(L, axis=1)[:, None]
        Rn = R / np.linalg.norm(R, axis=1)[:, None]
        sims = Ln @ Rn.T
        li = left["_id"].to_numpy()
        ri = right["_id"].to_numpy()
        r, c = np.nonzero((sims >= tau - eps) & (li[:, None] != ri[None, :]))
        if not len(r):
            return empty
        cos = _exact_cos(L, R, r, c)
        keep = cos >= tau
        r, c, cos = r[keep], c[keep], cos[keep]
        # cos_sim is orientation-invariant even at the bit level (the
        # elementwise products commute exactly), so the a<b swap below
        # and the same-block drop_duplicates stay value-safe.
        lo = np.minimum(li[r], ri[c])
        hi = np.maximum(li[r], ri[c])
        out = pd.DataFrame({"a_id": lo, "b_id": hi, "cos_sim": cos})
        if key[0] == key[1]:  # same-block group sees both orientations
            out = out.drop_duplicates(subset=["a_id", "b_id"])
        return out

    return (
        a_rep.groupBy("ba", "bb")
        .cogroup(b_rep.groupBy("ba", "bb"))
        .applyInPandas(block_pairs, "a_id long, b_id long, cos_sim double")
    )


def _train_sample(df: DataFrame, vec_col: str, id_col: str, cap: int):
    """Bounded deterministic training sample: the `cap` vectors with
    the lowest md5(id) — an id-DECORRELATED order, so an id-correlated
    corpus (time-ordered crawl, per-source id blocks) cannot bias the
    codebooks toward its earliest rows the way a lowest-id sample
    would. Sort+limit still plans as TakeOrderedAndProject — one pass,
    no full shuffle — and the driver holds at most cap*dim doubles
    regardless of corpus size. Quantizer training on a fixed-size
    sample is the standard ANN discipline (FAISS trains IVF/PQ on
    ~10-100k sampled vectors); the distributed passes are encode and
    search only."""
    import numpy as np

    rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(cap)
        .select(F.col(vec_col).alias("_v"))
        .collect()
    )
    return np.asarray([[float(x) for x in r["_v"]] for r in rows], dtype=np.float64)


def derive_n_cells(n_rows: int, target_cell_size: int = 64,
                   max_cells: int = 4096) -> int:
    """IVF cell count from corpus size: ceil(sqrt(N / target_cell_size)),
    clamped to [4, max_cells]. Grows with N (≈4 at test fixtures, ~4k
    cells at 10^9 rows) so per-cell candidate scans stay bounded while
    the codebook remains a broadcastable few-MB literal; max_cells also
    keeps the driver-side Lloyd rounds over the 16k training sample
    meaningful (cells ≤ sample size)."""
    import math

    if n_rows <= 0:
        return 4
    return max(4, min(max_cells, math.ceil(math.sqrt(n_rows / float(target_cell_size)))))


def ivf_centroids(df: DataFrame, n_cells: int | None, vec_col: str = "embedding",
                  id_col: str = "vec_id", iters: int = 2,
                  sample_cap: int = 16384, sample=None) -> DataFrame:
    """Trained coarse quantizer: spherical k-means with deterministic
    sample-order initialization and `iters` Lloyd rounds over a bounded
    driver-side sample (see _train_sample; examples/k-means/k-means.hpp
    is the loop shape — classify against current centroids, re-center
    by mean). Assignment = argmax cosine, ties to the lowest cell id;
    empty cells keep their previous centroid. `n_cells=None` derives
    the cell count from the corpus size (see derive_n_cells). Returns
    the k x dim codebook as a (cell_id, centroid) DataFrame."""
    import numpy as np

    if n_cells is None:
        n_cells = derive_n_cells(df.count())
    X = sample if sample is not None else _train_sample(df, vec_col, id_col, sample_cap)
    cents = X[: min(n_cells, len(X))].copy()
    xn = np.linalg.norm(X, axis=1)
    xn[xn == 0.0] = 1.0
    Xn = X / xn[:, None]
    for _ in range(iters):
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0.0] = 1.0
        sims = Xn @ (cents / cn[:, None]).T
        a = sims.argmax(axis=1)  # first occurrence == lowest cell id on ties
        for ci in range(len(cents)):
            mask = a == ci
            if mask.any():
                cents[ci] = X[mask].mean(axis=0)
    return local_frame(
        df.sparkSession,
        [(ci, [float(x) for x in cents[ci]]) for ci in range(len(cents))],
        "cell_id long, centroid array<double>",
    )


def ann_ivf_topk(
    df: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
    train_iters: int = 2,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid
    (broadcast the tiny trained codebook, argmax cosine, tie-break on
    cell id), then search only the probe's top-`nprobe` cells —
    candidate count drops ~n_cells/nprobe-fold versus brute force.

    The cell equi-join shuffles both sides by cell_id only; the binary
    embedding payload never fans out n^2 ways."""
    from pyspark.sql import Window

    cents = F.broadcast(ivf_centroids(df, n_cells, vec_col, id_col, iters=train_iters))
    scored_cells = df.join(cents).select(
        F.col(id_col), F.col(vec_col), F.col("cell_id"),
        cosine(F.col(vec_col), F.col("centroid")).alias("_csim"),
    )
    wc = Window.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("cell_id").asc())
    ranked = scored_cells.withColumn("_r", F.row_number().over(wc))
    assigned = ranked.filter(F.col("_r") == 1).select(id_col, vec_col, "cell_id")
    probes = ranked.filter(F.col("_r") <= nprobe).select(id_col, vec_col, "cell_id")
    a = probes.select(
        F.col("cell_id"), F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    b = assigned.select(F.col("cell_id"), F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    scored = (
        a.join(b, on="cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col(vec_col), F.col("_qvec")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_lsh_topk(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 10_000,
    n_tables: int = 1,
) -> DataFrame:
    """ANN via sign-LSH: candidates = same-bucket pairs, ranked by exact
    cosine within bucket. Recall < 1 by construction; the scale path
    when brute force is too expensive (candidates shrink by ~2^planes).

    OR-amplification: with n_tables > 1, candidates are the UNION of
    same-bucket pairs over n_tables independent plane families — the
    standard (AND over planes, OR over tables) construction. A single
    table of p planes only catches pairs agreeing on all p signs
    (recall ~ (1 - theta/pi)^p, poor for moderate similarity); L tables
    raise it to 1 - (1 - s^p)^L at L× candidate cost. Cost stays linear
    in rows: one signature scan + one bounded bucket join per table.

    Every bucket join goes through bounded_self_join so a hot bucket
    (many near-identical vectors) is decomposed into bounded tasks
    instead of one quadratic straggler; the candidate set is unchanged.
    """
    from pyspark.sql import Window

    from thrill_spark.operators.skew import bounded_self_join
    from thrill_spark.ordering import _persist

    from thrill_spark.functions.dedup import _spread

    # The (id, vec) projection feeds every table's signature scan plus
    # the two final vector joins — persist it once instead of re-reading
    # the source 2*n_tables+2 times, spread across tasks first (a small
    # parquet arrives as one split but the per-row plane dot-products
    # are the hot path). Drained via release_persisted().
    df = _persist(_spread(df.select(F.col(id_col), F.col(vec_col)), id_col))
    cands = None
    for t in range(n_tables):
        sig = lsh_signature(df, dim, n_planes, vec_col, seed=t)
        pairs = bounded_self_join(
            sig,
            ["lsh_bucket"],
            salt_on=id_col,
            left_cols={"query_id": id_col},
            right_cols={"neighbor_id": id_col},
            cap=bucket_cap,
        ).select("query_id", "neighbor_id")
        cands = pairs if cands is None else cands.unionByName(pairs)
    cands = cands.filter(F.col("query_id") != F.col("neighbor_id")).distinct()
    qv = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    nv = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec"))
    scored = (
        cands.join(qv, on="query_id")
        .join(nv, on="neighbor_id")
        .select(
            "query_id", "neighbor_id", cosine(F.col("_nvec"), F.col("_qvec")).alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact k-nearest-neighbor JOIN by cosine: for every left row, the
    k right rows with highest cosine (self-pairs excluded when ids
    collide; ties broken by neighbor id asc). The batch primitive
    behind retrieval-augmented dataset curation — "for each of these
    queries/docs, find the closest corpus items" — as a relational op.

    Strategy (the 100 TB-safe exact path, same grid discipline as
    cosine_near_dup_pairs 'block'): both sides are hash-bucketed into
    ceil(n/block_rows) blocks; every (left-block, right-block) cell is
    one cogroup task that matmuls (<=block_rows, d) matrices. Each task
    emits, per left row, the block-local top-k candidates — selected
    with an epsilon band below the k-th matmul score, then re-scored
    with the sequential-left-fold addition order (bit-identical to
    DuckDB list_reduce), so global exactness survives FP drift in the
    BLAS matmul. The global merge ranks <= k*n_right_blocks candidates
    per left row under a window — never the full n_left x n_right grid.
    """
    import numpy as np

    eps = 1e-9
    spark = left.sparkSession
    nl, nr = left.count(), right.count()
    bl = max(1, -(-nl // block_rows))
    br = max(1, -(-nr // block_rows))
    ltag = left.select(
        F.col(left_id).alias("query_id"), F.col(vec_col).alias("_v")
    ).withColumn("_bl", F.pmod(F.xxhash64(F.col("query_id")), F.lit(bl)).cast("int"))
    rtag = right.select(
        F.col(right_id).alias("neighbor_id"), F.col(vec_col).alias("_v")
    ).withColumn("_br", F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(br)).cast("int"))
    grid = [(i, j) for i in range(bl) for j in range(br)]
    grid_a = local_frame(spark, grid, "ga int, gb int")
    grid_b = local_frame(spark, grid, "ga int, gb int")
    l_rep = ltag.join(F.broadcast(grid_a), ltag["_bl"] == grid_a["ga"]).select(
        "ga", "gb", "query_id", "_v"
    )
    r_rep = rtag.join(F.broadcast(grid_b), rtag["_br"] == grid_b["gb"]).select(
        "ga", "gb", "neighbor_id", "_v"
    )

    def block_topk(key, lpdf, rpdf):
        import pandas as pd

        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "cos_sim": []})
        if not len(lpdf) or not len(rpdf):
            return empty
        L = np.stack(lpdf["_v"].apply(lambda v: np.asarray(v, dtype=np.float64)))
        R = np.stack(rpdf["_v"].apply(lambda v: np.asarray(v, dtype=np.float64)))
        Ln = L / np.linalg.norm(L, axis=1)[:, None]
        Rn = R / np.linalg.norm(R, axis=1)[:, None]
        sims = Ln @ Rn.T
        li = lpdf["query_id"].to_numpy()
        ri = rpdf["neighbor_id"].to_numpy()
        sims[li[:, None] == ri[None, :]] = -np.inf  # exclude self-pairs
        kk = min(k, sims.shape[1])
        kth = np.partition(sims, -kk, axis=1)[:, -kk]
        r, c = np.nonzero(sims >= (kth[:, None] - 2 * eps))
        if not len(r):
            return empty
        # Exact sequential-fold rescore for the candidates only.
        dots = _seq_fold_sum(L[r] * R[c])
        nlv = np.sqrt(_seq_fold_sum(L * L))
        nrv = np.sqrt(_seq_fold_sum(R * R))
        cos = dots / (nlv[r] * nrv[c])
        return pd.DataFrame({"query_id": li[r], "neighbor_id": ri[c], "cos_sim": cos})

    from pyspark.sql import Window

    cand = (
        l_rep.groupBy("ga", "gb")
        .cogroup(r_rep.groupBy("ga", "gb"))
        .applyInPandas(block_topk, "query_id long, neighbor_id long, cos_sim double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_planes: int = 6,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 10_000,
) -> DataFrame:
    """SemDeDup-shaped semantic near-duplicate pruning (Abbas et al.,
    arXiv:2303.09540 shape): bucket vectors by deterministic sign-LSH,
    compare pairs ONLY within a bucket, and drop any vector that has a
    smaller-id neighbor with cosine >= threshold.

    The within-bucket restriction is the scale contract: candidate
    volume is sum over buckets of size^2 (placement bounded via
    bounded_self_join), never corpus^2. Cosines use the sequential
    left-fold, so the DuckDB oracle replays keep-decisions
    bit-for-bit.

    Returns (id, bucket, n_dom, keep): n_dom = number of
    smaller-id similar neighbors in the bucket; keep = (n_dom == 0).
    """
    from thrill_spark.operators.skew import bounded_self_join
    from thrill_spark.ordering import _persist

    sig = _persist(
        lsh_signature(df, dim, n_planes, vec_col=vec_col, seed=0).select(
            F.col(id_col), F.col(vec_col), F.col("lsh_bucket")
        )
    )
    pairs = bounded_self_join(
        sig,
        ["lsh_bucket"],
        salt_on=id_col,
        left_cols={"id_a": id_col, "_va": vec_col},
        right_cols={"id_b": id_col, "_vb": vec_col},
        cap=bucket_cap,
    ).filter(F.col("id_a") < F.col("id_b"))
    dom = (
        pairs.filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .groupBy("id_b")
        .agg(F.count(F.lit(1)).alias("n_dom"))
    )
    return (
        sig.select(F.col(id_col), F.col("lsh_bucket").alias("bucket"))
        .join(dom.withColumnRenamed("id_b", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.col("bucket"),
            F.coalesce(F.col("n_dom"), F.lit(0)).cast("long").alias("n_dom"),
            (F.coalesce(F.col("n_dom"), F.lit(0)) == 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): split each vector into M
# subvectors, k-means each subspace to a tiny codebook, store M small
# codes per vector. At 100 TB this is THE memory lever for ANN: a
# 64-dim float vector (256 B) compresses to M=4 bytes; the ADC search
# scans codes (JVM-side integer lookups into broadcast literal
# codebooks), never the raw vectors, and only the final rescore of
# ~3k candidates per query touches full embeddings.
# ---------------------------------------------------------------------------
def _sq_l2_to_cents_sql(sub_sql: str, cents: list[list[float]]) -> str:
    """SQL text: array of squared-L2 distances from `sub_sql` to each
    literal centroid. transform/zip_with keeps the literal table in the
    tree ONCE (an expanded form would clone it per term and blow up
    plan serialization); the interpreted-HOF cost is paid only where
    the row count is small or the scan is one-shot."""
    carr = ", ".join(
        "array(" + ", ".join(_lit_sql(x) for x in c) + ")" for c in cents
    )
    return (
        f"transform(array({carr}), c -> aggregate(zip_with({sub_sql}, c, "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def _argmin_code(vec_sql: str, offset: int, cents: list[list[float]]) -> Column:
    """Index (0-based) of the squared-L2-nearest centroid for the
    subvector vec[offset : offset+dsub], ties to the lowest index.
    Uses argmin ||s-c||^2 == argmax (s.c - ||c||^2/2): the expansion
    keeps each centroid literal exactly once and the encode scan stays
    whole-stage-codegen'd (first-match array_position == lowest code
    on ties)."""
    scores = []
    for c in cents:
        dot_terms = "".join(
            f" + (cast(element_at({vec_sql}, {offset + i + 1}) as double)"
            f" * {_lit_sql(c[i])})"
            for i in range(len(c))
        )
        half = sum(x * x for x in c) / 2.0
        scores.append(f"(0.0D{dot_terms} - {_lit_sql(half)})")
    arr = "array(" + ", ".join(scores) + ")"
    return F.expr(f"cast(array_position({arr}, array_max({arr})) - 1 as int)")


def pq_train_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    sample_cap: int = 16384,
    sample=None,
) -> list[list[list[float]]]:
    """Train M per-subspace codebooks of ksub centroids each:
    deterministic lowest-id init + `iters` Lloyd rounds over a bounded
    driver-side sample (see _train_sample). Per subspace, assignment is
    argmin squared-L2 with ties to the lowest code — the same metric
    pq_encode applies corpus-wide — and empty codes keep their previous
    centroid. The driver holds sample_cap*dim + M*ksub*(dim/M) floats,
    independent of corpus size."""
    import numpy as np

    X = sample if sample is not None else _train_sample(df, vec_col, id_col, sample_cap)
    dim = X.shape[1] if len(X) else 0
    if dim <= 0 or dim % m != 0:
        raise ValueError(f"pq_train_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cents = Xs[: min(ksub, len(Xs))].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)  # first occurrence == lowest code on ties
            for ci in range(len(cents)):
                mask = a == ci
                if mask.any():
                    cents[ci] = Xs[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to M codes: per subspace, argmin squared-L2
    against the broadcast literal codebook (tie-break lowest code).
    Pure JVM expressions — the encode pass is a scan, no shuffle.
    `extra_cols` are carried through unchanged (e.g. an IVF cell id)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out_cols = [F.col(id_col)] + [F.col(c) for c in extra_cols]
    for s in range(m):
        out_cols.append(
            _argmin_code(vec_col, s * dsub, codebooks[s]).alias(f"code_{s}")
        )
    return df.select(*out_cols)


def pq_ann_topk(
    df: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_mod: int = 25,
    rescore_factor: int = 16,
    train_iters: int = 6,
    n_cells: int | None = None,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §V): an IVF coarse quantizer restricts
    the ADC candidate scan to the probe's top-`nprobe` cells, then
    candidates are ranked by asymmetric distance — sum of per-subspace
    squared-L2 from the query subvector to the CENTROID named by each
    neighbor's code (codebooks ride along as broadcast literal
    array-of-array columns; the candidate scan never touches neighbor
    embeddings) — and the top rescore_factor*k per query are exactly
    rescored by cosine for the final top-k.

    Scale shape (the discipline of the reference's InnerJoin location
    detection, thrill/api/inner_join.hpp:150-164 — never materialize
    non-matching pairs): corpus rows are assigned to exactly ONE cell
    and probes explode to `nprobe` cells, so the candidate join is an
    equi-join on cell_id touching ~nprobe/n_cells of the code table per
    probe instead of all N×Q pairs; `n_cells=None` (the default)
    derives the cell count from the corpus size — ceil(sqrt(N/64)),
    see derive_n_cells — so cells stay bounded as N grows. Cell
    assignment itself is a literal-centroid scan — no join, no window
    shuffle.

    Returns (query_id, neighbor_id, rank). Probes = id % probe_mod == 0.
    """
    from pyspark.sql import Window

    import numpy as np
    import pandas as pd

    if n_cells is None:
        n_cells = derive_n_cells(df.count())
    nprobe = min(nprobe, n_cells)
    # one sample collect feeds both trainers
    X = _train_sample(df, vec_col, id_col, 16384)
    books = pq_train_codebooks(
        df, m=m, ksub=ksub, vec_col=vec_col, id_col=id_col, iters=train_iters,
        sample=X,
    )
    dsub = len(books[0][0])
    cell_rows = sorted(
        (r["cell_id"], [float(x) for x in r["centroid"]])
        for r in ivf_centroids(
            df, n_cells, vec_col, id_col, iters=train_iters, sample=X
        ).collect()
    )
    B = [np.asarray(b, dtype=np.float64) for b in books]
    Bh = [0.5 * (b * b).sum(axis=1) for b in B]
    C = np.asarray([c for _, c in cell_rows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = 1.0
    Cn = C / cn[:, None]

    # Corpus side: cell assignment + PQ codes in ONE Arrow-batched
    # numpy pass — vector kernels (dim-64 dots against tiny codebooks)
    # belong in vectorized matmuls, not per-element JVM expressions.
    # argmin ||s-c||^2 == argmax (s.c - ||c||^2/2); argmax's
    # first-occurrence tie == lowest code. The output IS the IVF-PQ
    # index (id, cell, M codes — a few bytes/row), a linear scan with
    # no shuffle; in production it is written to storage once and
    # reused across query batches.
    def _encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = {id_col: pdf[id_col].to_numpy()}
            out["cell_id"] = (V @ Cn.T).argmax(axis=1).astype("int32")
            for s in range(m):
                Vs = V[:, s * dsub : (s + 1) * dsub]
                out[f"code_{s}"] = (
                    (Vs @ B[s].T - Bh[s]).argmax(axis=1).astype("int32")
                )
            yield pd.DataFrame(out)

    codes_schema = f"{id_col} long, cell_id int, " + ", ".join(
        f"code_{s} int" for s in range(m)
    )
    codes = df.select(id_col, vec_col).mapInPandas(_encode, schema=codes_schema)

    # Probe side: top-nprobe cells (stable argsort — lowest cell on
    # ties) + the classic ADC distance TABLE per probe (m x ksub
    # squared-L2 from each query subvector to every centroid), exploded
    # to one row per probed cell.
    def _probe_tab(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            top = np.argsort(-(V @ Cn.T), axis=1, kind="stable")[:, :nprobe]
            dts = [
                (
                    (
                        V[:, s * dsub : (s + 1) * dsub][:, None, :]
                        - B[s][None, :, :]
                    )
                    ** 2
                ).sum(axis=2)
                for s in range(m)
            ]
            ids = pdf[id_col].to_numpy()
            qid, cell, dt_col = [], [], []
            for i in range(len(ids)):
                row_dt = [dts[s][i].tolist() for s in range(m)]
                for c in top[i]:
                    qid.append(ids[i])
                    cell.append(int(c))
                    dt_col.append(row_dt)
            yield pd.DataFrame(
                {"query_id": qid, "cell_id": cell, "_dt": dt_col}
            )

    probes_cells = (
        df.filter(F.col(id_col) % probe_mod == 0)
        .select(F.col(id_col), F.col(vec_col))
        .mapInPandas(
            _probe_tab,
            schema="query_id long, cell_id int, _dt array<array<double>>",
        )
    )
    # ADC within probed cells only: equi-join on cell_id (each corpus
    # row lives in one cell, so a (query, neighbor) pair occurs at most
    # once — no dedup needed). The candidate scan is m table lookups
    # per row, summed in the same order as the per-subspace fold.
    cand = codes.join(probes_cells, on="cell_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    approx = None
    for s in range(m):
        d = F.element_at(F.element_at(F.col("_dt"), s + 1), F.col(f"code_{s}") + 1)
        approx = d if approx is None else approx + d
    cand = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), approx.alias("_ad")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_ad").asc(), F.col("neighbor_id").asc()
    )
    short = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= rescore_factor * k)
        .drop("_rk", "_ad")
    )
    # exact rescore on the shortlist only (shortlist ≤ rescore_factor*k
    # rows per query — both joins are equi-joins on bounded sets)
    nbr = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
    probes_q = df.filter(F.col(id_col) % probe_mod == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        short.join(nbr, "neighbor_id")
        .join(probes_q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_fixed("_nv", "_qv", m * dsub).alias("_cs"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("_cs").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
