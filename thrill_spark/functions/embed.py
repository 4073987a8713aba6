"""Embedding storage/compression operators: int8 scalar quantization
and Johnson-Lindenstrauss ±1 random projection.

No reference analogue (Thrill has no vector ops; closest surface is
its per-element Map, reference/thrill/api/map.hpp) — these are the
embedding-column utilities a 100 TB training/retrieval pipeline needs:
quantization cuts vector storage 4× before shipping to an ANN index;
JL projection shrinks dimensionality so downstream LSH/IVF bucket
work scans 8 doubles instead of 64 floats.

Determinism contract (shared with functions/similarity.py): every
floating-point reduction is a *sequential left fold* (F.aggregate),
whose addition order DuckDB's list_reduce reproduces bit-for-bit;
element-wise *, /, floor, sqrt are IEEE-754 correctly-rounded and so
engine-identical. Random signs come from md5 (identical in both
engines), never from an RNG.

Scale: both operators are pure per-row column expressions — no
shuffle, no UDF, whole-stage-codegen eligible; they pipeline into
whatever scan feeds them at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_Q_LEVELS = 127  # symmetric int8 range [-127, 127]


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector max-abs int8 scalar quantization.

    q_i = floor(v_i / scale * 127 + 0.5)  with scale = max_i |v_i|
    (floor(x+0.5) rounding, not round(): round() half-even vs
    half-away differs across engines; floor is IEEE-exact in both).

    Returns (id_col, scale, q_fp, sq_err):
      scale   — the dequantization factor (a single element's |value|,
                so exact, no accumulation),
      q_fp    — md5 of the comma-joined int codes (the quantized
                payload's fingerprint; the codes themselves would be
                the stored column in a real pipeline),
      sq_err  — reconstruction sum((v_i - q_i*scale/127)^2), sequential
                left fold.
    Zero vectors quantize to all-zero codes with sq_err 0.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.when(scale == F.lit(0.0), F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x / scale * F.lit(float(_Q_LEVELS)) + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    df = (
        df.withColumn("_v", v)
        .withColumn("_scale", scale)
        .withColumn("_q", q)
    )
    recon = F.zip_with(
        F.col("_v"),
        F.col("_q"),
        lambda x, qi: (
            x - qi.cast("double") * F.col("_scale") / F.lit(float(_Q_LEVELS))
        )
        * (x - qi.cast("double") * F.col("_scale") / F.lit(float(_Q_LEVELS))),
    )
    sq_err = F.aggregate(recon, F.lit(0.0), lambda acc, x: acc + x)
    return df.select(
        F.col(id_col),
        F.col("_scale").alias("scale"),
        F.md5(F.array_join(F.transform(F.col("_q"), lambda x: x.cast("string")), ",")).alias(
            "q_fp"
        ),
        sq_err.alias("sq_err"),
    )


def _jl_sign(j: Column, k: int, out_dim: int) -> Column:
    """Deterministic ±1 from md5(j*out_dim + k): first hex nibble < '8'
    maps to +1 — an unbiased coin both engines compute identically."""
    cell = (j * F.lit(out_dim) + F.lit(k)).cast("string")
    return F.when(F.substring(F.md5(cell), 1, 1) < F.lit("8"), F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )


def _jl_sign_py(j: int, k: int, out_dim: int) -> float:
    """Driver-side replica of _jl_sign: Python md5 of the same cell
    string yields the identical ±1 coin."""
    import hashlib

    cell = str(j * out_dim + k).encode()
    return 1.0 if hashlib.md5(cell).hexdigest()[0] < "8" else -1.0


def vector_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Length of the first non-NULL vector in df[vec_col] (a one-row
    probe), or 0 when there is none."""
    head = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("_d"))
        .head(1)
    )
    return int(head[0]["_d"]) if head else 0


def random_project(
    df: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """JL ±1 random projection to `out_dim` dims (Achlioptas 2003
    database-friendly variant, sign-only): p_k = Σ_j v_j · s(j,k),
    added sequentially over j so the oracle replays the addition
    order. Columns p0..p{out_dim-1}; no 1/sqrt(d) normalization (a
    constant factor downstream cosine ignores).

    The sign matrix s(j,k) depends only on (j, k) — it is data-
    independent — so it is precomputed ONCE on the driver with the
    same md5 coin (_jl_sign_py ≡ _jl_sign bit-for-bit) and unrolled
    into a codegen'd multiply-add chain, instead of the previous
    per-row per-element md5(string) inside an interpreted F.aggregate
    fold (guide §1.2 per-task work: d*out_dim md5+string ops per row
    removed; at any scale the projection is a pure scan). The vector
    dim is probed from one row; rows with a different length raise
    (the fixed-dim contract every caller already relies on) instead
    of silently projecting wrong. An input with no non-NULL vector
    projects with dim 0 (an empty frame gives an empty result)."""
    if dim is None:
        dim = vector_dim(df, vec_col)
    # The dim guard lives in _v, which every projection reads, so no
    # column pruning can drop it: raise_error unless the length
    # matches (a NULL vector raises too). zip_with would otherwise
    # NULL-pad a short row silently. Value-invisible when it passes.
    df = df.withColumn(
        "_v",
        F.when(
            F.size(vec_col) == dim,
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"random_project: embedding dim differs from probed "
                    f"{dim}; fixed-dim input required"
                )
            )
        ),
    )

    def _proj(k: int) -> Column:
        # zip_with over a LITERAL ±1 array + the same left-fold sum:
        # identical addition order (0.0 + v_0*s_0 + ...), no md5/string
        # work per element, and a SMALL expression tree. Two rejected
        # forms, both measured slower end-to-end: per-term Column
        # operators (thousands of Py4J round-trips, ~7 s of driver
        # time per build) and fully unrolled 64-term SQL chains x 8
        # projections x 2 join sides (multi-second janino compiles per
        # AQE stage, fresh every pass because expr ids change).
        signs = ", ".join(
            f"{_jl_sign_py(j, k, out_dim)!r}D" for j in range(dim)
        )
        return F.expr(
            f"aggregate(zip_with(_v, array({signs}), (x, s) -> x * s), "
            f"0.0D, (acc, x) -> acc + x)"
        )

    projs = [_proj(k).alias(f"p{k}") for k in range(out_dim)]
    # keep_cols ride along so a caller needing the original vector next
    # to the projection (rp_ann's rescore) skips a join back to df.
    return df.select(F.col(id_col), *[F.col(c) for c in keep_cols], *projs)


def power_iteration_top_component(
    df: DataFrame,
    iterations: int = 3,
    quant: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    fixed-point power iteration: v <- X^T (X v), rescaled each round.

    Fully distributed and never materializes the Gram matrix: each
    round is (1) a per-row dot product u_r = x_r . v (vector v
    broadcast — 64 values), and (2) a per-dimension sum
    w_j = sum_r u_r * x_rj (one groupBy over the exploded
    (row, dim) stream). That is two keyed aggregations per round at
    any scale; 100 TB runs it exactly as written.

    Exactness contract: embeddings are quantized to integers
    (floor(x*quant + 0.5)), so every sum is exact int64 arithmetic —
    order-independent, hence oracle-hashable with no fold tricks.
    The per-round rescale divisor d = max|w| div quant + 1 keeps
    magnitudes inside 2^53 so the one floor(w/d) double step is
    IEEE-exact in both engines. (At this fixture's scales max|w| <
    ~4e15; a 100 TB run would switch the accumulators to DECIMAL(38)
    or per-block partial rescaling.)

    Returns (dim, val): the iterated direction in quant-scale integer
    coordinates (a constant scalar factor off the unit eigenvector,
    which any downstream projection/cosine ignores).
    """
    x = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda e: F.floor(e.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
                    "long"
                ),
            )
        ).alias("dim", "xq"),
    )
    from thrill_spark.ordering import _persist

    x = _persist(x)
    spark = df.sparkSession
    # Dimension count = max vector length (one scalar agg): empty input
    # gets a clear error instead of an IndexError, and a ragged vector
    # column cannot silently drop its higher dims from v (every dim
    # present anywhere gets an initial weight; rows missing a dim
    # simply contribute nothing there — posexplode emits no pair).
    row = df.agg(F.max(F.size(vec_col)).alias("n")).collect()[0]
    dims = row["n"]
    if dims is None or dims <= 0:
        raise ValueError(
            f"power_iteration_top_component: no non-empty '{vec_col}' vectors"
        )
    v = spark.createDataFrame(
        [(j, quant) for j in range(dims)], ["dim", "val"]
    )
    for _ in range(iterations):
        u = (
            x.join(F.broadcast(v), "dim")
            .groupBy(id_col)
            .agg(F.sum(F.col("xq") * F.col("val")).cast("long").alias("u"))
        )
        w = (
            x.join(u, id_col)
            .groupBy("dim")
            .agg(F.sum(F.col("u") * F.col("xq")).cast("long").alias("w"))
        )
        d = w.agg(
            (F.expr(f"max(abs(w)) div {quant}") + F.lit(1)).cast("long").alias("d")
        )
        v = (
            w.crossJoin(F.broadcast(d))
            .select(
                "dim",
                F.floor(F.col("w").cast("double") / F.col("d").cast("double"))
                .cast("long")
                .alias("val"),
            )
            .localCheckpoint(eager=False)
        )
    return v.select(F.col("dim").cast("int").alias("dim"), "val")
