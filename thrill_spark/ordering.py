"""Ordered-array (`_idx`) discipline — the genuinely Thrill-specific part.

Thrill's DIA is an *ordered* distributed array: items have global array
indices, and Zip / ZipWithIndex / PrefixSum / Window / Sort / Merge /
ReduceToIndex all depend on that order (thrill/api/dia.hpp:127-141,
zip_with_index.hpp:30-38, prefix_sum.hpp:28, window.hpp:142).

Spark DataFrames are unordered multisets, so order must be materialized
as data. This module provides that as a library convention:

- ``with_index(df, order_by)``: global 0-based ``_idx`` via a scalable
  two-phase pattern (range-partition + per-partition row_number + driver
  offsets). Never a single-partition global window — that is the classic
  100 TB bottleneck.
- ``prefix_sum``: running aggregate via the same two-phase pattern
  (per-partition running sum + cumulative partition totals), mirroring
  the structure (not the code) of Thrill's PrefixSum collective
  (thrill/net/flow_control_channel.hpp PrefixSum semantics).
- ``zip_dfs``: positional Zip of K DataFrames (cut / pad variants,
  thrill/api/zip.hpp:426-652) as an ``_idx`` equi-join.
- ``sliding_window`` / ``disjoint_window``: k-consecutive-item windows
  (thrill/api/window.hpp:142,389) via rowsBetween / idx-div-k grouping.
- ``reduce_to_index`` / ``group_to_index``: dense-array aggregation with
  neutral-element holes (thrill/api/dia.hpp:1306-1311) via agg + range
  fill join.
- ``merge_sorted`` / ``concat``: order-preserving union
  (thrill/api/merge.hpp:44-76, concat.hpp:35).

Scale notes: the two-phase pattern costs one boundary-sampling job
(percentile_approx scalar agg, memoized per source plan) and one
count-per-bucket job beside the main pass — the same shape as
RDD.zipWithIndex. With the explicit-bucket path (leading numeric order
key) the main pass performs exactly ONE wide shuffle: the bucket id is
a real column, so Window.partitionBy(bucket), groupBy(bucket), and the
within-partition sort all reuse that clustering. The bucket count
follows spark.sql.shuffle.partitions, so per-partition window state
stays bounded at any data size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from thrill_spark.session import local_frame

IDX = "_idx"
_PID = "_ts_pid"
_CARRY = "_ts_carry"
_BKT = "_ts_bkt"

# Above this partition count, per-partition carries are attached via a
# broadcast-joined offsets DataFrame instead of an inline create_map of
# literals — at 10k-100k shuffle partitions the literal map bloats every
# plan that touches _idx (analysis time grows with partition count).
OFFSET_LITERAL_MAX = 256

# Registry of intermediates persisted by the positional ops. They must
# stay cached until the jobs that consume the returned DataFrame run
# (partitioning comes from range sampling, so recomputation could split
# differently); call release_persisted() between queries — bench.py and
# long-lived sessions should do so — or spark.catalog.clearCache().
_live_persists: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every intermediate cached by with_index/prefix_sum/
    prefix_scan so far. Safe to call once downstream jobs completed."""
    while _live_persists:
        try:
            _live_persists.pop().unpersist()
        except Exception:
            pass


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_persists.append(df)
    return df


def _cols(order_by: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _leading_numeric_key(df: DataFrame, order_by: Sequence[str | Column]):
    """The leading order key as a plain ascending numeric Column, or
    None when the explicit-bucket path does not apply (descending /
    expression sort keys, or non-numeric leading type)."""
    from pyspark.sql import types as T

    first = order_by[0]
    if isinstance(first, str):
        name = first
    else:
        # only a bare F.col(...) qualifies; .desc()/.asc_nulls_last()/
        # arithmetic expressions fall back to the legacy path. Primary
        # detection asks the Catalyst expression directly (robust to
        # repr-format changes); the str(Column) parse is fallback only
        # (e.g. Spark Connect columns without _jc).
        name = None
        try:
            expr = first._jc.expr()
            if expr.getClass().getSimpleName() == "UnresolvedAttribute":
                name = expr.name()
        except Exception:
            pass
        if name is None:
            s = str(first)
            if not (s.startswith("Column<'") and s.endswith("'>")):
                return None
            name = s[len("Column<'") : -len("'>")]
    if name not in df.columns:
        return None
    dt = df.schema[name].dataType
    numeric = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
        T.TimestampType, T.TimestampNTZType,
    )
    return F.col(name) if isinstance(dt, numeric) else None


# Boundary memo keyed by (plan semantic hash, key expr, bucket count).
# Safe to reuse even across data changes under the same plan: boundaries
# only decide bucket SPLITS (balance); correctness comes from the bucket
# assignment + offsets being computed from the same baked literals.
_boundary_cache: dict[tuple, list | None] = {}


def _bucket_boundaries(df: DataFrame, key: Column, n_buckets: int) -> list | None:
    """Sampled range boundaries for the explicit-bucket path: one scalar
    percentile_approx job (no shuffle), memoized per source plan.
    Returns None when the key's cardinality is too low for useful
    parallelism (caller falls back to the legacy range path)."""
    if n_buckets <= 1:
        return []
    try:
        cache_key = (df.semanticHash(), str(key), n_buckets)
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _boundary_cache:
        return _boundary_cache[cache_key]
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.select(
        F.percentile_approx(key.cast("double"), fracs, 2_000).alias("q")
    ).first()
    qs = row["q"] if row and row["q"] is not None else []
    bounds = sorted(set(q for q in qs if q is not None))
    out = None if len(bounds) < max(2, n_buckets // 4) else bounds
    if cache_key is not None:
        if len(_boundary_cache) > 256:
            _boundary_cache.clear()
        _boundary_cache[cache_key] = out
    return out


def _range_partitioned(df: DataFrame, order_by: Sequence[str | Column], persist: bool):
    """Range-partition + locally sort df by order_by; return
    (df + partition-key column, its name, offsets {key: rows_before}).

    Preferred path (leading order key is a plain ascending numeric
    column with enough distinct values): EXPLICIT range buckets — key
    compared against percentile_approx-sampled boundaries baked in as
    literals, then ONE hash shuffle on the bucket id. Because the
    bucket id is a real column, the downstream Window.partitionBy and
    the per-bucket count aggregate both reuse that clustering: zero
    further full-data exchanges (the legacy path pays a second
    Exchange hashpartitioning(spark_partition_id) for the window,
    which Catalyst cannot prove redundant over RangePartitioning).
    Bucketing on the leading key only is order-correct for multi-col
    order_by: ties on the leading key stay within one bucket and the
    within-bucket sort applies the full key.

    Fallback (descending/expression/string/low-cardinality leading
    keys): repartitionByRange + spark_partition_id, two shuffles.

    offsets is a small driver-side dict {partition_key: rows_before}.
    The df is persisted so the count job and downstream jobs share the
    shuffle output (and, on the legacy path, because range boundaries
    come from nondeterministic sampling).
    """
    part, keycol = _order_partitioned(df, order_by, persist)
    counts = {
        r[keycol]: r["cnt"]
        for r in part.groupBy(keycol).agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    return part, keycol, offsets


def _order_partitioned(df: DataFrame, order_by: Sequence[str | Column], persist: bool):
    """Partition + locally sort df for an ordered-array op; returns
    (part, keycol) where keycol is the per-partition key every
    downstream Window.partitionBy / groupBy should use. See
    _range_partitioned's docstring for the two paths."""
    cols = _cols(order_by)
    key = _leading_numeric_key(df, order_by)
    n_buckets = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    n_buckets = int(n_buckets) if n_buckets and n_buckets.isdigit() else 200
    bounds = _bucket_boundaries(df, key, n_buckets) if key is not None else None
    if bounds is not None:
        karr = F.array(*[F.lit(float(b)) for b in bounds])
        kd = key.cast("double")
        bucket = F.when(key.isNull(), F.lit(-1)).otherwise(
            F.aggregate(karr, F.lit(0), lambda acc, b: acc + (kd > b).cast("int"))
        )
        part = (
            df.withColumn(_BKT, bucket)
            .repartition(n_buckets, F.col(_BKT))
            .sortWithinPartitions(F.col(_BKT), *cols)
        )
        if persist:
            part = _persist(part)
        return part, _BKT
    part = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    part = part.withColumn(_PID, F.spark_partition_id())
    if persist:
        part = _persist(part)
    return part, _PID


def _with_carry(
    part: DataFrame,
    mapping: dict[int, object],
    value_type: DataType = LongType(),
    name: str = _CARRY,
    key: str = _PID,
) -> DataFrame:
    """Attach mapping[pid] as column `name` (null where pid absent).

    Small maps inline as a create_map of literals (cheapest to analyze);
    past OFFSET_LITERAL_MAX partitions the map rides in as a
    broadcast-joined local relation of (key long, name value_type) so
    plan size stays O(1) in the partition count."""
    if not mapping:
        return part.withColumn(name, F.lit(None))
    if len(mapping) <= OFFSET_LITERAL_MAX:
        m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        return part.withColumn(name, m[F.col(key)])
    odf = local_frame(
        part.sparkSession,
        [(int(k), v) for k, v in mapping.items()],
        StructType([StructField(key, LongType()), StructField(name, value_type)]),
    )
    return part.join(F.broadcast(odf), on=key, how="left")


def with_index(
    df: DataFrame,
    order_by: Sequence[str | Column],
    name: str = IDX,
    persist: bool = True,
) -> DataFrame:
    """Materialize a global 0-based row index following order_by.

    Equivalent of Thrill ZipWithIndex (thrill/api/zip_with_index.hpp:30-38).
    order_by should be a total order (add a unique tiebreaker) for a
    deterministic result.
    """
    part, keycol, offsets = _range_partitioned(df, order_by, persist)
    part = _with_carry(part, offsets, key=keycol)
    w = Window.partitionBy(keycol).orderBy(*_cols(order_by))
    out = part.withColumn(
        name, F.row_number().over(w) - 1 + F.coalesce(F.col(_CARRY), F.lit(0))
    )
    return out.drop(keycol, _CARRY)


def sort_by(df: DataFrame, order_by: Sequence[str | Column], index: bool = False) -> DataFrame:
    """Global sort (Thrill Sort, thrill/api/sort.hpp:64 — sample sort ==
    Spark's RangePartitioner orderBy). With index=True also materializes
    the post-sort ``_idx``."""
    if index:
        return with_index(df, order_by)
    return df.orderBy(*_cols(order_by))


def prefix_scan(
    df: DataFrame,
    order_by: Sequence[str | Column],
    value,
    agg_fn,
    combine_fn,
    name: str = "prefix_scan",
    persist: bool = True,
    combine_scalar=None,
) -> DataFrame:
    """Generalized inclusive prefix scan with ANY associative operation
    (Thrill PrefixSum's full contract, thrill/api/prefix_sum.hpp:28 —
    the reduce op is a user parameter there, not fixed to +).

    agg_fn: Column aggregate used partition-locally AND for per-
    partition totals (e.g. F.sum, F.min, F.max, F.product).
    combine_fn: the same operation as a Column->Column binary (e.g.
    lambda a, b: a + b / F.least / F.greatest) merging the carried
    partition offset into the local scan.
    combine_scalar: optional Python-level (a, b) -> scalar of the same
    operation. When given, the O(#partitions) carry fold runs as a plain
    driver loop; when omitted, ALL exclusive prefix folds of the
    partition totals are evaluated in ONE tiny local Spark job using
    combine_fn itself (F.aggregate over literal-array slices) — no
    expression-tree sniffing, correct for any associative combine.

    Same two-phase shape as prefix_sum: range partition, local window
    scan, O(#partitions) carry — no single-partition stage at any
    scale."""
    val = F.col(value) if isinstance(value, str) else value
    cols = _cols(order_by)
    part, keycol = _order_partitioned(df, order_by, persist)
    tot = part.groupBy(keycol).agg(agg_fn(val).alias("tot"))
    totals = {r[keycol]: r["tot"] for r in tot.collect()}
    pids = sorted(totals)
    if combine_scalar is not None:
        offsets: dict[int, object] = {}
        running = None
        for pid in pids:
            offsets[pid] = running  # None -> identity (no carry)
            t = totals[pid]
            running = t if running is None else combine_scalar(running, t)
    else:
        folds = _fold_prefixes(
            df.sparkSession, [totals[p] for p in pids], combine_fn
        )
        offsets = dict(zip(pids, folds))
    w = Window.partitionBy(keycol).orderBy(*cols)
    local = agg_fn(val).over(w.rowsBetween(Window.unboundedPreceding, 0))
    nonnull = {k: v for k, v in offsets.items() if v is not None}
    if nonnull:
        carried = F.col(_CARRY)
        local = F.when(carried.isNull(), local).otherwise(combine_fn(carried, local))
        return (
            _with_carry(part, nonnull, tot.schema["tot"].dataType, key=keycol)
            .withColumn(name, local)
            .drop(keycol, _CARRY)
        )
    return part.withColumn(name, local).drop(keycol)


def _fold_prefixes(spark, totals: list, combine_fn) -> list:
    """Exclusive prefix folds of the partition totals ([None,
    t0, t0⊕t1, ...]) evaluated in ONE local single-partition Spark job
    with the caller's own Column combine (ADVICE: no _jc string
    sniffing). Work is O(P^2) scalar combines in a single JVM task — at
    P = shuffle partitions this is microseconds; for extreme partition
    counts pass combine_scalar instead."""
    if not totals:
        return []

    # Integer totals < 2^31 become IntegerType literals, and folding 32
    # of them can overflow int32 under ANSI even though every PARTIAL
    # is a valid int64 (hit by fn_weighted_median at sf0.01: ~7e7 per
    # partition, ~2.2e9 folded). Widen integer literals to long; other
    # types keep their natural literal type.
    def _lit(t):
        if isinstance(t, int) and not isinstance(t, bool):
            return F.lit(t).cast("long")
        return F.lit(t)

    arr = F.array(*[_lit(t) for t in totals])
    out = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(totals))),
            lambda j: F.when(j == 1, F.lit(None)).otherwise(
                F.aggregate(
                    F.slice(arr, F.lit(2), j - 2),
                    F.element_at(arr, 1),
                    # wrap: varargs builtins (F.least/F.greatest) are not
                    # valid higher-order-function lambdas as-is
                    lambda acc, x: combine_fn(acc, x),
                )
            ),
        ).alias("folds")
    ).first()["folds"]
    return list(out)


def prefix_sum(
    df: DataFrame,
    order_by: Sequence[str | Column],
    value,
    name: str = "prefix_sum",
    exclusive: bool = False,
    initial=None,
    persist: bool = True,
) -> DataFrame:
    """Global running sum over order_by (Thrill PrefixSum/ExPrefixSum,
    thrill/api/prefix_sum.hpp:28, ex_prefix_sum.hpp).

    Two-phase: per-range-partition running sum, plus a driver-side
    cumulative of the O(#partitions) partition totals — no global
    single-partition window.
    """
    val = F.col(value) if isinstance(value, str) else value
    cols = _cols(order_by)
    part, keycol = _order_partitioned(df, order_by, persist)
    tot = part.groupBy(keycol).agg(F.sum(val).alias("tot"))
    totals = {r[keycol]: r["tot"] for r in tot.collect()}
    offsets: dict[int, object] = {}
    running = None
    for pid in sorted(totals):
        offsets[pid] = running  # None -> zero
        t = totals[pid]
        running = t if running is None else running + t
    w = Window.partitionBy(keycol).orderBy(*cols)
    frame = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    local = F.sum(val).over(frame)
    if exclusive:
        local = F.coalesce(local, F.lit(0))
    nonnull = {k: v for k, v in offsets.items() if v is not None}
    if nonnull:
        part = _with_carry(part, nonnull, tot.schema["tot"].dataType, key=keycol)
        local = local + F.coalesce(F.col(_CARRY), F.lit(0))
    out = local
    if initial is not None:
        out = out + F.lit(initial)
    return part.withColumn(name, out).drop(keycol, _CARRY)


def zip_dfs(
    dfs: Sequence[DataFrame],
    order_bys: Sequence[Sequence[str | Column]],
    how: str = "cut",
    pad_defaults: Sequence[dict] | None = None,
    keep_index: bool = True,
) -> DataFrame:
    """Positional Zip of K DataFrames (thrill/api/zip.hpp:426-652).

    how='cut'  -> stop at the shortest input (CutTag) = inner _idx join.
    how='pad'  -> pad shorter inputs with defaults (PadTag) = full-outer
                  _idx join + coalesce(col, default).
    how='strict' -> inputs must be equal length (checked).
    """
    assert len(dfs) == len(order_bys) >= 2
    indexed = [with_index(d, ob) for d, ob in zip(dfs, order_bys)]
    if how == "strict":
        sizes = [d.count() for d in indexed]
        if len(set(sizes)) != 1:
            raise ValueError(f"strict Zip requires equal sizes, got {sizes}")
    join_how = "inner" if how in ("cut", "strict") else "full_outer"
    out = indexed[0]
    for i, right in enumerate(indexed[1:], start=1):
        out = out.join(right, on=IDX, how=join_how)
    if how == "pad" and pad_defaults:
        for d, defaults in zip(indexed, pad_defaults or []):
            if not defaults:
                continue
            for colname, default in defaults.items():
                out = out.withColumn(colname, F.coalesce(F.col(colname), F.lit(default)))
    return out if keep_index else out.drop(IDX)


def sliding_window(
    df: DataFrame,
    order_by: Sequence[str | Column],
    size: int,
    aggs: dict[str, Column],
    partial_tail: bool = False,
) -> DataFrame:
    """Overlapping window over k consecutive items, step 1
    (thrill/api/window.hpp:142 OverlapWindowNode).

    aggs maps output name -> aggregate Column evaluated over the window
    frame [current-(k-1), current]. Rows with _idx < k-1 are incomplete
    windows; Thrill only calls the window fn for complete windows unless
    a partial-window fn is given — partial_tail=True keeps them.
    """
    idf = with_index(df, order_by)
    w = (
        Window.partitionBy()  # replaced below by two-phase pattern when needed
        .orderBy(IDX)
        .rowsBetween(-(size - 1), 0)
    )
    # NOTE: a frame of fixed small k only needs k-1 rows of cross-partition
    # context. Implemented with a bounded self-join to stay scalable:
    # each row joins its k-1 predecessors via an _idx band join would be
    # O(n*k); instead use partition-local windows with a k-1 row halo.
    return _halo_window(idf, size, aggs, partial_tail)


def _halo_window(idf: DataFrame, size: int, aggs: dict[str, Column], partial_tail: bool) -> DataFrame:
    """Partition-parallel sliding window with a (k-1)-row halo.

    Rows are bucketed by ``_idx div B`` (B >> k); each bucket also
    receives copies of the last k-1 rows of the previous bucket, so a
    partition-local window over the bucket computes exact global
    results. This keeps the plan shuffle-bounded and skew-free at any
    scale, unlike a global Window.orderBy with no partitionBy.
    """
    bucket_rows = max(size * 64, 65536)
    b = F.floor(F.col(IDX) / F.lit(bucket_rows))
    own = idf.withColumn("_bkt", b).withColumn("_halo", F.lit(False))
    halo = (
        idf.withColumn("_bkt", b + 1)
        .filter((F.col(IDX) % bucket_rows) >= bucket_rows - (size - 1))
        .withColumn("_halo", F.lit(True))
    )
    both = own.unionByName(halo)
    w = Window.partitionBy("_bkt").orderBy(IDX).rowsBetween(-(size - 1), 0)
    out = both.select(
        "*", *[expr.over(w).alias(name) for name, expr in aggs.items()]
    ).filter(~F.col("_halo"))
    if not partial_tail:
        out = out.filter(F.col(IDX) >= size - 1)
    return out.drop("_bkt", "_halo")


def flat_window_partial(
    df: DataFrame,
    order_by: Sequence[str | Column],
    size: int,
    aggs: dict[str, Column],
    size_col: str = "window_size",
) -> DataFrame:
    """Thrill FlatWindow WITH a partial-window function
    (thrill/api/window.hpp:215-236): one output per START index — the
    window is the k items beginning at that row, and the last <k
    windows are emitted as partial suffixes (the drain loop PushData
    runs on the last worker). Forward-halo mirror of _halo_window:
    each bucket additionally receives copies of the FIRST k-1 rows of
    the next bucket, so partition-local [current, current+k-1] frames
    are exact globally — shuffle-bounded at any scale, no global
    single-partition window."""
    idf = with_index(df, order_by)
    bucket_rows = max(size * 64, 65536)
    b = F.floor(F.col(IDX) / F.lit(bucket_rows))
    own = idf.withColumn("_bkt", b).withColumn("_halo", F.lit(False))
    halo = (
        idf.withColumn("_bkt", b - 1)
        .filter(
            ((F.col(IDX) % bucket_rows) <= size - 2)
            & (F.col(IDX) >= bucket_rows)
        )
        .withColumn("_halo", F.lit(True))
    )
    both = own.unionByName(halo)
    w = Window.partitionBy("_bkt").orderBy(IDX).rowsBetween(0, size - 1)
    out = both.select(
        "*",
        F.count(F.lit(1)).over(w).alias(size_col),
        *[expr.over(w).alias(name) for name, expr in aggs.items()],
    ).filter(~F.col("_halo"))
    return out.drop("_bkt", "_halo")


def disjoint_window(
    df: DataFrame,
    order_by: Sequence[str | Column],
    size: int,
    aggs: dict[str, Column],
    window_col: str = "window_id",
    ordered: bool = False,
) -> DataFrame:
    """Tumbling window over disjoint blocks of k items
    (thrill/api/window.hpp:389 DisjointWindowNode): groupBy _idx div k.

    ordered=True guarantees order-sensitive aggregates (collect_list
    and friends) see each block's rows in _idx order — Thrill's window
    fn contract: rows are clustered by window id (one explicit
    repartition the aggregate then reuses, no extra exchange) and
    sorted (window_id, _idx) within partitions. The default keeps
    map-side partial aggregation (cheaper shuffle) for the common
    order-insensitive aggs (sum/min/max/count)."""
    idf = with_index(df, order_by)
    idf = idf.withColumn(window_col, F.floor(F.col(IDX) / F.lit(size)))
    if ordered:
        idf = idf.repartition(F.col(window_col)).sortWithinPartitions(
            window_col, IDX
        )
    return idf.groupBy(window_col).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )


def reduce_to_index(
    df: DataFrame,
    index_col: str,
    size: int,
    aggs: dict[str, Column],
    neutral: dict[str, object],
) -> DataFrame:
    """Dense-array aggregation: key is an array index in [0, size); holes
    are filled with the neutral element (thrill/api/dia.hpp:1306-1311,
    reduce_to_index.hpp:60).

    agg + right join against spark.range(size) + coalesce(neutral).
    """
    spark = df.sparkSession
    dense = spark.range(size).withColumnRenamed("id", index_col)
    agged = df.groupBy(F.col(index_col).cast("long").alias(index_col)).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    out = dense.join(agged, on=index_col, how="left")
    for name in aggs:
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(neutral.get(name))))
    return out


def group_to_index(
    df: DataFrame,
    index_col: str,
    size: int,
    collect: dict[str, Column],
    neutral: dict[str, object] | None = None,
) -> DataFrame:
    """GroupToIndex (thrill/api/group_to_index.hpp:42): like
    reduce_to_index but the per-key aggregate sees all values (here:
    collect_list / arbitrary agg columns); holes become empty arrays."""
    neutral = neutral or {}
    out = reduce_to_index(df, index_col, size, collect, {})
    for name in collect:
        default = neutral.get(name)
        fill = F.lit(default) if default is not None else F.array()
        out = out.withColumn(name, F.coalesce(F.col(name), fill))
    return out


def merge_sorted(dfs: Sequence[DataFrame], order_by: Sequence[str | Column]) -> DataFrame:
    """Merge K sorted DIAs into one globally sorted DIA
    (thrill/api/merge.hpp:44-76). Spark has no merge-preserving physical
    op; union + range-partitioned sort yields the same result (the sort
    benefits from the inputs' near-sortedness at the run level)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.orderBy(*_cols(order_by))


def concat(dfs: Sequence[DataFrame], order_bys: Sequence[Sequence[str | Column]]) -> DataFrame:
    """Order-preserving concatenation (thrill/api/concat.hpp:35):
    indexes each input, offsets by cumulative sizes, keeps global _idx."""
    sizes = [d.count() for d in dfs]
    offset = 0
    parts = []
    for d, ob, n in zip(dfs, order_bys, sizes):
        parts.append(with_index(d, ob).withColumn(IDX, F.col(IDX) + F.lit(offset)))
        offset += n
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
