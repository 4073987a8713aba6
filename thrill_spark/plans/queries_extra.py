"""Queries batch 5: as-of / range joins, winnowing fingerprints,
embedding-cosine near-dup, IVF ANN, multimodal feature plumbing.

As-of and range joins have no reference analogue (Thrill is equi-inner
only, thrill/api/inner_join.hpp:710); they are part of the SQL-surface
superset this engine provides. The multimodal queries exercise the
Arrow-batched mapInPandas plumbing from functions/multimodal.py with
the deterministic fake decoder, so they are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thrill_spark.catalog import load_table, scratch_dir
from thrill_spark.functions import dedup as D
from thrill_spark.functions import multimodal as MM
from thrill_spark.functions import similarity as S
from thrill_spark.operators.join import asof_join, range_join
from thrill_spark.plans.queries import query
from thrill_spark.session import local_frame


# ---------------------------------------------------------------------------
# As-of join: for each purchase event, the latest click by the same
# user at-or-before the purchase. (user_id, ts) is unique in the
# fixture, so the match is deterministic.
# ---------------------------------------------------------------------------
@query(
    "asof_join_purchase_click",
    """
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           c.event_id AS click_id_r,
           epoch_us(c.ts) AS click_us_r
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, on_time_left="ts", on_time_right="click_ts",
        by=("user_id",), direction="backward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("click_id_r"),
        F.unix_micros("click_ts_r").alias("click_us_r"),
    )


# ---------------------------------------------------------------------------
# Range join: orders priced into literal bands. The band side is tiny
# -> Spark plans a broadcast nested-loop join (the correct physical
# strategy; only the fact side streams).
# ---------------------------------------------------------------------------
PRICE_BANDS = [  # (band, lo, hi)
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 300_000.0),
    ("lux", 300_000.0, 1e12),
]

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{b}' AS band, {lo} AS lo, {hi} AS hi" for b, lo, hi in PRICE_BANDS
)


@query(
    "range_join_price_bands",
    f"""
    SELECT band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN ({_BANDS_SQL}) bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    joined = range_join(orders, F.broadcast(bands), "o_totalprice", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (brute-force exact baseline;
# scale path = LSH-bucket prefilter + this exact filter within buckets)
# ---------------------------------------------------------------------------
_COS_TAU = 0.40


@query(
    "dedup_embedding_cosine",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
                  x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b)) AS nrm
      FROM embeddings)
    SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (x,y) -> x+y)
               / (a.nrm*b.nrm) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
    WHERE cos_sim >= {_COS_TAU}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_near_dup_pairs(emb, tau=_COS_TAU)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------
@query(
    "doc_fingerprint_winnow",
    """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '') AS toks
               FROM documents),
    s AS (SELECT doc_id,
                 list_transform(generate_series(0, greatest(len(toks)-2, 1)-1),
                                i -> array_to_string(toks[i+1:i+3], ' ')) AS sh
          FROM t),
    h AS (SELECT doc_id,
                 list_transform(sh, g -> CAST('0x' || substr(md5(g),1,15) AS BIGINT)) AS hs
          FROM s)
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(list_transform(
               generate_series(0, greatest(len(hs)-4, 0)),
               i -> list_min(hs[i+1:i+4])))), ','), '') AS fp,
           len(list_sort(list_distinct(list_transform(
               generate_series(0, greatest(len(hs)-4, 0)),
               i -> list_min(hs[i+1:i+4]))))) AS n_fp
    FROM h
    """,
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = D.winnow_fingerprints(docs, "text", "doc_id", shingle_words=3, window=4)
    return fps.select(
        "doc_id",
        F.array_join(F.col("fp").cast("array<string>"), ",").alias("fp"),
        F.size("fp").alias("n_fp"),
    )


# ---------------------------------------------------------------------------
# SortStable (thrill/api/sort.hpp SortStable variant): ties keep the
# original array order. The original position is the materialized _idx
# (ZipWithIndex discipline); stability == sorting by (key, _idx).
# ---------------------------------------------------------------------------
@query(
    "sort_stable_priority",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority, o_orderkey) - 1
                AS BIGINT) AS stable_rank
    FROM orders
    """,
)
def q_sort_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark import ordering as O

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # original array position: orders arrive keyed by o_orderkey.
    # Persist between the two index passes: the second range partition
    # samples its input, which would otherwise recompute the first pass.
    indexed = O.with_index(orders, ["o_orderkey"]).persist()
    stable = O.with_index(
        indexed, [F.col("o_orderpriority"), F.col(O.IDX)], name="stable_rank"
    )
    return stable.select("o_orderkey", "o_orderpriority", "stable_rank")


# PrefixScan with a non-sum associative op (Thrill PrefixSum takes any
# op, thrill/api/prefix_sum.hpp:28): running minimum over the order
# stream — same two-phase shape, driver folds partition minima.
@query(
    "prefix_scan_running_min",
    """
    SELECT o_orderkey,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_min
    FROM orders
    """,
)
def q_prefix_scan_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark import ordering as O

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("_p")
    )
    out = O.prefix_scan(orders, ["o_orderkey"], "_p", F.min, F.least, name="_rm")
    return out.select("o_orderkey", F.col("_rm").cast("double").alias("running_min"))


# Sample(k): exactly k items uniformly without replacement
# (thrill/api/sample.hpp:33-50). WHICH rows are selected is random, so
# the CHECKED properties (bernoulli_sample pattern) are exact
# cardinality, distinctness, and membership in the source — each one a
# hard failure mode of a broken sampler.
def _sample_props(sampled: DataFrame, source: DataFrame, k: int) -> DataFrame:
    agg = sampled.agg(
        F.count("*").alias("n_sampled"),
        (F.count_distinct("o_orderkey") == F.count("*")).alias("distinct_ok"),
    )
    stray = sampled.join(source, "o_orderkey", "left_anti").agg(
        (F.count("*") == 0).alias("from_source_ok")
    )
    return agg.crossJoin(stray).select("n_sampled", "distinct_ok", "from_source_ok")


_SAMPLE_PROPS_SQL = """
    SELECT CAST(100 AS BIGINT) AS n_sampled, TRUE AS distinct_ok,
           TRUE AS from_source_ok
"""


@query("sample_exact_k", _SAMPLE_PROPS_SQL)
def q_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.basic import exact_sample

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return _sample_props(exact_sample(orders, k=100), orders, k=100)


# The scale path: hypergeometric split across partitions, no global
# sort (thrill/api/sample.hpp:33-50). Same property oracle.
@query("sample_exact_k_hypergeometric", _SAMPLE_PROPS_SQL)
def q_sample_exact_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.basic import exact_sample_distributed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return _sample_props(exact_sample_distributed(orders, k=100), orders, k=100)


# ---------------------------------------------------------------------------
# IVF ANN. Recall < 1 vs brute force by construction, so the checked
# value is a recall FLOOR against the in-query brute-force baseline
# over a probe subset (the same oracle-tightening as similarity_ann_lsh:
# the oracle asserts the floor holds, tolerating fixture re-draws).
# The fixture embeddings are near-uniform — the worst case for a coarse
# quantizer — so the floor is deliberately modest: measured recall
# ~0.5 at nprobe=2/8 cells, floor 0.35.
# ---------------------------------------------------------------------------
@query(
    "similarity_ann_ivf",
    "SELECT COUNT(*) AS queries_checked, TRUE AS recall_ok "
    "FROM embeddings WHERE vec_id % 25 = 0",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    ann = S.ann_ivf_topk(emb, k=k, n_cells=8, nprobe=2).filter(
        F.col("query_id") % 25 == 0
    )
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    pool = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv"))
    scored = pool.join(F.broadcast(probes), on=F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", S.cosine(F.col("_nv"), F.col("_qv")).alias("_cs")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("neighbor_id").asc())
    brute = scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    hits = ann.join(brute, on=["query_id", "neighbor_id"]).agg(F.count("*").alias("n_hits"))
    return (
        probes.agg(F.count("*").alias("queries_checked"))
        .crossJoin(hits)
        .select(
            "queries_checked",
            (F.col("n_hits") / (F.col("queries_checked") * k) >= F.lit(0.35)).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation: salting splits heavy keys across salt_buckets
# partial groups, then merges. Result is identical to a plain
# groupBy-agg (decimal arithmetic keeps the two-stage sum exact), so it
# is oracle-checked like any other aggregation.
# ---------------------------------------------------------------------------
@query(
    "salted_agg_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs={
            "_pc": F.count("*"),
            "_ps": F.sum(F.col("value").cast("decimal(18,6)")),
        },
        final_aggs={
            "n": F.sum("_pc").cast("long"),
            "total": F.sum("_ps").cast("decimal(18,6)"),
        },
        salt_buckets=16,
    )
    return out.select("event_type", "n", F.col("total").cast("double").alias("total"))


# ---------------------------------------------------------------------------
# Multimodal: deterministic fake media -> Arrow-batched feature
# extraction (mapInPandas). The checksum is reproducible in SQL, so
# the Python-side plumbing itself is oracle-checked.
# ---------------------------------------------------------------------------
@query(
    "multimodal_features",
    """
    SELECT doc_id AS id, 'png' AS format,
           CAST(length(s) AS INT) AS n_bytes,
           list_reduce(list_transform(generate_series(1, length(s)),
                i -> ascii(substr(s, i, 1))), (a,b) -> a+b) * 31 + doc_id
             AS feat_checksum
    FROM (SELECT doc_id, 'png:' || CAST(doc_id AS VARCHAR) AS s FROM documents)
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_fake_media(docs, "id", fmt="png")
    return MM.extract_features(media, id_col="id")


# Real image decode (no media libs): attach an ACTUAL PNG per doc
# (vendored stdlib-zlib encoder), decode it back through the
# Pillow-or-pngcodec kernel, and emit properties only a correct full
# decode (IDAT inflate + unfilter) can produce. The generator is
# deterministic in doc_id, so DuckDB recomputes every output column.
@query(
    "multimodal_real_png_decode",
    """
    SELECT doc_id AS id, 'png' AS format,
           CAST(doc_id % 32 + 1 AS INT) AS width,
           CAST(doc_id % 24 + 1 AS INT) AS height,
           CAST(list_reduce(flatten(list_transform(
                    generate_series(0, doc_id % 24),
                    y -> list_transform(generate_series(0, doc_id % 32),
                         x -> (x * 7 + y * 13 + doc_id) % 256))),
                (a, b) -> a + b) AS BIGINT) AS pix_sum
    FROM documents
    """,
)
def q_multimodal_real_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_png_media(docs, "id")
    return MM.decode_image_features(media, id_col="id")


@query(
    "multimodal_audio_chunks",
    """
    SELECT doc_id AS id,
           CAST(unnest(generate_series(0, CAST(ceil((500 + (doc_id % 20) * 250) / 1000.0)
                                            AS INT) - 1)) AS INT) AS chunk_idx,
           CAST(unnest(generate_series(0, CAST(ceil((500 + (doc_id % 20) * 250) / 1000.0)
                                            AS INT) - 1)) * 1000 AS INT) AS start_ms,
           CAST(least(unnest(generate_series(0, CAST(ceil((500 + (doc_id % 20) * 250) / 1000.0)
                                                  AS INT) - 1)) * 1000 + 1000,
                      500 + (doc_id % 20) * 250) AS INT) AS end_ms,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
    FROM documents
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return MM.audio_chunks(docs, chunk_ms=1000, id_col="id")


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS id, CAST(unnest(generate_series(0, doc_id % 10, 3)) AS INT)
             AS frame_idx
    FROM documents
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return MM.frame_sample(docs, every_n=3, id_col="id")


# ---------------------------------------------------------------------------
# GroupByKey huge-group scale path: secondary-sort + chunk-fold
# (group_by_key_fold — reference group_by_key.hpp:205-216 streamed
# iterator). Per-customer ordered fold: order count + max gap in days
# between consecutive orders. Oracle: lag() window + group agg.
# ---------------------------------------------------------------------------
@query(
    "group_fold_order_gaps",
    """
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap
      FROM orders)
    SELECT o_custkey AS c_custkey,
           COUNT(*) AS n_orders,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_days
    FROM g GROUP BY o_custkey
    """,
)
def q_group_fold_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.reduce import group_by_key_fold

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )

    def init(key):
        return {"prev": None, "n": 0, "max_gap": 0}

    def fold(state, chunk):
        ts = chunk["o_orderdate"]
        gaps = ts.diff().dt.days
        if state["prev"] is not None and len(ts):
            first_gap = (ts.iloc[0] - state["prev"]).days
            state["max_gap"] = max(state["max_gap"], first_gap)
        if len(gaps.dropna()):
            state["max_gap"] = max(state["max_gap"], int(gaps.max()))
        state["n"] += len(chunk)
        state["prev"] = ts.iloc[-1]
        return state

    def finish(key, state):
        return {
            "c_custkey": key[0],
            "n_orders": state["n"],
            "max_gap_days": state["max_gap"],
        }

    return group_by_key_fold(
        orders,
        keys=["o_custkey"],
        init=init,
        fold=fold,
        finish=finish,
        schema="c_custkey long, n_orders long, max_gap_days long",
        order_by=["o_orderdate", "o_orderkey"],
    )


# ---------------------------------------------------------------------------
# Salted skew-safe join: identical semantics to the plain equi-join
# (dim replicated per salt bucket), so the oracle is the plain join.
# ---------------------------------------------------------------------------
@query(
    "salted_join_lineitem_supplier",
    """
    SELECT s_nationkey, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", salt_buckets=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join as a driver-verified query: both fact tables
# are written bucketed+sorted by the join key (external location, so no
# warehouse-dir assumption), the join runs with broadcast disabled, and
# the query EMITS whether the executed plan was wide-shuffle-free — the
# oracle asserts it. This is the scale path replacing the reference's
# location-detection machinery, checked end-to-end on real data.
# ---------------------------------------------------------------------------
@query(
    "bucketed_join_colocated",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    + CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS combined,
           TRUE AS shuffle_free
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from thrill_spark.sources.bucketing import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = scratch_dir(spark, "bucketed")
    for name, df, key in (("bkt_lineitem", li, "l_orderkey"), ("bkt_orders", o, "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        import re

        shuffle_free = not re.search(r"Exchange (hash|range|SinglePartition)", plan)
        out = joined.agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                + F.col("o_totalprice").cast("decimal(18,2)")
            ).cast("double").alias("combined"),
        ).withColumn("shuffle_free", F.lit(bool(shuffle_free)))
        # Materialize before restoring the broadcast threshold: the agg
        # must execute under the no-broadcast plan it was built with.
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# Rebalance (thrill/api/rebalance.hpp:30): even redistribution must be
# content-preserving; the query emits the content invariants plus the
# achieved partition count for the oracle to assert.
@query(
    "rebalance_partitions",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS partitions_ok
    FROM orders
    """,
)
def q_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    reb = orders.repartition(24)
    n_parts = reb.rdd.getNumPartitions()
    return reb.agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    ).withColumn("partitions_ok", F.lit(bool(n_parts == 24)))


# Resize plumbing with an oracle: blobs pass through mapInPandas and
# the rewritten metadata (target dims, format parsed from the payload)
# is deterministic — emitted as scalar columns for the hash check.
@query(
    "multimodal_resize_meta",
    """
    SELECT doc_id AS id, 'png' AS format,
           CAST(64 AS INT) AS width, CAST(48 AS INT) AS height,
           CAST(1 AS INT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_fake_media(docs, "id", fmt="png")
    resized = MM.resize_images(media, width=64, height=48, id_col="id")
    return resized.select(
        "id",
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_frames").alias("n_frames"),
    )
