"""Queries batch: corpus-mining operators — overlapping context-window
chunking, sparse TF-IDF pair similarity, incremental dedup against an
existing corpus, cohort retention, and Z-order layout clustering.

No reference analogue (Thrill's examples stop at WordCount / TPC-H
join, reference/thrill/examples/); these are the dataset-assembly and
lakehouse-layout operators a 100 TB training-data pipeline runs.
Every output column is exact-integer / md5 / boolean so the DuckDB
oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thrill_spark.catalog import load_table, scratch_dir
from thrill_spark.functions import dedup as D
from thrill_spark.functions import layout as LAY
from thrill_spark.functions import text as TX
from thrill_spark.functions import tfidf as TI
from thrill_spark.plans.queries import query
from thrill_spark.plans.queries_llm import (
    SQL_MD5LONG,
    SQL_SHINGLES3,
    SQL_TOKS,
    _MH_BANDS,
    _MH_K,
)
from thrill_spark.session import local_frame

# ---------------------------------------------------------------------------
# Overlapping token-window chunking (RAG / pretraining context windows)
# ---------------------------------------------------------------------------
_CHUNK = 32
_STRIDE = 24


@query(
    "text_chunk_overlap",
    f"""
    WITH base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) > {_CHUNK}
                  THEN CAST((len(toks) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE} AS INT) + 1
                  ELSE 1 END AS nch
      FROM base)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(len(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}]) AS INT) AS n_toks,
           md5(array_to_string(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}], ' ')) AS chunk_fp
    FROM (SELECT doc_id, toks, unnest(generate_series(0, nch - 1)) AS i FROM c)
    """,
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.chunk_token_windows(docs, chunk=_CHUNK, stride=_STRIDE)


# ---------------------------------------------------------------------------
# Sparse TF-IDF top-N similar pairs (integer-idf, df-pruned postings)
# ---------------------------------------------------------------------------
_TFIDF_DIV = 20  # keep terms with df <= n_docs // 20 (5%)
_TFIDF_TOPN = 100


@query(
    "text_tfidf_pairs",
    f"""
    WITH base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS term
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(0, greatest(len(toks)-2, 1)-1)) AS i
            FROM base)),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM grams GROUP BY doc_id, term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
    posts AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(n_docs // df_t AS BIGINT) AS w
      FROM tf JOIN dfq USING (term) CROSS JOIN n
      WHERE df_t <= greatest(n_docs // {_TFIDF_DIV}, 1))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(SUM(a.tf * b.tf * a.w * a.w) AS BIGINT) AS score
    FROM posts a JOIN posts b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY score DESC, id_a, id_b
    LIMIT {_TFIDF_TOPN}
    """,
)
def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TI.tfidf_pairs(
        docs, ngram=3, max_df_div=_TFIDF_DIV, top_n=_TFIDF_TOPN
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch (doc_id % 10 = 0) vs existing corpus
# ---------------------------------------------------------------------------
_INC_PRED_BATCH = "doc_id % 10 = 0"
_INC_PRED_CORPUS = "doc_id % 10 <> 0"
_INC_TAU = 0.5


def _sql_sig_where(pred: str) -> str:
    h = SQL_MD5LONG.format(x="sh")
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {D.MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(D.minhash_params(_MH_K))
    )
    return f"""
      SELECT doc_id, {mins} FROM (
        SELECT doc_id, {h} % {D.MINHASH_P} AS h FROM (
          SELECT doc_id, unnest(shingles) AS sh FROM (
            SELECT doc_id, {SQL_SHINGLES3} AS shingles FROM (
              SELECT doc_id, {SQL_TOKS} AS toks FROM documents
              WHERE {pred}))))
      GROUP BY doc_id
    """


def _sql_banded(sig_cte: str) -> str:
    rows = _MH_K // _MH_BANDS
    parts = []
    for b in range(_MH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        parts.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bh FROM {sig_cte}")
    return " UNION ALL ".join(parts)


def _sql_incremental() -> str:
    jac = (
        "CAST(len(list_intersect(sb.sh, sc.sh)) AS DOUBLE) / "
        "(len(sb.sh) + len(sc.sh) - len(list_intersect(sb.sh, sc.sh)))"
    )
    return f"""
    WITH sigb AS ({_sql_sig_where(_INC_PRED_BATCH)}),
    sigc AS ({_sql_sig_where(_INC_PRED_CORPUS)}),
    bb AS ({_sql_banded('sigb')}),
    bc AS ({_sql_banded('sigc')}),
    cand AS (
      SELECT DISTINCT b.doc_id AS id_b, c.doc_id AS id_c
      FROM bb b JOIN bc c ON b.band = c.band AND b.bh = c.bh),
    shb AS (SELECT doc_id, {SQL_SHINGLES3} AS sh FROM (
              SELECT doc_id, {SQL_TOKS} AS toks FROM documents
              WHERE {_INC_PRED_BATCH})),
    shc AS (SELECT doc_id, {SQL_SHINGLES3} AS sh FROM (
              SELECT doc_id, {SQL_TOKS} AS toks FROM documents
              WHERE {_INC_PRED_CORPUS})),
    ver AS (
      SELECT id_b, id_c
      FROM cand JOIN shb sb ON sb.doc_id = id_b
                JOIN shc sc ON sc.doc_id = id_c
      WHERE {jac} >= {_INC_TAU}),
    per AS (SELECT id_b, CAST(COUNT(*) AS BIGINT) AS n_dups,
                   MIN(id_c) AS first_match
            FROM ver GROUP BY id_b)
    SELECT d.doc_id,
           coalesce(n_dups, 0) AS n_dups,
           CAST(coalesce(first_match, -1) AS BIGINT) AS first_match,
           coalesce(n_dups, 0) > 0 AS is_dup
    FROM (SELECT doc_id FROM documents WHERE {_INC_PRED_BATCH}) d
    LEFT JOIN per ON per.id_b = d.doc_id
    """


@query("dedup_incremental", _sql_incremental())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.expr(_INC_PRED_BATCH))
    corpus = docs.filter(F.expr(_INC_PRED_CORPUS))
    return D.incremental_dedup(
        batch,
        corpus,
        num_hashes=_MH_K,
        bands=_MH_BANDS,
        threshold=_INC_TAU,
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix over events
# ---------------------------------------------------------------------------
@query(
    "events_user_retention",
    """
    WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    coh AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(day - cohort_day AS INT) AS day_offset,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users
    FROM d JOIN coh USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic product-analytics rollup: users bucketed by first-seen
    day, activity counted per (cohort, day-offset). Two hash
    aggregations + one equi-join on user_id — all shuffle keys are the
    natural ones; broadcast is left to AQE (cohort table ~ |users|)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    coh = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(coh, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Z-order layout clustering stats
# ---------------------------------------------------------------------------
_Z_BITS = 16
_Z_SHIFT = 2 * _Z_BITS - 5  # 32 leading buckets


@query(
    "layout_zorder_stats",
    f"""
    WITH z AS (
      SELECT {LAY.sql_zvalue('(o_custkey & 65535)', '(o_orderkey & 65535)', _Z_BITS)} AS zval,
             (o_custkey & 65535) AS xm, (o_orderkey & 65535) AS ym
      FROM orders)
    SELECT zval >> {_Z_SHIFT} AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(xm) AS min_x, MAX(xm) AS max_x,
           MIN(ym) AS min_y, MAX(ym) AS max_y
    FROM z GROUP BY zbucket
    """,
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Z-range min/max envelopes for both dimensions — the footer
    stats a Z-ordered rewrite gives every file, which is what lets a
    scan prune on EITHER column. The interleave is one codegen
    expression (functions/layout.py::zvalue); clustering itself
    (zorder_layout) is a single range shuffle."""
    o = load_table(spark, sf_dir, "orders")
    xm = F.col("o_custkey").bitwiseAND(F.lit(65535))
    ym = F.col("o_orderkey").bitwiseAND(F.lit(65535))
    z = o.select(
        LAY.zvalue(xm, ym, _Z_BITS).alias("zval"),
        xm.alias("xm"),
        ym.alias("ym"),
    )
    return (
        z.groupBy(F.shiftright("zval", _Z_SHIFT).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xm").alias("min_x"),
            F.max("xm").alias("max_x"),
            F.min("ym").alias("min_y"),
            F.max("ym").alias("max_y"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup over embeddings (SemDeDup shape, deterministic)
# ---------------------------------------------------------------------------
_SEM_PLANES = 6
_SEM_TAU = 0.35
_SEM_DIM = 64


def _sql_dot(vec: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
    return (
        f"list_reduce(list_transform(list_zip({vec}, {lit}), "
        "p -> CAST(p[1] AS DOUBLE) * p[2]), (a,b) -> a+b)"
    )


def _sql_semantic_dedup() -> str:
    from thrill_spark.functions import similarity as S

    planes = S.hyperplanes(_SEM_DIM, _SEM_PLANES, seed=0)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p)} > 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    pcos = (
        "list_reduce(list_transform(list_zip(ea, eb), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a,b) -> a+b)"
        " / (sqrt(list_reduce(list_transform(ea, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b))"
        " * sqrt(list_reduce(list_transform(eb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b)))"
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
      FROM embeddings),
    pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS ea, b.embedding AS eb
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    dom AS (
      SELECT id_b, CAST(COUNT(*) AS BIGINT) AS n_dom
      FROM pr WHERE {pcos} >= {_SEM_TAU}
      GROUP BY id_b)
    SELECT s.vec_id, s.bucket,
           coalesce(n_dom, 0) AS n_dom,
           coalesce(n_dom, 0) = 0 AS keep
    FROM sig s LEFT JOIN dom ON dom.id_b = s.vec_id
    """


@query("dedup_semantic_keep", _sql_semantic_dedup())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, dim=_SEM_DIM, n_planes=_SEM_PLANES, threshold=_SEM_TAU
    )


# ---------------------------------------------------------------------------
# Weighted systematic resampling (training-mix importance sampling)
# ---------------------------------------------------------------------------
_WSS_M = 100


@query(
    "corpus_weighted_sample",
    f"""
    WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM w),
    par AS (SELECT total, total // {_WSS_M} AS stride,
                   (total // {_WSS_M}) // 2 AS off FROM tot),
    cum AS (
      SELECT doc_id, weight,
             COALESCE(SUM(weight) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
      FROM w)
    SELECT doc_id, weight,
           CAST(((cum0 + weight - 1 - off + stride) // stride - 1)
              - ((cum0 - 1 - off + stride) // stride - 1) AS BIGINT) AS n_picks
    FROM cum CROSS JOIN par
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import corpus as C

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return C.weighted_systematic_sample(docs, "n_chars", _WSS_M)


# ---------------------------------------------------------------------------
# Table profiling report (ingest-time data audit)
# ---------------------------------------------------------------------------
_PROF_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "price_cents",
    "order_day",
    "o_orderpriority",
]


def _sql_profile() -> str:
    prep = """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
             o_orderpriority
      FROM orders
    """
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str
        FROM prep
        """
        for c in _PROF_COLS
    ]
    return f"WITH prep AS ({prep}) " + " UNION ALL ".join(parts)


@query("profile_orders", _sql_profile())
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions.profile import profile_table

    o = load_table(spark, sf_dir, "orders")
    prep = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "o_orderpriority",
    )
    return profile_table(prep, _PROF_COLS)


# ---------------------------------------------------------------------------
# Structured Streaming sessionization (actual streaming job; hard
# oracle = batch gap-sessionization replayed in SQL: session start =
# min ts, end = max ts + gap, per 30-minute-gap session)
# ---------------------------------------------------------------------------
@query(
    "events_stream_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > 30*60*1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM (SELECT user_id, ts,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
            FROM events)),
    numbered AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM marked)
    SELECT user_id,
           MIN(epoch_us(ts)) AS start_us,
           MAX(epoch_us(ts)) + 30*60*1000000 AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from thrill_spark.streaming.windows import stream_session

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = scratch_dir(spark, "sess_src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stream_session(stream, "ts", "30 minutes", "10 minutes", keys=("user_id",))
    name = "stream_session_sink"
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# REAL multimodal kernels: PNG resize (decode -> NN resample ->
# re-encode) and WAV audio decode (container parse + PCM unpack) —
# both pure-stdlib, both with every output recomputed by the oracle.
# ---------------------------------------------------------------------------
@query(
    "multimodal_real_resize",
    """
    SELECT doc_id AS id, 8 AS width, 8 AS height,
           CAST(list_reduce(flatten(list_transform(generate_series(0, 7),
                y -> list_transform(generate_series(0, 7),
                     x -> ((x*(doc_id%32+1)//8)*7
                         + (y*(doc_id%24+1)//8)*13 + doc_id) % 256))),
                (a, b) -> a + b) AS BIGINT) AS pix_sum
    FROM documents
    """,
)
def q_multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_png_media(docs, "id")
    out = MM.resize_real_png(media, width=8, height=8)
    return out.select("id", "width", "height", "pix_sum")


@query(
    "multimodal_real_wav_decode",
    """
    SELECT doc_id AS id,
           8000 AS sample_rate,
           CAST(100 + doc_id % 50 AS INT) AS n_samples,
           CAST(list_reduce(list_transform(
                  generate_series(0, CAST(100 + doc_id % 50 AS INT) - 1),
                  i -> ((doc_id*31 + i*17) % 2048 - 1024)
                     * ((doc_id*31 + i*17) % 2048 - 1024)),
                (a, b) -> a + b) AS BIGINT) AS energy
    FROM documents
    """,
)
def q_multimodal_real_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_wav_media(docs, "id")
    return MM.decode_wav_features(media)


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (Apache DataSketches HLL): build
# one sketch PER DAY, union the day sketches into the global estimate —
# the continuous-aggregate maintenance shape at 100 TB (daily rollups
# stay mergeable forever; no re-scan of history). Oracle: exact
# distinct + in-query band assertion on the merged estimate, plus the
# per-day sketch count (deterministic).
# ---------------------------------------------------------------------------
@query(
    "events_hll_mergeable",
    """
    SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_day_sketches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS merged_ok
    FROM events
    """,
)
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_day_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return merged.crossJoin(exact).select(
        F.col("n_day_sketches").cast("long").alias("n_day_sketches"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("_est") - F.col("exact_distinct"))
            <= F.lit(0.05) * F.col("exact_distinct") + F.lit(5.0)
        ).alias("merged_ok"),
    )


# ---------------------------------------------------------------------------
# Exact quantile binning (feature engineering): decile boundaries from
# one scalar percentile aggregate, bucket assignment by broadcast
# comparison — NOT a global ntile (which would funnel the table through
# one partition). Spark percentile ≡ DuckDB quantile_cont bit-exact.
# ---------------------------------------------------------------------------
_QB_QS = [i / 10 for i in range(1, 10)]


@query(
    "ml_quantile_binning",
    f"""
    WITH b AS (
      SELECT quantile_cont(o_totalprice, {_QB_QS}) AS bs FROM orders)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM (
      SELECT o_totalprice,
             CAST(1 + len(list_filter(bs, b -> o_totalprice > b)) AS INT) AS bucket
      FROM orders CROSS JOIN b)
    GROUP BY bucket
    """,
)
def q_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    qs = ", ".join(str(q) for q in _QB_QS)
    bounds = o.agg(F.expr(f"percentile(o_totalprice, array({qs}))").alias("bs"))
    binned = o.crossJoin(F.broadcast(bounds)).select(
        "o_totalprice",
        (
            1 + F.size(F.filter("bs", lambda b: F.col("o_totalprice") > b))
        ).alias("bucket"),
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Hashing-trick featurizer (sparse bag-of-words into k buckets)
# ---------------------------------------------------------------------------
_FH_K = 64


@query(
    "ml_feature_hashing",
    f"""
    SELECT doc_id,
           CAST({SQL_MD5LONG.format(x='t')} % {_FH_K} AS BIGINT) AS feat_idx,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents)
    GROUP BY doc_id, feat_idx
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: token -> md5-hash bucket in
    [0, k) -> per-doc sparse counts. One explode + one hash agg; the
    md5 bucket function is engine-portable (never engine-native
    hashes)."""
    from thrill_spark.functions.text import md5_long, tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("t"))
    return (
        toked.select(
            "doc_id", (md5_long(F.col("t")) % _FH_K).alias("feat_idx")
        )
        .groupBy("doc_id", "feat_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Near-dup cluster size histogram (corpus-health report): LSH pairs ->
# connected components -> component sizes -> histogram. The closure is
# replayed by the oracle's recursive CTE (same as dedup_cluster_assign)
# and aggregated twice.
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_histogram",
    None,  # filled below: needs _sql_lsh_pairs from queries_llm
)
def q_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.plans import algorithms as ALG

    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, num_hashes=_MH_K)
    pairs = D.lsh_candidate_pairs(sig, num_hashes=_MH_K, bands=_MH_BANDS)
    comp = ALG.connected_components(pairs, a="id_a", b="id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def _install_cluster_histogram_oracle() -> None:
    from thrill_spark.plans.queries import ORACLES
    from thrill_spark.plans.queries_llm import _sql_lsh_pairs

    ORACLES["dedup_cluster_histogram"] = f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({_sql_lsh_pairs()})),
    edges AS MATERIALIZED (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(src, n) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.n = e.u),
    comp AS (SELECT src AS node, MIN(n) AS component FROM reach GROUP BY src),
    sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """


_install_cluster_histogram_oracle()


# ---------------------------------------------------------------------------
# MERGE INTO / upsert (CDC ingestion): updates replace matched orders,
# new keys insert, the rest carry through — one full-outer join.
# ---------------------------------------------------------------------------
@query(
    "merge_upsert_orders",
    """
    WITH upd AS (
      SELECT o_orderkey + CASE WHEN o_orderkey % 14 = 0
                               THEN 10000000 ELSE 0 END AS o_orderkey,
             'U' AS o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_cents
      FROM orders WHERE o_orderkey % 7 = 0),
    base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders)
    SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.price_cents
                ELSE b.price_cents END AS price_cents,
           CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                THEN 'update'
                WHEN u.o_orderkey IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS _action
    FROM base b FULL OUTER JOIN upd u USING (o_orderkey)
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("price_cents"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            (
                F.col("o_orderkey")
                + F.when(F.col("o_orderkey") % 14 == 0, 10_000_000).otherwise(0)
            ).alias("o_orderkey"),
            F.lit("U").alias("o_orderstatus"),
            (cents + 500).alias("price_cents"),
        )
    )
    return merge_upsert(base, updates, ["o_orderkey"])


# ---------------------------------------------------------------------------
# Time-series gap fill (hypertable-style): complete hourly grid per
# user between first and last event, forward-filling the last observed
# value; no arithmetic on the filled doubles, so values carry
# bit-exactly.
# ---------------------------------------------------------------------------
@query(
    "events_gap_fill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             arg_max(value, ts) AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)),
    bounds AS (
      SELECT user_id, MIN(h) AS h_lo, MAX(h) AS h_hi
      FROM hourly GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h_lo, h_hi, INTERVAL 1 HOUR)) AS h
      FROM bounds)
    SELECT user_id, epoch_us(h) AS hour_us,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           v IS NULL AS is_gap
    FROM grid LEFT JOIN hourly USING (user_id, h)
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("h"), "value", "ts"
    )
    hourly = ev.groupBy("user_id", "h").agg(F.max_by("value", "ts").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h_lo", "h_hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    return joined.select(
        "user_id",
        F.unix_micros("h").alias("hour_us"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.isnull("v").alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: each purchase credits the latest click by
# the same user within a 1-hour lookback — the as-of join with a
# tolerance window (ad-attribution shape).
# ---------------------------------------------------------------------------
@query(
    "events_attribution_last_touch",
    """
    WITH p AS (SELECT event_id, user_id, ts AS pt FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS ct FROM events WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id, p.user_id, p.pt, MAX(c.ct) AS best_ct
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.ct <= p.pt
       AND c.ct >= p.pt - INTERVAL 1 HOUR
      GROUP BY p.event_id, p.user_id, p.pt)
    SELECT event_id, user_id, epoch_us(pt) AS purchase_us,
           coalesce(epoch_us(best_ct), -1) AS click_us,
           best_ct IS NOT NULL AS attributed
    FROM m
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.join import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, on_time_left="ts", on_time_right="click_ts",
        by=("user_id",), direction="backward",
    )
    within = F.col("click_ts_r").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("click_ts_r") <= 3_600_000_000
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.when(within, F.unix_micros("click_ts_r")).otherwise(-1).alias("click_us"),
        within.alias("attributed"),
    )


# ---------------------------------------------------------------------------
# Rolling time-RANGE aggregates per user (true event-time frame, not
# row counts): events in the trailing hour, exact integers.
# ---------------------------------------------------------------------------
@query(
    "events_rolling_hour_counts",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_last_hour
    FROM events
    """,
)
def q_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension maintenance: apply an update batch at T,
# closing open versions and inserting new ones; closed history
# untouched.
# ---------------------------------------------------------------------------
_SCD2_T = 1_735_689_600_000_000  # 2025-01-01 00:00:00 UTC in µs
_SCD2_OPEN = 1 << 62


@query(
    "scd2_orders_status",
    f"""
    WITH hist AS (
      SELECT o_orderkey, o_orderstatus,
             epoch_us(o_orderdate) - 2592000000000 AS valid_from_us,
             epoch_us(o_orderdate) AS valid_to_us
      FROM orders WHERE o_orderkey % 3 = 0),
    open_rows AS (
      SELECT o_orderkey, o_orderstatus,
             epoch_us(o_orderdate) AS valid_from_us,
             {_SCD2_OPEN} AS valid_to_us
      FROM orders),
    upd AS (SELECT o_orderkey, 'X' AS o_orderstatus FROM orders
            WHERE o_orderkey % 5 = 0)
    SELECT * FROM hist
    UNION ALL
    SELECT o_orderkey, o_orderstatus, valid_from_us,
           {_SCD2_T} AS valid_to_us
    FROM open_rows WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT * FROM open_rows WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, {_SCD2_T} AS valid_from_us,
           {_SCD2_OPEN} AS valid_to_us
    FROM upd
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.merge import scd2_apply

    o = load_table(spark, sf_dir, "orders")
    fr = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    hist = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (fr - 2_592_000_000_000).alias("valid_from_us"),
        fr.alias("valid_to_us"),
    )
    open_rows = o.select(
        "o_orderkey",
        "o_orderstatus",
        fr.alias("valid_from_us"),
        F.lit(_SCD2_OPEN).cast("long").alias("valid_to_us"),
    )
    base = hist.unionByName(open_rows)
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus")
    )
    return scd2_apply(base, upd, ["o_orderkey"], at_us=_SCD2_T)


# ---------------------------------------------------------------------------
# Edit-distance near-dup verify: LSH candidates -> levenshtein on the
# full normalized text (complements set-based Jaccard: catches small
# in-place edits that shift every shingle).
# ---------------------------------------------------------------------------
def _sql_fuzzy_lev() -> str:
    from thrill_spark.plans.queries_llm import _sql_lsh_pairs

    return f"""
    WITH cand AS (SELECT * FROM ({_sql_lsh_pairs()})),
    t AS (SELECT doc_id, array_to_string({SQL_TOKS}, ' ') AS norm FROM documents)
    SELECT id_a, id_b,
           CAST(levenshtein(ta.norm, tb.norm) AS BIGINT) AS lev,
           CAST(levenshtein(ta.norm, tb.norm) * 5
                <= greatest(length(ta.norm), length(tb.norm)) AS BOOLEAN) AS is_dup
    FROM cand JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b
    """


@query("dedup_fuzzy_levenshtein", _sql_fuzzy_lev())
def q_fuzzy_lev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions.text import tokens
    from thrill_spark.ordering import _persist

    docs = load_table(spark, sf_dir, "documents", spread=True)
    sig = D.minhash_signatures(docs, num_hashes=_MH_K)
    cand = _persist(D.lsh_candidate_pairs(sig, num_hashes=_MH_K, bands=_MH_BANDS))
    cand.count()
    t = docs.select(
        "doc_id", F.concat_ws(" ", tokens("text")).alias("norm")
    )
    ta = t.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("_na"))
    tb = t.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("_nb"))
    lev = F.levenshtein("_na", "_nb")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev"),
            (lev * 5 <= F.greatest(F.length("_na"), F.length("_nb"))).alias(
                "is_dup"
            ),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization + host dedup (web-corpus curation): lowercase
# host, strip tracking params / fragment / trailing slash, dedup by
# canonical form, count per host.
# ---------------------------------------------------------------------------
@query(
    "text_url_canonicalize",
    """
    WITH u AS (
      SELECT event_id,
             'HTTPS://S' || CAST(user_id % 5 AS VARCHAR) || '.Example.COM/p/'
               || CAST(event_id % 97 AS VARCHAR)
               || CASE WHEN event_id % 2 = 0 THEN '/' ELSE '' END
               || '?utm_source=x&id=' || CAST(user_id AS VARCHAR)
               || '#frag' AS raw
      FROM events),
    canon AS (
      SELECT event_id,
             lower('s' || ((event_id % 485) // 97) || '.example.com') AS host_unused,
             lower(regexp_extract(raw, 'https?://([^/]+)', 1)) AS host,
             regexp_replace(regexp_extract(raw, 'https?://[^/]+([^?#]*)', 1), '/+$', '') AS path,
             regexp_extract(raw, '[?&]id=([0-9]+)', 1) AS id_param
      FROM u)
    SELECT host, path || '?id=' || id_param AS canonical,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events
    FROM canon GROUP BY host, canonical
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical form: lowercased host, path without trailing slash /
    query / fragment, tracking params (utm_*) dropped, surviving id
    param re-appended — then exact dedup on the canonical URL. All
    string ops are JVM built-ins; the oracle replays the same regex
    pipeline."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("HTTPS://S"),
        (F.col("user_id") % 5).cast("string"),
        F.lit(".Example.COM/p/"),
        (F.col("event_id") % 97).cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&id="),
        F.col("user_id").cast("string"),
        F.lit("#frag"),
    )
    canon = ev.select(
        "event_id",
        F.lower(F.regexp_extract(raw, r"https?://([^/]+)", 1)).alias("host"),
        F.regexp_replace(
            F.regexp_extract(raw, r"https?://[^/]+([^?#]*)", 1), r"/+$", ""
        ).alias("path"),
        F.regexp_extract(raw, r"[?&]id=([0-9]+)", 1).alias("id_param"),
    )
    return (
        canon.groupBy(
            "host",
            F.concat(F.col("path"), F.lit("?id="), F.col("id_param")).alias(
                "canonical"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_distinct("event_id").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive training pairs): for
# each anchor doc, k hash-derived negatives != anchor, reproducible
# run-to-run and engine-to-engine.
# ---------------------------------------------------------------------------
_NEG_K = 4


@query(
    "ml_negative_sampling",
    f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(MIN(doc_id) AS BIGINT) AS id0 FROM documents),
    anchors AS (SELECT doc_id FROM documents)
    SELECT doc_id,
           CAST(j AS INT) AS neg_slot,
           CAST(id0 + (({{h}} % n_docs) + CASE WHEN id0 + ({{h}} % n_docs) = doc_id
                THEN 1 ELSE 0 END) % n_docs AS BIGINT) AS neg_id
    FROM anchors CROSS JOIN n
    CROSS JOIN (SELECT unnest(generate_series(0, {_NEG_K - 1})) AS j)
    """.format(
        h="CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)"
    ),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neg(doc, j) = id0 + ((h % n) + bump) % n with h = md5(doc||j),
    bump=1 when the draw hits the anchor itself — k collision-free
    negatives per anchor with zero RNG state; contiguous-id fixture
    makes modular indexing exact. Broadcast scalar (n_docs, id0); one
    explode; no shuffle at all."""
    from thrill_spark.functions.text import md5_long

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("id0"),
    )
    a = docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "n_docs",
        "id0",
        F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("neg_slot"),
    )
    h = md5_long(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("_"), F.col("neg_slot").cast("string")
        )
    )
    draw = F.col("id0") + (h % F.col("n_docs"))
    bump = F.when(draw == F.col("doc_id"), F.lit(1)).otherwise(F.lit(0))
    neg = F.col("id0") + ((h % F.col("n_docs")) + bump) % F.col("n_docs")
    return a.select(
        "doc_id",
        F.col("neg_slot").cast("int").alias("neg_slot"),
        neg.cast("long").alias("neg_id"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly flags (median / MAD): per event-type center + spread
# via EXACT interpolated percentiles (bit-identical across engines),
# flag events beyond 3 MAD. The robust-statistics monitoring shape.
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, med,
             quantile_cont(abs(e.value - med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med)
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           m.med AS med, m.mad AS mad,
           abs(e.value - m.med) > 3 * m.mad AS is_anomaly
    FROM events e JOIN mad m USING (event_type)
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return ev.join(mad, "event_type").select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        "med",
        "mad",
        (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


# ---------------------------------------------------------------------------
# Train/test leakage audit: hash-stable split assignment + exact-dup
# fingerprints; a document whose fingerprint appears in BOTH train and
# eval splits is a leak. Split-hygiene check every training-data
# pipeline should run.
# ---------------------------------------------------------------------------
@query(
    "corpus_leakage_check",
    """
    WITH assigned AS (
      SELECT doc_id,
             md5(array_to_string(list_filter(string_split_regex(lower(text), '\\s+'),
                                             t -> t <> ''), ' ')) AS fp,
             CASE WHEN CAST('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 10 < 8 THEN 'train' ELSE 'eval' END AS split
      FROM documents),
    fps AS (
      SELECT fp,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
      FROM assigned GROUP BY fp)
    SELECT fp, n_train, n_eval, n_train > 0 AND n_eval > 0 AS leaked
    FROM fps WHERE n_train + n_eval > 1
    """,
)
def q_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions.text import fingerprint, md5_long

    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        md5_long(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 10 < 8,
        "train",
    ).otherwise("eval")
    assigned = docs.select(
        fingerprint("text").alias("fp"), split.alias("split")
    )
    fps = assigned.groupBy("fp").agg(
        F.count_if(F.col("split") == "train").alias("n_train"),
        F.count_if(F.col("split") == "eval").alias("n_eval"),
    )
    return fps.filter(F.col("n_train") + F.col("n_eval") > 1).select(
        "fp",
        "n_train",
        "n_eval",
        ((F.col("n_train") > 0) & (F.col("n_eval") > 0)).alias("leaked"),
    )


# ---------------------------------------------------------------------------
# Schema evolution: generation 0 files lack price_cents, generation 1
# adds it; a mergeSchema read unifies both and nulls the missing
# column — the additive-column migration every long-lived lake table
# goes through.
# ---------------------------------------------------------------------------
@query(
    "io_schema_evolution",
    """
    SELECT CAST(o_orderkey % 2 AS BIGINT) AS gen,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_price
    FROM orders GROUP BY 1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir(spark, "schema_evo")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{root}/batch=0")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", cents.alias("price_cents")
    ).write.mode("overwrite").parquet(f"{root}/batch=1")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy((F.col("o_orderkey") % 2).alias("gen")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.isnull("price_cents")).alias("n_missing_price"),
    )


# ---------------------------------------------------------------------------
# Flagship composition #2: chunk-level dedup + sequence packing.
# Documents -> overlapping token chunks -> exact chunk dedup (keep the
# smallest (doc, chunk) per fingerprint) -> greedy first-fit packing
# of surviving chunks into 256-token training sequences. The oracle
# replays the whole chain, including the sequential packing fold as a
# recursive CTE per shard.
# ---------------------------------------------------------------------------
_CP_BUDGET = 256
_CP_SHARDS = 8


@query(
    "corpus_chunk_dedup_pack",
    f"""
    WITH RECURSIVE base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) > {_CHUNK}
                  THEN CAST((len(toks) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE} AS INT) + 1
                  ELSE 1 END AS nch
      FROM base),
    chunks AS (
      SELECT doc_id * 1000 + i AS uid,
             CAST(len(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}]) AS BIGINT) AS n_tokens,
             md5(array_to_string(toks[i*{_STRIDE}+1 : i*{_STRIDE}+{_CHUNK}], ' ')) AS fp
      FROM (SELECT doc_id, toks, unnest(generate_series(0, nch - 1)) AS i FROM c)),
    surv AS (
      SELECT MIN(uid) AS uid, MIN(n_tokens) AS n_tokens
      FROM chunks GROUP BY fp),
    s AS (
      SELECT uid, n_tokens,
             CAST({SQL_MD5LONG.format(x="CAST(uid AS VARCHAR)")} % {_CP_SHARDS} AS INT) AS shard
      FROM surv),
    r AS MATERIALIZED (
      SELECT uid, n_tokens, shard,
             row_number() OVER (PARTITION BY shard ORDER BY uid) AS rn
      FROM s),
    p AS (
      SELECT shard, uid, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.shard, r.uid, r.n_tokens, r.rn,
             CASE WHEN p.fill + r.n_tokens > {_CP_BUDGET}
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + r.n_tokens > {_CP_BUDGET}
                  THEN r.n_tokens ELSE p.fill + r.n_tokens END
      FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
    SELECT uid, n_tokens, CAST(shard AS INT) AS shard, bin FROM p
    """,
)
def q_chunk_dedup_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions.corpus import pack_greedy

    docs = load_table(spark, sf_dir, "documents")
    chunks = TX.chunk_token_windows(docs, chunk=_CHUNK, stride=_STRIDE)
    surv = (
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("uid"),
            F.col("n_toks").cast("long").alias("n_tokens"),
            F.col("chunk_fp"),
        )
        .groupBy("chunk_fp")
        .agg(F.min("uid").alias("uid"), F.min("n_tokens").alias("n_tokens"))
    )
    return pack_greedy(
        surv, "n_tokens", budget=_CP_BUDGET, id_col="uid", n_shards=_CP_SHARDS
    )


# ---------------------------------------------------------------------------
# Graph degree distribution (graph-health report for the dedup/CC
# stack): distinct-neighbor degree histogram of the lineitem-derived
# graph.
# ---------------------------------------------------------------------------
@query(
    "graph_degree_distribution",
    """
    WITH e AS (
      SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS u,
             greatest(l_partkey % 200, l_suppkey % 200) AS v
      FROM lineitem
      WHERE l_partkey % 200 <> l_suppkey % 200),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      GROUP BY n)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = (F.col("l_partkey") % 200).alias("a")
    b = (F.col("l_suppkey") % 200).alias("b")
    e = (
        li.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Top-k categories per event-time window (windowed rank — trending
# items per hour).
# ---------------------------------------------------------------------------
@query(
    "events_top_types_per_hour",
    """
    WITH c AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT h, event_type, n,
             row_number() OVER (PARTITION BY h ORDER BY n DESC, event_type) AS rk
      FROM c)
    SELECT h AS window_start, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 2
    """,
)
def q_top_types_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        c.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
    )


# ---------------------------------------------------------------------------
# Small-file compaction (ingestion maintenance): 64 micro-batch files
# rewritten into 4; content provably unchanged, achieved file counts
# emitted as checked columns.
# ---------------------------------------------------------------------------
@query(
    "io_compact_small_files",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           64 AS n_files_before, 4 AS n_files_after,
           TRUE AS compacted
    FROM orders
    """,
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from thrill_spark.sources.io import _parquet_file_count, compact_files

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = scratch_dir(spark, "compact")
    src, dst = f"{root}/small", f"{root}/compacted"
    o.repartition(64).write.mode("overwrite").parquet(src)
    n_before = _parquet_file_count(spark, src)
    n_after = compact_files(spark, src, dst, target_files=4)
    back = spark.read.parquet(dst)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.lit(n_before).cast("int").alias("n_files_before"),
        F.lit(n_after).cast("int").alias("n_files_after"),
        (F.lit(n_after) == 4).alias("compacted"),
    )


# ---------------------------------------------------------------------------
# Dataset manifest round-trip (verifiable hand-off): write parquet +
# _manifest.json (row count, order-insensitive md5 checksum), re-read,
# re-derive, compare.
# ---------------------------------------------------------------------------
@query(
    "io_manifest_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(BIT_XOR(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT)) AS BIGINT) AS checksum,
           TRUE AS verified
    FROM documents
    """,
)
def q_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from thrill_spark.sources.io import verify_manifest, write_with_manifest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = scratch_dir(spark, "manifest")
    write_with_manifest(docs, path, key_col="doc_id")
    m = verify_manifest(spark, path)
    return local_frame(
        spark,
        [(m["n_rows"], m["checksum"], m["verified"])],
        "n_rows long, checksum long, verified boolean",
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch point queries (Cormode-Muthukrishnan) over
# events.user_id: the estimate path is fully deterministic (md5 row
# hashes, integer counters), so the DuckDB oracle rebuilds the EXACT
# sketch and estimates — plus the mergeability property (sum of
# per-day sketches == global sketch) checked in-plan.
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 256


@query(
    "events_cms_frequency",
    f"""
    WITH probes AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 20),
    hashed AS (
      SELECT e.user_id, d.d AS row,
             CAST('0x' || substr(md5('cms|' || d.d || '|'
                                 || CAST(e.user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_CMS_W} AS slot
      FROM events e CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d) d),
    counters AS (
      SELECT row, slot, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY row, slot),
    probe_slots AS (
      SELECT p.user_id, d.d AS row,
             CAST('0x' || substr(md5('cms|' || d.d || '|'
                                 || CAST(p.user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_CMS_W} AS slot
      FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d) d),
    est AS (
      SELECT ps.user_id, CAST(MIN(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
      FROM probe_slots ps LEFT JOIN counters c USING (row, slot)
      GROUP BY ps.user_id)
    SELECT p.user_id, p.true_cnt, e.cms_est, TRUE AS merge_ok
    FROM probes p JOIN est e USING (user_id)
    """,
)
def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.reduce import cms_build, cms_estimate

    from thrill_spark.ordering import _persist

    ev = load_table(spark, sf_dir, "events")
    sketch = _persist(cms_build(ev, "user_id", depth=_CMS_D, width=_CMS_W))
    probes = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(20)
    )
    est = cms_estimate(sketch, probes, "user_id", depth=_CMS_D, width=_CMS_W)
    # mergeability: per-day sketches (pre-counted per day), counters
    # summed across days, must equal the global sketch exactly
    # (associative integer adds)
    by_day = (
        ev.select(F.to_date("ts").alias("_day"), "user_id")
        .groupBy("_day", "user_id")
        .agg(F.count("*").alias("_n"))
    )
    from thrill_spark.functions.text import md5_long

    rows = F.array(*[F.lit(d) for d in range(_CMS_D)])
    day_counters = (
        by_day.select(
            "_day",
            F.explode(rows).alias("row"),
            F.col("user_id").cast("string").alias("_k"),
            "_n",
        )
        .select(
            "row",
            (
                md5_long(
                    F.concat(
                        F.lit("cms|"),
                        F.col("row").cast("string"),
                        F.lit("|"),
                        F.col("_k"),
                    )
                )
                % _CMS_W
            ).alias("slot"),
            "_n",
        )
        .groupBy("row", "slot")
        .agg(F.sum("_n").cast("long").alias("cnt"))
    )
    diff = (
        sketch.join(day_counters, ["row", "slot"], "full")
        .filter(
            ~(
                F.coalesce(sketch["cnt"], F.lit(0))
                == F.coalesce(day_counters["cnt"], F.lit(0))
            )
        )
        .agg(F.count("*").alias("_bad"))
    )
    out = (
        probes.join(est, "user_id")
        .crossJoin(F.broadcast(diff))
        .select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("_bad") == 0).alias("merge_ok"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Entity resolution (Fellegi-Sunter record linkage) on a deterministic
# dirty-copy corpus: every 5th customer gets a perturbed duplicate
# (digits 0->O in the name, +7 cents balance). Multi-pass blocking
# (nation+name-tail, segment+balance-band) generates candidates via
# equi-joins; integer agreement weights score each pair; threshold 80.
# Fully deterministic -> exact pair-level oracle.
# ---------------------------------------------------------------------------
_ER_THRESH = 80


@query(
    "er_customer_linkage",
    f"""
    WITH base AS (
      SELECT c_custkey AS rid, c_name AS name, c_nationkey AS nat,
             c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer),
    dirty AS (
      SELECT rid + 10000000 AS rid, translate(name, '0', 'O') AS name,
             nat, seg, bal_cents + 7 AS bal_cents
      FROM base WHERE rid % 5 = 0),
    recs AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
    b1 AS (
      SELECT a.rid AS a_rid, b.rid AS b_rid,
             a.name AS a_name, b.name AS b_name, a.nat AS a_nat,
             b.nat AS b_nat, a.seg AS a_seg, b.seg AS b_seg,
             a.bal_cents AS a_bal, b.bal_cents AS b_bal
      FROM recs a JOIN recs b
        ON a.nat = b.nat
       AND substr(a.name, length(a.name)-2, 3) = substr(b.name, length(b.name)-2, 3)
       AND a.rid < b.rid),
    b2 AS (
      SELECT a.rid AS a_rid, b.rid AS b_rid,
             a.name AS a_name, b.name AS b_name, a.nat AS a_nat,
             b.nat AS b_nat, a.seg AS a_seg, b.seg AS b_seg,
             a.bal_cents AS a_bal, b.bal_cents AS b_bal
      FROM recs a JOIN recs b
        ON a.seg = b.seg
       AND (a.bal_cents + 100000) // 1000 = (b.bal_cents + 100000) // 1000
       AND a.rid < b.rid),
    cand AS (SELECT DISTINCT * FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)),
    scored AS (
      SELECT a_rid, b_rid,
             CAST((CASE WHEN levenshtein(a_name, b_name) <= 8 THEN 40 ELSE 0 END)
                + (CASE WHEN a_nat = b_nat THEN 20 ELSE 0 END)
                + (CASE WHEN abs(a_bal - b_bal) <= 10 THEN 25 ELSE 0 END)
                + (CASE WHEN a_seg = b_seg THEN 15 ELSE 0 END) AS BIGINT) AS score
      FROM cand)
    SELECT a_rid, b_rid, score FROM scored WHERE score >= {_ER_THRESH}
    """,
)
def q_er_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import linkage as L

    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        # floor(x*100 + 0.5), not round(): Spark rounds HALF_UP and
        # DuckDB HALF_EVEN, which diverges on exact .5 cents (hit at
        # sf0.1); floor of the identical double expression is
        # IEEE-exact on both engines
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    dirty = base.filter(F.col("rid") % 5 == 0).select(
        (F.col("rid") + 10000000).alias("rid"),
        F.translate("name", "0", "O").alias("name"),
        "nat",
        "seg",
        (F.col("bal_cents") + 7).alias("bal_cents"),
    )
    recs = base.unionByName(dirty)
    p1 = L.block_candidates(recs, ["nat", F.substring("name", -3, 3)], id_col="rid")
    # band on a NON-NEGATIVE shift of the balance: integer division
    # floors in Spark's pmod formulation but truncates in DuckDB's //
    # for negatives — the engines only agree on non-negative operands
    # (acctbal floor is -999.99, so +100000 cents clears zero)
    p2 = L.block_candidates(
        recs,
        ["seg", F.expr("(bal_cents + 100000) div 1000")],
        id_col="rid",
    )
    cand = p1.unionByName(p2).dropDuplicates(["a_rid", "b_rid"])
    scored = L.score_pairs(
        cand,
        [
            (F.levenshtein("a_name", "b_name") <= 8, 40),
            (F.col("a_nat") == F.col("b_nat"), 20),
            (F.abs(F.col("a_bal_cents") - F.col("b_bal_cents")) <= 10, 25),
            (F.col("a_seg") == F.col("b_seg"), 15),
        ],
    )
    return scored.filter(F.col("score") >= _ER_THRESH).select(
        "a_rid", "b_rid", "score"
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation over REAL WAV decode: 20-sample frame
# energies from actual PCM parsing, then gaps-and-islands into silence
# segments (the VAD/trim front-end). The fixture WAVs plant silent
# frames (frame%5 < 2 -> all-zero), and the oracle recomputes every
# sample, energy, and island from the closed-form generator — a wrong
# container parse, frame split, or run grouping breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "multimodal_silence_segments",
    """
    WITH s AS (
      SELECT doc_id,
             unnest(generate_series(0, 100 + doc_id % 50 - 1)) AS i
      FROM documents),
    sm AS (
      SELECT doc_id, i // 20 AS f,
             CASE WHEN (i // 20) % 5 < 2 THEN 0
                  ELSE ((doc_id * 31 + i * 17) % 2048) - 1024 END AS smp
      FROM s),
    e AS (SELECT doc_id, f, SUM(smp * smp) AS energy FROM sm GROUP BY doc_id, f),
    sil AS (
      SELECT doc_id, f,
             f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS g
      FROM e WHERE energy <= 0)
    SELECT doc_id AS id, CAST(MIN(f) AS INT) AS start_frame,
           CAST(MAX(f) AS INT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM sil GROUP BY doc_id, g
    """,
)
def q_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_wav_media_gated(docs, "id")
    energies = MM.wav_frame_energies(media, frame_samples=20)
    return MM.silence_segments(energies, threshold=0)


# ---------------------------------------------------------------------------
# Cluster topic cards: sign-LSH buckets over embeddings as
# deterministic "clusters" (the SemDeDup bucket machinery), joined to
# the documents' text, then per-cluster top-5 terms by integer lift
# (cluster tf / corpus tf, scaled). The human-readable summary every
# corpus-clustering pipeline ships — and fully SQL-replicable, unlike
# k-means cards.
# ---------------------------------------------------------------------------
_CARD_PLANES = 4
_CARD_TOPN = 5
_CARD_MIN_CNT = 3


def _sql_cluster_cards() -> str:
    from thrill_spark.functions import similarity as S
    from thrill_spark.plans.queries_llm import SQL_TOKS

    planes = S.hyperplanes(64, _CARD_PLANES, seed=0)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', p)} > 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM embeddings),
    tok AS (
      SELECT s.bucket, unnest({SQL_TOKS}) AS term
      FROM documents d JOIN sig s ON s.vec_id = d.doc_id),
    ct AS (SELECT bucket, term, CAST(COUNT(*) AS BIGINT) AS term_cnt
           FROM tok GROUP BY bucket, term),
    corpus AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS corpus_cnt FROM tok GROUP BY term),
    totals AS (SELECT bucket, CAST(SUM(term_cnt) AS BIGINT) AS cluster_total FROM ct GROUP BY bucket),
    gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_total FROM tok),
    lift AS (
      SELECT ct.bucket, ct.term, ct.term_cnt,
             CAST(ct.term_cnt * corpus_total * 10000
                  // (corpus.corpus_cnt * totals.cluster_total) AS BIGINT) AS lift_bp
      FROM ct JOIN corpus USING (term)
           JOIN totals USING (bucket) CROSS JOIN gt
      WHERE ct.term_cnt >= {_CARD_MIN_CNT})
    SELECT bucket, term, term_cnt, lift_bp,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
              ORDER BY lift_bp DESC, term_cnt DESC, term) AS rk FROM lift)
    WHERE rk <= {_CARD_TOPN}
    """


@query("cluster_topic_cards", _sql_cluster_cards())
def q_cluster_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from thrill_spark.functions import similarity as S
    from thrill_spark.functions.text import tokens

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    sig = S.lsh_signature(emb, dim=64, n_planes=_CARD_PLANES, seed=0).select(
        F.col("vec_id").alias("doc_id"), F.col("lsh_bucket").alias("bucket")
    )
    tok = docs.join(sig, "doc_id").select(
        "bucket", F.explode(tokens("text")).alias("term")
    )
    from thrill_spark.ordering import _persist

    tok = _persist(tok)
    ct = tok.groupBy("bucket", "term").agg(F.count("*").cast("long").alias("term_cnt"))
    ct = _persist(ct)
    corpus = ct.groupBy("term").agg(F.sum("term_cnt").cast("long").alias("corpus_cnt"))
    totals = ct.groupBy("bucket").agg(
        F.sum("term_cnt").cast("long").alias("cluster_total")
    )
    gt = ct.agg(F.sum("term_cnt").cast("long").alias("corpus_total"))
    lift = (
        ct.filter(F.col("term_cnt") >= _CARD_MIN_CNT)
        .join(corpus, "term")
        .join(F.broadcast(totals), "bucket")
        .crossJoin(F.broadcast(gt))
        .select(
            "bucket",
            "term",
            "term_cnt",
            F.expr(
                "term_cnt * corpus_total * 10000 div (corpus_cnt * cluster_total)"
            ).cast("long").alias("lift_bp"),
        )
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("lift_bp"), F.desc("term_cnt"), F.asc("term")
    )
    return (
        lift.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _CARD_TOPN)
        .select("bucket", "term", "term_cnt", "lift_bp", "rank")
    )


# ---------------------------------------------------------------------------
# Time-decayed activity counters: each event contributes
# 2^20 >> hours_ago (integer halving per hour, capped at 20h) to its
# user's score — the exponential-decay counter every freshness-aware
# ranking keeps, in exact integer arithmetic both engines reproduce.
# ---------------------------------------------------------------------------
@query(
    "events_decay_counters",
    """
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    h AS (
      SELECT user_id,
             least((CAST(floor(epoch(max_ts)) AS BIGINT)
                    - CAST(floor(epoch(ts)) AS BIGINT)) // 3600, 20) AS hrs
      FROM events CROSS JOIN mx)
    SELECT user_id,
           CAST(SUM(1048576 // CAST(pow(2, hrs) AS BIGINT)) AS BIGINT)
             AS decay_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM h GROUP BY user_id
    """,
)
def q_decay_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("_max_ts"))
    h = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.least(
            (
                (F.unix_timestamp("_max_ts") - F.unix_timestamp("ts"))
                - F.pmod(
                    F.unix_timestamp("_max_ts") - F.unix_timestamp("ts"),
                    F.lit(3600),
                )
            )
            / 3600,
            F.lit(20),
        )
        .cast("long")
        .alias("hrs"),
    )
    return h.groupBy("user_id").agg(
        F.sum(F.expr("1048576 div cast(pow(2, hrs) as bigint)"))
        .cast("long")
        .alias("decay_score"),
        F.count("*").cast("long").alias("n_events"),
    )
