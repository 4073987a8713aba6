"""Queries batch: advanced curation operators — corpus-trained bigram
LM surprisal, substring-level duplicated-n-gram cover (ExactSubstr at
n-gram granularity), int8 embedding quantization, JL random
projection, and join-key skew diagnostics.

No reference analogue (Thrill's examples stop at WordCount / TPC-H
join, reference/thrill/examples/); these are the data-curation and
capacity-planning operators a 100 TB training-data pipeline runs.
Floating-point outputs follow the functions/similarity.py determinism
contract (sequential left folds ≡ DuckDB list_reduce); everything
else is exact-integer / md5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thrill_spark.catalog import load_table, scratch_dir
from thrill_spark.functions import dedup as D
from thrill_spark.functions import embed as E
from thrill_spark.functions import profile as P
from thrill_spark.functions import text as TX
from thrill_spark.plans.queries import query
from thrill_spark.plans.queries_llm import SQL_TOKS

# ---------------------------------------------------------------------------
# Corpus-trained bigram LM surprisal (exact-integer -log p stand-in)
# ---------------------------------------------------------------------------


@query(
    "text_bigram_lm",
    f"""
    WITH base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    docs2 AS (SELECT * FROM base WHERE len(toks) >= 2),
    bg AS (
      SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(0, len(toks) - 2)) AS i
            FROM docs2)),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT t) AS v FROM
          (SELECT w1 AS t FROM bg UNION ALL SELECT w2 FROM bg))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((c1 + v) // (c12 + 1)) AS BIGINT) AS surprisal
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return TX.bigram_surprisal(docs)


# ---------------------------------------------------------------------------
# Duplicated-n-gram cover (substring-level dedup signal, n = 8)
# ---------------------------------------------------------------------------
_COVER_N = 8


@query(
    "dedup_ngram_cover",
    f"""
    WITH base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    docs AS (SELECT * FROM base WHERE len(toks) >= {_COVER_N}),
    occ AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i+1:i+{_COVER_N}], ' ')) AS g
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(0, len(toks) - {_COVER_N})) AS i
            FROM docs)),
    dupg AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) > 1),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS cpos
      FROM (SELECT doc_id, pos, unnest(generate_series(0, {_COVER_N} - 1)) AS j
            FROM occ WHERE g IN (SELECT g FROM dupg))),
    pt AS (
      SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
            FROM docs)),
    kept AS (
      SELECT pt.* FROM pt
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc_id = pt.doc_id AND cov.cpos = pt.tpos)),
    ka AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY tpos)) AS kept_fp,
                  COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id)
    SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(len(d.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_dup_tokens,
           CAST((len(d.toks) - coalesce(ka.n_kept, 0)) * 10000
                // len(d.toks) AS BIGINT) AS dup_frac_bp,
           coalesce(ka.kept_fp, md5('')) AS kept_fp
    FROM docs d LEFT JOIN ka USING (doc_id)
    """,
)
def q_ngram_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.duplicated_ngram_cover(docs, n=_COVER_N)


# ---------------------------------------------------------------------------
# int8 embedding quantization (storage 4x cut; reconstruction audit)
# ---------------------------------------------------------------------------


@query(
    "ml_embedding_quantize",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS scale FROM v),
    q AS (SELECT vec_id, v, scale,
                 CASE WHEN scale = 0.0
                      THEN list_transform(v, x -> 0)
                      ELSE list_transform(
                             v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS INT))
                 END AS q
          FROM s)
    SELECT vec_id, scale,
           md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ','))
             AS q_fp,
           CASE WHEN scale = 0.0 THEN 0.0 ELSE
             list_reduce(list_transform(generate_series(1, len(v)),
                 i -> (v[i] - q[i] * scale / 127.0)
                    * (v[i] - q[i] * scale / 127.0)),
                 (a, b) -> a + b)
           END AS sq_err
    FROM q
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return E.quantize_int8(emb)


# ---------------------------------------------------------------------------
# JL +-1 random projection 64 -> 8 dims (md5-derived signs, fold-exact)
# ---------------------------------------------------------------------------
_JL_DIM = 8


def _sql_jl() -> str:
    cols = ",\n           ".join(
        f"""list_reduce(list_transform(generate_series(0, len(v) - 1),
               j -> v[j+1] * (CASE WHEN substr(md5(CAST(j * {_JL_DIM} + {k} AS VARCHAR)), 1, 1) < '8'
                              THEN 1.0 ELSE -1.0 END)),
               (a, b) -> a + b) AS p{k}"""
        for k in range(_JL_DIM)
    )
    return f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id,
           {cols}
    FROM v
    """


@query("ml_random_projection", _sql_jl())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return E.random_project(emb, out_dim=_JL_DIM)


# ---------------------------------------------------------------------------
# Join-key skew diagnostic on orders.o_custkey
# ---------------------------------------------------------------------------
_SKEW_TOPN = 20


@query(
    "profile_key_skew",
    f"""
    WITH counts AS (
      SELECT CAST(o_custkey AS BIGINT) AS key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY o_custkey),
    t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM counts)
    SELECT key, n_rows,
           CAST(n_rows * 10000 // total AS BIGINT) AS share_bp,
           CAST(n_rows * 1000 * n_keys // total AS BIGINT) AS x_mean_millis
    FROM counts CROSS JOIN t
    ORDER BY n_rows DESC, key ASC LIMIT {_SKEW_TOPN}
    """,
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return P.key_skew_report(orders, "o_custkey", top_n=_SKEW_TOPN)


# ---------------------------------------------------------------------------
# Deterministic label propagation (community detection), 3 rounds,
# on the 200-node lineitem-derived graph
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 3


def _sql_lpa() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""v{r} AS (
      SELECT und.u, {prev}.community AS nl, COUNT(*) AS c
      FROM und JOIN {prev} ON und.v = {prev}.node GROUP BY und.u, {prev}.community),
    l{r} AS (
      SELECT u AS node, community FROM (
        SELECT u, nl AS community,
               ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, nl ASC) AS rn
        FROM v{r}) WHERE rn = 1)"""
        )
        prev = f"l{r}"
    body = ",\n    ".join(rounds)
    return f"""
    WITH e0 AS (
      SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
             greatest(l_partkey % 200, l_suppkey % 200) AS b
      FROM lineitem WHERE l_partkey % 200 <> l_suppkey % 200),
    und AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
    l0 AS (SELECT DISTINCT u AS node, u AS community FROM und),
    {body}
    SELECT CAST(node AS BIGINT) AS node, CAST(community AS BIGINT) AS community
    FROM {prev}
    """


@query("graph_label_propagation", _sql_lpa())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.plans.algorithms import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            (F.col("l_partkey") % 200).alias("x"), (F.col("l_suppkey") % 200).alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
    out = label_propagation(e, rounds=_LPA_ROUNDS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing quotas (alpha = 0.5) over documents
# ---------------------------------------------------------------------------
_MIX_BUDGET = 100_000


@query(
    "corpus_temperature_mix",
    f"""
    WITH counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY source),
    w AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM counts),
    t AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS total
          FROM w)
    SELECT source, n_docs,
           CAST(floor({_MIX_BUDGET}.0 * w / total) AS BIGINT) AS quota
    FROM w CROSS JOIN t
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.functions import corpus as C

    docs = load_table(spark, sf_dir, "documents")
    return C.temperature_mix_quotas(docs, "source", budget=_MIX_BUDGET)


# ---------------------------------------------------------------------------
# Streaming CDC ingestion: foreachBatch MERGE into a keyed parquet
# target; final table = latest row per user (order-independent
# resolution => stream ≡ batch hard oracle)
# ---------------------------------------------------------------------------


@query(
    "events_stream_upsert",
    """
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from thrill_spark.streaming.sink import ForeachBatchUpsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = scratch_dir(spark, "fbu")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ev.repartition(8).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    sink = ForeachBatchUpsert(
        os.path.join(base, "target"), ["user_id"], ["ts", "event_id"]
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=300)
    finally:
        q.stop()
    return sink.result(spark)


# ---------------------------------------------------------------------------
# Gopher-style quality gate (Rae et al. 2021 rule subset, exact-integer)
# ---------------------------------------------------------------------------
_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 100_000


@query(
    "text_gopher_gate",
    f"""
    WITH base AS (
      SELECT doc_id, {SQL_TOKS} AS toks, lower(text) AS lt FROM documents),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_words,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(toks, t -> CAST(length(t) AS BIGINT))),
                 (a, b) -> a + b) AS word_chars,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a')))
               AS stop_hits,
             length(lt) - length(replace(replace(lt, '#', ''), '...', ''))
               AS sym_chars
      FROM base)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
             AS words_ok,
           (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
             AS wordlen_ok,
           (sym_chars * 10 <= n_words) AS symbols_ok,
           (stop_hits >= 2) AS stopwords_ok,
           (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS}
            AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
            AND sym_chars * 10 <= n_words AND stop_hits >= 2) AS keep
    FROM feat
    """,
)
def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    lt = F.lower(F.col("text"))
    feat = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
        ).alias("word_chars"),
        F.size(
            F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "a"))
        ).alias("stop_hits"),
        (
            F.length(lt)
            - F.length(F.replace(F.replace(lt, F.lit("#"), F.lit("")), F.lit("..."), F.lit("")))
        ).alias("sym_chars"),
    )
    words_ok = (F.col("n_words") >= _GOPHER_MIN_WORDS) & (
        F.col("n_words") <= _GOPHER_MAX_WORDS
    )
    wordlen_ok = (F.col("word_chars") >= 3 * F.col("n_words")) & (
        F.col("word_chars") <= 10 * F.col("n_words")
    )
    symbols_ok = F.col("sym_chars") * 10 <= F.col("n_words")
    stopwords_ok = F.col("stop_hits") >= 2
    return feat.select(
        "doc_id",
        "n_words",
        words_ok.alias("words_ok"),
        wordlen_ok.alias("wordlen_ok"),
        symbols_ok.alias("symbols_ok"),
        stopwords_ok.alias("stopwords_ok"),
        (words_ok & wordlen_ok & symbols_ok & stopwords_ok).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-domain token-budget snapshot (keyed running prefix sum + cutoff)
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 20_000


@query(
    "corpus_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({SQL_TOKS}) AS BIGINT) AS n_toks
      FROM documents),
    r AS (
      SELECT doc_id, source, n_toks,
             CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
      FROM t)
    SELECT doc_id, source, n_toks, running
    FROM r WHERE running <= {_BUDGET_TOKENS}
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain snapshot: take documents in doc_id
    order within each source until the domain's token budget fills.
    The running sum is a KEYED window (partitioned by source), so the
    plan is one hash shuffle on source — no global-order
    single-partition funnel; at 100 TB each domain's scan is
    independent and the cutoff prunes everything past the budget."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(TX.tokens("text")).cast("long").alias("n_toks")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    return t.withColumn("running", F.sum("n_toks").over(w)).filter(
        F.col("running") <= _BUDGET_TOKENS
    )


# ---------------------------------------------------------------------------
# PCA top component by fixed-point power iteration (3 rounds)
# ---------------------------------------------------------------------------
_PCA_ITERS = 3
_PCA_Q = 1000


def _sql_power_iteration() -> str:
    steps = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        steps.append(
            f"""u{t} AS (
      SELECT x.vec_id, CAST(SUM(x.xq * v.val) AS BIGINT) AS u
      FROM x JOIN {prev} v USING (dim) GROUP BY x.vec_id),
    w{t} AS (
      SELECT x.dim, CAST(SUM(u.u * x.xq) AS BIGINT) AS w
      FROM x JOIN u{t} u USING (vec_id) GROUP BY x.dim),
    d{t} AS (SELECT CAST(MAX(abs(w)) // {_PCA_Q} + 1 AS BIGINT) AS d FROM w{t}),
    v{t} AS (
      SELECT dim, CAST(floor(CAST(w AS DOUBLE) / CAST(d AS DOUBLE)) AS BIGINT)
               AS val
      FROM w{t} CROSS JOIN d{t})"""
        )
        prev = f"v{t}"
    body = ",\n    ".join(steps)
    return f"""
    WITH x AS (
      SELECT vec_id, j - 1 AS dim,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * {_PCA_Q} + 0.5) AS BIGINT)
               AS xq
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS j
            FROM embeddings)),
    v0 AS (SELECT DISTINCT dim, CAST({_PCA_Q} AS BIGINT) AS val FROM x),
    {body}
    SELECT CAST(dim AS INT) AS dim, val FROM {prev}
    """


@query("ml_pca_power_iteration", _sql_power_iteration())
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return E.power_iteration_top_component(
        emb, iterations=_PCA_ITERS, quant=_PCA_Q
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: quarterly promotion windows x lineitem
# ship-activity intervals (bin-explode rewrite, dedup-free)
# ---------------------------------------------------------------------------


@query(
    "interval_join_promotions",
    """
    WITH w AS (
      SELECT ws, ws + 45 * INTERVAL 1 DAY AS we FROM (
        SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                      TIMESTAMP '2001-10-01',
                                      INTERVAL 3 MONTH)) AS ws)),
    li AS (
      SELECT l_orderkey, l_shipdate AS s,
             l_shipdate + (CAST(l_quantity AS BIGINT) % 14 + 1)
               * INTERVAL 1 DAY AS e
      FROM lineitem)
    SELECT w.ws AS w_start, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT li.l_orderkey) AS BIGINT) AS n_orders
    FROM w JOIN li ON li.s <= w.we AND w.ws <= li.e
    GROUP BY w.ws
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.join import interval_overlap_join

    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey",
        F.col("l_shipdate").alias("s"),
        F.expr(
            "l_shipdate + make_dt_interval(cast(l_quantity as bigint) % 14 + 1, 0, 0, 0)"
        ).alias("e"),
    )
    w = spark.sql(
        """
        SELECT ws, ws + make_dt_interval(45, 0, 0, 0) AS we
        FROM (SELECT explode(sequence(timestamp'1995-01-01',
                                      timestamp'2001-10-01',
                                      interval 3 months)) AS ws)
        """
    )
    joined = interval_overlap_join(w, li, "ws", "we", "s", "e", bin_days=30)
    return joined.groupBy(F.col("ws").alias("w_start")).agg(
        F.count("*").cast("long").alias("n_items"),
        F.count_distinct("l_orderkey").cast("long").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# ANN over JL-projected codes: 8-bit sign bucket -> within-bucket exact
# cosine rescore -> top-k. Deterministic end-to-end, so unlike the
# recall-floor ANN oracles this one is HASH-EXACT.
# ---------------------------------------------------------------------------
_RP_K = 3


def _sql_rp_ann() -> str:
    proj = ",\n             ".join(
        f"""list_reduce(list_transform(generate_series(0, len(v) - 1),
                 j -> v[j+1] * (CASE WHEN substr(md5(CAST(j * {_JL_DIM} + {k} AS VARCHAR)), 1, 1) < '8'
                                THEN 1.0 ELSE -1.0 END)),
                 (a, b) -> a + b) AS p{k}"""
        for k in range(_JL_DIM)
    )
    code = " + ".join(f"(CASE WHEN p{k} > 0.0 THEN {1 << k} ELSE 0 END)" for k in range(_JL_DIM))
    dot = (
        "list_reduce(list_transform(list_zip(a.emb, b.emb),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )
    nrm = (
        "sqrt(list_reduce(list_transform({e}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)),"
        " (x, y) -> x + y))"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding AS emb,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    pr AS (SELECT vec_id, emb,
             {proj}
           FROM v),
    c AS (SELECT vec_id, emb, {code} AS code FROM pr),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {dot} / ({nrm.format(e="a.emb")} * {nrm.format(e="b.emb")}) AS cs
      FROM c a JOIN c b ON a.code = b.code AND a.vec_id <> b.vec_id)
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id ASC) AS rnk
      FROM pairs) WHERE rnk <= {_RP_K}
    """


@query("similarity_rp_ann", _sql_rp_ann())
def q_rp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN after dimensionality reduction: bucket on the 8-bit sign
    code of the JL projection (256 buckets), exact fold-cosine rescore
    inside each bucket, top-k per query. The bucket join is a plain
    hash-shuffle equi-join; candidate work per query is corpus/256 in
    expectation — the JL composition that makes 100 TB ANN affordable.
    Every step is deterministic, so the oracle hash-checks actual
    neighbor ids, not just a recall floor."""
    from pyspark.sql import Window as W

    from thrill_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    dim = E.vector_dim(emb)
    # keep_cols carries the embedding through the projection, so the
    # bucket code and the rescore vector come out of ONE scan — the
    # previous join back to emb (an extra exchange/broadcast) is gone.
    proj = E.random_project(
        emb, out_dim=_JL_DIM, keep_cols=("embedding",), dim=dim
    )
    code = sum(
        (F.when(F.col(f"p{k}") > 0.0, F.lit(1 << k)).otherwise(F.lit(0)))
        for k in range(_JL_DIM)
    )
    # Per-row norm BEFORE the bucket self-join (norm is pair-invariant
    # and the same fold gives the same bits wherever it runs): n norms
    # instead of 2 per candidate pair; fixed-dim kernels keep the whole
    # rescore codegen'd instead of interpreted HOF folds.
    c = proj.select(
        "vec_id",
        code.alias("code"),
        "embedding",
        S.norm_fixed("embedding", dim).alias("_nrm"),
    )
    a = c.select(
        F.col("vec_id").alias("query_id"),
        F.col("code"),
        F.col("embedding").alias("_qa"),
        F.col("_nrm").alias("_na"),
    )
    b = c.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("code"),
        F.col("embedding").alias("_qb"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = (
        a.join(b, "code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                S.dot_fixed("_qa", "_qb", dim)
                / (F.col("_na") * F.col("_nb"))
            ).alias("_cs"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RP_K)
        .select("query_id", "neighbor_id", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup survivors: LSH -> verify -> CC clusters, keep the
# LONGEST member per cluster (not min-id) — the curation policy that
# keeps the best version of near-duplicate docs
# ---------------------------------------------------------------------------


def _sql_quality_survivors() -> str:
    from thrill_spark.plans.queries_corpus import _VERIFY_TAU
    from thrill_spark.plans.queries_llm import SQL_SHINGLES3, _sql_lsh_pairs

    inter = "len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))"
    return f"""
    WITH RECURSIVE cand AS ({_sql_lsh_pairs()}),
    sh AS (SELECT doc_id, shingles, len(shingles) AS n FROM (
             SELECT doc_id, {SQL_SHINGLES3} AS shingles FROM (
               SELECT doc_id, {SQL_TOKS} AS toks FROM documents))),
    ver AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE CAST({inter} AS DOUBLE) / (sa.n + sb.n - {inter}) >= {_VERIFY_TAU}),
    edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM ver
              UNION SELECT id_b AS u, id_a AS v FROM ver),
    reach(src, n) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.n = e.u),
    comp AS (SELECT src AS node, MIN(n) AS component FROM reach GROUP BY src),
    nt AS (SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
           FROM documents),
    memb AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster, nt.n_tokens
      FROM documents d
      LEFT JOIN comp c ON c.node = d.doc_id
      JOIN nt ON nt.doc_id = d.doc_id)
    SELECT doc_id, cluster, n_tokens, (rn = 1) AS is_survivor FROM (
      SELECT doc_id, cluster, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY n_tokens DESC, doc_id ASC) AS rn
      FROM memb)
    """


@query("dedup_quality_survivors", _sql_quality_survivors())
def q_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from thrill_spark.functions import dedup as D2
    from thrill_spark.plans import algorithms as ALG
    from thrill_spark.plans.queries_corpus import _VERIFY_TAU
    from thrill_spark.plans.queries_llm import _MH_BANDS, _MH_K

    docs = load_table(spark, sf_dir, "documents")
    edges = D2.lsh_verified_pairs(
        docs, num_hashes=_MH_K, bands=_MH_BANDS, threshold=_VERIFY_TAU
    )
    comp = ALG.connected_components(edges, a="id_a", b="id_b")
    nt = docs.select("doc_id", F.size(TX.tokens("text")).cast("long").alias("n_tokens"))
    memb = (
        nt.join(comp, nt["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
            "n_tokens",
        )
    )
    w = W.partitionBy("cluster").orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
    return memb.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", "cluster", "n_tokens", (F.col("rn") == 1).alias("is_survivor")
    )


# ---------------------------------------------------------------------------
# Join-cardinality predictor: exact output-size forecast from the two
# key-count tables (vocabulary-sized work), checked against the real join
# ---------------------------------------------------------------------------


@query(
    "profile_join_cardinality",
    """
    WITH cl AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
    co AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    pred AS (SELECT CAST(SUM(cl.c * co.c) AS BIGINT) AS predicted_rows
             FROM cl JOIN co USING (k)),
    act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT predicted_rows, actual_rows,
           predicted_rows = actual_rows AS match
    FROM pred CROSS JOIN act
    """,
)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |A join B| WITHOUT running the join: sum of per-key
    count products over the (vocabulary-sized) key-count tables — the
    shuffle-planning probe for whether a join's output explodes. The
    query then runs the real join once to assert the prediction."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cl = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("cl"))
    co = orders.groupBy(F.col("o_orderkey").alias("k")).agg(F.count("*").alias("co"))
    pred = cl.join(co, "k").agg(
        F.sum(F.col("cl") * F.col("co")).cast("long").alias("predicted_rows")
    )
    act = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
        F.count("*").cast("long").alias("actual_rows")
    )
    return pred.crossJoin(act).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias("match"),
    )


# ---------------------------------------------------------------------------
# Nested JSON shredding: build nested order->items JSON docs, then
# schema-on-read shred them back into typed rows
# ---------------------------------------------------------------------------


@query(
    "fn_json_shred_nested",
    """
    SELECT l_orderkey AS order_id, CAST(l_linenumber AS INT) AS line,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def q_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round trip: nest each order's lineitems into a
    JSON document (sort_array for a deterministic item order), then
    shred the JSON column back to typed rows with an explicit
    from_json schema + explode — the lakehouse ingestion pattern for
    JSON event payloads. The oracle checks the end-to-end semantics
    directly against the base table (the JSON hop must be lossless)."""
    from pyspark.sql import types as T

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    docs = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.struct(
                F.col("l_orderkey").alias("order_id"),
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber").cast("int").alias("line"),
                            F.col("l_quantity").cast("long").alias("qty"),
                        )
                    )
                ).alias("items"),
            )
        ).alias("js")
    )
    schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("line", T.IntegerType()),
                            T.StructField("qty", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    shredded = docs.select(F.from_json(F.col("js"), schema).alias("d")).select(
        F.col("d.order_id").alias("order_id"), F.explode("d.items").alias("it")
    )
    return shredded.select(
        "order_id", F.col("it.line").alias("line"), F.col("it.qty").alias("qty")
    )


# ---------------------------------------------------------------------------
# Capped sessionization: 30-min-gap sessions additionally split at a
# 2-hour max duration (sub-session = elapsed-since-start div cap —
# closed-form, no sequential fold)
# ---------------------------------------------------------------------------
_SESS_GAP_US = 30 * 60 * 1_000_000
_SESS_CAP_US = 2 * 3600 * 1_000_000


@query(
    "events_sessionize_capped",
    f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM (SELECT user_id, ts,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                     AS prev_us
            FROM events)),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked),
    capped AS (
      SELECT user_id, session_id, ts,
             (epoch_us(ts) - MIN(epoch_us(ts)) OVER
                (PARTITION BY user_id, session_id)) // {_SESS_CAP_US}
               AS sub_id
      FROM sess)
    SELECT user_id, session_id, CAST(sub_id AS BIGINT) AS sub_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
    FROM capped GROUP BY user_id, session_id, sub_id
    """,
)
def q_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    marked = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > _SESS_GAP_US), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    ws = W.partitionBy("user_id", "session_id")
    capped = sess.withColumn(
        "sub_id",
        ((us - F.min(us).over(ws)) / F.lit(_SESS_CAP_US)).cast("long"),
    )
    return capped.groupBy("user_id", "session_id", "sub_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
    )


# ---------------------------------------------------------------------------
# Strict-order funnel WITHIN sessions: view -> click-after-view ->
# purchase-after-click, each inside the same 30-min-gap session
# ---------------------------------------------------------------------------


@query(
    "events_funnel_in_session",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM (SELECT user_id, ts, event_type,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                     AS prev_us
            FROM events)),
    sess AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked),
    v AS (SELECT user_id, session_id, MIN(us) AS v_us FROM sess
          WHERE event_type = 'view' GROUP BY user_id, session_id),
    c AS (SELECT s.user_id, s.session_id, MIN(s.us) AS c_us
          FROM sess s JOIN v ON s.user_id = v.user_id
                             AND s.session_id = v.session_id
          WHERE s.event_type = 'click' AND s.us >= v.v_us
          GROUP BY s.user_id, s.session_id),
    p AS (SELECT s.user_id, s.session_id, MIN(s.us) AS p_us
          FROM sess s JOIN c ON s.user_id = c.user_id
                             AND s.session_id = c.session_id
          WHERE s.event_type = 'purchase' AND s.us >= c.c_us
          GROUP BY s.user_id, s.session_id)
    SELECT CAST((SELECT COUNT(*) FROM (SELECT DISTINCT user_id, session_id
                                       FROM sess) t) AS BIGINT) AS n_sessions,
           CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
)
def q_funnel_in_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    marked = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > _SESS_GAP_US), 1
        ).otherwise(0),
    )
    sess = marked.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long").alias(
            "session_id"
        ),
    )
    from thrill_spark.ordering import _persist

    sess = _persist(sess)
    key = ["user_id", "session_id"]
    v = (
        sess.filter(F.col("event_type") == "view")
        .groupBy(*key)
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        sess.join(v, key)
        .filter((F.col("event_type") == "click") & (F.col("us") >= F.col("v_us")))
        .groupBy(*key)
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        sess.join(c, key)
        .filter((F.col("event_type") == "purchase") & (F.col("us") >= F.col("c_us")))
        .groupBy(*key)
        .agg(F.min("us").alias("p_us"))
    )
    n_sessions = sess.select(*key).distinct().agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return (
        n_sessions.crossJoin(v.agg(F.count("*").cast("long").alias("n_view")))
        .crossJoin(c.agg(F.count("*").cast("long").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("n_purchase_after_click")))
    )


# ---------------------------------------------------------------------------
# Lexical diversity (TTR + hapax fraction, exact basis points)
# ---------------------------------------------------------------------------


@query(
    "text_lexical_diversity",
    f"""
    WITH tc AS (
      SELECT doc_id, t, COUNT(*) AS c FROM (
        SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents)
      GROUP BY doc_id, t)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) * 10000 // SUM(c) AS BIGINT) AS ttr_bp,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000 // SUM(c)
                AS BIGINT) AS hapax_bp
    FROM tc GROUP BY doc_id
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.lexical_diversity(docs)


# ---------------------------------------------------------------------------
# zlib compression-ratio signal (mapInPandas; invariant oracle — zlib
# is not SQL-expressible)
# ---------------------------------------------------------------------------


@query(
    "text_compression_ratio",
    "SELECT doc_id, TRUE AS bounds_ok, TRUE AS doubling_ok FROM documents",
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = TX.compression_signals(docs)
    return out.select("doc_id", "bounds_ok", "doubling_ok")


# ---------------------------------------------------------------------------
# Forward as-of join: for each view, the NEXT click at-or-after it
# (completes the as-of family: backward query already registered)
# ---------------------------------------------------------------------------


@query(
    "asof_join_next_click",
    """
    WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, epoch_us(ts) AS us FROM events
          WHERE event_type = 'click')
    SELECT v.event_id, v.user_id, v.us AS view_us,
           (SELECT MIN(c.us) FROM c
            WHERE c.user_id = v.user_id AND c.us >= v.us) AS next_click_us
    FROM v
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thrill_spark.operators.join import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.unix_micros("ts").alias("view_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("click_us")
    )
    out = asof_join(
        views, clicks, "view_us", "click_us", by=["user_id"], direction="forward"
    )
    return out.select(
        "event_id", "user_id", "view_us",
        F.col("click_us_r").alias("next_click_us"),
    )


# ---------------------------------------------------------------------------
# Streaming restart / exactly-once: interrupt a checkpointed stream
# mid-run, restart it, and hash-match the batch answer (idempotent
# foreachBatch-upsert sink absorbs any replayed micro-batch)
# ---------------------------------------------------------------------------


@query(
    "events_stream_restart_exactly_once",
    """
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from thrill_spark.streaming.sink import ForeachBatchUpsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = scratch_dir(spark, "restart")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ev.repartition(8).write.mode("overwrite").parquet(src)
    ckpt = os.path.join(base, "ckpt")
    target = os.path.join(base, "target")

    def start(sink):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # First run: kill after (at most) a few micro-batches.
    q1 = start(ForeachBatchUpsert(target, ["user_id"], ["ts", "event_id"]))
    q1.awaitTermination(timeout=8)
    q1.stop()
    q1.awaitTermination()
    # Restart from the same checkpoint with a FRESH sink instance, as a
    # real driver restart would: the sink recovers the last committed
    # v{n} from disk, the file source resumes at the last committed
    # offset, and any in-flight batch replays into the idempotent
    # merge. Run to completion this time.
    sink2 = ForeachBatchUpsert(target, ["user_id"], ["ts", "event_id"])
    q2 = start(sink2)
    try:
        q2.awaitTermination(timeout=300)
    finally:
        q2.stop()
    return sink2.result(spark)


# ---------------------------------------------------------------------------
# Link prediction by common-neighbor Jaccard (top-5 candidate edges
# per node among non-adjacent pairs at distance 2)
# ---------------------------------------------------------------------------
_LP_TOPK = 5


@query(
    "graph_link_prediction",
    f"""
    WITH e0 AS (
      SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS a,
             greatest(l_partkey % 200, l_suppkey % 200) AS b
      FROM lineitem WHERE l_partkey % 200 <> l_suppkey % 200),
    und AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    wedge AS (
      SELECT x.u AS a, y.v AS b, COUNT(*) AS cn
      FROM und x JOIN und y ON x.v = y.u AND x.u < y.v
      GROUP BY x.u, y.v),
    cand AS (
      SELECT w.a, w.b, w.cn FROM wedge w
      WHERE NOT EXISTS (SELECT 1 FROM e0
                        WHERE e0.a = w.a AND e0.b = w.b)),
    scored AS (
      SELECT c.a, c.b, c.cn,
             CAST(c.cn * 10000 // (da.d + db.d - c.cn) AS BIGINT) AS jac_bp
      FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b)
    SELECT a, b, CAST(cn AS BIGINT) AS cn, jac_bp FROM (
      SELECT a, b, cn, jac_bp,
             ROW_NUMBER() OVER (PARTITION BY a
                                ORDER BY jac_bp DESC, cn DESC, b ASC) AS rn
      FROM scored) WHERE rn <= {_LP_TOPK}
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction: wedges give candidate pairs at
    distance 2, existing edges are anti-joined away, and the Jaccard
    of neighborhoods scores each candidate (integer basis points).
    One self-join on the shared endpoint (hash shuffle, wedge volume
    bounded by sum of degree^2 — the triangle-count cost profile) plus
    vocabulary-sized degree joins."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        li.select(
            (F.col("l_partkey") % 200).alias("x"), (F.col("l_suppkey") % 200).alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
    from thrill_spark.ordering import _persist

    e0 = _persist(e0)
    und = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("u"), F.col("b").alias("v"))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    x = und.select(F.col("u").alias("a"), F.col("v").alias("m"))
    y = und.select(F.col("u").alias("m"), F.col("v").alias("b"))
    wedge = (
        x.join(y, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    cand = wedge.join(e0, ["a", "b"], "left_anti")
    scored = (
        cand.join(deg.select(F.col("u").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "cn",
            F.expr("cn * 10000 div (da + db - cn)").cast("long").alias("jac_bp"),
        )
    )
    w = W.partitionBy("a").orderBy(
        F.col("jac_bp").desc(), F.col("cn").desc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LP_TOPK)
        .select("a", "b", F.col("cn").cast("long").alias("cn"), "jac_bp")
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width histograms: per-day value histograms merged into
# a global quantile estimate, band-checked against the exact quantile
# ---------------------------------------------------------------------------
_HIST_BINS = 100


@query(
    "events_histogram_quantile",
    f"""
    WITH b AS (SELECT CAST(floor(value * {_HIST_BINS}) AS BIGINT) AS bin
               FROM events WHERE value >= 0 AND value < 1),
    h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bin),
    t AS (SELECT SUM(c) AS n FROM h),
    cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) AS run FROM h),
    est AS (SELECT MIN(bin) AS p50_bin FROM cum CROSS JOIN t
            WHERE run * 2 >= t.n)
    SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_bins,
           CAST(p50_bin AS BIGINT) AS p50_bin,
           TRUE AS band_ok
    FROM est
    """,
)
def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-summary quantiles: equi-width integer histograms are
    trivially mergeable (binwise add — the continuous-aggregate
    maintenance property HLL day-sketches have for distincts), and a
    merged histogram answers any quantile to bin precision. Built
    per-day then merged, estimating the median; band_ok asserts the
    exact median falls inside the estimated bin (the histogram error
    bound). The cumulative scan runs over the BIN table (n_bins rows),
    not the event stream."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 1)
    )
    # per-day histograms (the mergeable summaries)...
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * _HIST_BINS).cast("long").alias("bin"),
    ).agg(F.count("*").alias("c"))
    # ...merged binwise into the global histogram
    h = daily.groupBy("bin").agg(F.sum("c").cast("long").alias("c"))
    from thrill_spark.ordering import _persist

    h = _persist(h)
    t = h.agg(F.sum("c").cast("long").alias("n"))
    # cumulative over bins: tiny keyed-by-nothing table of n_bins rows —
    # a scalar-scale window, same class as a scalar aggregate merge
    from pyspark.sql import Window as W

    cum = h.crossJoin(F.broadcast(t)).withColumn(
        "run",
        F.sum("c").over(
            W.partitionBy("n").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    est = cum.filter(F.col("run") * 2 >= F.col("n")).agg(
        F.min("bin").cast("long").alias("p50_bin")
    )
    n_bins = h.agg(F.count("*").cast("long").alias("n_bins"))
    # exact median (bit-exact percentile on the doubles) for the band check
    exact = ev.agg(F.expr("percentile(value, 0.5)").alias("_m"))
    return (
        n_bins.crossJoin(est)
        .crossJoin(exact)
        .select(
            "n_bins",
            "p50_bin",
            (
                (F.col("_m") >= F.col("p50_bin") / F.lit(float(_HIST_BINS)))
                & (F.col("_m") < (F.col("p50_bin") + 2) / F.lit(float(_HIST_BINS)))
            ).alias("band_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Classification evaluation: deterministic rule classifier vs labels ->
# confusion counts + accuracy in basis points
# ---------------------------------------------------------------------------


@query(
    "ml_eval_confusion",
    """
    WITH p AS (
      SELECT label,
             CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0 THEN 1 ELSE 0 END
               AS pred
      FROM embeddings),
    cm AS (SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
           FROM p GROUP BY label, pred),
    t AS (SELECT SUM(n) AS total,
                 SUM(CASE WHEN label % 2 = pred THEN n ELSE 0 END) AS hits
          FROM cm)
    SELECT cm.label, cm.pred, cm.n,
           CAST(t.hits * 10000 // t.total AS BIGINT) AS accuracy_bp
    FROM cm CROSS JOIN t
    """,
)
def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval table stakes: confusion matrix + accuracy from a
    deterministic rule classifier (sign of the first embedding
    coordinate vs label parity). One groupBy plus a broadcast scalar;
    the pattern holds for any UDF-scored model at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = emb.select(
        "label",
        F.when(F.col("embedding")[0].cast("double") > 0.0, 1).otherwise(0).alias("pred"),
    )
    cm = p.groupBy("label", "pred").agg(F.count("*").cast("long").alias("n"))
    from thrill_spark.ordering import _persist

    cm = _persist(cm)
    t = cm.agg(
        F.sum("n").alias("_total"),
        F.sum(F.when(F.col("label") % 2 == F.col("pred"), F.col("n")).otherwise(0)).alias(
            "_hits"
        ),
    )
    return cm.crossJoin(F.broadcast(t)).select(
        "label",
        "pred",
        "n",
        F.expr("_hits * 10000 div _total").cast("long").alias("accuracy_bp"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching report (padding-waste accounting)
# ---------------------------------------------------------------------------
_LB_WIDTH = 16
_LB_CAP = 16


@query(
    "corpus_length_buckets",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({SQL_TOKS}) AS BIGINT) AS n
               FROM documents),
    b AS (SELECT least(n // {_LB_WIDTH}, {_LB_CAP}) AS bucket, n FROM t)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(MAX(n) AS BIGINT) AS bucket_max,
           CAST((COUNT(*) * MAX(n) - SUM(n)) * 10000
                // (COUNT(*) * MAX(n)) AS BIGINT) AS padding_bp
    FROM b GROUP BY bucket
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly planning: bucket sequences by length so
    per-batch padding (to the bucket max) is cheap, and report the
    exact padding waste per bucket in basis points — the number that
    justifies bucketed batching over pad-to-global-max. One explode-
    free pass: token counts + a keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.size(TX.tokens("text")).cast("long").alias("n"))
    b = t.select(F.least(F.expr(f"n div {_LB_WIDTH}"), F.lit(_LB_CAP)).alias("bucket"), "n")
    return b.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.max("n").cast("long").alias("bucket_max"),
        F.expr(
            "CAST((count(*) * max(n) - sum(n)) * 10000 div (count(*) * max(n)) AS BIGINT)"
        ).alias("padding_bp"),
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (deterministic md5 span masking)
# ---------------------------------------------------------------------------
_SC_CHUNK = 3  # mean span length: whole 3-token chunks mask together
_SC_PCT = 15  # noise density in percent
_SENTINEL = "<extra_id>"


@query(
    "corpus_span_corruption",
    f"""
    WITH base AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    ch AS (
      SELECT doc_id, toks, c,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
                                      CAST(c AS VARCHAR)), 1, 15) AS BIGINT)
               % 100 < {_SC_PCT} AS masked
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(0, (len(toks) - 1) // {_SC_CHUNK})) AS c
            FROM base WHERE len(toks) > 0)),
    parts AS (
      SELECT doc_id,
             CASE WHEN masked THEN ['{_SENTINEL}']
                  ELSE toks[c * {_SC_CHUNK} + 1 : c * {_SC_CHUNK} + {_SC_CHUNK}]
             END AS inp_part,
             CASE WHEN masked
                  THEN toks[c * {_SC_CHUNK} + 1 : c * {_SC_CHUNK} + {_SC_CHUNK}]
                  ELSE [] END AS tgt_part,
             c
      FROM ch),
    agg AS (
      SELECT doc_id,
             flatten(list(inp_part ORDER BY c)) AS inp,
             flatten(list(tgt_part ORDER BY c)) AS tgt
      FROM parts GROUP BY doc_id)
    SELECT doc_id,
           CAST(len(tgt) AS BIGINT) AS n_masked,
           md5(coalesce(array_to_string(inp, ' '), '')) AS input_fp,
           md5(coalesce(array_to_string(tgt, ' '), '')) AS target_fp
    FROM agg
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5 span corruption: 3-token chunks mask as whole
    spans when md5(doc_id, chunk) lands under the 15% noise density;
    masked spans collapse to one sentinel in the input and concatenate
    into the target. Pure array expressions (transform + flatten) —
    no explode/shuffle at all; the oracle rebuilds both streams and
    md5-matches them."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    chunk_slice = (
        f"slice(_toks, c * {_SC_CHUNK} + 1, {_SC_CHUNK})"
    )
    masked = (
        f"(conv(substring(md5(concat(cast(doc_id as string), '-', cast(c as string))), 1, 15), 16, 10)"
        f" % 100) < {_SC_PCT}"
    )
    parts = base.select(
        "doc_id",
        F.expr(
            f"""
            flatten(transform(sequence(0, (size(_toks) - 1) div {_SC_CHUNK}),
              c -> CASE WHEN {masked} THEN array('{_SENTINEL}')
                        ELSE {chunk_slice} END))
            """
        ).alias("inp"),
        F.expr(
            f"""
            flatten(transform(sequence(0, (size(_toks) - 1) div {_SC_CHUNK}),
              c -> CASE WHEN {masked} THEN {chunk_slice}
                        ELSE array() END))
            """
        ).alias("tgt"),
    )
    return parts.select(
        "doc_id",
        F.size("tgt").cast("long").alias("n_masked"),
        F.md5(F.array_join("inp", " ")).alias("input_fp"),
        F.md5(F.array_join("tgt", " ")).alias("target_fp"),
    )


# ---------------------------------------------------------------------------
# Dataset card: one-row corpus summary (the hand-off artifact)
# ---------------------------------------------------------------------------


@query(
    "corpus_dataset_card",
    f"""
    WITH t AS (SELECT doc_id, lang, source,
                      CAST(len({SQL_TOKS}) AS BIGINT) AS n_toks,
                      md5(array_to_string({SQL_TOKS}, ' ')) AS fp
               FROM documents),
    d AS (SELECT CAST(SUM(cnt) AS BIGINT) AS dup_docs FROM (
            SELECT COUNT(*) AS cnt FROM t GROUP BY fp HAVING COUNT(*) > 1))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(coalesce(MAX(d.dup_docs), 0) AS BIGINT) AS exact_dup_docs,
           CAST(coalesce(MAX(d.dup_docs), 0) * 10000 // COUNT(*) AS BIGINT)
             AS dup_bp
    FROM t CROSS JOIN d
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(TX.tokens("text")).cast("long").alias("n_toks"),
        TX.fingerprint("text").alias("fp"),
    )
    from thrill_spark.ordering import _persist

    t = _persist(t)
    dup = (
        t.groupBy("fp")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("dup_docs"))
    )
    card = t.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
    )
    return card.crossJoin(F.broadcast(dup)).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_sources",
        F.col("dup_docs").alias("exact_dup_docs"),
        F.expr("dup_docs * 10000 div n_docs").cast("long").alias("dup_bp"),
    )


# ---------------------------------------------------------------------------
# Near-dup threshold sweep: pair/doc counts at 4 Jaccard cutoffs from
# ONE candidate-verification pass
# ---------------------------------------------------------------------------
_SWEEP_TAUS = (30, 50, 70, 90)  # percent


def _sql_threshold_sweep() -> str:
    from thrill_spark.plans.queries_llm import SQL_SHINGLES3, _sql_lsh_pairs

    inter = "len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))"
    taus = ", ".join(f"({t})" for t in _SWEEP_TAUS)
    return f"""
    WITH cand AS ({_sql_lsh_pairs()}),
    sh AS (SELECT doc_id, shingles, len(shingles) AS n FROM (
             SELECT doc_id, {SQL_SHINGLES3} AS shingles FROM (
               SELECT doc_id, {SQL_TOKS} AS toks FROM documents))),
    jac AS (
      SELECT id_a, id_b,
             CAST({inter} AS DOUBLE) / (sa.n + sb.n - {inter}) AS j
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b),
    taus(tau_pct) AS (VALUES {taus})
    SELECT CAST(tau_pct AS BIGINT) AS tau_pct,
           CAST(COUNT(CASE WHEN j * 100 >= tau_pct THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN j * 100 >= tau_pct THEN id_a END)
              + COUNT(DISTINCT CASE WHEN j * 100 >= tau_pct THEN id_b END)
              - COUNT(DISTINCT CASE WHEN j * 100 >= tau_pct
                                    AND list_contains(
                                          (SELECT list(DISTINCT id_b) FROM jac j2
                                           WHERE j2.j * 100 >= tau_pct), id_a)
                                    THEN id_a END) AS BIGINT) AS n_docs_hi
    FROM jac CROSS JOIN taus GROUP BY tau_pct
    """


@query("dedup_threshold_sweep", _sql_threshold_sweep())
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup policy tuning: how many near-dup pairs (and docs touched)
    survive at each Jaccard cutoff — computed from ONE LSH-candidate
    verification pass (the expensive part), then four cheap aggregates
    over the cached pair list."""
    from thrill_spark.functions import dedup as D2
    from thrill_spark.ordering import _persist
    from thrill_spark.plans.queries_llm import _MH_BANDS, _MH_K

    docs = load_table(spark, sf_dir, "documents")
    pairs = _persist(
        D2.lsh_verified_pairs(docs, num_hashes=_MH_K, bands=_MH_BANDS, threshold=0.0)
    )
    taus = spark.createDataFrame([(t,) for t in _SWEEP_TAUS], ["tau_pct"])
    hit = F.col("jaccard") * 100 >= F.col("tau_pct")
    per_tau = (
        pairs.crossJoin(F.broadcast(taus))
        .select("tau_pct", "id_a", "id_b", hit.alias("hit"))
    )
    n_pairs = per_tau.groupBy("tau_pct").agg(
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_pairs")
    )
    docs_hi = (
        per_tau.filter("hit")
        .select("tau_pct", F.explode(F.array("id_a", "id_b")).alias("d"))
        .groupBy("tau_pct")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_hi"))
    )
    return (
        n_pairs.join(docs_hi, "tau_pct", "left")
        .select(
            F.col("tau_pct").cast("long").alias("tau_pct"),
            "n_pairs",
            F.coalesce(F.col("n_docs_hi"), F.lit(0)).cast("long").alias("n_docs_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Linear (equal-credit) multi-touch attribution with integer credits
# ---------------------------------------------------------------------------
_ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "events_attribution_linear",
    f"""
    WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
               FROM events WHERE event_type = 'purchase'),
    t AS (SELECT event_id AS t_id, user_id, event_type, epoch_us(ts) AS t_us
          FROM events WHERE event_type IN ('view', 'click')),
    pairs AS (
      SELECT p.p_id, t.t_id, t.event_type
      FROM p JOIN t ON p.user_id = t.user_id
      WHERE t.t_us <= p.p_us AND t.t_us > p.p_us - {_ATTR_LOOKBACK_US}),
    nt AS (SELECT p_id, COUNT(*) AS n FROM pairs GROUP BY p_id),
    credit AS (
      SELECT pairs.event_type,
             10000 // nt.n
             + CASE WHEN ROW_NUMBER() OVER (PARTITION BY pairs.p_id
                                            ORDER BY pairs.t_id) = 1
                    THEN 10000 % nt.n ELSE 0 END AS c
      FROM pairs JOIN nt USING (p_id))
    SELECT event_type, CAST(SUM(c) AS BIGINT) AS total_credit_bp,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM credit GROUP BY event_type
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-credit multi-touch attribution in exact integers: each
    purchase splits 10000 bp across its lookback-window touches
    (10000 div n each, remainder to the lowest-id touch so credits sum
    to exactly 10000 per converting purchase). User-keyed equi-join +
    time filter; per-purchase windows are keyed by purchase id."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", us.alias("p_us")
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"), "user_id", "event_type", us.alias("t_us")
    )
    pairs = p.join(t, "user_id").filter(
        (F.col("t_us") <= F.col("p_us"))
        & (F.col("t_us") > F.col("p_us") - _ATTR_LOOKBACK_US)
    )
    from thrill_spark.ordering import _persist

    pairs = _persist(pairs.select("p_id", "t_id", "event_type"))
    nt = pairs.groupBy("p_id").agg(F.count("*").alias("n"))
    w = W.partitionBy("p_id").orderBy("t_id")
    credit = (
        pairs.join(nt, "p_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "event_type",
            (
                F.expr("10000 div n")
                + F.when(F.col("rn") == 1, F.expr("10000 % n")).otherwise(0)
            ).alias("c"),
        )
    )
    return credit.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("total_credit_bp"),
        F.count("*").cast("long").alias("n_touches"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (dHash over REAL decoded PNGs)
# ---------------------------------------------------------------------------


@query(
    "multimodal_phash_dedup",
    """
    WITH g AS (SELECT doc_id, doc_id % 32 + 1 AS w, doc_id % 24 + 1 AS h
               FROM documents),
    bits AS (
      SELECT doc_id,
             array_to_string(flatten(list_transform(generate_series(0, 7), y ->
                list_transform(generate_series(0, 7), x ->
                  CASE WHEN (((x+1)*w//9)*7 + (y*h//8)*13 + doc_id) % 256
                          > ((x*w//9)*7 + (y*h//8)*13 + doc_id) % 256
                       THEN '1' ELSE '0' END))), '') AS phash_bits
      FROM g)
    SELECT phash_bits, CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM bits GROUP BY phash_bits
    """,
)
def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup fingerprinting end-to-end on REAL bytes: encode
    a deterministic PNG per row, fully decode it (inflate + unfilter),
    dHash the 9x8 resample, and group identical hashes. The oracle
    rebuilds every bit from the closed-form pixel function, so a wrong
    decode, resample, or bit order anywhere breaks the hash match."""
    from thrill_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_png_media(docs, "id")
    ph = MM.phash_real_png(media, id_col="id")
    return ph.groupBy("phash_bits").agg(
        F.count("*").cast("long").alias("n_images"),
        F.min("id").cast("long").alias("min_id"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two table versions: added/removed/changed)
# ---------------------------------------------------------------------------


@query(
    "io_snapshot_diff",
    """
    WITH v1 AS (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
                WHERE o_orderkey % 5 <> 0),
    v2 AS (SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS s
           FROM orders WHERE o_orderkey % 11 <> 0)
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.s <> v2.s THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
    GROUP BY change
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: one co-keyed
    full-outer join classifies every key as added / removed / changed
    / unchanged — the audit you run before publishing a new dataset
    version (pairs with io_manifest_roundtrip's hand-off check). The
    two versions here derive deterministically from orders so the
    oracle replays the classification exactly."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s1")
    )
    v2 = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, "X").otherwise(
            F.col("o_orderstatus")
        ).alias("s2"),
    )
    classified = v1.join(v2, "k", "full_outer").select(
        F.when(F.col("s1").isNull(), "added")
        .when(F.col("s2").isNull(), "removed")
        .when(F.col("s1") != F.col("s2"), "changed")
        .otherwise("unchanged")
        .alias("change")
    )
    return classified.groupBy("change").agg(F.count("*").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Data-quality audit (null rates, range violations, referential orphans)
# ---------------------------------------------------------------------------


@query(
    "profile_data_quality",
    """
    SELECT
      CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
        AS neg_quantity,
      CAST((SELECT COUNT(*) FROM lineitem WHERE l_discount < 0
                                             OR l_discount > 1) AS BIGINT)
        AS bad_discount,
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        AS orphan_orders,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS orphan_lineitems,
      CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL) AS BIGINT)
        AS null_totalprice
    """,
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-validation rules in one pass per table: range checks
    (non-positive quantity, discount outside [0,1]), referential
    integrity (orders without a customer, lineitems without an order —
    broadcast/shuffle anti-joins), and null checks. The production
    pre-publish gate; all counts exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    neg_q = li.filter(F.col("l_quantity") <= 0).agg(
        F.count("*").cast("long").alias("neg_quantity")
    )
    bad_d = li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).agg(
        F.count("*").cast("long").alias("bad_discount")
    )
    orphan_o = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count("*").cast("long").alias("orphan_orders"))
    orphan_l = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    ).agg(F.count("*").cast("long").alias("orphan_lineitems"))
    null_tp = orders.filter(F.col("o_totalprice").isNull()).agg(
        F.count("*").cast("long").alias("null_totalprice")
    )
    return (
        neg_q.crossJoin(bad_d)
        .crossJoin(orphan_o)
        .crossJoin(orphan_l)
        .crossJoin(null_tp)
    )


# ---------------------------------------------------------------------------
# Market-basket frequent pairs (co-purchased parts, support-filtered)
# ---------------------------------------------------------------------------
_FP_MIN_SUPPORT = 3
_FP_TOPK = 50


@query(
    "basket_frequent_pairs",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                   FROM lineitem),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS support
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_FP_MIN_SUPPORT})
    SELECT p1, p2, CAST(support AS BIGINT) AS support FROM (
      SELECT p1, p2, support,
             ROW_NUMBER() OVER (ORDER BY support DESC, p1 ASC, p2 ASC) AS rn
      FROM pairs) WHERE rn <= {_FP_TOPK}
    """,
)
def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori first rung at scale: per-basket item sets self-join on
    the basket key (fan-out bounded by items-per-basket squared),
    support count + threshold, global top-k. The basket self-join is
    the canonical co-occurrence pattern (same cost shape as triangle
    counting's wedge join)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = items.select("o", F.col("p").alias("p1"))
    b = items.select("o", F.col("p").alias("p2"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _FP_MIN_SUPPORT)
    )
    return (
        pairs.orderBy(F.desc("support"), F.asc("p1"), F.asc("p2"))
        .limit(_FP_TOPK)
        .select("p1", "p2", F.col("support").cast("long").alias("support"))
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment join (streaming events x customer dimension)
# ---------------------------------------------------------------------------


@query(
    "events_stream_enrich",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming side joins a static dimension
    DataFrame (Spark broadcasts it into every micro-batch — the
    standard enrichment topology; the dim is re-resolvable per batch
    at scale). Aggregated counts come from a real availableNow run
    into a memory sink and must equal the batch join exactly."""
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    base = scratch_dir(spark, "enrich")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = stream.join(cust, stream["user_id"] == cust["c_custkey"]).groupBy(
        "segment", "event_type"
    ).agg(F.count("*").cast("long").alias("n"))
    name = "stream_enrich_sink"
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=300)
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier via domain-bounded reduction
# ---------------------------------------------------------------------------


@query(
    "skyline_price_quantity",
    """
    WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
                      MIN(l_extendedprice) AS min_price
               FROM lineitem GROUP BY 1)
    SELECT a.qty, a.min_price FROM g a
    WHERE NOT EXISTS (SELECT 1 FROM g b
                      WHERE b.qty > a.qty AND b.min_price <= a.min_price)
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (maximize quantity, minimize price) without any
    global sort: reduce to the bounded qty domain first (one keyed
    aggregate -> <=50 rows), then the dominance filter is a broadcast
    self-anti-join on the tiny reduced set. The classic skyline
    rewrite when one axis has bounded cardinality — corpus-size work
    is exactly one aggregation at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("long").alias("qty")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    from thrill_spark.ordering import _persist

    g = _persist(g)
    b = g.select(F.col("qty").alias("_bq"), F.col("min_price").alias("_bp"))
    dominated = (F.col("_bq") > F.col("qty")) & (F.col("_bp") <= F.col("min_price"))
    return g.join(F.broadcast(b), dominated, "left_anti")


# ---------------------------------------------------------------------------
# Incremental view maintenance: base aggregate + delta batch == full
# recompute (the mergeable-aggregate contract for count/sum rollups)
# ---------------------------------------------------------------------------


@query(
    "events_incremental_rollup",
    """
    WITH full_agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sv
      FROM events GROUP BY event_type)
    SELECT event_type, n, sv, TRUE AS merged_matches_full
    FROM full_agg
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance for plain count/sum rollups:
    aggregate the base partition (ts before the split), aggregate the
    late-arriving delta separately, merge binwise (counts and integer
    value sums add), and assert the merged table equals a from-scratch
    recompute. The oracle pins the merged numbers AND the equality
    flag — a non-mergeable aggregation path would break both."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", F.floor(F.col("value") * 1000).cast("long").alias("qv")
    )
    split = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.8)").alias("s"))
    base = ev.crossJoin(F.broadcast(split)).filter(F.unix_micros("ts") <= F.col("s"))
    delta = ev.crossJoin(F.broadcast(split)).filter(F.unix_micros("ts") > F.col("s"))

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("qv").cast("long").alias("sv"),
        )

    merged = (
        agg(base)
        .unionByName(agg(delta))
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("sv").cast("long").alias("sv"))
    )
    full = agg(ev).select(
        F.col("event_type").alias("ft"), F.col("n").alias("fn"), F.col("sv").alias("fsv")
    )
    return (
        merged.join(full, merged["event_type"] == full["ft"])
        .select(
            "event_type",
            "n",
            "sv",
            ((F.col("n") == F.col("fn")) & (F.col("sv") == F.col("fsv"))).alias(
                "merged_matches_full"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average per user (hypertable op, exact integers)
# ---------------------------------------------------------------------------


@query(
    "events_time_weighted_avg",
    """
    WITH t AS (
      SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS qv,
             epoch_us(ts) // 1000000 AS t_s,
             lead(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS nxt_s
      FROM events),
    w AS (SELECT user_id, CAST(SUM(qv * (nxt_s - t_s)) AS BIGINT) AS wsum,
                 CAST(SUM(nxt_s - t_s) AS BIGINT) AS dt
          FROM t WHERE nxt_s IS NOT NULL GROUP BY user_id)
    SELECT user_id, wsum, dt, CAST(wsum // dt AS BIGINT) AS twa_millis
    FROM w WHERE dt > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted mean of a signal per user (the hypertable
    aggregate for irregularly-sampled series): each observation is
    weighted by its holding duration (lead(ts) - ts). Values quantize
    to integer millis so the weighted sums are exact int64 — order-
    independent, no FP folds. One keyed window + one keyed aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("qv"),
    )
    # window order matches the oracle's (ts, event_id): t_s collapses
    # to whole seconds, so the lead must be taken on the full-precision
    # key BEFORE truncating
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("t_us", F.unix_micros("ts"))
        .withColumn("nxt_us", F.lead("t_us").over(w))
        .select(
            "user_id",
            "qv",
            F.expr("t_us div 1000000").alias("t_s"),
            F.expr("nxt_us div 1000000").alias("nxt_s"),
        )
    )
    agg = (
        t.filter(F.col("nxt_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("qv") * (F.col("nxt_s") - F.col("t_s"))).cast("long").alias("wsum"),
            F.sum(F.col("nxt_s") - F.col("t_s")).cast("long").alias("dt"),
        )
        .filter(F.col("dt") > 0)
    )
    return agg.select(
        "user_id", "wsum", "dt", F.expr("wsum div dt").cast("long").alias("twa_millis")
    )


# ---------------------------------------------------------------------------
# Conversion-latency distribution (first view -> first-after purchase)
# ---------------------------------------------------------------------------


@query(
    "events_conversion_latency",
    """
    WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v_us
          GROUP BY e.user_id),
    lat AS (SELECT p.user_id, p.p_us - v.v_us AS lat_us
            FROM p JOIN v ON p.user_id = v.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lat_us) AS BIGINT) AS min_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us,
           CAST(quantile_cont(lat_us, 0.5) AS DOUBLE) AS p50_us,
           CAST(quantile_cont(lat_us, 0.9) AS DOUBLE) AS p90_us
    FROM lat
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: per user, first view to the first
    purchase at-or-after it; exact integer latencies feed bit-exact
    percentiles (Spark percentile() ≡ DuckDB quantile_cont on the same
    int64 multiset — the fn_percentiles_exact contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        ev.join(v, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("us") >= F.col("v_us")))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    lat = p.join(v, "user_id").select((F.col("p_us") - F.col("v_us")).alias("lat_us"))
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.min("lat_us").cast("long").alias("min_us"),
        F.max("lat_us").cast("long").alias("max_us"),
        F.expr("percentile(lat_us, 0.5)").cast("double").alias("p50_us"),
        F.expr("percentile(lat_us, 0.9)").cast("double").alias("p90_us"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: partitioned fact scan pruned at runtime by
# a selective dimension filter
# ---------------------------------------------------------------------------


@query(
    "io_dynamic_partition_pruning",
    """
    SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB data-skipping feature in miniature: the fact table
    is written partitioned by priority; the join's dim side carries
    the selective filter, and Spark injects a runtime (dynamic)
    partition-pruning subquery so only the matching partitions are
    scanned — the fact-side filter never appears statically. Result
    correctness is oracle-checked; the plan's dynamicpruning
    expression is pinned by a unit test."""
    import os
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    fact_path = scratch_dir(spark, f"thrill_spark_dpp_{os.path.basename(sf_dir.rstrip('/'))}")
    orders.select("o_orderkey", "o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    # the dim side must carry a SELECTIVE predicate for Spark's DPP
    # rule to inject the runtime pruning subquery (a pre-filtered
    # literal relation does not qualify)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 4), ("5-LOW", 5)],
        ["p", "code"],
    ).filter("code <= 2")
    joined = fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["p"])
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Built-in session_window parity (same 30-min-gap semantics as the
# manual sessionize, via the native operator)
# ---------------------------------------------------------------------------


@query(
    "events_session_window_builtin",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
    FROM (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts,
               CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM (
          SELECT user_id, ts,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
          FROM events)))
    GROUP BY user_id, session_id
    """,
)
def q_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thrill has no session operator; Spark's native session_window()
    implements the gap-merge directly in the aggregation layer. The
    oracle replays the independent lag/sum formulation — the two
    definitions must coincide exactly (session bounds and counts)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
    )


# ---------------------------------------------------------------------------
# ANN quality eval: overlap@k between JL-bucket ANN and exact top-k
# ---------------------------------------------------------------------------
_OV_K = 3
_OV_STRIDE = 25


def _sql_overlap_at_k() -> str:
    dot = (
        "list_reduce(list_transform(list_zip(a.emb, b.emb),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )
    nrm = (
        "sqrt(list_reduce(list_transform({e}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)),"
        " (x, y) -> x + y))"
    )
    return f"""
    WITH rp AS ({_sql_rp_ann()}),
    q AS (SELECT vec_id, embedding AS emb FROM embeddings
          WHERE vec_id % {_OV_STRIDE} = 0),
    pool AS (SELECT vec_id, embedding AS emb FROM embeddings),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 {dot} / ({nrm.format(e="a.emb")} * {nrm.format(e="b.emb")}) DESC,
                 b.vec_id ASC) AS rk
        FROM q a JOIN pool b ON a.vec_id <> b.vec_id)
      WHERE rk <= {_OV_K})
    SELECT b.query_id,
           CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_overlap
    FROM brute b
    LEFT JOIN rp r ON r.query_id = b.query_id
                   AND r.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@query("similarity_overlap_at_k", _sql_overlap_at_k())
def q_overlap_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality accounting: per probe query, how many of the exact
    top-3 cosine neighbors the JL-bucket ANN recovered. Both sides are
    deterministic, so this is a hash-exact recall table (not a floor
    assertion) — the artifact you'd publish when tuning bucket bits
    vs recall at 100 TB."""
    from pyspark.sql import Window as W

    from thrill_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % _OV_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    pool = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv"))
    scored = pool.join(
        F.broadcast(probes), on=F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id", S.cosine(F.col("_nv"), F.col("_qv")).alias("_cs")
    )
    w = W.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("neighbor_id").asc())
    brute = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _OV_K)
        .select("query_id", "neighbor_id")
    )
    ann = q_rp_ann(spark, sf_dir).select(
        F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    return (
        brute.join(
            ann,
            (brute["query_id"] == ann["a_q"]) & (brute["neighbor_id"] == ann["a_n"]),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_n").cast("long").alias("n_overlap"))
    )


# ---------------------------------------------------------------------------
# Watermark-lateness audit: which events a watermark D would drop,
# using the two-phase running max (no single-partition window)
# ---------------------------------------------------------------------------
_WM_DELAY_US = 3600 * 1_000_000  # 1 hour


@query(
    "events_watermark_lateness",
    f"""
    WITH a AS (
      SELECT event_type, epoch_us(ts) AS us,
             MAX(epoch_us(ts)) OVER (ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS high
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN us < high - {_WM_DELAY_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late
    FROM a GROUP BY event_type
    """,
)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing, answered offline: replay the stream in arrival
    order (event_id) and count events arriving more than D behind the
    running event-time high-water mark — exactly the rows a streaming
    job with watermark D would drop. The running max over the GLOBAL
    arrival order uses the package's two-phase prefix scan (range
    buckets + carried offsets), so no single-partition window exists
    at any scale; the oracle can afford the naive global window."""
    from thrill_spark import ordering as O

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    scanned = O.prefix_scan(
        ev, ["event_id"], "us", F.max, F.greatest, name="high"
    )
    return scanned.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("us") < F.col("high") - _WM_DELAY_US, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_late"),
    )


# ---------------------------------------------------------------------------
# Multi-epoch deterministic shuffles (per-epoch permutation, no RNG)
# ---------------------------------------------------------------------------
_N_EPOCHS = 3


@query(
    "corpus_epoch_shuffles",
    f"""
    WITH e AS (SELECT unnest(generate_series(0, {_N_EPOCHS} - 1)) AS epoch),
    r AS (
      SELECT e.epoch, d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY e.epoch ORDER BY
               CAST('0x' || substr(md5('shuf' || CAST(e.epoch AS VARCHAR) || ':'
                                       || CAST(d.doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT),
               d.doc_id) - 1 AS rnk
      FROM documents d CROSS JOIN e)
    SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(rnk * (doc_id % 100003)) % 1000000007 AS BIGINT)
             AS perm_checksum
    FROM r GROUP BY epoch
    """,
)
def q_epoch_shuffles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch data ordering: each epoch gets its own
    deterministic permutation by reusing corpus.shuffle_index with the
    epoch as the seed — reshuffled data every epoch, reproducible
    across reruns, zero RNG state, and the rank comes from the range-
    partitioned two-phase machinery (NO per-epoch global window: a
    row_number partitioned by epoch would funnel each epoch through a
    single reducer at scale). The checksum Σ rank·f(doc) is
    permutation-sensitive, so the oracle pins each epoch's exact
    order — and different epochs yield different checksums."""
    from thrill_spark.functions import corpus as C

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    per_epoch = [
        C.shuffle_index(docs, seed=e, name="rnk").select(
            F.lit(e).cast("int").alias("epoch"), "doc_id", "rnk"
        )
        for e in range(_N_EPOCHS)
    ]
    r = per_epoch[0]
    for p in per_epoch[1:]:
        r = r.unionByName(p)
    return r.groupBy("epoch").agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.sum(F.col("rnk") * (F.col("doc_id") % 100003)) % 1000000007
        )
        .cast("long")
        .alias("perm_checksum"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: mergeable, exact-integer,
# deterministic — per-day sketches + their union, band-checked
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SHARDS = 32
_KMV_SPACE = 1 << 60  # md5_long range


def _sql_kmv() -> str:
    md5l = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"""
    WITH h AS (SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, {md5l} AS hv
               FROM events),
    shard_k AS (
      SELECT day, hv FROM (
        SELECT day, hv,
               ROW_NUMBER() OVER (PARTITION BY day, hv % {_KMV_SHARDS}
                                  ORDER BY hv) AS rn
        FROM h) WHERE rn <= {_KMV_K}),
    day_k AS (
      SELECT day, hv, rn FROM (
        SELECT day, hv,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn
        FROM shard_k) WHERE rn <= {_KMV_K}),
    day_est AS (
      SELECT day, MAX(rn) AS kk, MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS hk
      FROM day_k GROUP BY day),
    exact AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                     COUNT(DISTINCT user_id) AS exact_distinct
              FROM events GROUP BY 1)
    SELECT e.day,
           CAST(CASE WHEN d.hk IS NULL THEN d.kk
                ELSE ({_KMV_K} - 1) * ({_KMV_SPACE} // d.hk) END AS BIGINT)
             AS est_distinct,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
           (CASE WHEN d.hk IS NULL THEN d.kk
                 ELSE ({_KMV_K} - 1) * ({_KMV_SPACE} // d.hk) END) * 10 >= e.exact_distinct * 5
           AND (CASE WHEN d.hk IS NULL THEN d.kk
                     ELSE ({_KMV_K} - 1) * ({_KMV_SPACE} // d.hk) END) * 10 <= e.exact_distinct * 20
             AS band_ok
    FROM exact e JOIN day_est d USING (day)
    """


@query("events_kmv_sketch", _sql_kmv())
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch — the mergeable alternative to HLL that also
    supports set intersections: a day's sketch is its k smallest
    distinct user-hashes; merging days is 'k smallest of the union';
    the estimate is (k-1)·H/h_k. All-integer and deterministic (md5
    hashes, exact division), so unlike HLL the oracle replays the
    sketch itself, with a 2x band vs the exact distinct as the
    statistical check. Distributed top-k discipline: per-(day, shard)
    row_number first (bounded reducers), then the per-day merge ranks
    ≤ shards·k survivors — no day-wide window over raw cardinality."""
    from pyspark.sql import Window as W

    md5l = TX.md5_long(F.col("user_id").cast("string"))
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"), md5l.alias("hv")
    )
    h = ev.distinct()
    w_shard = W.partitionBy("day", F.col("hv") % _KMV_SHARDS).orderBy("hv")
    shard_k = (
        h.withColumn("rn", F.row_number().over(w_shard))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    w_day = W.partitionBy("day").orderBy("hv")
    day_k = (
        shard_k.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= _KMV_K)
    )
    day_est = day_k.groupBy("day").agg(
        F.max("rn").alias("kk"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("hv"))).alias("hk"),
    )
    est = F.when(F.col("hk").isNull(), F.col("kk")).otherwise(
        F.lit(_KMV_K - 1) * F.expr(f"{_KMV_SPACE} div hk")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        exact.join(day_est, "day")
        .select(
            "day",
            est.cast("long").alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (
                (est * 10 >= F.col("exact_distinct") * 5)
                & (est * 10 <= F.col("exact_distinct") * 20)
            ).alias("band_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Exact distinct users per SLIDING window (explode to covered windows)
# ---------------------------------------------------------------------------
_SLIDE_WIN_US = 3600 * 1_000_000
_SLIDE_STEP_US = 1800 * 1_000_000


@query(
    "events_sliding_distinct_users",
    f"""
    WITH w AS (
      SELECT user_id,
             (epoch_us(ts) // {_SLIDE_STEP_US} - j) * {_SLIDE_STEP_US} AS w_start
      FROM events,
           (SELECT unnest(generate_series(0,
                {_SLIDE_WIN_US // _SLIDE_STEP_US} - 1)) AS j))
    SELECT w_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM w GROUP BY w_start
    """,
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count over SLIDING windows — the aggregate
    streaming systems approximate: each event explodes to the
    window/step windows covering it (bounded fan-out), then one
    distinct-aggregate keyed by window start. No approximate sketch,
    no per-window rescan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    n_cover = _SLIDE_WIN_US // _SLIDE_STEP_US
    w = ev.select(
        "user_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_cover - 1}),"
                f" j -> (us div {_SLIDE_STEP_US} - j) * {_SLIDE_STEP_US})"
            )
        ).alias("w_start"),
    )
    return w.groupBy("w_start").agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Session transition mining (Markov-chain edge counts within sessions)
# ---------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    f"""
    WITH sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN prev_us IS NULL
                         OR epoch_us(ts) - prev_us > {_SESS_GAP_US}
                    THEN 1 ELSE 0 END AS new_s
        FROM (SELECT user_id, ts, event_id, event_type,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev_us
              FROM events))),
    tr AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id, session_id
                ORDER BY ts, event_id) AS dst
      FROM sess)
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session behavioral Markov chain: within each gap session,
    count consecutive event-type transitions (the page-path /
    next-action model's sufficient statistic). Two keyed windows +
    one aggregate; tie-broken on (ts, event_id) so both engines walk
    identical sequences."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    sess = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > _SESS_GAP_US), 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tr = sess.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(ws).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return tr.groupBy("src", "dst").agg(F.count("*").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Hilbert-curve layout stats (vs the registered Z-order twin)
# ---------------------------------------------------------------------------
_H_BITS = 8
_H_SHIFT = 10  # 2^16 curve positions -> 64 buckets


def _sql_hilbert_stats() -> str:
    from thrill_spark.functions.layout import sql_hvalue

    levels = sql_hvalue("_hx", "_hy", _H_BITS)
    ctes = [
        f"h0 AS (SELECT (o_custkey & 255) AS _hx, (o_orderkey & 255) AS _hy,\n"
        f"        (o_custkey & 255) AS xm, (o_orderkey & 255) AS ym,\n"
        f"        CAST(0 AS BIGINT) AS hval FROM orders)"
    ]
    for i, body in enumerate(levels):
        ctes.append(f"h{i + 1} AS ({body} FROM h{i})")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT hval >> {_H_SHIFT} AS hbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(xm) AS min_x, MAX(xm) AS max_x,
           MIN(ym) AS min_y, MAX(ym) AS max_y
    FROM h{len(levels)} GROUP BY hbucket
    """
    )


@query("layout_hilbert_stats", _sql_hilbert_stats())
def q_hilbert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering envelopes — the layout modern
    lakehouses moved to over Z-order: the curve takes only unit steps,
    so per-file (x, y) bounding boxes are tighter and scans prune more
    on either column. The index is `bits` chained projections (one
    whole-stage-codegen span, functions/layout.py::with_hvalue); the
    oracle replays every level as a CTE. Clustering itself
    (hilbert_layout) is one range shuffle, identical in cost to
    zorder_layout — this query reports the same per-bucket envelopes
    as layout_zorder_stats for a like-for-like comparison."""
    from thrill_spark.functions import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    xm = F.col("o_custkey").bitwiseAND(F.lit(255))
    ym = F.col("o_orderkey").bitwiseAND(F.lit(255))
    base = o.select(xm.alias("xm"), ym.alias("ym"))
    h = LAY.with_hvalue(base, F.col("xm"), F.col("ym"), bits=_H_BITS, out="hval")
    return h.groupBy(
        F.shiftright("hval", _H_SHIFT).alias("hbucket")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("xm").alias("min_x"),
        F.max("xm").alias("max_x"),
        F.min("ym").alias("min_y"),
        F.max("ym").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource: Thrill-ReadLines byte-range splitting
# ---------------------------------------------------------------------------


@query(
    "io_python_datasource_lines",
    f"""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':' ||
               md5(array_to_string({SQL_TOKS}, ' '))) AS line_fp
    FROM documents
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thrill's ReadLines as a Spark 4 Python DataSource: the file is
    split into static byte ranges (partitions()), each worker seeks
    in, skips the torn line at its boundary, and reads through the
    line straddling its end — exactly-once per line with zero
    coordination (reference/thrill/api/read_lines.hpp semantics,
    implemented at sources/linesource.py). The fixture file is
    written with one 'doc_id:fingerprint' line per document across
    many oversized lines, so boundary handling is actually exercised;
    the oracle recomputes every line's content from the table."""
    import os
    import tempfile

    from thrill_spark.functions.text import fingerprint
    from thrill_spark.sources.linesource import register

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), fingerprint("text")
        ).alias("value")
    )
    base = scratch_dir(spark, f"thrill_lines_src_{os.path.basename(sf_dir.rstrip('/'))}")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "docs.txt")
    # one local text FILE (not a directory) so byte-range planning has
    # a single contiguous byte space to split
    lines.coalesce(1).write.mode("overwrite").text(base + "_dir")
    part = [
        f
        for f in os.listdir(base + "_dir")
        if f.startswith("part-") and f.endswith(".txt")
    ][0]
    os.replace(os.path.join(base + "_dir", part), path)
    register(spark)
    out = (
        spark.read.format("thrill_lines")
        .option("path", path)
        .option("n_splits", 8)
        .load()
    )
    return out.select(
        F.split_part(F.col("line"), F.lit(":"), F.lit(1)).cast("long").alias("doc_id"),
        F.md5(F.col("line")).alias("line_fp"),
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary stateful streaming): per-user
# running counts whose batch-summed deltas must equal the batch answer
# ---------------------------------------------------------------------------


def _register_tws() -> None:
    """transformWithState needs google.protobuf in the Python env (its
    streaming driver worker imports it); this container does not ship
    it, so the query registers only where the API can actually run —
    the same honest gating as the Pillow image path. The identical
    semantics are hard-oracled in this container via
    events_stream_stateful_counts (applyInPandasWithState)."""
    from thrill_spark.streaming.tws import has_transform_with_state

    if not has_transform_with_state():
        return
    query(
        "events_stream_transform_with_state",
        """
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
        """,
    )(q_transform_with_state)


def q_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from thrill_spark.streaming.tws import RunningCountProcessor

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    base = scratch_dir(spark, "tws")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("delta", T.LongType()),
            T.StructField("running", T.LongType()),
        ]
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCountProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    name = "tws_sink"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=300)
    finally:
        q.stop()
    # deltas sum to the per-user totals no matter how the stream was
    # chopped into micro-batches
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.sum("delta").cast("long").alias("n_events"))
    )


_register_tws()


# ---------------------------------------------------------------------------
# Group-wise closed-form OLS (exact integer moments, rational slope)
# ---------------------------------------------------------------------------


@query(
    "ml_groupwise_ols",
    """
    WITH t AS (SELECT l_returnflag AS grp,
                      CAST(l_quantity AS BIGINT) AS x,
                      CAST(floor(l_extendedprice) AS BIGINT) AS y
               FROM lineitem)
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
    FROM t GROUP BY grp
    """,
)
def q_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear regression in closed form from exact integer
    moments: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) reported as the
    integer (num, den) pair — no FP accumulation anywhere, so the
    model fit itself is hash-checkable. One keyed aggregate; the
    pattern extends to any GLM with sufficient statistics."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor("l_extendedprice").cast("long").alias("y"),
    )
    return t.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("long")
        .alias("slope_num"),
        (F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("long")
        .alias("slope_den"),
    )


# ---------------------------------------------------------------------------
# WordCount over the custom byte-range source (source -> pipeline)
# ---------------------------------------------------------------------------


@query(
    "io_datasource_wordcount",
    f"""
    SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest({SQL_TOKS}) AS t FROM documents)
    GROUP BY t ORDER BY n DESC, t ASC LIMIT 20
    """,
)
def q_datasource_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship example (word_count.cpp) fed by the
    reference-parity source: documents round-trip through a real text
    file, the byte-range DataSource splits it 8 ways, and the counts
    must equal the table-direct aggregation."""
    import os
    import tempfile

    from thrill_spark.sources.linesource import register

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir(spark, f"thrill_wc_src_{os.path.basename(sf_dir.rstrip('/'))}")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "docs.txt")
    docs.select(F.lower("text").alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(base + "_dir")
    part = [
        f
        for f in os.listdir(base + "_dir")
        if f.startswith("part-") and f.endswith(".txt")
    ][0]
    os.replace(os.path.join(base + "_dir", part), path)
    register(spark)
    lines = (
        spark.read.format("thrill_lines")
        .option("path", path)
        .option("n_splits", 8)
        .load()
    )
    toks = lines.select(
        F.explode(F.filter(F.split("line", r"\s+"), lambda t: t != "")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Weighted median via the two-phase prefix machinery
# ---------------------------------------------------------------------------


@query(
    "fn_weighted_median",
    """
    WITH t AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                      CAST(floor(l_extendedprice) AS BIGINT) AS w
               FROM lineitem),
    g AS (SELECT v, SUM(w) AS w FROM t GROUP BY v),
    c AS (SELECT v, w, SUM(w) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS cum FROM g),
    tot AS (SELECT SUM(w) AS tw FROM g)
    SELECT CAST(MIN(v) AS BIGINT) AS weighted_median,
           CAST(MAX(tot.tw) AS BIGINT) AS total_weight
    FROM c CROSS JOIN tot WHERE cum * 2 >= tot.tw
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (the order statistic Thrill's percentiles
    example generalizes to weights): collapse to the value domain
    (one keyed aggregate — quantity has bounded cardinality), then a
    running weight via the two-phase prefix scan and the first value
    whose cumulative weight crosses half. No global-order window
    anywhere; the domain-collapsed scan input is vocabulary-sized."""
    from thrill_spark import ordering as O

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_quantity").cast("long").alias("v"),
            F.floor("l_extendedprice").cast("long").alias("w"),
        )
        .groupBy("v")
        .agg(F.sum("w").alias("w"))
    )
    scanned = O.prefix_scan(g, ["v"], "w", F.sum, lambda a, b: a + b, name="cum")
    tot = g.agg(F.sum("w").cast("long").alias("tw"))
    return (
        scanned.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 2 >= F.col("tw"))
        .agg(
            F.min("v").cast("long").alias("weighted_median"),
            F.max("tw").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus drift monitor: exact L1 vocabulary distance between sources
# ---------------------------------------------------------------------------


@query(
    "profile_source_drift",
    f"""
    WITH toks AS (
      SELECT source, t, COUNT(*) AS c FROM (
        SELECT source, unnest({SQL_TOKS}) AS t FROM documents)
      GROUP BY source, t),
    n AS (SELECT source, SUM(c) AS n FROM toks GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.t, a.c AS ca, coalesce(b.c, 0) AS cb
      FROM toks a
      LEFT JOIN toks b ON b.t = a.t AND b.source > a.source
      WHERE b.source IS NOT NULL),
    -- symmetric completion: tokens present in b but absent from a
    onlyb AS (
      SELECT a2.source AS src_a, b.source AS src_b, b.t,
             0 AS ca, b.c AS cb
      FROM toks b
      JOIN (SELECT DISTINCT source FROM toks) a2 ON a2.source < b.source
      WHERE NOT EXISTS (SELECT 1 FROM toks a
                        WHERE a.source = a2.source AND a.t = b.t)),
    un AS (SELECT * FROM pairs UNION ALL SELECT * FROM onlyb),
    d AS (
      SELECT un.src_a, un.src_b,
             SUM(abs(un.ca * nb.n - un.cb * na.n)) AS l1_num,
             MAX(na.n * nb.n) AS denom
      FROM un
      JOIN n na ON na.source = un.src_a
      JOIN n nb ON nb.source = un.src_b
      GROUP BY un.src_a, un.src_b)
    SELECT src_a, src_b,
           CAST(l1_num * 10000 // (2 * denom) AS BIGINT) AS l1_half_bp
    FROM d
    """,
)
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between corpus domains: half-L1
    (total-variation) distance between per-source token distributions,
    computed in exact cross-multiplied integers — |c_a·N_b − c_b·N_a|
    summed over the vocabulary union, scaled to basis points. The join
    key space is the vocabulary; everything shuffles on (source,
    token) then collapses to one row per source pair. The metric you
    alert on when an ingest source changes character."""
    docs = load_table(spark, sf_dir, "documents")
    from thrill_spark.ordering import _persist

    toks = _persist(
        docs.select("source", F.explode(TX.tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    n = toks.groupBy("source").agg(F.sum("c").alias("n"))
    a = toks.select(
        F.col("source").alias("src_a"), F.col("t"), F.col("c").alias("ca")
    )
    b = toks.select(
        F.col("source").alias("src_b"), F.col("t").alias("tb"), F.col("c").alias("cb")
    )
    both = a.join(
        b, (F.col("t") == F.col("tb")) & (F.col("src_b") > F.col("src_a"))
    ).select("src_a", "src_b", "t", "ca", "cb")
    sources = toks.select("source").distinct()
    b_with_a = b.join(
        sources.select(F.col("source").alias("_sa")),
        F.col("_sa") < F.col("src_b"),
    )
    onlyb = (
        b_with_a.join(
            a,
            (a["src_a"] == b_with_a["_sa"]) & (a["t"] == b_with_a["tb"]),
            "left_anti",
        )
        .select(
            F.col("_sa").alias("src_a"),
            "src_b",
            F.col("tb").alias("t"),
            F.lit(0).alias("ca"),
            "cb",
        )
    )
    un = both.unionByName(onlyb)
    na = n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    d = (
        un.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias(
                "l1_num"
            ),
            F.max(F.col("na") * F.col("nb")).alias("denom"),
        )
    )
    return d.select(
        "src_a",
        "src_b",
        F.expr("l1_num * 10000 div (2 * denom)").cast("long").alias("l1_half_bp"),
    )


# ---------------------------------------------------------------------------
# Per-dimension label covariance (feature screening, exact integers)
# ---------------------------------------------------------------------------
_FCOV_TOPK = 8


@query(
    "ml_feature_label_covariance",
    f"""
    WITH x AS (
      SELECT vec_id, CAST(label AS BIGINT) AS y, j - 1 AS dim,
             CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
               AS xq
      FROM (SELECT vec_id, label, embedding,
                   unnest(generate_series(1, len(embedding))) AS j
            FROM embeddings)),
    m AS (
      SELECT dim, COUNT(*) AS n, SUM(xq) AS sx, SUM(y) AS sy,
             SUM(xq * y) AS sxy
      FROM x GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num
    FROM m
    ORDER BY abs(n * sxy - sx * sy) DESC, dim ASC LIMIT {_FCOV_TOPK}
    """,
)
def q_feature_label_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature screening for the embedding table: per-dimension
    covariance with the label from exact integer moments (quantized
    values, n·Σxy − ΣxΣy), top-|cov| dims. One explode + one keyed
    aggregate; the integer moments make the screen hash-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.col("label").cast("long").alias("y"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda e: F.floor(e.cast("double") * 1000 + F.lit(0.5)).cast("long"),
            )
        ).alias("dim", "xq"),
    )
    m = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("xq") * F.col("y")).alias("sxy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    return (
        m.select(F.col("dim").cast("int").alias("dim"), cov.alias("cov_num"))
        .orderBy(F.abs(F.col("cov_num")).desc(), F.asc("dim"))
        .limit(_FCOV_TOPK)
    )


# ---------------------------------------------------------------------------
# Per-source dedup report (exact-dup rates by ingest source)
# ---------------------------------------------------------------------------


@query(
    "corpus_dedup_by_source",
    f"""
    WITH f AS (SELECT source, doc_id,
                      md5(array_to_string({SQL_TOKS}, ' ')) AS fp
               FROM documents),
    g AS (SELECT fp, COUNT(*) AS c, MIN(doc_id) AS keeper FROM f GROUP BY fp)
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.doc_id <> g.keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redundant,
           CAST(SUM(CASE WHEN f.doc_id <> g.keeper THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS redundant_bp
    FROM f JOIN g ON g.fp = f.fp
    GROUP BY f.source
    """,
)
def q_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which ingest source wastes the dedup budget: per-source count of
    documents that exact-dedup would drop (not the min-id keeper of
    their fingerprint group) in exact basis points — the per-feed
    quality scoreboard a crawling operation reviews."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select("source", "doc_id", TX.fingerprint("text").alias("fp"))
    g = f.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    j = f.join(g, "fp")
    red = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(red).cast("long").alias("n_redundant"),
        F.expr(
            "CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("redundant_bp"),
    )


# ---------------------------------------------------------------------------
# Malformed-record CSV ingestion (PERMISSIVE corrupt-record accounting)
# ---------------------------------------------------------------------------


@query(
    "io_csv_corrupt_records",
    """
    WITH k AS (SELECT o_orderkey AS k FROM orders)
    SELECT CAST(SUM(CASE WHEN k % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN k % 7 <> 0 THEN k * 2 ELSE 0 END) AS BIGINT)
             AS sum_vals
    FROM k
    """,
)
def q_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-world ingestion robustness: a CSV feed where every 7th row
    carries a non-numeric value is read in PERMISSIVE mode with a
    _corrupt_record column — good rows parse, bad rows land intact in
    the quarantine column instead of failing the job (the 100 TB
    ingest posture: never die on one bad row, account for every one).
    The oracle recomputes good/corrupt/sum from the planted rule."""
    import os
    import tempfile

    from pyspark.sql import types as T

    orders = load_table(spark, sf_dir, "orders")
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.concat(F.col("o_orderkey").cast("string"), F.lit(",notanint")),
        )
        .otherwise(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                (F.col("o_orderkey") * 2).cast("string"),
            )
        )
        .alias("value")
    )
    base = scratch_dir(spark, f"thrill_csv_corrupt_{os.path.basename(sf_dir.rstrip('/'))}")
    lines.write.mode("overwrite").text(base)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
    )
    # caching before the split read is the documented requirement for
    # referencing the corrupt column alongside parsed columns
    df = df.cache()
    return df.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.coalesce(F.col("v"), F.lit(0))).cast("long").alias("sum_vals"),
    )


# ---------------------------------------------------------------------------
# Seasonality profile (day-of-week x hour event-rate heatmap)
# ---------------------------------------------------------------------------


@query(
    "events_seasonality_profile",
    """
    WITH b AS (SELECT dayofweek(ts) AS dow, hour(ts) AS hh FROM events),
    t AS (SELECT COUNT(*) AS n FROM b)
    SELECT CAST(dow AS INT) AS dow, CAST(hh AS INT) AS hh,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) * 10000 // MAX(t.n) AS BIGINT) AS share_bp
    FROM b CROSS JOIN t GROUP BY dow, hh
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality heatmap: event share by (day-of-week, hour)
    in exact basis points — the load-shaping input for ingestion
    capacity planning. (Spark dayofweek == DuckDB dayofweek + 1;
    normalized here to DuckDB's numbering via the session-UTC
    timestamps.)"""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hh"),
    )
    from thrill_spark.ordering import _persist

    b = _persist(b)
    t = b.agg(F.count("*").alias("n"))
    return (
        b.groupBy("dow", "hh")
        .agg(F.count("*").cast("long").alias("n_events"))
        .crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hh",
            "n_events",
            F.expr("n_events * 10000 div n").cast("long").alias("share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (exact quartile boundaries, broadcast bins)
# ---------------------------------------------------------------------------


@query(
    "customer_rfm_segments",
    """
    WITH m AS (
      SELECT o_custkey AS cust,
             MAX(epoch_us(o_orderdate)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS monet
      FROM orders GROUP BY o_custkey),
    q AS (SELECT quantile_cont(freq, 0.5) AS f_med,
                 quantile_cont(monet, 0.5) AS m_med,
                 quantile_cont(last_us, 0.5) AS r_med
          FROM m)
    SELECT CASE WHEN last_us >= r_med THEN 1 ELSE 0 END AS r_hi,
           CASE WHEN freq > f_med THEN 1 ELSE 0 END AS f_hi,
           CASE WHEN monet > m_med THEN 1 ELSE 0 END AS m_hi,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monet) AS BIGINT) AS segment_value
    FROM m CROSS JOIN q GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    metrics cut at their exact medians (bit-exact percentile on
    integer metrics, broadcast back — the ml_quantile_binning
    discipline, no global ntile window), then segment counts and
    value. The classic CRM rollup, deterministic end to end."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("last_us"),
        F.count("*").cast("long").alias("freq"),
        F.sum(F.floor("o_totalprice").cast("long")).cast("long").alias("monet"),
    )
    from thrill_spark.ordering import _persist

    m = _persist(m)
    q = m.agg(
        F.expr("percentile(freq, 0.5)").alias("f_med"),
        F.expr("percentile(monet, 0.5)").alias("m_med"),
        F.expr("percentile(last_us, 0.5)").alias("r_med"),
    )
    j = m.crossJoin(F.broadcast(q))
    return (
        j.groupBy(
            F.when(F.col("last_us") >= F.col("r_med"), 1).otherwise(0).alias("r_hi"),
            F.when(F.col("freq") > F.col("f_med"), 1).otherwise(0).alias("f_hi"),
            F.when(F.col("monet") > F.col("m_med"), 1).otherwise(0).alias("m_hi"),
        )
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("monet").cast("long").alias("segment_value"),
        )
    )


# ---------------------------------------------------------------------------
# ABC / Pareto analysis (cumulative revenue share via two-phase scan)
# ---------------------------------------------------------------------------


@query(
    "part_abc_analysis",
    """
    WITH r AS (SELECT l_partkey AS part,
                      CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
                        AS rev
               FROM lineitem GROUP BY l_partkey),
    t AS (SELECT SUM(rev) AS total FROM r),
    c AS (SELECT part, rev,
                 SUM(rev) OVER (ORDER BY rev DESC, part ASC
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM r),
    cl AS (SELECT part, rev,
                  CASE WHEN cum * 100 <= t.total * 80 THEN 'A'
                       WHEN cum * 100 <= t.total * 95 THEN 'B'
                       ELSE 'C' END AS abc_class
           FROM c CROSS JOIN t)
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS class_revenue
    FROM cl GROUP BY abc_class
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by integer
    revenue, cumulative share computed with the package's two-phase
    prefix scan over the (rev DESC, part) order — the global running
    sum never funnels through one partition — and cut at 80%/95%.
    The catalog-management classic, exact to the last unit."""
    from thrill_spark import ordering as O

    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.floor("l_extendedprice").cast("long")).cast("long").alias("rev")
    )
    scanned = O.prefix_scan(
        r,
        [F.col("rev").desc(), F.col("part").asc()],
        "rev",
        F.sum,
        lambda a, b: a + b,
        name="cum",
    )
    t = r.agg(F.sum("rev").cast("long").alias("total"))
    cl = scanned.crossJoin(F.broadcast(t)).select(
        "part",
        "rev",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cl.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("class_revenue"),
    )


# ---------------------------------------------------------------------------
# Flagship composition #3: FULL curation chain with per-doc audit flags
# lang-ID -> Gopher gate -> exact-dedup keeper -> near-dup survivor ->
# split assignment; every doc keeps its reason codes
# ---------------------------------------------------------------------------


def _sql_curation_full() -> str:
    from thrill_spark.plans.queries_corpus import _VERIFY_TAU, _sql_md5_long
    from thrill_spark.plans.queries_llm import (
        SQL_SHINGLES3,
        _sql_lang_hits,
        _sql_lsh_pairs,
    )

    inter = "len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))"
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, lower(text) AS lt, {SQL_TOKS} AS toks FROM documents),
    lang AS (
      SELECT doc_id,
             greatest({_sql_lang_hits('en')}, {_sql_lang_hits('de')},
                      {_sql_lang_hits('fr')}, {_sql_lang_hits('es')}) > 0
               AS keep_lang
      FROM base),
    gopher AS (
      SELECT doc_id,
             (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS}
              AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
              AND sym_chars * 10 <= n_words AND stop_hits >= 2) AS keep_quality,
             n_words
      FROM (
        SELECT doc_id, len(toks) AS n_words,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, t -> CAST(length(t) AS BIGINT))),
                   (a, b) -> a + b) AS word_chars,
               len(list_filter(toks, t -> t IN ('the','and','of','to','a')))
                 AS stop_hits,
               length(lt) - length(replace(replace(lt, '#', ''), '...', ''))
                 AS sym_chars
        FROM base)),
    filt AS (
      SELECT b.doc_id, md5(array_to_string(b.toks, ' ')) AS fp
      FROM base b JOIN lang l ON l.doc_id = b.doc_id
                  JOIN gopher g ON g.doc_id = b.doc_id
      WHERE l.keep_lang AND g.keep_quality),
    keeper AS (SELECT fp, MIN(doc_id) AS keeper FROM filt GROUP BY fp),
    cand AS ({_sql_lsh_pairs()}),
    sh AS (SELECT doc_id, shingles, len(shingles) AS n FROM (
             SELECT doc_id, {SQL_SHINGLES3} AS shingles FROM base)),
    ver AS (
      SELECT id_a, id_b FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE CAST({inter} AS DOUBLE) / (sa.n + sb.n - {inter}) >= {_VERIFY_TAU}),
    edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM ver
              UNION SELECT id_b AS u, id_a AS v FROM ver),
    reach(src, n) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.n = e.u),
    comp AS (SELECT src AS node, MIN(n) AS component FROM reach GROUP BY src),
    flags AS (
      SELECT b.doc_id,
             CAST(len(b.toks) AS BIGINT) AS n_tokens,
             l.keep_lang, g.keep_quality,
             coalesce(f.doc_id = k.keeper, FALSE) AS is_exact_keeper,
             coalesce(c.component, b.doc_id) = b.doc_id AS is_near_survivor
      FROM base b
      JOIN lang l ON l.doc_id = b.doc_id
      JOIN gopher g ON g.doc_id = b.doc_id
      LEFT JOIN filt f ON f.doc_id = b.doc_id
      LEFT JOIN keeper k ON k.fp = f.fp
      LEFT JOIN comp c ON c.node = b.doc_id)
    SELECT doc_id, n_tokens, keep_lang, keep_quality, is_exact_keeper,
           is_near_survivor,
           (keep_lang AND keep_quality AND is_exact_keeper
            AND is_near_survivor) AS kept,
           CASE WHEN keep_lang AND keep_quality AND is_exact_keeper
                     AND is_near_survivor
                THEN CASE WHEN {_sql_md5_long("'split' || CAST(doc_id AS VARCHAR)")} % 10000 < 8000
                          THEN 'train'
                          WHEN {_sql_md5_long("'split' || CAST(doc_id AS VARCHAR)")} % 10000 < 9000
                          THEN 'val' ELSE 'test' END
                ELSE NULL END AS split
    FROM flags
    """


@query("corpus_curation_full", _sql_curation_full())
def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition #3 — the complete curation run with
    per-document AUDIT FLAGS (the 'why was my document dropped'
    artifact): language-ID gate, Gopher quality gate, exact-dedup
    keeper (min-id per fingerprint among filtered docs), LSH near-dup
    survivor (candidates -> Jaccard verify -> connected components),
    and hash-stable split assignment for the kept set. Every stage is
    the registry's production operator; the oracle replays the whole
    chain in one statement including the recursive-CTE closure."""
    from thrill_spark.functions import corpus as C2
    from thrill_spark.plans.queries_corpus import _pipeline_survivors

    docs = load_table(spark, sf_dir, "documents")
    from thrill_spark.ordering import _persist

    base = _persist(
        docs.select(
            "doc_id",
            TX.tokens("text").alias("_toks"),
            F.lower("text").alias("_lt"),
        )
    )
    keep_lang = (TX.lang_id(F.array_join("_toks", " ")) != "und").alias("keep_lang")
    lt = F.col("_lt")
    n_words = F.size("_toks")
    word_chars = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long")
    )
    stop_hits = F.size(F.filter(F.col("_toks"), lambda t: t.isin("the", "and", "of", "to", "a")))
    sym_chars = F.length(lt) - F.length(
        F.replace(F.replace(lt, F.lit("#"), F.lit("")), F.lit("..."), F.lit(""))
    )
    keep_quality = (
        (n_words >= _GOPHER_MIN_WORDS)
        & (n_words <= _GOPHER_MAX_WORDS)
        & (word_chars >= 3 * n_words)
        & (word_chars <= 10 * n_words)
        & (sym_chars * 10 <= n_words)
        & (stop_hits >= 2)
    ).alias("keep_quality")
    flags = _persist(
        base.select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.md5(F.array_join("_toks", " ")).alias("fp"),
            keep_lang,
            keep_quality,
        )
    )
    filt = flags.filter(F.col("keep_lang") & F.col("keep_quality")).select(
        "doc_id", "fp"
    )
    keeper = filt.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    exact = filt.join(keeper, "fp").select(
        "doc_id", (F.col("doc_id") == F.col("keeper")).alias("is_exact_keeper")
    )
    near = _pipeline_survivors(spark, sf_dir).select(
        "doc_id", F.col("is_survivor").alias("is_near_survivor")
    )
    out = (
        flags.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "keep_lang",
            "keep_quality",
            F.coalesce("is_exact_keeper", F.lit(False)).alias("is_exact_keeper"),
            F.coalesce("is_near_survivor", F.lit(True)).alias("is_near_survivor"),
        )
        .withColumn(
            "kept",
            F.col("keep_lang")
            & F.col("keep_quality")
            & F.col("is_exact_keeper")
            & F.col("is_near_survivor"),
        )
    )
    split_col = C2.split_column(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.withColumn(
        "split", F.when(F.col("kept"), split_col).otherwise(F.lit(None))
    )


# ---------------------------------------------------------------------------
# Map higher-order functions audit (map_from_entries -> transform_values
# -> map_filter -> map_entries round trip, lossless vs direct relational)
# ---------------------------------------------------------------------------


@query(
    "fn_map_higher_order",
    """
    WITH c AS (SELECT o_custkey AS cust, o_orderstatus AS status,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM orders GROUP BY 1, 2)
    SELECT cust, status, CAST(n * 2 AS BIGINT) AS doubled
    FROM c WHERE n * 2 >= 4
    """,
)
def q_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map-typed function surface Thrill's user lambdas would need
    (map.hpp analogue for keyed payloads): per customer a
    status->count MAP is built (map_from_entries), rewritten with
    transform_values, pruned with map_filter, and shredded back via
    map_entries + explode. The oracle computes the same result
    relationally, so the entire map hop must be lossless."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_custkey").alias("cust"), F.col("o_orderstatus").alias("status")
    ).agg(F.count("*").cast("long").alias("n"))
    m = c.groupBy("cust").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("status", "n")))
        ).alias("m")
    )
    doubled = m.select(
        "cust", F.transform_values("m", lambda k, v: v * 2).alias("m2")
    )
    pruned = doubled.select(
        "cust", F.map_filter("m2", lambda k, v: v >= 4).alias("m3")
    )
    return pruned.select(
        "cust", F.explode(F.map_entries("m3")).alias("e")
    ).select(
        "cust",
        F.col("e.key").alias("status"),
        F.col("e.value").cast("long").alias("doubled"),
    )


# ---------------------------------------------------------------------------
# Keyword extraction: top-3 distinctive terms per doc (integer tf-idf)
# ---------------------------------------------------------------------------
_KW_TOPK = 3


@query(
    "text_keyword_extraction",
    f"""
    WITH tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents)
      GROUP BY doc_id, t),
    df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.t, tf.tf * (n.n_docs // df.df) AS score
      FROM tf JOIN df ON df.t = tf.t CROSS JOIN n)
    SELECT doc_id, t AS term, CAST(rnk AS INT) AS rnk FROM (
      SELECT doc_id, t,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, t ASC) AS rnk
      FROM scored) WHERE rnk <= {_KW_TOPK}
    """,
)
def q_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms: integer tf-idf (tf x (N div
    df) — the exact-integer idf stand-in) ranked per doc; the RAG /
    tagging primitive. Vocabulary-sized df join + doc-keyed window."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_t = tf.groupBy("t").agg(F.count("*").cast("long").alias("df"))
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(df_t, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "t", (F.col("tf") * F.expr("n_docs div df")).alias("score")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("t").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KW_TOPK)
        .select("doc_id", F.col("t").alias("term"), F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# array_sort with a custom comparator lambda (desc by value, asc tie)
# ---------------------------------------------------------------------------


@query(
    "fn_array_sort_comparator",
    f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_transform(
             list_sort(list_transform(list_distinct(toks),
                       t -> {{'neg': -length(t), 't': t}}),
                       'ASC'),
             s -> s.t), ' ')) AS sorted_fp
    FROM t
    """,
)
def q_array_sort_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined ordering inside a column (Thrill's comparator
    parameter on Sort, thrill/api/sort.hpp, at array granularity):
    distinct tokens sorted longest-first with lexicographic
    tie-break via array_sort's comparator lambda. DuckDB has no
    comparator lambdas, so the oracle encodes the same order as a
    sortable struct key — the two formulations must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(TX.tokens("text"))
    cmp_sorted = F.array_sort(
        toks,
        lambda a, b: F.when(F.length(a) > F.length(b), F.lit(-1))
        .when(F.length(a) < F.length(b), F.lit(1))
        .when(a < b, F.lit(-1))
        .when(a > b, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return docs.select(
        "doc_id", F.md5(F.array_join(cmp_sorted, " ")).alias("sorted_fp")
    )


# ---------------------------------------------------------------------------
# Gaps and islands: per-day runs of consecutive active minutes
# ---------------------------------------------------------------------------


@query(
    "events_gaps_and_islands",
    """
    WITH m AS (SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                      epoch_us(ts) // 60000000 AS minute
               FROM events),
    r AS (SELECT day, minute,
                 minute - ROW_NUMBER() OVER (PARTITION BY day
                                             ORDER BY minute) AS island
          FROM m),
    i AS (SELECT day, island, CAST(COUNT(*) AS BIGINT) AS len
          FROM r GROUP BY day, island)
    SELECT day,
           CAST(SUM(len) AS BIGINT) AS n_active_minutes,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest_island
    FROM i GROUP BY day
    """,
)
def q_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gaps-and-islands classic on event-time minutes: consecutive
    active minutes group into islands via the minute − row_number
    trick, keyed per day (the window's partition is a calendar day —
    bounded by the time range, never by data volume). Output: activity
    summary per day; the outage-detection primitive."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        F.to_date("ts").cast("string").alias("day"),
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
    ).distinct()
    r = m.withColumn(
        "island",
        F.col("minute") - F.row_number().over(W.partitionBy("day").orderBy("minute")),
    )
    i = r.groupBy("day", "island").agg(F.count("*").cast("long").alias("len"))
    return i.groupBy("day").agg(
        F.sum("len").cast("long").alias("n_active_minutes"),
        F.count("*").cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("longest_island"),
    )


# ---------------------------------------------------------------------------
# Cohort lifetime value (first-order-month cohorts x month offset)
# ---------------------------------------------------------------------------


@query(
    "customer_cohort_ltv",
    """
    WITH o AS (SELECT o_custkey AS cust,
                      CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                        AS ym,
                      CAST(floor(o_totalprice) AS BIGINT) AS rev
               FROM orders),
    c AS (SELECT cust, MIN(ym) AS cohort FROM o GROUP BY cust)
    SELECT c.cohort, o.ym - c.cohort AS month_offset,
           CAST(COUNT(DISTINCT o.cust) AS BIGINT) AS active_customers,
           CAST(SUM(o.rev) AS BIGINT) AS revenue
    FROM o JOIN c ON c.cust = o.cust
    GROUP BY c.cohort, month_offset
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by month offset — the growth-analytics
    staple next to the registered retention matrix, exact to the unit
    (integer revenue). Cohort table is customer-cardinality; one
    broadcast-or-shuffle join + keyed aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("cust"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("ym"),
        F.floor("o_totalprice").cast("long").alias("rev"),
    )
    from thrill_spark.ordering import _persist

    o = _persist(o)
    c = o.groupBy("cust").agg(F.min("ym").alias("cohort"))
    return (
        o.join(c, "cust")
        .groupBy("cohort", (F.col("ym") - F.col("cohort")).alias("month_offset"))
        .agg(
            F.count_distinct("cust").cast("long").alias("active_customers"),
            F.sum("rev").cast("long").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Open-order backlog per day (interval stabbing via +1/-1 deltas and
# the two-phase running sum — no per-interval explode)
# ---------------------------------------------------------------------------


@query(
    "orders_backlog_daily",
    """
    WITH o AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS open_day,
             epoch_us(o_orderdate) // 86400000000 + 1 + o_orderkey % 30
               AS close_day
      FROM orders),
    d AS (
      SELECT open_day AS day, CAST(1 AS BIGINT) AS delta FROM o
      UNION ALL
      SELECT close_day AS day, CAST(-1 AS BIGINT) AS delta FROM o),
    g AS (SELECT day, SUM(delta) AS delta FROM d GROUP BY day)
    SELECT day, CAST(delta AS BIGINT) AS delta,
           CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS backlog
    FROM g
    """,
)
def q_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stabbing counts without exploding intervals: each
    order contributes +1 at its open day and −1 at its (derived)
    close day; per-day deltas aggregate first (bounded by the
    calendar), then ONE two-phase running sum turns deltas into the
    daily open-order backlog. At 100 TB the interval count never
    materializes per-day-per-interval rows — the classic
    event-difference rewrite, on the package's prefix machinery."""
    from thrill_spark import ordering as O

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    o = orders.select(
        day.alias("open_day"),
        (day + 1 + F.col("o_orderkey") % 30).alias("close_day"),
    )
    d = o.select(F.col("open_day").alias("day"), F.lit(1).cast("long").alias("delta")).unionByName(
        o.select(F.col("close_day").alias("day"), F.lit(-1).cast("long").alias("delta"))
    )
    g = d.groupBy("day").agg(F.sum("delta").cast("long").alias("delta"))
    scanned = O.prefix_scan(g, ["day"], "delta", F.sum, lambda a, b: a + b, name="backlog")
    return scanned.select(
        "day", "delta", F.col("backlog").cast("long").alias("backlog")
    )


# ---------------------------------------------------------------------------
# Deterministic A/B assignment + conversion accounting
# ---------------------------------------------------------------------------


@query(
    "events_ab_experiment",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arm AS (SELECT user_id,
                   CAST('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 2 AS arm
            FROM u),
    conv AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase')
    SELECT arm.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                * 10000 // COUNT(*) AS BIGINT) AS conv_bp
    FROM arm LEFT JOIN conv ON conv.user_id = arm.user_id
    GROUP BY arm.arm
    """,
)
def q_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation table stakes: hash-stable arm assignment (the
    same user lands in the same arm across sessions and reruns — no
    RNG state), per-arm conversion counts and rate in exact basis
    points. The assignment hash is the corpus split discipline
    applied to users."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    arm = u.select(
        "user_id",
        (TX.md5_long(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))) % 2).alias(
            "arm"
        ),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("cuser"))
        .distinct()
    )
    j = arm.join(conv, arm["user_id"] == conv["cuser"], "left")
    return j.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("cuser").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.expr(
            "CAST(sum(CASE WHEN cuser IS NOT NULL THEN 1 ELSE 0 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("conv_bp"),
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-ball search (Manku et al. multi-table rewrite)
# ---------------------------------------------------------------------------


def _sql_simhash_hamming() -> str:
    from thrill_spark.plans.queries_llm import _sql_simhash

    return f"""
    WITH s AS ({_sql_simhash()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("dedup_simhash_hamming", _sql_simhash_hamming())
def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball near-dup pairs over SimHash signatures via the
    pigeonhole band rewrite — candidates from band-equality hash
    joins, popcount verify on candidates only; the oracle's brute
    theta join proves the band search COMPLETE (every pair within the
    budget found) as well as sound."""
    docs = load_table(spark, sf_dir, "documents")
    from thrill_spark.plans.queries_llm import _SIMHASH_BITS

    return D.simhash_hamming_pairs(
        docs, bits=_SIMHASH_BITS, max_hamming=3
    )


# ---------------------------------------------------------------------------
# Framed WAV energies (real decode -> per-frame features)
# ---------------------------------------------------------------------------
_WAV_FRAME = 32


@query(
    "multimodal_wav_frame_energy",
    f"""
    WITH d AS (SELECT doc_id, CAST(100 + doc_id % 50 AS INT) AS n
               FROM documents),
    f AS (SELECT doc_id, n,
                 unnest(generate_series(0, (n - 1) // {_WAV_FRAME})) AS frame
          FROM d)
    SELECT doc_id AS id, CAST(frame AS INT) AS frame,
           CAST(least(n - frame * {_WAV_FRAME}, {_WAV_FRAME}) AS INT)
             AS n_in_frame,
           CAST(list_reduce(list_transform(
                  generate_series(frame * {_WAV_FRAME},
                                  least(n, (frame + 1) * {_WAV_FRAME}) - 1),
                  i -> ((doc_id*31 + i*17) % 2048 - 1024)
                     * ((doc_id*31 + i*17) % 2048 - 1024)),
                (a, b) -> a + b) AS BIGINT) AS frame_energy
    FROM f
    """,
)
def q_wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame PCM energies on real bytes: every row's WAV container
    is actually parsed and its 16-bit samples unpacked before framing
    (functions/multimodal.py::wav_frame_energies); the oracle rebuilds
    each frame's energy from the closed-form sample function, so a
    wrong decode, frame split, or off-by-one anywhere hash-mismatches."""
    from thrill_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    media = MM.attach_real_wav_media(docs, "id")
    return MM.wav_frame_energies(media, frame_samples=_WAV_FRAME)


# ---------------------------------------------------------------------------
# First-touch attribution (earliest view in the lookback before purchase)
# ---------------------------------------------------------------------------


@query(
    "events_attribution_first_touch",
    """
    WITH p AS (SELECT event_id, user_id, ts AS pt FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'),
    m AS (
      SELECT p.event_id, p.user_id, p.pt, MIN(v.vt) AS first_vt
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id AND v.vt <= p.pt
       AND v.vt >= p.pt - INTERVAL 24 HOUR
      GROUP BY p.event_id, p.user_id, p.pt)
    SELECT event_id, user_id, epoch_us(pt) AS purchase_us,
           coalesce(epoch_us(first_vt), -1) AS first_view_us,
           first_vt IS NOT NULL AS attributed
    FROM m
    """,
)
def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution — the awareness-credit sibling of the
    registered last-touch query: each purchase credits the EARLIEST
    view inside a 24h lookback (min-aggregate over the user-keyed
    join, no windows). Completes the attribution family: first-touch,
    last-touch (as-of), linear multi-touch."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("pt")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), us.alias("vt")
    )
    look = 24 * 3600 * 1_000_000
    m = (
        p.join(
            v,
            (p["user_id"] == v["vu"])
            & (F.col("vt") <= F.col("pt"))
            & (F.col("vt") >= F.col("pt") - look),
            "left",
        )
        .groupBy("event_id", "user_id", "pt")
        .agg(F.min("vt").alias("first_vt"))
    )
    return m.select(
        "event_id",
        "user_id",
        F.col("pt").alias("purchase_us"),
        F.coalesce(F.col("first_vt"), F.lit(-1)).cast("long").alias("first_view_us"),
        F.col("first_vt").isNotNull().alias("attributed"),
    )


# ---------------------------------------------------------------------------
# Year-over-year revenue growth per nation (integer bp deltas)
# ---------------------------------------------------------------------------


@query(
    "nation_revenue_yoy",
    """
    WITH r AS (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
             CAST(SUM(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, year(o.o_orderdate))
    SELECT nation, CAST(yr AS INT) AS yr, rev,
           CAST(prev AS BIGINT) AS prev_rev,
           CAST(CASE WHEN prev > 0 THEN (rev - prev) * 10000 // prev
                     ELSE 0 END AS BIGINT) AS yoy_bp
    FROM (SELECT nation, yr, rev,
                 lag(rev) OVER (PARTITION BY nation ORDER BY yr) AS prev
          FROM r)
    WHERE prev IS NOT NULL
    """,
)
def q_nation_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per nation in exact basis points: a
    three-table star join (nation/customer broadcast), integer yearly
    revenue, and a nation-keyed lag — the reporting staple, exact to
    the unit."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.sum(F.floor("o_totalprice").cast("long")).cast("long").alias("rev"))
    )
    w = W.partitionBy("nation").orderBy("yr")
    return (
        r.withColumn("prev", F.lag("rev").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "nation",
            F.col("yr").cast("int").alias("yr"),
            "rev",
            F.col("prev").cast("long").alias("prev_rev"),
            F.when(F.col("prev") > 0, F.expr("(rev - prev) * 10000 div prev"))
            .otherwise(0)
            .cast("long")
            .alias("yoy_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Burst detection: minutes whose event rate exceeds 3x the trailing
# hour's per-minute mean (day-keyed windows)
# ---------------------------------------------------------------------------


@query(
    "events_burst_detection",
    """
    WITH m AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             epoch_us(ts) // 60000000 AS minute,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT day, minute, n,
             SUM(n) OVER (PARTITION BY day ORDER BY minute
                          RANGE BETWEEN 60 PRECEDING AND 1 PRECEDING)
               AS trail_n,
             COUNT(*) OVER (PARTITION BY day ORDER BY minute
                            RANGE BETWEEN 60 PRECEDING AND 1 PRECEDING)
               AS trail_m
      FROM m)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_minutes,
           CAST(SUM(CASE WHEN trail_m >= 10 AND n * trail_m > 3 * trail_n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts
    FROM w GROUP BY day
    """,
)
def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detector: a minute is a burst when its event count
    exceeds 3x the trailing hour's per-minute mean (cross-multiplied
    integers — no division), requiring >= 10 trailing active minutes
    of baseline. RANGE-framed windows keyed per day (calendar-bounded
    partitions); the monitoring primitive for ingest anomaly pages."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy(
        F.to_date("ts").cast("string").alias("day"),
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
    ).agg(F.count("*").cast("long").alias("n"))
    w = (
        W.partitionBy("day")
        .orderBy("minute")
        .rangeBetween(-60, -1)
    )
    t = m.withColumn("trail_n", F.sum("n").over(w)).withColumn(
        "trail_m", F.count("*").over(w)
    )
    burst = (F.col("trail_m") >= 10) & (
        F.col("n") * F.col("trail_m") > 3 * F.col("trail_n")
    )
    return t.groupBy("day").agg(
        F.count("*").cast("long").alias("n_minutes"),
        F.sum(F.when(burst, 1).otherwise(0)).cast("long").alias("n_bursts"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth curve (first occurrences + prefix scan)
# ---------------------------------------------------------------------------
_VG_BUCKET = 100


@query(
    "corpus_vocab_growth",
    f"""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest({SQL_TOKS}) AS t FROM documents)),
    firsts AS (SELECT t, MIN(doc_id) AS first_doc FROM tok GROUP BY t),
    per_doc AS (
      SELECT b.doc_id,
             CAST(len({SQL_TOKS}) AS BIGINT) AS n_toks,
             CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new
      FROM documents b
      LEFT JOIN (SELECT first_doc, COUNT(*) AS n_new
                 FROM firsts GROUP BY first_doc) f
        ON f.first_doc = b.doc_id),
    buckets AS (
      SELECT doc_id // {_VG_BUCKET} AS bucket,
             SUM(n_toks) AS toks, SUM(n_new) AS new_types
      FROM per_doc GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(toks) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS tokens_seen,
           CAST(SUM(new_types) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS vocab_size
    FROM buckets
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: vocabulary size as a function of tokens
    processed in doc order. Each type charges its FIRST document (one
    vocabulary-sized aggregation), per-bucket news aggregate to a
    calendar-of-buckets table, and the cumulative curve is the
    two-phase prefix scan over buckets — corpus-sized work is two
    keyed aggregations, the curve itself is metadata-scale."""
    from thrill_spark import ordering as O

    docs = load_table(spark, sf_dir, "documents")
    from thrill_spark.ordering import _persist

    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    firsts = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("n_new"))
    )
    per_doc = (
        docs.select("doc_id", F.size(TX.tokens("text")).cast("long").alias("n_toks"))
        .join(firsts, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    buckets = _persist(
        per_doc.groupBy(F.expr(f"doc_id div {_VG_BUCKET}").alias("bucket")).agg(
            F.sum("n_toks").alias("toks"), F.sum("n_new").alias("new_types")
        )
    )
    cum_t = O.prefix_scan(
        buckets, ["bucket"], "toks", F.sum, lambda a, b: a + b, name="tokens_seen"
    ).select("bucket", "tokens_seen")
    cum_v = O.prefix_scan(
        buckets, ["bucket"], "new_types", F.sum, lambda a, b: a + b, name="vocab_size"
    ).select(F.col("bucket").alias("b2"), "vocab_size")
    return (
        cum_t.join(cum_v, cum_t["bucket"] == cum_v["b2"])
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("tokens_seen").cast("long").alias("tokens_seen"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
        )
    )
