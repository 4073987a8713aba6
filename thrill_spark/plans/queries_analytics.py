"""Queries batch: mergeable-sketch analytics and index-backed search —
theta-sketch set operations, sequential-pattern support counting, a
Benford-law data-quality profile, an integer token-vote classifier,
bucket-histogram quantile sketching, and FM-index backward-search
occurrence counting over the doc0 BWT.

Reference anchors: the theta/quantile sketches extend the reference's
sketch surface (thrill api/hyperloglog.hpp is its only sketch; these
add the mergeable set-operation and quantile sides the same way
functions/sketches.py added frequency). FM counting completes the
suffix-sorting family (examples/suffix_sorting/ builds SA/BWT/LCP;
the FM-index is the canonical CONSUMER of that output). The pattern /
classifier / Benford queries are training-data-pipeline operators with
no reference analogue.

Determinism contract (see tests/oracle.py): every output column is
exact-integer, string, or boolean — md5-derived hashes, integer
division, struct-min argmax with explicit tie-breaks — so the DuckDB
oracle hash-matches bit-for-bit at every sf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from thrill_spark.catalog import load_table, scratch_dir
from thrill_spark.functions import text as TX
from thrill_spark.plans import algorithms as A
from thrill_spark.plans.queries import query
from thrill_spark.plans.queries_llm import SQL_TOKS
from thrill_spark.session import local_frame

# ---------------------------------------------------------------------------
# Theta-sketch set operations: per-event-type KMV/theta sketches, then
# pairwise union AND intersection estimates — the operation family HLL
# cannot do (HLL unions but never intersects). All-integer (md5 hashes,
# integer division) so the oracle replays the sketch itself; a 2x band
# vs the exact answer is the statistical check (k=64 -> rse ~ 12.6%).
# ---------------------------------------------------------------------------
_TH_K = 64
_TH_SHARDS = 16
_TH_SPACE = 1 << 60  # md5_long range


def _sql_theta() -> str:
    md5l = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"""
    WITH h AS (SELECT DISTINCT event_type, {md5l} AS hv FROM events),
    shard_k AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type, hv % {_TH_SHARDS}
                                  ORDER BY hv) AS rn
        FROM h) WHERE rn <= {_TH_K}),
    sk AS (
      SELECT event_type, hv, rn FROM (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM shard_k) WHERE rn <= {_TH_K}),
    th AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN rn = {_TH_K} THEN hv END), {_TH_SPACE}) AS theta
      FROM sk GROUP BY event_type),
    pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
              FROM th a, th b WHERE a.event_type < b.event_type),
    pt AS (SELECT p.ta, p.tb, LEAST(x.theta, y.theta) AS theta
           FROM pairs p JOIN th x ON x.event_type = p.ta
                        JOIN th y ON y.event_type = p.tb),
    ac AS (SELECT p.ta, p.tb, COUNT(*) AS cnt FROM pt p
           JOIN sk a ON a.event_type = p.ta AND a.hv < p.theta
           GROUP BY 1, 2),
    bc AS (SELECT p.ta, p.tb, COUNT(*) AS cnt FROM pt p
           JOIN sk b ON b.event_type = p.tb AND b.hv < p.theta
           GROUP BY 1, 2),
    ic AS (SELECT p.ta, p.tb, COUNT(*) AS cnt FROM pt p
           JOIN sk a ON a.event_type = p.ta AND a.hv < p.theta
           JOIN sk b ON b.event_type = p.tb AND b.hv = a.hv
           GROUP BY 1, 2),
    ut AS (SELECT DISTINCT event_type, user_id FROM events),
    ec AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
    ei AS (SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n
           FROM ut a JOIN ut b ON a.user_id = b.user_id
                                AND a.event_type < b.event_type
           GROUP BY 1, 2),
    est AS (
      SELECT pt.ta, pt.tb,
             (COALESCE(ac.cnt, 0) + COALESCE(bc.cnt, 0) - COALESCE(ic.cnt, 0))
               * ({_TH_SPACE} // pt.theta) AS est_u,
             COALESCE(ic.cnt, 0) * ({_TH_SPACE} // pt.theta) AS est_i,
             ea.n + eb.n - COALESCE(ei.n, 0) AS ex_u,
             COALESCE(ei.n, 0) AS ex_i
      FROM pt
      LEFT JOIN ac ON ac.ta = pt.ta AND ac.tb = pt.tb
      LEFT JOIN bc ON bc.ta = pt.ta AND bc.tb = pt.tb
      LEFT JOIN ic ON ic.ta = pt.ta AND ic.tb = pt.tb
      LEFT JOIN ei ON ei.ta = pt.ta AND ei.tb = pt.tb
      JOIN ec ea ON ea.event_type = pt.ta
      JOIN ec eb ON eb.event_type = pt.tb)
    SELECT ta AS type_a, tb AS type_b,
           CAST(est_u AS BIGINT) AS est_union,
           CAST(ex_u AS BIGINT) AS exact_union,
           CAST(est_i AS BIGINT) AS est_inter,
           CAST(ex_i AS BIGINT) AS exact_inter,
           (2 * est_u >= ex_u AND est_u <= 2 * ex_u
            AND 2 * est_i >= ex_i AND est_i <= 2 * ex_i) AS band_ok
    FROM est
    """


@query("events_theta_setops", _sql_theta())
def q_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over per-event-type user sets:
    sketch_X = the k smallest distinct user-hashes of type X, theta_X =
    the k-th min (SPACE when |X| < k: exact mode). For a pair, with
    theta = min(theta_A, theta_B), |A∩B| ~= |{h in both sketches,
    h < theta}| * SPACE/theta and |A∪B| by inclusion-exclusion on the
    same capped counts — the intersection estimate HLL cannot produce.

    Scale: same distributed top-k discipline as events_kmv_sketch
    (per-(type, shard) row_number first, then the per-type merge ranks
    <= shards*k survivors); all pairwise work happens on the <= 5*64-row
    sketch table, never on raw users. The exact sides (for the band
    check) are keyed aggregations by user, no all-pairs anywhere."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type", TX.md5_long(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    w_shard = Window.partitionBy("event_type", F.col("hv") % _TH_SHARDS).orderBy("hv")
    shard_k = (
        h.withColumn("rn", F.row_number().over(w_shard))
        .filter(F.col("rn") <= _TH_K)
        .drop("rn")
    )
    w_t = Window.partitionBy("event_type").orderBy("hv")
    # The sketch table (<= types*k rows) and the distinct (type, user)
    # table are each referenced by several downstream aggregates;
    # persist so the sketch pipeline runs once, not once per reference.
    sk = (
        shard_k.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= _TH_K)
        .persist()
    )
    th = sk.groupBy("event_type").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _TH_K, F.col("hv"))), F.lit(_TH_SPACE)
        ).alias("theta")
    )
    ta = th.select(F.col("event_type").alias("ta"), F.col("theta").alias("th_a"))
    tb = th.select(F.col("event_type").alias("tb"), F.col("theta").alias("th_b"))
    pt = (
        ta.crossJoin(F.broadcast(tb))
        .filter(F.col("ta") < F.col("tb"))
        .select("ta", "tb", F.least("th_a", "th_b").alias("theta"))
    )
    ska = sk.select(F.col("event_type").alias("ta"), "hv")
    skb = sk.select(F.col("event_type").alias("tb"), "hv")
    ac = (
        F.broadcast(pt).join(ska, "ta")
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("ta", "tb").agg(F.count("*").alias("cnt_a"))
    )
    bc = (
        F.broadcast(pt).join(skb, "tb")
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("ta", "tb").agg(F.count("*").alias("cnt_b"))
    )
    ic = (
        F.broadcast(pt).join(ska, "ta")
        .filter(F.col("hv") < F.col("theta"))
        .join(skb, ["tb", "hv"])
        .groupBy("ta", "tb").agg(F.count("*").alias("cnt_i"))
    )
    ut = ev.select("event_type", "user_id").distinct().persist()
    ec = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    ei = (
        ut.select(F.col("event_type").alias("ta"), "user_id")
        .join(ut.select(F.col("event_type").alias("tb"), "user_id"), "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb").agg(F.count("*").alias("n_i"))
    )
    mult = F.expr(f"{_TH_SPACE} div theta")
    est_u = (
        F.coalesce("cnt_a", F.lit(0))
        + F.coalesce("cnt_b", F.lit(0))
        - F.coalesce("cnt_i", F.lit(0))
    ) * mult
    est_i = F.coalesce("cnt_i", F.lit(0)) * mult
    ex_u = F.col("n_a") + F.col("n_b") - F.coalesce("n_i", F.lit(0))
    ex_i = F.coalesce("n_i", F.lit(0))
    return (
        pt.join(ac, ["ta", "tb"], "left")
        .join(bc, ["ta", "tb"], "left")
        .join(ic, ["ta", "tb"], "left")
        .join(ei, ["ta", "tb"], "left")
        .join(ec.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a")), "ta")
        .join(ec.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b")), "tb")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            est_u.cast("long").alias("est_union"),
            ex_u.cast("long").alias("exact_union"),
            est_i.cast("long").alias("est_inter"),
            ex_i.cast("long").alias("exact_inter"),
            (
                (est_u * 2 >= ex_u) & (est_u <= ex_u * 2)
                & (est_i * 2 >= ex_i) & (est_i <= ex_i * 2)
            ).alias("band_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential-pattern support (GSP/PrefixSpan support-counting core):
# adjacent event-type bigrams per user's time-ordered stream.
# ---------------------------------------------------------------------------
@query(
    "events_seq_pattern_support",
    """
    WITH s AS (SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events)
    SELECT prev AS type_from, event_type AS type_to,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support_users
    FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
    """,
)
def q_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential-pattern support: for every adjacent
    (prev -> next) event-type transition in a user's ts-ordered stream,
    the occurrence count and the user support (the two measures
    sequence miners threshold on). Deterministic ordering via the
    (ts, event_id) tie-break.

    Scale: one hash shuffle by user_id for the lag window, then a
    keyed agg over at most |types|^2 groups — no driver state."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn("prev", F.lag("event_type").over(w))
    return (
        s.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("type_from"), F.col("event_type").alias("type_to"))
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct("user_id").cast("long").alias("support_users"),
        )
    )


# ---------------------------------------------------------------------------
# Benford-law data-quality profile over order totals (fraud/synthetic-
# data screen): observed vs expected leading-digit distribution, in
# integer permille so the oracle is exact.
# ---------------------------------------------------------------------------
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}


def _sql_benford() -> str:
    case = " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PERMILLE.items())
    return f"""
    WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c),
    g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM g)
    SELECT g.digit,
           CAST(g.n AS BIGINT) AS n,
           CAST(g.n * 1000 // t.total AS BIGINT) AS obs_permille,
           CAST(CASE g.digit {case} END AS BIGINT) AS exp_permille,
           CAST(abs(g.n * 1000 // t.total - CASE g.digit {case} END) AS BIGINT)
             AS dev_permille
    FROM g, t
    """


@query("profile_benford_totalprice", _sql_benford())
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit profile of o_totalprice: per digit, the
    observed permille share vs the Benford expectation (fixed integer
    constants for log10(1+1/d) — never libm) and the absolute
    deviation. Leading digit is read from the decimal string of the
    exact cents integer, so both engines see identical digits.

    Scale: one map-side-combinable 9-group aggregation plus a scalar
    total broadcast — nothing keyed by row identity."""
    exp_col = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PERMILLE.items() for x in kv]
    )
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    d = o.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    g = d.groupBy("digit").agg(F.count("*").alias("n"))
    total = g.agg(F.sum("n").alias("total"))
    obs = F.expr("n * 1000 div total")
    exp_ = F.element_at(exp_col, F.col("digit")).cast("long")
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            obs.cast("long").alias("obs_permille"),
            exp_.alias("exp_permille"),
            F.abs(obs - exp_).cast("long").alias("dev_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Integer token-vote language classifier: train/test split by doc_id,
# per-token argmax-lang votes from the train split, per-doc majority
# vote on the test split. Every argmax is a struct-min with explicit
# (count desc, lang asc) tie-breaks, so predictions are deterministic.
# ---------------------------------------------------------------------------
@query(
    "ml_token_vote_classifier",
    f"""
    WITH docs AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
    tl AS (SELECT unnest(toks) AS tok, lang FROM docs WHERE doc_id % 3 <> 0),
    tc AS (SELECT tok, lang, COUNT(*) AS n FROM tl GROUP BY 1, 2),
    tv AS (SELECT tok, lang AS vote FROM (
             SELECT tok, lang,
                    ROW_NUMBER() OVER (PARTITION BY tok
                                       ORDER BY n DESC, lang) AS rn
             FROM tc) WHERE rn = 1),
    modal AS (SELECT lang AS m FROM (
                SELECT lang, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang) AS rn
                FROM docs WHERE doc_id % 3 <> 0 GROUP BY lang) WHERE rn = 1),
    tt AS (SELECT doc_id, unnest(toks) AS tok FROM docs WHERE doc_id % 3 = 0),
    dv AS (SELECT t.doc_id, v.vote, COUNT(*) AS n
           FROM tt t JOIN tv v USING (tok) GROUP BY 1, 2),
    pred AS (SELECT doc_id, vote FROM (
               SELECT doc_id, vote,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC, vote) AS rn
               FROM dv) WHERE rn = 1)
    SELECT d.doc_id,
           COALESCE(p.vote, (SELECT m FROM modal)) AS predicted_lang,
           d.lang AS actual_lang,
           COALESCE(p.vote, (SELECT m FROM modal)) = d.lang AS correct
    FROM documents d LEFT JOIN pred p USING (doc_id)
    WHERE d.doc_id % 3 = 0
    """,
)
def q_token_vote_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-vote language classifier: each train-split token votes for
    its most frequent lang; a test doc's prediction is the majority
    vote of its known tokens (unknown-token docs fall back to the train
    modal lang). Integer counts and struct-min argmax throughout — the
    naive-Bayes shape without FP log-likelihoods, so the oracle is
    bit-exact.

    Scale: vocab table keyed by token (hash join with the exploded test
    tokens), per-doc argmax is a keyed struct-min agg — no windows over
    raw rows, no driver-side model state."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", TX.tokens("text").alias("toks")
    )
    train = docs.filter(F.col("doc_id") % 3 != 0)
    test = docs.filter(F.col("doc_id") % 3 == 0)
    tc = (
        train.select(F.explode("toks").alias("tok"), "lang")
        .groupBy("tok", "lang").agg(F.count("*").alias("n"))
    )
    tv = tc.groupBy("tok").agg(
        F.min(F.struct((-F.col("n")).alias("nn"), F.col("lang").alias("l"))).alias("m")
    ).select("tok", F.col("m.l").alias("vote"))
    modal = (
        train.groupBy("lang").agg(F.count("*").alias("n"))
        .agg(F.min(F.struct((-F.col("n")).alias("nn"), F.col("lang").alias("l"))).alias("m"))
        .select(F.col("m.l").alias("modal_lang"))
    )
    dv = (
        test.select("doc_id", F.explode("toks").alias("tok"))
        .join(tv, "tok")
        .groupBy("doc_id", "vote").agg(F.count("*").alias("n"))
    )
    pred = dv.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("n")).alias("nn"), F.col("vote").alias("v"))).alias("m")
    ).select("doc_id", F.col("m.v").alias("pred"))
    predicted = F.coalesce("pred", "modal_lang")
    return (
        test.select("doc_id", F.col("lang").alias("actual_lang"))
        .join(pred, "doc_id", "left")
        .crossJoin(F.broadcast(modal))
        .select(
            "doc_id",
            predicted.alias("predicted_lang"),
            "actual_lang",
            (predicted == F.col("actual_lang")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable bucket-histogram quantile sketch over events.value, with an
# exact within-bucket refinement — the fixed-bin cousin of t-digest /
# KLL whose estimate the oracle can replay exactly.
# ---------------------------------------------------------------------------
_HQ_W = 1000  # bucket width in cents
_HQ_QS = (500, 900, 990)  # permille targets


def _sql_hist_quantiles() -> str:
    vals = ", ".join(f"({q})" for q in _HQ_QS)
    return f"""
    WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
    h AS (SELECT cents // {_HQ_W} AS bucket, COUNT(*) AS cnt FROM c GROUP BY 1),
    cum AS (SELECT bucket, cnt,
                   CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
            FROM h),
    tot AS (SELECT COUNT(*) AS n FROM c),
    q(q_permille) AS (VALUES {vals}),
    tg AS (SELECT q_permille, (q_permille * n + 999) // 1000 AS t FROM q, tot),
    eb AS (SELECT tg.q_permille, tg.t, MIN(cum.bucket) AS b
           FROM tg JOIN cum ON cum.cum >= tg.t GROUP BY 1, 2),
    ebc AS (SELECT eb.q_permille, eb.t, eb.b, cum.cum - cum.cnt AS cum_before
            FROM eb JOIN cum ON cum.bucket = eb.b),
    ex AS (SELECT e.q_permille, e.t, e.b, c.cents,
                  ROW_NUMBER() OVER (PARTITION BY e.q_permille
                                     ORDER BY c.cents) AS rn,
                  e.cum_before
           FROM ebc e JOIN c ON c.cents // {_HQ_W} = e.b)
    SELECT CAST(q_permille AS BIGINT) AS q_permille,
           CAST(t AS BIGINT) AS target_rank,
           CAST(b * {_HQ_W} AS BIGINT) AS est_lo_cents,
           CAST(cents AS BIGINT) AS exact_cents,
           CAST(cents - b * {_HQ_W} AS BIGINT) AS err_cents
    FROM ex WHERE cum_before + rn = t
    """


@query("events_histogram_quantiles", _sql_hist_quantiles())
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles via a mergeable fixed-width histogram sketch —
    extends events_histogram_quantile (which bounds only the median's
    bin on the [0,1) value slice) to multiple permille targets over the
    full range WITH exact recovery of each target value: bucket
    counts (one map-side-combinable agg) locate each permille target's
    bucket; the estimate is the bucket's lower edge; an exact
    within-the-one-bucket rank refinement recovers the true value and
    err_cents (< bucket width by construction) records the sketch
    error. The selected VALUE at a rank is deterministic even when
    equal cents tie on row identity.

    Scale: the sketch is ~max_cents/W rows (merged via broadcast
    non-equi self-join, never a global window); the refinement sorts
    ONLY the rows of the target buckets, keyed by q — at 100 TB you
    would recurse the refinement on a narrower width instead of one
    in-bucket window."""
    qdf = local_frame(spark, [(q,) for q in _HQ_QS], "q_permille long")
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
    # The ~max_cents/W-row sketch is referenced by the cumsum (twice),
    # the total, and the target-bucket lookup — persist so the full
    # scan that builds it runs exactly once.
    h = c.groupBy(F.expr(f"cents div {_HQ_W}").alias("bucket")).agg(
        F.count("*").alias("cnt")
    ).persist()
    h2 = h.select(F.col("bucket").alias("b2"), F.col("cnt").alias("c2"))
    cum = (
        h.join(F.broadcast(h2), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket", "cnt")
        .agg(F.sum("c2").cast("long").alias("cum"))
    )
    tot = h.agg(F.sum("cnt").alias("n"))
    tg = qdf.crossJoin(F.broadcast(tot)).select(
        "q_permille", F.expr("(q_permille * n + 999) div 1000").alias("t")
    )
    eb = (
        F.broadcast(tg).join(cum, F.col("cum") >= F.col("t"))
        .groupBy("q_permille", "t").agg(F.min("bucket").alias("b"))
    )
    ebc = eb.join(
        cum.select("bucket", (F.col("cum") - F.col("cnt")).alias("cum_before")),
        eb["b"] == F.col("bucket"),
    ).select("q_permille", "t", "b", "cum_before")
    ex = c.withColumn("bucket", F.expr(f"cents div {_HQ_W}")).join(
        F.broadcast(ebc), F.col("bucket") == F.col("b")
    )
    w = Window.partitionBy("q_permille").orderBy("cents")
    return (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("cum_before") + F.col("rn") == F.col("t"))
        .select(
            F.col("q_permille").cast("long").alias("q_permille"),
            F.col("t").cast("long").alias("target_rank"),
            (F.col("b") * _HQ_W).cast("long").alias("est_lo_cents"),
            F.col("cents").cast("long").alias("exact_cents"),
            (F.col("cents") - F.col("b") * _HQ_W).cast("long").alias("err_cents"),
        )
    )


# ---------------------------------------------------------------------------
# FM-index family over doc0: suffix_fm_build materializes the index
# ONCE (suffix array + BWT as a rank-sorted parquet table, plus
# per-block rank samples), and count/locate consume it — the
# build-once/query-many pattern an FM index exists for (VERDICT r12
# #2; reference examples/suffix_sorting/ likewise builds SA/BWT/LCP
# to files that downstream searches read). Backward search maps
# [lo, hi) through lo' = C[c] + rank(c, lo) where rank(c, i) =
# samples[c, i div B] + a partial count over the single B-rank block
# containing i — with the index parquet range-partitioned and sorted
# by rank, those literal block predicates row-group-prune, so a probe
# touches one block instead of the whole BWT. The oracles verify the
# counts, positions, AND the index's search surface (C-table + rank
# ranges) against direct suffix scans of the text.
# ---------------------------------------------------------------------------
_FM_PATTERNS = ("sort", "batch", "row", "the")
_FM_SENTINEL = "\x01"  # unique terminator, never in the (lowercased) text
# Suffix-array rank-ladder step for the FM family (4 = quadrupling,
# 8 = octupling). r12 pinned min-of-5 A/B at sf0.1 and heavy K=4
# (BENCH_NOTES "Round-12 octupling A/B") keeps the winner here.
_FM_SA_STEP = 8
# Rank-sample checkpoint spacing B: rank(c, i) reads one sampled
# cumulative count plus a partial scan of at most B index rows.
_FM_RANK_BLOCK = 1024

def _has_border(p: str) -> bool:
    """True if p has a proper prefix that is also a suffix (a border).
    The replace-based oracle is only exact for border-free patterns
    (no border => matches cannot overlap). Checked inside q_fm_count —
    not at module import — so a bad pattern breaks only that query,
    never the whole registry (certified by tests/test_fm_index.py)."""
    return any(p[:k] == p[-k:] for k in range(1, len(p)))


def _sql_fm_count() -> str:
    # Replace-based occurrence count. Exact (== overlapping count)
    # because every pattern in _FM_PATTERNS is border-free: with no
    # proper prefix that is also a suffix, matches can never overlap.
    vals = ", ".join(f"('{p}')" for p in _FM_PATTERNS)
    return f"""
    WITH t AS (SELECT lower(text) AS txt FROM documents WHERE doc_id = 0),
    pats(pattern) AS (VALUES {vals})
    SELECT p.pattern,
           CAST((length(t.txt) - length(replace(t.txt, p.pattern, '')))
                // length(p.pattern) AS BIGINT) AS n_occ
    FROM pats p, t
    """


def fm_backward_count(
    spark: SparkSession, text_df: DataFrame, patterns: tuple[str, ...]
) -> list[tuple[str, int]]:
    """FM-index backward-search occurrence counts for `patterns` over
    the single-row text_df (column `_s`, already case-normalized).

    Suffix-sorts text+sentinel (prefix doubling, the same distributed
    path as suffix_array_doc0), derives the BWT, then runs backward
    search — each step maps [lo, hi) through lo' = C[c] + rank(c, lo)
    via batched rank probes (one broadcast-join job per pattern step
    over the persisted BWT, all patterns probed together). The C-table
    and per-step probe results are bounded driver scalars (alphabet-
    size / 2 rows per pattern). Counts OVERLAPPING occurrences (every
    suffix of text+sentinel starting with the pattern), which the
    replace-based oracle cannot express — the bordered-pattern case is
    certified by unit test instead.

    Scale: loop length = pattern length (never data size); at corpus
    scale you'd persist sampled occ checkpoints instead of counting
    rank probes from scratch, same contract."""
    s = text_df.select(F.concat(F.col("_s"), F.lit(_FM_SENTINEL)).alias("_s"))
    chars = A.chunked_chars(s, text_col="_s")
    # n+1 from the single text row — counting the exploded char table
    # would re-run the full explode as a separate job (r11 lesson from
    # the ExactSubstr offsets-table count)
    n1 = int(s.select(F.length("_s").alias("n")).first()["n"])
    return fm_search_chars(spark, chars, n1, patterns)


def fm_search_chars(
    spark: SparkSession,
    chars: DataFrame,
    n1: int,
    patterns: tuple[str, ...],
) -> list[tuple[str, int]]:
    """Backward search over a pre-distributed (pos, ch) character table
    whose LAST position holds the unique sentinel — the entry point for
    long texts, where exploding a single text row would put the whole
    sequence through one task (see tools/scale_check.py heavy fm)."""
    state, _ = fm_backward_ranges(spark, chars, n1, patterns)
    return [(p, max(hi - lo, 0)) for p, (lo, hi) in state.items()]


def _fm_samples_rollup(
    rows, n1: int
) -> tuple[dict[str, int], dict[tuple[str, int], int]]:
    """Driver-side rollup of collected (ch, blk, n) rank-sample rows
    into the C-table (char -> first SA rank, i.e. count of strictly
    smaller chars) and DENSE cumulative checkpoints cum[(ch, b)] =
    occurrences of ch in BWT ranks < b*B, for b in 0..nblocks.
    Called ONLY below the _FM_DRIVER_CUM_MAX gate (r14): past it the
    builders return cum=None and searches join the materialized cum
    parquet instead (_fm_backward_search_frame) — the rollup can
    never quietly grow into a multi-GB driver dict (ADVICE r13)."""
    per: dict[str, dict[int, int]] = {}
    for r in rows:
        per.setdefault(r["ch"], {})[int(r["blk"])] = int(r["n"])
    nblocks = (n1 + _FM_RANK_BLOCK - 1) // _FM_RANK_BLOCK
    ctab: dict[str, int] = {}
    cum: dict[tuple[str, int], int] = {}
    acc = 0
    for ch in sorted(per):
        ctab[ch] = acc
        run = 0
        for b in range(nblocks + 1):
            cum[(ch, b)] = run
            run += per[ch].get(b, 0)
        acc += run
    return ctab, cum


def _fm_rank_samples(
    bwt: DataFrame, n1: int
) -> tuple[dict[str, int], dict[tuple[str, int], int]]:
    """C-table + rank checkpoints from a (rank, ch) BWT frame,
    computed in-memory for the one-shot chars entry point
    (fm_backward_ranges — unit tests and scale harnesses). This path
    has no materialized cum parquet to fall back on, so past the
    driver gate it REFUSES loudly instead of quietly growing a
    multi-GB driver dict: corpus-scale searches go through
    fm_build_index / fm_build_corpus_index, whose gated path serves
    probes from the distributed checkpoint frame."""
    nblocks = (n1 + _FM_RANK_BLOCK - 1) // _FM_RANK_BLOCK
    if nblocks + 1 > _FM_DRIVER_CUM_MAX:  # pre-aggregate upper-bound probe
        raise ValueError(
            f"fm in-memory search: text of {n1} chars needs {nblocks + 1} "
            "rank checkpoints per character — past the driver gate. "
            "Build a materialized index (fm_build_index / "
            "fm_build_corpus_index) and search via "
            "_fm_backward_search_frame instead."
        )
    rows = (
        bwt.groupBy(
            "ch",
            F.floor(F.col("rank") / _FM_RANK_BLOCK).cast("long").alias("blk"),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    if len({r["ch"] for r in rows}) * (nblocks + 1) > _FM_DRIVER_CUM_MAX:
        raise ValueError(
            "fm in-memory search: alphabet x checkpoint count exceeds the "
            "driver gate; use the materialized index path."
        )
    return _fm_samples_rollup(rows, n1)


def _fm_backward_search(
    bwt: DataFrame,
    ctab: dict[str, int],
    cum: dict[tuple[str, int], int],
    n1: int,
    patterns: tuple[str, ...],
) -> dict[str, tuple[int, int]]:
    """Backward search with block-sampled rank probes, all patterns
    stepped together: rank(c, i) = cum[c, i div B] + |{ranks in
    [B*(i div B), i) with ch = c}|. Probes landing exactly on a block
    boundary are answered by the checkpoint alone; the remaining
    partial counts for the whole step batch into ONE conditional-
    aggregate scan whose filter is a pure LITERAL predicate — over the
    materialized parquet index (rank-sorted row groups) that predicate
    prunes to the probed blocks, so a probe reads ~B rows, not the
    rank-i prefix. Loop length = max pattern length, never data size.

    EMPTY intervals keep stepping: L(c.q) = C[c] + rank(c, L(q)) holds
    whether or not the interval is empty, so a collapsed [x, x)
    converges to the pattern's true SA INSERTION POINT — the value the
    build queries' direct-suffix-scan oracle computes for an absent
    pattern (freezing at the collapse step emitted whatever rank the
    range died at, which diverged at sf0.1 where 'the' never occurs in
    doc0). A character absent from the text collapses the interval to
    C*(c) = #suffixes starting below c = the next existing char's
    C-table start."""
    import bisect

    state: dict[str, tuple[int, int]] = {p: (0, n1) for p in patterns}
    max_len = max(len(p) for p in patterns)
    B = _FM_RANK_BLOCK
    alphabet = sorted(ctab)
    for j in range(1, max_len + 1):
        # Explicit (pattern, char, lo, hi) step tuples — lo/hi stay
        # paired with their pattern end-to-end.
        steps: list[tuple[str, str, int, int]] = []
        for p, (lo, hi) in state.items():
            if j > len(p):
                continue
            c = p[len(p) - j]
            if c not in ctab:
                k = bisect.bisect_left(alphabet, c)
                x = n1 if k == len(alphabet) else ctab[alphabet[k]]
                state[p] = (x, x)
                continue
            steps.append((p, c, lo, hi))
        if not steps:
            continue
        need: list[tuple[str, int]] = []
        for p, c, lo, hi in steps:
            for i in (lo, hi):
                if i % B != 0 and (c, i) not in need:
                    need.append((c, i))
        partial: dict[tuple[str, int], int] = {}
        if need:
            conds = [
                (F.col("ch") == c)
                & (F.col("rank") >= (i // B) * B)
                & (F.col("rank") < i)
                for c, i in need
            ]
            flt = conds[0]
            for cnd in conds[1:]:
                flt = flt | cnd
            aggs = [
                F.sum(F.when(cnd, 1).otherwise(0)).alias(f"k{k}")
                for k, cnd in enumerate(conds)
            ]
            row = bwt.filter(flt).agg(*aggs).first()
            for k, key in enumerate(need):
                partial[key] = int(row[f"k{k}"] or 0)
        for p, c, lo, hi in steps:
            state[p] = (
                ctab[c] + cum[(c, lo // B)] + partial.get((c, lo), 0),
                ctab[c] + cum[(c, hi // B)] + partial.get((c, hi), 0),
            )
    return state


def _fm_backward_search_frame(
    idx_df: DataFrame,
    cum_df: DataFrame,
    ctab: dict[str, int],
    n1: int,
    probes: DataFrame,
    pat_col: str = "pat",
    max_len: int | None = None,
) -> DataFrame:
    """SET-SCALE backward search: the probe set is a DataFrame, never
    driver tuples (VERDICT r13 #4). `probes` carries the pattern
    column `pat_col` plus any caller id columns; the result is the
    same frame with final [lo, hi) bounds appended. Per step j the
    work is ONE equi-join of the 2x|probes| rank lookups against the
    materialized cum checkpoint parquet plus ONE batched partial-count
    aggregation against the (ch, blk)-bucketed index — per-step cost
    is independent of probe count, so 10^5 eval n-grams cost the same
    number of jobs as 8. Only alphabet-bounded state (the C-table
    when-chain / map literal) and the scalar max pattern length touch
    the driver.

    Semantics are identical to the driver `_fm_backward_search`
    (property-tested): empty intervals keep LF-stepping to the true
    insertion point, and a character absent from the alphabet
    collapses the interval to C[ceil(c)] (next existing char's
    C-table start, n1 past the last)."""
    B = _FM_RANK_BLOCK
    alpha = sorted(ctab)
    pids = [c for c in probes.columns if c != pat_col]
    # The pattern column itself rides along as a key so the search
    # works with or without caller id columns (patterns in a bare
    # probes frame are distinct by construction).
    keys = [*pids, pat_col]
    if max_len is None:
        max_len = int(
            probes.agg(F.max(F.length(pat_col)).alias("m")).first()["m"] or 0
        )
    # Alphabet-bounded literal expressions (JVM-side, no UDF):
    # ceil(c) = C[first alphabet char >= c] (for existing c this IS
    # C[c]); exists via map-literal lookup.
    cmap = F.create_map(
        *[x for ch in alpha for x in (F.lit(ch), F.lit(ctab[ch]))]
    )

    def _ceil(c):
        e = F.when(c <= F.lit(alpha[0]), F.lit(ctab[alpha[0]]))
        for ch in alpha[1:]:
            e = e.when(c <= F.lit(ch), F.lit(ctab[ch]))
        return e.otherwise(F.lit(n1)).cast("long")

    # Combined rank-WEIGHT table (r14 optimization): one row per index
    # position (weight 1) plus one BOUNDARY row per dense (ch, blk)
    # grid cell (weight = cum = occurrences of ch before the block
    # start). Then rank(c, i) = SUM of weights over rows with ch = c,
    # blk = i div B and (_bnd OR rank < i):
    #   - i on a block boundary: only the boundary row matches (its
    #     block's idx ranks all start at i) -> cum(c, i div B) alone,
    #     exactly the old boundary fast path;
    #   - otherwise: cum + #in-block occurrences below i.
    # This fuses the old per-step PAIR of joins (checkpoint lookup +
    # partial-count aggregation, each with its own broadcast build and
    # shuffle) into ONE equi-join + ONE pivot aggregation per step —
    # measured 93 -> 48 jobs / 9.1 -> ~5.5 s on the 64-probe
    # decontaminate sweep. Persisted across steps so each step reads
    # cached blocks instead of re-scanning two parquets.
    aug = (
        idx_df.select(
            "ch",
            F.floor(F.col("rank") / B).cast("long").alias("blk"),
            F.col("rank").cast("long").alias("rank"),
            F.lit(1).cast("long").alias("_w"),
            F.lit(False).alias("_bnd"),
        )
        .unionByName(
            cum_df.select(
                "ch",
                F.col("blk").cast("long").alias("blk"),
                F.lit(None).cast("long").alias("rank"),
                F.col("cum").cast("long").alias("_w"),
                F.lit(True).alias("_bnd"),
            )
        )
        .persist()
    )
    state = probes.select(
        *pids, pat_col,
        F.lit(0).cast("long").alias("lo"),
        F.lit(n1).cast("long").alias("hi"),
    )
    # AQE off for the step loop only (restored in finally): each step
    # is an eager checkpoint of a small fixed-shape plan, and AQE
    # materializes every exchange of every step as its own job — pure
    # scheduling overhead at pattern-length granularity (measured
    # below). The loop's shuffles carry probe-count-bounded rows after
    # map-side partial aggregation, so runtime re-planning has nothing
    # to win here at any scale; consumers of the returned state run
    # under the session's normal AQE setting.
    sess = idx_df.sparkSession
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_was = sess.conf.get(aqe_key)
    try:
        sess.conf.set(aqe_key, "false")
        for j in range(1, max_len + 1):
            c = F.expr(f"substr({pat_col}, length({pat_col}) - {j} + 1, 1)")
            st = state.withColumn("_c", c).withColumn(
                "_act", F.length(pat_col) >= F.lit(j)
            )
            live = st.filter(
                F.col("_act") & F.element_at(cmap, F.col("_c")).isNotNull()
            )
            # Unpivot the two interval bounds into rank lookups
            # (pid, _b in {lo, hi}, _c, _i, _blk).
            pts = live.select(
                *keys, "_c",
                F.explode(
                    F.array(
                        F.struct(F.lit("lo").alias("_b"), F.col("lo").alias("_i")),
                        F.struct(F.lit("hi").alias("_b"), F.col("hi").alias("_i")),
                    )
                ).alias("_e"),
            ).select(
                *keys, "_c",
                F.col("_e._b").alias("_b"),
                F.col("_e._i").alias("_i"),
                F.floor(F.col("_e._i") / B).cast("long").alias("_blk"),
            )
            # ONE broadcast equi-join on (ch, blk) + residual weight
            # filter, pivot-aggregated straight to per-probe bounds
            # (sum and the lo/hi pivot commute).
            newb = (
                aug.join(
                    F.broadcast(pts),
                    (aug["ch"] == pts["_c"])
                    & (aug["blk"] == pts["_blk"])
                    & (F.col("_bnd") | (aug["rank"] < pts["_i"])),
                )
                .groupBy(*keys)
                .agg(
                    F.sum(F.when(F.col("_b") == "lo", F.col("_w"))).alias("_slo"),
                    F.sum(F.when(F.col("_b") == "hi", F.col("_w"))).alias("_shi"),
                )
            )
            ceil_e = _ceil(F.col("_c"))
            exists_e = F.element_at(cmap, F.col("_c")).isNotNull()
            # The cum grid is dense over (alphabet x 0..nblocks), so a
            # live probe ALWAYS matches at least its boundary row — a
            # null sum after the left join is a build defect: raise
            # loudly instead of propagating a wrong interval.
            missing = F.raise_error(
                F.concat(
                    F.lit("fm frame search: missing cum checkpoint for ch="),
                    F.col("_c"),
                )
            ).cast("long")
            state = (
                st.join(newb, keys, "left")
                .select(
                    *pids, pat_col,
                    F.when(~F.col("_act"), F.col("lo"))
                    .when(
                        exists_e,
                        F.element_at(cmap, F.col("_c"))
                        + F.coalesce(F.col("_slo"), missing),
                    )
                    .otherwise(ceil_e)
                    .cast("long")
                    .alias("lo"),
                    F.when(~F.col("_act"), F.col("hi"))
                    .when(
                        exists_e,
                        F.element_at(cmap, F.col("_c"))
                        + F.coalesce(F.col("_shi"), missing),
                    )
                    .otherwise(ceil_e)
                    .cast("long")
                    .alias("hi"),
                )
                # EAGER checkpoint EVERY step — load-bearing, not just
                # lineage hygiene: each step consumes `state` in two
                # plan branches (the rank-lookup path and the final
                # rebuild join), so an unmaterialized state re-executes
                # the whole prior-step subtree per branch — measured
                # 6.8 s -> 12.6 s on the 64-probe decontaminate sweep
                # when checkpointing every 3rd step instead. The probes
                # frame is tiny; the per-step storage pass is noise
                # next to that blowup.
                .localCheckpoint()
            )
    finally:
        sess.conf.set(aqe_key, aqe_was)
        aug.unpersist()
    return state


def _fm_cum_df(spark: SparkSession, idx_path: str) -> DataFrame:
    """The materialized dense rank-checkpoint table (ch, blk, cum)
    written next to the index parquet by _fm_materialize."""
    return spark.read.parquet(
        os.path.join(os.path.dirname(idx_path.rstrip("/")), "cum")
    )


def _fm_ranges_frame(
    spark: SparkSession,
    idx_df: DataFrame,
    idx_path: str,
    n1: int,
    ctab: dict[str, int],
    cum: dict[tuple[str, int], int] | None,
    patterns: tuple[str, ...],
) -> DataFrame:
    """Unified (pat, lo, hi) rank-range frame for the literal-pattern
    queries: driver backward search when the rank checkpoints fit the
    driver gate, DataFrame backward search against the cum parquet
    when they don't (cum is None)."""
    if cum is not None:
        state = _fm_backward_search(idx_df, ctab, cum, n1, patterns)
        return local_frame(
            spark,
            [(p, lo, hi) for p, (lo, hi) in state.items()],
            "pat string, lo long, hi long",
        )
    probes = local_frame(spark, [(p,) for p in patterns], "pat string")
    return _fm_backward_search_frame(
        idx_df, _fm_cum_df(spark, idx_path), ctab, n1, probes
    )


def _fm_literal_hits(
    spark: SparkSession,
    idx_df: DataFrame,
    n1: int,
    ctab: dict[str, int],
    cum: dict[tuple[str, int], int],
    patterns: tuple[str, ...],
) -> DataFrame | None:
    """Occurrence (pattern, pos) rows on the driver-dict path, or None
    when no pattern occurs. The backward-search dict becomes a LITERAL
    [lo, hi) filter union, which keeps the rank-sorted parquet scan
    row-group-prunable (a join-side-only range predicate cannot reach
    the reader), and a broadcast local relation of the same ranges
    labels each hit with its pattern."""
    state = _fm_backward_search(idx_df, ctab, cum, n1, patterns)
    live = [(p, lo, hi) for p, (lo, hi) in state.items() if hi > lo]
    if not live:
        return None
    flt = None
    for _, lo, hi in live:
        cnd = (F.col("rank") >= lo) & (F.col("rank") < hi)
        flt = cnd if flt is None else (flt | cnd)
    rdf = local_frame(spark, live, "pattern string, _lo long, _hi long")
    return (
        idx_df.filter(flt)
        .join(
            F.broadcast(rdf),
            (F.col("rank") >= F.col("_lo")) & (F.col("rank") < F.col("_hi")),
        )
        .select("pattern", "pos")
    )


def _fm_hits_blocks(idx_df: DataFrame, ranges: DataFrame) -> DataFrame:
    """Occurrence positions for a rank-range FRAME: each non-empty
    [lo, hi) explodes to the B-rank blocks it overlaps and equi-joins
    the (ch, blk)-bucketed index with a residual containment filter —
    the same chunk-keyed shape as _label_doc, so probe-set size never
    becomes a broadcast range join over the whole index. Returns the
    ranges columns + pos.

    The exploded ranges side is broadcast: sized by #probes x
    blocks-per-range, which stays small for the n-gram probes a
    decontamination pipeline issues (>=8 chars => rank ranges far
    narrower than one B-rank block). A probe set dominated by
    single-character patterns (range width ~n/alphabet) would need
    the hint dropped so honest stats pick a shuffle join instead."""
    B = _FM_RANK_BLOCK
    rb = ranges.filter(F.col("hi") > F.col("lo")).withColumn(
        "_rblk",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / B).cast("long"),
                F.floor((F.col("hi") - 1) / B).cast("long"),
            )
        ),
    )
    idx_blk = idx_df.select(
        "rank", "pos", F.floor(F.col("rank") / B).cast("long").alias("_iblk")
    )
    return (
        idx_blk.join(
            F.broadcast(rb),
            (idx_blk["_iblk"] == rb["_rblk"])
            & (idx_blk["rank"] >= rb["lo"])
            & (idx_blk["rank"] < rb["hi"]),
        )
        .drop("_rblk", "_iblk", "rank")
    )


def fm_backward_ranges(
    spark: SparkSession,
    chars: DataFrame,
    n1: int,
    patterns: tuple[str, ...],
) -> tuple[dict[str, tuple[int, int]], DataFrame]:
    """FM backward search returning the suffix-array rank RANGE
    [lo, hi) per pattern plus the (pos, rank) table — hi-lo is the
    occurrence count (fm_search_chars), and joining ranked on the
    range yields the occurrence POSITIONS, the locate operation an
    FM-index exists to answer. In-memory entry point (raw chars, no
    disk index) for one-shot searches and the scale harnesses; the
    doc0 queries go through fm_build_index instead."""
    # Prefix OCTUPLING (generalizing the reference's
    # prefix_quadrupling.cpp trade): FM search needs only the final
    # ranks — no LCP levels — and cutting the number of sequential
    # rank rounds to log8 wins whenever round setup dominates, which
    # holds both here and on a real cluster (each round is a full
    # stage barrier). Step pinned by _FM_SA_STEP (module constant) so
    # the r12 A/B harness measures 4 vs 8 on identical code.
    ranked = A.suffix_array(chars, n1, step=_FM_SA_STEP)
    prev = chars.select((F.col("pos") + 1).alias("pos"), F.col("ch").alias("_prev"))
    bwt = (
        ranked.join(prev, "pos", "left")
        .select("rank", F.coalesce("_prev", F.lit(_FM_SENTINEL)).alias("ch"))
        .persist()
    )
    try:
        ctab, cum = _fm_rank_samples(bwt, n1)
        state = _fm_backward_search(bwt, ctab, cum, n1, patterns)
    finally:
        bwt.unpersist()
    return state, ranked


# Process-level memo for materialized indexes: scratch base path ->
# (n1, ctab, cum). The parquet itself is the source of truth — the
# memo only skips re-deriving the driver dicts; a missing _SUCCESS
# (fresh session dir) forces a rebuild.
_FM_INDEX_CACHE: dict[str, tuple[int, dict, dict]] = {}


def _fm_dir_tag(sf_dir: str) -> str:
    """Scratch-tag component for an input directory: basename PLUS a
    short hash of the absolute path, so two different sf_dirs sharing
    a basename (e.g. /a/sf0.1 and /b/sf0.1) can never serve each
    other's materialized index within one session (ADVICE r13)."""
    import hashlib

    ap = os.path.abspath(sf_dir).rstrip("/")
    return "{}_{}".format(
        os.path.basename(ap), hashlib.md5(ap.encode()).hexdigest()[:8]
    )


def fm_build_index(
    spark: SparkSession, sf_dir: str, step: int | None = None,
    force: bool = False,
) -> tuple[str, int, dict[str, int], dict[tuple[str, int], int]]:
    """Build-once FM index over lower(doc0 text)+sentinel — the
    build-once/query-many pattern an FM index exists for (reference
    examples/suffix_sorting/ likewise builds SA/BWT once to files
    that downstream searches read). Materializes:

    - `idx` parquet (rank, pos, ch): suffix array + BWT fused,
      range-partitioned AND sorted by rank so the search's literal
      block probes and locate's [lo, hi) range scans row-group-prune
      to the touched ranks instead of scanning the whole index;
    - `cum` parquet (ch, blk, cum): the DENSE rank checkpoints,
      always written (see _fm_materialize; the raw per-block counts
      are its consecutive differences, so no separate samples table).

    Below the _FM_DRIVER_CUM_MAX gate the checkpoints also roll up
    into driver dicts (fast literal-pruned probes); past it cum is
    returned as None and searches join the cum parquet instead —
    the distributed contract implemented in r14 (VERDICT r13 #3).

    suffix_fm_count_doc0 / suffix_fm_locate_doc0 consume this index
    instead of re-running the suffix-sort ladder per query (the r12
    fm pair rebuilt the ladder twice). Returns (idx_path, n1, ctab,
    cum); memoized per session scratch path, `force=True` rebuilds
    (suffix_fm_build always bears the full build cost)."""
    step = _FM_SA_STEP if step is None else step
    tag = "fm_index_{}_s{}".format(_fm_dir_tag(sf_dir), step)
    base = scratch_dir(spark, tag)
    idx_path = os.path.join(base, "idx")
    cached = _FM_INDEX_CACHE.get(base)
    if (
        cached is not None
        and not force
        and os.path.exists(os.path.join(idx_path, "_SUCCESS"))
    ):
        return (idx_path, *cached)
    doc = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") == 0)
    s = doc.select(F.concat(F.lower(F.col("text")), F.lit(_FM_SENTINEL)).alias("_s"))
    # single row by construction (doc_id is unique) — skip the guard's
    # probe job
    chars = A.chunked_chars(s, text_col="_s", assume_single_row=True)
    # n+1 from the single text row — counting the exploded char table
    # would re-run the full explode as a separate job
    n1 = int(s.select(F.length("_s").alias("n")).first()["n"])
    ctab, cum = _fm_materialize(spark, base, chars, n1, step)
    _FM_INDEX_CACHE[base] = (n1, ctab, cum)
    return idx_path, n1, ctab, cum


# Driver-rollup ceiling for the rank checkpoints: past |alphabet| x
# (nblocks+1) = this many entries the cum table is NOT collected into
# a driver dict — the materialized `cum` parquet stays a distributed
# join side in the probe plan instead (the contract the r13
# docstrings promised; VERDICT r13 #3 / ADVICE r13). 4M entries
# ~ a few hundred MB of dict on the driver — beyond it a 100 GB
# corpus would quietly die on the rollup.
_FM_DRIVER_CUM_MAX = 1 << 22
# Test hook: force the distributed-checkpoint path regardless of size
# (tests/test_fm_index.py verifies gate-on hashes match gate-off).
_FM_FORCE_DISTRIBUTED = False
# BUILD-side driver gate (r14, much smaller than _FM_DRIVER_CUM_MAX):
# below |alphabet| x (nblocks+1) = this many grid entries the cum
# parquet is rolled up and written from the driver (one collect + one
# local relation), replacing the dense-grid join + distributed
# prefix sum + rollup read-back. Past it the distributed prefix-sum
# path runs unchanged — the ceiling keeps the collect and the
# local relation (held in the driver's plan) both trivially
# driver-sized.
_FM_BUILD_DRIVER_MAX = 1 << 16


def _fm_materialize(
    spark: SparkSession, base: str, chars: DataFrame, n1: int, step: int
) -> tuple[dict[str, int], dict[tuple[str, int], int] | None]:
    """Suffix-sort a prepared (pos, ch) char table (last position =
    sentinel) and write under `base`:

    - ``idx``: the fused SA+BWT (rank, pos, ch), rank-range-partitioned
      and rank-sorted so literal probes row-group-prune;
    - ``cum``: the DENSE rank checkpoints (ch, blk, cum) with cum =
      occurrences of ch in BWT ranks < blk*B, for blk in 0..nblocks —
      computed by one distributed two-phase prefix sum over the
      in-memory per-block counts (no per-char window funnel: the
      global exclusive prefix sum over (ch, blk) order minus C[ch] IS
      the per-char running count), written always so the probe plan
      can join it at any corpus size. (A separate raw `samples`
      parquet would be redundant — the counts are exactly the cum
      table's consecutive differences — so r14 dropped it, cutting a
      write+read chain from every build.)

    Returns (ctab, cum): ctab is the alphabet-bounded C-table (always
    a driver dict — |alphabet| entries); cum is the driver checkpoint
    dict when |alphabet| x (nblocks+1) fits _FM_DRIVER_CUM_MAX, else
    None — consumers then run the DataFrame backward search against
    the cum parquet. Shared by the doc0 and corpus builds."""
    from thrill_spark import ordering as O

    idx_path = os.path.join(base, "idx")
    ranked = A.suffix_array(chars, n1, step=step)
    prev = chars.select((F.col("pos") + 1).alias("pos"), F.col("ch").alias("_prev"))
    idx = ranked.join(prev, "pos", "left").select(
        "rank", "pos", F.coalesce("_prev", F.lit(_FM_SENTINEL)).alias("ch")
    )
    # One range partition per ~64 blocks keeps row groups aligned with
    # probe locality without tiny-file sprawl at small n.
    nparts = max(1, min(256, -(-n1 // (_FM_RANK_BLOCK * 64))))
    # ANALYTIC range buckets (r14): rank is dense in [0, n1), so
    # equal-width buckets are exact without repartitionByRange's
    # reservoir-sampling pass — which executes the whole SA+BWT join
    # subtree an extra time at any scale just to learn boundaries we
    # already know. Files stay rank-sorted (sortWithinPartitions), so
    # probe row-group pruning is unchanged; hash collisions can pack
    # two buckets into one file (each still rank-sorted — at most one
    # wide row group at the seam).
    bkt = F.expr(
        f"least(cast((rank * {nparts}) div {n1} as int), {nparts - 1})"
    )
    (
        idx.withColumn("_bkt", bkt)
        .repartition(nparts, F.col("_bkt"))
        .sortWithinPartitions("rank")
        .select("rank", "pos", "ch")
        .write.mode("overwrite")
        .parquet(idx_path)
    )
    idx_df = spark.read.parquet(idx_path)
    nblocks = (n1 + _FM_RANK_BLOCK - 1) // _FM_RANK_BLOCK
    # Per-(ch, block) counts: small (alphabet x nblocks), consumed by
    # the totals collect AND the dense-grid join — persist so the idx
    # aggregation runs once.
    smp = (
        idx_df.groupBy(
            "ch",
            F.floor(F.col("rank") / _FM_RANK_BLOCK).cast("long").alias("blk"),
        )
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        # C-table from per-char totals: |alphabet| rows — bounded at
        # any corpus size (unlike the cum rollup).
        totals = sorted(
            (r["ch"], int(r["t"]))
            for r in smp.groupBy("ch").agg(F.sum("n").alias("t")).collect()
        )
        ctab: dict[str, int] = {}
        acc = 0
        for ch, t in totals:
            ctab[ch] = acc
            acc += t
        # checkpoint-table partitioning: ~1M ROWS per file over the
        # FULL |alphabet| x (nblocks+1) grid (not per-char blocks —
        # omitting the alphabet factor would pack ~alphabet-times too
        # many rows per file in exactly the past-the-gate regime this
        # table exists for), capped.
        entries = len(totals) * (nblocks + 1)
        cparts = max(1, min(256, entries // (1 << 20) + 1))
        cum_path = os.path.join(base, "cum")
        if not _FM_FORCE_DISTRIBUTED and entries <= _FM_BUILD_DRIVER_MAX:
            # Below the (small) BUILD gate the whole dense cum grid is
            # driver-trivial: roll the collected per-block counts up
            # with the same arithmetic the distributed path encodes
            # (_fm_samples_rollup == exclusive prefix sum minus C) and
            # write the identical parquet from the driver — this
            # replaces the dense-grid join + two-phase distributed
            # prefix sum + rollup read-back (~7 jobs of fixed overhead
            # per build at any n where the grid is this small). The
            # collect is entries-bounded by the gate test itself.
            ctab2, cum = _fm_samples_rollup(smp.collect(), n1)
            assert ctab2 == ctab
            # entries <= the build gate << 2^20, so cparts == 1: one
            # coalesced task writes the already-sorted grid — no
            # repartitionByRange sampling job on this path.
            (
                local_frame(
                    spark,
                    [(ch, blk, v) for (ch, blk), v in sorted(cum.items())],
                    "ch string, blk long, cum long",
                )
                .coalesce(1)
                .sortWithinPartitions("ch", "blk")
                .write.mode("overwrite")
                .parquet(cum_path)
            )
            return ctab, cum
        # Dense (ch, blk) grid WITHOUT a driver loop or a one-row
        # sequence explode: distributed range x broadcast alphabet
        # (the alphabet frame comes straight from the bounded totals —
        # no extra distinct job).
        alpha_df = local_frame(spark, [(ch,) for ch in ctab], "ch string")
        dense = (
            spark.range(nblocks + 1)
            .select(F.col("id").alias("blk"))
            .crossJoin(F.broadcast(alpha_df))
            .join(smp, ["ch", "blk"], "left")
            .select("ch", "blk", F.coalesce("n", F.lit(0)).alias("n"))
        )
        # Global exclusive prefix sum over (ch, blk) order = C[ch] +
        # occurrences of ch before blk*B; subtract the (alphabet-
        # bounded) C-table to get the per-char checkpoint. Two-phase —
        # no single-partition window at any size.
        ps = O.prefix_sum(dense, ["ch", "blk"], "n", name="_ps", exclusive=True)
        cmap = F.create_map(
            *[x for ch in ctab for x in (F.lit(ch), F.lit(ctab[ch]))]
        )
        # ANALYTIC range buckets over the dense (ch, blk) grid: the
        # global position ch_idx*(nblocks+1)+blk is exact (alphabet-
        # bounded ordinal map), so no repartitionByRange sampling pass
        # re-executes the prefix-sum subtree.
        imap = F.create_map(
            *[
                x
                for i, ch in enumerate(sorted(ctab))
                for x in (F.lit(ch), F.lit(i))
            ]
        )
        gpos = imap[F.col("ch")].cast("long") * F.lit(nblocks + 1) + F.col(
            "blk"
        ).cast("long")
        cbkt = F.least(
            (gpos * F.lit(cparts) / F.lit(entries)).cast("int"),
            F.lit(cparts - 1),
        )
        (
            ps.select(
                "ch",
                F.col("blk").cast("long").alias("blk"),
                (F.col("_ps") - cmap[F.col("ch")]).cast("long").alias("cum"),
            )
            .withColumn("_cbkt", cbkt)
            .repartition(cparts, F.col("_cbkt"))
            .sortWithinPartitions("ch", "blk")
            .select("ch", "blk", "cum")
            .write.mode("overwrite")
            .parquet(cum_path)
        )
    finally:
        smp.unpersist()
    if _FM_FORCE_DISTRIBUTED or entries > _FM_DRIVER_CUM_MAX:
        return ctab, None
    return ctab, _fm_driver_cum_rollup(spark, cum_path)


def _fm_driver_cum_rollup(
    spark: SparkSession, cum_path: str
) -> dict[tuple[str, int], int]:
    """The ONLY below-gate driver materialization of the checkpoint
    table: collect the written cum parquet into the probe dict (the
    same dict _fm_samples_rollup derives from raw counts). Kept as a
    named seam so tests/test_fm_index.py can assert the gated path
    never calls it."""
    return {
        (r["ch"], int(r["blk"])): int(r["cum"])
        for r in spark.read.parquet(cum_path).collect()
    }


def _fm_load_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame, int, dict[str, int], dict[tuple[str, int], int] | None]:
    idx_path, n1, ctab, cum = fm_build_index(spark, sf_dir)
    return idx_path, spark.read.parquet(idx_path), n1, ctab, cum


def _fm_ctab_rows(ctab: dict[str, int], n1: int) -> list[tuple[str, int, int]]:
    """C-table occupancy intervals [C[c], C[next c]) straight from the
    (alphabet-bounded) C-table — no cum rollup needed, so this works
    identically on the driver-dict and distributed-checkpoint paths."""
    alpha = sorted(ctab)
    bounds = [ctab[a] for a in alpha] + [n1]
    return [
        (
            "C:" + ("<s>" if ch == _FM_SENTINEL else ch),
            bounds[i],
            bounds[i + 1],
        )
        for i, ch in enumerate(alpha)
    ]


@query("suffix_fm_count_doc0", _sql_fm_count())
def q_fm_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM-index occurrence counting over lower(doc0), consuming the
    MATERIALIZED index (fm_build_index — built once per session and
    shared with locate, instead of re-running the suffix-sort ladder
    per query). The oracle counts the same (border-free) patterns by
    direct substring scan, so the hash match certifies the index
    agrees with the text; overlapping (bordered) patterns are
    certified by tests/test_fm_index.py."""
    bad = [p for p in _FM_PATTERNS if _has_border(p)]
    if bad:
        raise ValueError(f"FM patterns {bad!r} have a border; oracle would undercount")
    idx_path, idx_df, n1, ctab, cum = _fm_load_index(spark, sf_dir)
    ranges = _fm_ranges_frame(spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS)
    return ranges.select(
        F.col("pat").alias("pattern"),
        F.greatest(F.col("hi") - F.col("lo"), F.lit(0)).cast("long").alias("n_occ"),
    )


def _sql_fm_locate() -> str:
    # Direct position scan — exact for ANY pattern (each occurrence,
    # overlapping or not, has a distinct start position).
    vals = ", ".join(f"('{p}')" for p in _FM_PATTERNS)
    return f"""
    WITH t AS (SELECT lower(text) AS txt FROM documents WHERE doc_id = 0),
    p AS (SELECT txt, unnest(generate_series(0, length(txt)-1)) AS pos FROM t),
    pats(pattern) AS (VALUES {vals})
    SELECT pats.pattern, CAST(p.pos AS BIGINT) AS pos
    FROM p JOIN pats
      ON substr(p.txt, p.pos + 1, length(pats.pattern)) = pats.pattern
    """


@query("suffix_fm_locate_doc0", _sql_fm_locate())
def q_fm_locate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM-index LOCATE over the MATERIALIZED index (shared with count
    via fm_build_index): backward search narrows each pattern to its
    suffix-array rank range [lo, hi), then a literal-predicate scan
    of the rank-sorted index parquet (row-group-pruned to the probed
    ranges) broadcast-joined to the tiny (pattern, lo, hi) table emits
    every occurrence position — count's sibling operation, and the one
    a dedup/attribution pipeline actually consumes. The oracle
    re-derives the positions by direct substring scan, exact for any
    pattern (no border restriction: positions never overlap ambiguously
    the way replace-counts do).

    Driver-dict path: the backward-search dict (pattern-count-bounded)
    becomes a LITERAL [lo, hi) filter union so the rank-sorted parquet
    row-group-prunes (_fm_literal_hits). Distributed-checkpoint path
    (cum gated off the driver): the block-keyed equi-join of
    _fm_hits_blocks — no literal pruning, but no driver
    materialization either."""
    idx_path, idx_df, n1, ctab, cum = _fm_load_index(spark, sf_dir)
    if cum is None:
        ranges = _fm_ranges_frame(
            spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS
        )
        return _fm_hits_blocks(idx_df, ranges).select(
            F.col("pat").alias("pattern"), F.col("pos").cast("long").alias("pos")
        )
    hits = _fm_literal_hits(spark, idx_df, n1, ctab, cum, _FM_PATTERNS)
    if hits is None:
        return local_frame(spark, [], "pattern string, pos long")
    return hits.select("pattern", F.col("pos").cast("long").alias("pos"))


def _sql_fm_build() -> str:
    # The index's search surface re-derived by direct suffix scan:
    # C-table occupancy intervals from character frequencies (the
    # sentinel, smaller than every text char, holds rank [0, 1)), and
    # per-pattern SA rank ranges by comparing each suffix's |P|-prefix
    # against the pattern — a proper-prefix slice sorts before P
    # exactly like the sentinel-terminated suffix does, so plain
    # binary-collation comparison reproduces the suffix order.
    vals = ", ".join(f"('{p}')" for p in _FM_PATTERNS)
    return f"""
    WITH t AS (SELECT lower(text) AS txt FROM documents WHERE doc_id = 0),
    pos AS (SELECT txt, unnest(generate_series(1, length(txt))) AS i FROM t),
    freq AS (SELECT substr(txt, i, 1) AS ch, COUNT(*) AS n FROM pos GROUP BY 1),
    cum AS (SELECT ch, n,
            1 + COALESCE(SUM(n) OVER (ORDER BY ch
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
            FROM freq),
    pats(pattern) AS (VALUES {vals}),
    pr AS (SELECT pattern,
             1 + COUNT(CASE WHEN substr(txt, i, length(pattern)) < pattern
                            THEN 1 END) AS lo,
             COUNT(CASE WHEN substr(txt, i, length(pattern)) = pattern
                        THEN 1 END) AS n
           FROM pos CROSS JOIN pats GROUP BY pattern)
    SELECT 'C:<s>' AS item, CAST(0 AS BIGINT) AS lo, CAST(1 AS BIGINT) AS hi
    UNION ALL
    SELECT 'C:' || ch, CAST(lo AS BIGINT), CAST(lo + n AS BIGINT) FROM cum
    UNION ALL
    SELECT 'P:' || pattern, CAST(lo AS BIGINT), CAST(lo + n AS BIGINT) FROM pr
    UNION ALL
    SELECT 'N', CAST(0 AS BIGINT), CAST(length(txt) + 1 AS BIGINT) FROM t
    """


@query("suffix_fm_build", _sql_fm_build())
def q_fm_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the doc0 FM index (ALWAYS a fresh build — this query
    bears the full suffix-sort ladder cost; count/locate then consume
    the parquet it wrote) and emit its search surface for oracle
    verification: per-char SA occupancy intervals [C[c], C[c]+n_c)
    (the C-table), per-pattern backward-search rank ranges [lo, hi),
    and the index size row ('N', 0, n+1). Every value is re-derivable
    in SQL by direct suffix comparison over the text, so a hash match
    certifies the materialized structure end-to-end — C-table, rank
    samples, and the SA order the backward search walks."""
    idx_path, n1, ctab, cum = fm_build_index(spark, sf_dir, force=True)
    idx_df = spark.read.parquet(idx_path)
    crows = local_frame(
        spark,
        [("N", 0, n1)] + _fm_ctab_rows(ctab, n1),
        "item string, lo long, hi long",
    )
    ranges = _fm_ranges_frame(spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS)
    return crows.unionByName(
        ranges.select(
            F.concat(F.lit("P:"), F.col("pat")).alias("item"), "lo", "hi"
        )
    )


# ---------------------------------------------------------------------------
# Generalized (multi-document) FM index (r13): the corpus-level
# extension of the doc0 family — one materialized index over the
# doc_id-ordered concatenation lower(text_i) + sentinel, built once
# and consumed by count/locate with DOCUMENT ATTRIBUTION. This is the
# lookup structure a decontamination / attribution pipeline queries
# ("which training documents contain this eval substring, and
# where?"): dedup_exact_substr_sa profiles ALL duplicated substrings
# corpus-wide; this answers arbitrary pattern probes against a
# persisted index without touching the text. The per-doc sentinel is
# smaller than every text character, so (a) matches can never span
# documents and (b) the D sentinel-led suffixes occupy exactly ranks
# [0, D) — which keeps the backward search AND the SQL oracle's
# direct per-document suffix comparison exact.
# ---------------------------------------------------------------------------
_FM_CORPUS_DOCS = 128


def fm_build_corpus_index(
    spark: SparkSession, sf_dir: str, n_docs: int | None = None,
    step: int | None = None, force: bool = False,
) -> tuple[str, str, int, dict[str, int], dict[tuple[str, int], int]]:
    """Build-once generalized FM index over the doc_id < n_docs corpus:
    per-doc offsets via a distributed exclusive prefix-sum over
    sentinel-terminated lengths, chunked char explode (no document
    funnels through one task), then the shared _fm_materialize
    (SA+BWT idx parquet + rank samples). Also writes the per-document
    offset table (doc_id, _off, _len) the locate query attributes
    matches with. Returns (idx_path, offs_path, n1, ctab, cum);
    memoized like fm_build_index."""
    n_docs = _FM_CORPUS_DOCS if n_docs is None else n_docs
    step = _FM_SA_STEP if step is None else step
    tag = "fm_corpus_{}_d{}_s{}".format(_fm_dir_tag(sf_dir), n_docs, step)
    base = scratch_dir(spark, tag)
    idx_path = os.path.join(base, "idx")
    offs_path = os.path.join(base, "offsets")
    cached = _FM_INDEX_CACHE.get(base)
    if (
        cached is not None
        and not force
        and os.path.exists(os.path.join(idx_path, "_SUCCESS"))
    ):
        return (idx_path, offs_path, *cached)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n_docs)
        .select(
            "doc_id",
            F.concat(F.lower(F.col("text")), F.lit(_FM_SENTINEL)).alias("_s"),
        )
    )
    lens = docs.select("doc_id", F.length("_s").alias("_slen"))
    # offsets + total chars in ONE driver-gated rollup (A.doc_offsets):
    # below the gate the offsets are a broadcastable local relation and
    # n1 is free; past it the distributed prefix-sum path runs.
    offs, n1 = A.doc_offsets(lens, len_col="_slen", off_col="_soff")
    chars = A.chunked_chars(
        docs.join(offs.select("doc_id", "_soff"), "doc_id"),
        text_col="_s",
        off_col="_soff",
    )
    # offsets for attribution: _off/_len cover the TEXT only (the
    # sentinel at _off+_len can never be inside a match)
    (
        offs.select(
            "doc_id",
            F.col("_soff").alias("_off"),
            (F.col("_slen") - 1).alias("_len"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(offs_path)
    )
    ctab, cum = _fm_materialize(spark, base, chars, n1, step)
    _FM_INDEX_CACHE[base] = (n1, ctab, cum)
    return idx_path, offs_path, n1, ctab, cum


def _fm_load_corpus_index(spark: SparkSession, sf_dir: str):
    idx_path, offs_path, n1, ctab, cum = fm_build_corpus_index(spark, sf_dir)
    return (
        idx_path,
        spark.read.parquet(idx_path),
        spark.read.parquet(offs_path),
        n1,
        ctab,
        cum,
    )


_SQL_FM_CORPUS_POS = f"""
    d AS (SELECT doc_id, lower(text) AS txt FROM documents
          WHERE doc_id < {_FM_CORPUS_DOCS}),
    pos AS (SELECT doc_id, txt, unnest(generate_series(1, length(txt))) AS i
            FROM d),
    pats(pattern) AS (VALUES {", ".join(f"('{p}')" for p in _FM_PATTERNS)})
"""


def _sql_fm_corpus_build() -> str:
    # Same verification surface as the doc0 build, generalized: the D
    # sentinel-led suffixes occupy ranks [0, D); a text suffix sorts
    # below pattern P iff its |P|-char in-document slice does (a slice
    # that is a proper prefix of P continues with the sentinel, which
    # is smaller than every pattern character — exactly the order the
    # SQL string comparison assigns the shorter prefix).
    return f"""
    WITH {_SQL_FM_CORPUS_POS},
    nd AS (SELECT COUNT(*) AS d FROM d),
    freq AS (SELECT substr(txt, i, 1) AS ch, COUNT(*) AS n FROM pos GROUP BY 1),
    cum AS (SELECT ch, n,
            (SELECT d FROM nd) + COALESCE(SUM(n) OVER (ORDER BY ch
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
            FROM freq),
    pr AS (SELECT pattern,
             (SELECT d FROM nd) +
             COUNT(CASE WHEN substr(txt, i, length(pattern)) < pattern
                        THEN 1 END) AS lo,
             COUNT(CASE WHEN substr(txt, i, length(pattern)) = pattern
                        THEN 1 END) AS n
           FROM pos CROSS JOIN pats GROUP BY pattern)
    SELECT 'C:<s>' AS item, CAST(0 AS BIGINT) AS lo,
           CAST((SELECT d FROM nd) AS BIGINT) AS hi
    UNION ALL
    SELECT 'C:' || ch, CAST(lo AS BIGINT), CAST(lo + n AS BIGINT) FROM cum
    UNION ALL
    SELECT 'P:' || pattern, CAST(lo AS BIGINT), CAST(lo + n AS BIGINT) FROM pr
    UNION ALL
    SELECT 'N', CAST(0 AS BIGINT),
           CAST((SELECT SUM(length(txt)) FROM d) + (SELECT d FROM nd)
                AS BIGINT)
    """


@query("suffix_fm_corpus_build", _sql_fm_corpus_build())
def q_fm_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the generalized corpus FM index (ALWAYS a fresh
    build; corpus count/locate consume the parquet it wrote) and emit
    its search surface: C-table occupancy intervals (sentinel row =
    [0, D)), per-pattern rank ranges, and the index size row. The
    oracle re-derives every value by direct per-document suffix
    comparison, certifying the generalized SA order, the BWT rank
    samples, and the separator discipline end-to-end."""
    idx_path, _, n1, ctab, cum = fm_build_corpus_index(spark, sf_dir, force=True)
    idx_df = spark.read.parquet(idx_path)
    crows = local_frame(
        spark,
        [("N", 0, n1)] + _fm_ctab_rows(ctab, n1),
        "item string, lo long, hi long",
    )
    ranges = _fm_ranges_frame(spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS)
    return crows.unionByName(
        ranges.select(
            F.concat(F.lit("P:"), F.col("pat")).alias("item"), "lo", "hi"
        )
    )


@query(
    "suffix_fm_corpus_count",
    f"""
    WITH {_SQL_FM_CORPUS_POS}
    SELECT pattern,
           COUNT(CASE WHEN substr(txt, i, length(pattern)) = pattern
                      THEN 1 END) AS n_occ
    FROM pos CROSS JOIN pats GROUP BY pattern
    """,
)
def q_fm_corpus_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide occurrence counts from the materialized generalized
    index — backward search only, no text scan. The position-scan
    oracle is exact for ANY pattern (overlapping occurrences have
    distinct start positions, so no border restriction applies)."""
    idx_path, idx_df, _, n1, ctab, cum = _fm_load_corpus_index(spark, sf_dir)
    ranges = _fm_ranges_frame(spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS)
    return ranges.select(
        F.col("pat").alias("pattern"),
        F.greatest(F.col("hi") - F.col("lo"), F.lit(0)).cast("long").alias("n_occ"),
    )


@query(
    "suffix_fm_corpus_locate",
    f"""
    WITH {_SQL_FM_CORPUS_POS}
    SELECT pattern, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(i - 1 AS BIGINT) AS pos
    FROM pos CROSS JOIN pats
    WHERE substr(txt, i, length(pattern)) = pattern
    """,
)
def q_fm_corpus_locate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus locate WITH document attribution: backward search over
    the materialized generalized index narrows each pattern to its
    rank range, a literal-predicate scan of the rank-sorted index
    emits the matching global positions, and the chunk-keyed
    _label_doc equi-join (the same corpus-scale shape ExactSubstr
    uses — never a broadcast range join over the document table)
    converts them to (doc_id, in-document position). This is the
    decontamination probe: 'which documents contain this string, and
    where'. Driver-dict path keeps the literal-pruned scan; past the
    checkpoint gate the hits come from the block-keyed equi-join."""
    from thrill_spark.plans.queries_algo import _label_doc

    idx_path, idx_df, offs, n1, ctab, cum = _fm_load_corpus_index(spark, sf_dir)
    if cum is None:
        ranges = _fm_ranges_frame(
            spark, idx_df, idx_path, n1, ctab, cum, _FM_PATTERNS
        )
        hits = _fm_hits_blocks(idx_df, ranges).select(
            F.col("pat").alias("pattern"), "pos"
        )
    else:
        hits = _fm_literal_hits(spark, idx_df, n1, ctab, cum, _FM_PATTERNS)
        if hits is None:
            return local_frame(spark, [], "pattern string, doc_id long, pos long")
    return _label_doc(hits, offs).select(
        "pattern",
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("pos") - F.col("_off")).cast("long").alias("pos"),
    )


_FM_EVAL_LO, _FM_EVAL_HI = 400, 408  # held-out "eval" documents
_FM_EVAL_LEN = 8  # probe substring length
# Probe offsets (1-based) within each eval document: 8 docs x 8
# offsets = 64 probes — the eval-suite shape (many n-grams per eval
# doc), not a handful of spot checks (VERDICT r13 #4).
_FM_EVAL_OFFS = tuple(range(11, 171, 20))


@query(
    "suffix_fm_decontaminate",
    f"""
    WITH {_SQL_FM_CORPUS_POS},
    offs(off) AS (VALUES {", ".join(f"({o})" for o in _FM_EVAL_OFFS)}),
    ev AS (SELECT doc_id AS eval_id, off,
                  substr(lower(text), off, {_FM_EVAL_LEN}) AS pat
           FROM documents CROSS JOIN offs
           WHERE doc_id >= {_FM_EVAL_LO} AND doc_id < {_FM_EVAL_HI}
             AND length(substr(lower(text), off, {_FM_EVAL_LEN}))
                 = {_FM_EVAL_LEN}),
    hits AS (SELECT ev.eval_id, ev.off, pos.doc_id
             FROM pos JOIN ev ON substr(pos.txt, pos.i, {_FM_EVAL_LEN}) = ev.pat),
    cnt AS (SELECT eval_id, off, COUNT(*) AS n_occ,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM hits GROUP BY eval_id, off)
    SELECT ev.eval_id, CAST(ev.off AS BIGINT) AS off,
           CAST(COALESCE(cnt.n_occ, 0) AS BIGINT) AS n_occ,
           CAST(COALESCE(cnt.n_docs, 0) AS BIGINT) AS n_docs
    FROM ev LEFT JOIN cnt USING (eval_id, off)
    """,
)
def q_fm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-SCALE decontamination sweep: 64 data-driven probes (8
    held-out 'eval' documents x 8 offsets, doc_id 400-407) searched
    against the materialized corpus FM index (the doc_id<128
    'training set'), emitting per probe its occurrence count and the
    number of distinct training documents hit — the contamination
    report a curation pipeline acts on, answered from the persisted
    index without scanning the training text.

    The probe set is a DataFrame END-TO-END (VERDICT r13 #4): probes
    are cut from the eval docs in-plan, backward search runs as
    _fm_backward_search_frame (per step: one equi-join against the
    cum checkpoint parquet + one batched partial-count aggregation —
    work independent of probe count, so a 10^5-n-gram eval suite
    costs the same jobs as 64), occurrence counts are hi-lo on the
    ranges frame, and distinct-doc attribution is the block-keyed
    _fm_hits_blocks equi-join into _label_doc. Nothing probe-sized
    ever lands on the driver. Zero-hit probes exercise the
    empty-interval insertion-point stepping and still emit
    (eval_id, off, 0, 0) rows. Oracle: direct substring scan of the
    same corpus."""
    from thrill_spark.plans.queries_algo import _label_doc

    idx_path, idx_df, offs, n1, ctab, _ = _fm_load_corpus_index(spark, sf_dir)
    probes = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") >= _FM_EVAL_LO) & (F.col("doc_id") < _FM_EVAL_HI)
        )
        .select(
            F.col("doc_id").alias("eval_id"),
            F.lower(F.col("text")).alias("_txt"),
            F.explode(
                F.array(*[F.lit(o) for o in _FM_EVAL_OFFS])
            ).alias("off"),
        )
        .select(
            "eval_id",
            F.col("off").cast("long").alias("off"),
            F.expr(f"substr(_txt, off, {_FM_EVAL_LEN})").alias("pat"),
        )
        .filter(F.length("pat") == _FM_EVAL_LEN)
    )
    ranges = _fm_backward_search_frame(
        idx_df,
        _fm_cum_df(spark, idx_path),
        ctab,
        n1,
        probes,
        max_len=_FM_EVAL_LEN,
    )
    hits = _fm_hits_blocks(idx_df, ranges.select("eval_id", "off", "lo", "hi"))
    ndocs = (
        _label_doc(hits, offs)
        .groupBy("eval_id", "off")
        .agg(F.count_distinct("doc_id").alias("_nd"))
    )
    return (
        ranges.join(ndocs, ["eval_id", "off"], "left")
        .select(
            "eval_id",
            "off",
            F.greatest(F.col("hi") - F.col("lo"), F.lit(0))
            .cast("long")
            .alias("n_occ"),
            F.coalesce(F.col("_nd"), F.lit(0)).cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# A-Priori rung 2: candidate TRIPLES generated from frequent pairs
# (join L2 with itself on the shared first item, prune by the
# all-subsets-frequent property), then exact-counted against baskets —
# the candidate-generation step that makes A-Priori an algorithm rather
# than one co-occurrence join (basket_frequent_pairs is rung 1).
#
# Support is RELATIVE with a floor: max(_AP_PAIR_SUPPORT,
# ceil(_AP_REL_SUPPORT * #baskets)). A fixed ABSOLUTE threshold over
# growing data admits combinatorially more qualifying itemsets — the
# cost law is super-linear by SEMANTICS (measured K=4 wall ratio 8.68
# fixed-absolute vs 1.45 relative in r10's scale table) — while real
# scale-ups keep min-support proportional to basket count. The floor
# keeps the threshold at 2 for every tested scale factor (identical
# results to the absolute formulation at sf0.001/0.01/0.1); past
# ~200k baskets the relative term takes over and the plan is
# linear-by-construction.
# ---------------------------------------------------------------------------
_AP_PAIR_SUPPORT = 2
_AP_REL_SUPPORT = 1.0e-5
_AP_TOPK = 50


@query(
    "basket_apriori_triples",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    sup AS (SELECT GREATEST({_AP_PAIR_SUPPORT},
                   CAST(CEIL({_AP_REL_SUPPORT} * COUNT(DISTINCT o)) AS BIGINT)) AS s
            FROM items),
    l2 AS (SELECT a.p AS p1, b.p AS p2 FROM items a
           JOIN items b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT s FROM sup)),
    c3 AS (SELECT x.p1, x.p2, y.p2 AS p3
           FROM l2 x JOIN l2 y ON x.p1 = y.p1 AND x.p2 < y.p2
           WHERE EXISTS (SELECT 1 FROM l2 z
                         WHERE z.p1 = x.p2 AND z.p2 = y.p2)),
    cnt AS (SELECT c3.p1, c3.p2, c3.p3, COUNT(*) AS support
            FROM c3
            JOIN items i1 ON i1.p = c3.p1
            JOIN items i2 ON i2.o = i1.o AND i2.p = c3.p2
            JOIN items i3 ON i3.o = i1.o AND i3.p = c3.p3
            GROUP BY 1, 2, 3)
    SELECT p1, p2, p3, CAST(support AS BIGINT) AS support FROM (
      SELECT p1, p2, p3, support,
             ROW_NUMBER() OVER (ORDER BY support DESC, p1, p2, p3) AS rn
      FROM cnt) WHERE rn <= {_AP_TOPK}
    """,
)
def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Priori candidate generation: frequent pairs (L2) self-join on
    the shared first item, prune candidates whose third pair is not in
    L2 (the downward-closure property), exact-count survivors against
    baskets, top-k with full tie-break ordering. The prune is what
    keeps this scale-safe: candidate triples collapse from all basket
    triples to the L2-closed set (measured 3258 -> 1370 supported at
    sf0.001, 1 -> 1 at sf0.1) — never an unpruned 3-way explode.

    Min-support is relative-with-floor (see module comment above):
    max(2, ceil(1e-5 * #baskets)), so the frequent-set size — and with
    it the whole downstream cost — stays proportional under data
    growth instead of exploding combinatorially at a fixed absolute
    threshold. The basket count is one scalar driver aggregate.

    Scale: L2 is a basket self-join bounded by items-per-basket
    squared; C3 is an L2 self-join keyed by item plus a semi-join
    prune; counting re-joins candidates to baskets on (basket, item)
    hash keys. L2 and the item table are persisted (each referenced
    3x)."""
    import math

    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    n_baskets = items.select("o").distinct().count()
    support = max(
        _AP_PAIR_SUPPORT, math.ceil(_AP_REL_SUPPORT * n_baskets)
    )
    a = items.select("o", F.col("p").alias("p1"))
    b = items.select("o", F.col("p").alias("p2"))
    l2 = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= support)
        .select("p1", "p2")
        .persist()
    )
    x = l2
    y = l2.select(F.col("p1"), F.col("p2").alias("p3"))
    c3 = (
        x.join(y, "p1")
        .filter(F.col("p2") < F.col("p3"))
        .join(
            l2.select(F.col("p1").alias("p2"), F.col("p2").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    i1 = items.select("o", F.col("p").alias("p1"))
    i2 = items.select("o", F.col("p").alias("p2"))
    i3 = items.select("o", F.col("p").alias("p3"))
    cnt = (
        c3.join(i1, "p1")
        .join(i2, ["o", "p2"])
        .join(i3, ["o", "p3"])
        .groupBy("p1", "p2", "p3")
        .agg(F.count("*").cast("long").alias("support"))
    )
    return cnt.orderBy(
        F.col("support").desc(), "p1", "p2", "p3"
    ).limit(_AP_TOPK)


# ---------------------------------------------------------------------------
# Inverted index + conjunctive boolean retrieval: postings build, AND
# query over fixed terms, integer tf-sum ranking — the search-engine
# primitive the TF-IDF pair query does not expose.
# ---------------------------------------------------------------------------
_INV_TERMS = ("data", "sort", "batch")
_INV_TOPK = 20


def _sql_inverted() -> str:
    terms = ", ".join(f"'{t}'" for t in _INV_TERMS)
    return f"""
    WITH tk AS (SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
           WHERE tok IN ({terms}) GROUP BY 1, 2),
    hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(tf) AS BIGINT) AS score
            FROM tf GROUP BY doc_id HAVING COUNT(*) = {len(_INV_TERMS)})
    SELECT doc_id, score, n_terms FROM (
      SELECT doc_id, score, n_terms,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM hit) WHERE rn <= {_INV_TOPK}
    """


@query("text_inverted_index_search", _sql_inverted())
def q_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval over an inverted index: per-term
    postings with term frequencies, an AND intersection (docs holding
    every query term), integer tf-sum ranking, deterministic top-k
    (score desc, doc_id asc).

    Scale: postings are keyed by token — the term filter prunes the
    explode to the query vocabulary before any shuffle, so the
    intersection aggregates |terms| postings lists, never the corpus
    vocabulary; ranking sorts only the intersection."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .filter(F.col("tok").isin(*_INV_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    hit = (
        tf.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("score"),
        )
        .filter(F.col("n_terms") == len(_INV_TERMS))
    )
    return hit.select("doc_id", "score", "n_terms").orderBy(
        F.col("score").desc(), "doc_id"
    ).limit(_INV_TOPK)


# ---------------------------------------------------------------------------
# CUSUM change-point detection over daily event counts per type:
# cumulative deviation from the per-type integer mean, max-drawup
# (S_d - running_min S) locates the shift day. All-integer, so the
# oracle replays the detector exactly.
# ---------------------------------------------------------------------------
@query(
    "events_cusum_change_detection",
    """
    WITH d AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                      COUNT(*) AS c
               FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, SUM(c) // COUNT(*) AS mean_daily
          FROM d GROUP BY event_type),
    s AS (SELECT d.event_type, d.day, d.c, m.mean_daily,
                 CAST(SUM(d.c - m.mean_daily) OVER (
                      PARTITION BY d.event_type ORDER BY d.day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM d JOIN m USING (event_type)),
    w AS (SELECT event_type, day, mean_daily,
                 cum - MIN(cum) OVER (PARTITION BY event_type ORDER BY day
                                      ROWS UNBOUNDED PRECEDING) AS drawup
          FROM s)
    SELECT event_type, day AS change_day,
           CAST(drawup AS BIGINT) AS max_drawup,
           CAST(mean_daily AS BIGINT) AS mean_daily
    FROM (SELECT event_type, day, mean_daily, drawup,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY drawup DESC, day) AS rn
          FROM w) WHERE rn = 1
    """,
)
def q_cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style change-point detection: per event type, the day
    maximizing the drawup of the cumulative deviation from the integer
    daily mean (cumsum minus its running minimum — the windowed form of
    the reset-at-zero CUSUM recursion). Earliest-day tie-break; integer
    mean via floor division, so both engines replay the detector
    bit-for-bit.

    Scale: one keyed daily rollup, then windows over the per-type DAY
    table (days-per-type rows, not events), argmax via row_number."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(F.count("*").alias("c"))
    m = d.groupBy("event_type").agg(
        F.expr("sum(c) div count(*)").alias("mean_daily")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = d.join(m, "event_type").withColumn(
        "cum", F.sum(F.col("c") - F.col("mean_daily")).over(w_cum).cast("long")
    )
    w = s.withColumn(
        "drawup", F.col("cum") - F.min("cum").over(w_cum)
    )
    best = w.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("drawup")).alias("nd"), F.col("day").alias("dy"),
                     F.col("mean_daily").alias("md"))
        ).alias("m")
    )
    return best.select(
        "event_type",
        F.col("m.dy").alias("change_day"),
        (-F.col("m.nd")).cast("long").alias("max_drawup"),
        F.col("m.md").cast("long").alias("mean_daily"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS surface: ROLLUP and CUBE with explicit grouping bits —
# the multi-level aggregate API (subtotals + grand total in one pass,
# partial-agg friendly) that the per-key groupBy queries never exercise.
# ---------------------------------------------------------------------------
@query(
    "orders_rollup_revenue",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP revenue: (status, priority) detail plus per-status
    subtotals plus the grand total, one logical aggregation — Catalyst
    expands the sets and keeps the partial-agg (map-side combine)
    shape. Grouping bits are computed explicitly (grouping(a)*2 +
    grouping(b)) so both engines agree regardless of their native
    grouping_id bit order; exact cents sums keep the hash bit-stable."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return (
        o.withColumn("_cents", cents)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum("_cents").cast("long").alias("revenue_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid", "n_orders", "revenue_cents",
        )
    )


@query(
    "lineitem_cube_flags",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): every grouping-set combination
    including the per-linestatus marginals ROLLUP omits. l_quantity is
    integral in the fixtures, so the BIGINT cast-then-sum is exact on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("_q", F.col("l_quantity").cast("long"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            ).cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_lines"),
            F.sum("_q").cast("long").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid", "n_lines", "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Zone-map pruning simulation: the WHY of layout_zorder_stats. Bucket
# orders into "files" under (a) the natural write order (orderkey
# prefix) and (b) Z-order prefix, attach min/max footers, and count how
# many files a custkey-range scan can skip under each layout.
# ---------------------------------------------------------------------------
# 8-bit mod-buckets for both dims so each fills its range at EVERY sf
# (raw custkey spans only ~14 bits at sf0.1, which would leave the
# z-prefix carrying orderkey bits alone and nothing to prune on).
_ZM_BITS = 8
_ZM_FILE_SHIFT = 2 * _ZM_BITS - 6  # 64 z-prefix "files"
_ZM_NAT_SHIFT = 16 - 6  # 64 sequential orderkey-prefix "files"
_ZM_LO, _ZM_HI = 64, 95  # one x-octant: x bits 5..7 == 010


def _sql_zonemap() -> str:
    from thrill_spark.functions import layout as LAY

    zv = LAY.sql_zvalue("(o_custkey % 256)", "(o_orderkey % 256)", _ZM_BITS)
    return f"""
    WITH base AS (SELECT (o_custkey % 256) AS xm, (o_orderkey & 65535) AS ym,
                         {zv} AS zval
                  FROM orders),
    files AS (
      SELECT 'natural' AS layout, ym >> {_ZM_NAT_SHIFT} AS fid, xm FROM base
      UNION ALL
      SELECT 'zorder' AS layout, zval >> {_ZM_FILE_SHIFT} AS fid, xm FROM base),
    footer AS (SELECT layout, fid, MIN(xm) AS min_x, MAX(xm) AS max_x,
                      COUNT(*) AS n_rows
               FROM files GROUP BY 1, 2)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(COUNT(*) FILTER (WHERE max_x >= {_ZM_LO} AND min_x <= {_ZM_HI})
                AS BIGINT) AS files_scanned,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(COALESCE(SUM(n_rows) FILTER (WHERE max_x >= {_ZM_LO}
                                             AND min_x <= {_ZM_HI}), 0)
                AS BIGINT) AS rows_scanned
    FROM footer GROUP BY layout
    """


@query("layout_zonemap_pruning", _sql_zonemap())
def q_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping simulation: rows bucketed into 64 'files'
    per layout (_ZM_FILE_SHIFT / _ZM_NAT_SHIFT both keep 6 prefix bits)
    by layout-key prefix (a real sorted write fills files in key order,
    so prefix buckets are the deterministic stand-in for global file
    ranks — no global row_number funnel), min/max footers per file,
    then a custkey-range predicate counts scannable files under each
    layout. Natural orderkey order is uncorrelated with custkey, so its
    footers straddle the range everywhere; Z-order localizes it — the
    measured justification for the zorder_layout rewrite.

    Scale: two map-side-combinable footer aggregations (32 groups each)
    and a 2-group final rollup; nothing keyed by row identity."""
    from thrill_spark.functions import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    xm = F.col("o_custkey") % 256
    ym8 = F.col("o_orderkey") % 256
    ym = F.col("o_orderkey").bitwiseAND(F.lit(65535))
    base = o.select(
        xm.alias("xm"), ym.alias("ym"),
        LAY.zvalue(xm, ym8, _ZM_BITS).alias("zval"),
    )
    nat = base.select(
        F.lit("natural").alias("layout"),
        F.shiftright("ym", _ZM_NAT_SHIFT).alias("fid"), "xm",
    )
    zo = base.select(
        F.lit("zorder").alias("layout"),
        F.shiftright("zval", _ZM_FILE_SHIFT).alias("fid"), "xm",
    )
    footer = (
        nat.unionByName(zo)
        .groupBy("layout", "fid")
        .agg(
            F.min("xm").alias("min_x"),
            F.max("xm").alias("max_x"),
            F.count("*").alias("n_rows"),
        )
    )
    hit = (F.col("max_x") >= _ZM_LO) & (F.col("min_x") <= _ZM_HI)
    return footer.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_scanned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("long")
          .alias("rows_scanned"),
    )
