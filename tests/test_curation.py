"""Planted-ground-truth tests for the advanced-curation batch:
bigram LM surprisal, duplicated-n-gram cover, int8 quantization,
JL random projection, key-skew report."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from thrill_spark.functions.dedup import duplicated_ngram_cover
from thrill_spark.functions.embed import quantize_int8, random_project
from thrill_spark.functions.profile import key_skew_report
from thrill_spark.functions.text import bigram_surprisal


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_bigram_surprisal_planted(spark):
    # corpus: "a b a b" and "a b c". bigrams: (a,b)x2+(a,b)=3? ->
    # doc1: (a,b),(b,a),(a,b)  doc2: (a,b),(b,c)
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in bigram_surprisal(df).collect()}
    # model: c12: (a,b)=3, (b,a)=1, (b,c)=1 ; c1: a=3, b=2 ; V=|{a,b,c}|=3
    # weights: (a,b) -> (3+3)//(3+1)=1 ; (b,a) -> (2+3)//(1+1)=2 ;
    #          (b,c) -> (2+3)//(1+1)=2
    assert rows[1].n_bigrams == 3 and rows[1].surprisal == 1 + 2 + 1
    assert rows[2].n_bigrams == 2 and rows[2].surprisal == 1 + 2


def test_bigram_surprisal_short_docs_drop(spark):
    df = spark.createDataFrame([(1, "only"), (2, "a b")], ["doc_id", "text"])
    out = bigram_surprisal(df).collect()
    assert [r.doc_id for r in out] == [2]


# ---------------------------------------------------------------------------
# duplicated n-gram cover
# ---------------------------------------------------------------------------


def test_ngram_cover_planted(spark):
    shared = "t0 t1 t2 t3"  # the duplicated 4-gram
    df = spark.createDataFrame(
        [
            (1, shared + " u1 u2"),
            (2, "v1 " + shared),
            (3, "w0 w1 w2 w3 w4 w5"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_ngram_cover(df, n=4).collect()}
    # docs 1 and 2 share the 4-gram -> its 4 positions covered in each
    assert out[1].n_tokens == 6 and out[1].n_dup_tokens == 4
    assert out[1].dup_frac_bp == 4 * 10000 // 6
    assert out[1].kept_fp == _md5("u1 u2")
    assert out[2].n_tokens == 5 and out[2].n_dup_tokens == 4
    assert out[2].kept_fp == _md5("v1")
    # doc 3 has no duplicated grams
    assert out[3].n_dup_tokens == 0 and out[3].kept_fp == _md5(
        "w0 w1 w2 w3 w4 w5"
    )


def test_ngram_cover_fully_covered(spark):
    df = spark.createDataFrame(
        [(1, "x0 x1 x2 x3"), (2, "x0 x1 x2 x3")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in duplicated_ngram_cover(df, n=4).collect()}
    assert out[1].n_dup_tokens == 4 and out[1].dup_frac_bp == 10000
    assert out[1].kept_fp == _md5("")


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_int8_planted(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    # scale = 1.0; codes: floor(0.5*127+0.5)=64? 63.5+0.5=64 -> 64,
    # floor(-127+0.5)= -127, floor(31.75+0.5)=32
    assert out[1].scale == 1.0
    assert out[1].q_fp == _md5("64,-127,32")
    # reconstruction error matches a python replay of the same fold
    exp = 0.0
    for x, q in [(0.5, 64), (-1.0, -127), (0.25, 32)]:
        d = x - q * 1.0 / 127.0
        exp = exp + d * d
    assert out[1].sq_err == exp
    # zero vector
    assert out[2].scale == 0.0 and out[2].q_fp == _md5("0,0,0")
    assert out[2].sq_err == 0.0


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------


def _jl_sign_py(j: int, k: int, out_dim: int) -> float:
    return 1.0 if _md5(str(j * out_dim + k))[0] < "8" else -1.0


def test_random_project_matches_python_replay(spark):
    vec = [0.1, -0.25, 0.75, 1.5]
    df = spark.createDataFrame([(7, vec)], ["vec_id", "embedding"])
    row = random_project(df, out_dim=4).collect()[0]
    for k in range(4):
        exp = 0.0
        for j, x in enumerate(vec):
            exp = exp + x * _jl_sign_py(j, k, 4)
        assert getattr(row, f"p{k}") == exp, k


def test_random_project_scale_equivariance(spark):
    # scaling by a power of two commutes with every FP rounding step,
    # so p(2v) must be exactly 2*p(v)
    vec = [0.3, -0.7, 0.11, 0.923, -0.004]
    df = spark.createDataFrame(
        [(1, vec), (2, [2 * x for x in vec])], ["vec_id", "embedding"]
    )
    out = {r.vec_id: r for r in random_project(df, out_dim=4).collect()}
    for k in range(4):
        assert getattr(out[2], f"p{k}") == 2 * getattr(out[1], f"p{k}")


def test_random_project_guard_survives_pruning(spark):
    # a short vector must raise even when p0 is pruned away
    import pytest

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.5])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="embedding dim differs"):
        random_project(df, out_dim=4).select("p1").collect()


def test_random_project_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = random_project(df, out_dim=4)
    assert out.columns == ["vec_id", "p0", "p1", "p2", "p3"]
    assert out.collect() == []


def test_vector_dim_skips_null_vectors(spark):
    from thrill_spark.functions.embed import vector_dim

    df = spark.createDataFrame(
        [(1, None), (2, [0.5, 0.25])], "vec_id long, embedding array<double>"
    )
    assert vector_dim(df) == 2
    assert vector_dim(df.filter(F.col("vec_id") == 1)) == 0


# ---------------------------------------------------------------------------
# key-skew report
# ---------------------------------------------------------------------------


def test_key_skew_report_planted(spark):
    rows = [(1,)] * 60 + [(2,)] * 30 + [(3,)] * 10
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_report(df, "k", top_n=2).collect()
    assert [(r.key, r.n_rows) for r in out] == [(1, 60), (2, 30)]
    assert out[0].share_bp == 6000
    # mean load = 100/3 keys -> 60 rows = 1.8x mean -> 1800 millis
    assert out[0].x_mean_millis == 60 * 1000 * 3 * 100 // (100 * 100)


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def test_label_propagation_two_cliques(spark):
    from thrill_spark.plans.algorithms import label_propagation

    # two triangles bridged by one edge: each triangle converges to a
    # single shared label and the bridge does not merge them (each
    # bridge endpoint has 2 intra votes vs 1 inter vote). Which label
    # each triangle lands on is the deterministic LPA outcome (the
    # bridge leaks node 2's label into the right triangle).
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(edges, ["a", "b"])
    out = {r.node: r.community for r in label_propagation(df, rounds=4).collect()}
    assert out[0] == out[1] == out[2]
    assert out[10] == out[11] == out[12]
    assert out[0] != out[10]


def test_label_propagation_deterministic(spark):
    from thrill_spark.plans.algorithms import label_propagation

    edges = [(i, (i * 7 + 3) % 20) for i in range(40)]
    df = spark.createDataFrame(edges, ["a", "b"]).filter("a <> b")
    r1 = sorted(map(tuple, label_propagation(df, rounds=3).collect()))
    r2 = sorted(map(tuple, label_propagation(df, rounds=3).collect()))
    assert r1 == r2


# ---------------------------------------------------------------------------
# temperature mixing quotas
# ---------------------------------------------------------------------------


def test_temperature_mix_flattens(spark):
    from thrill_spark.functions.corpus import temperature_mix_quotas

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, ["source"])
    out = {r.source: r for r in temperature_mix_quotas(df, budget=1000).collect()}
    # raw shares 90/10; sqrt-flattened 30/(30+10)=75% vs 25%
    assert out["big"].quota == 750 and out["small"].quota == 250
    assert out["big"].n_docs == 900


# ---------------------------------------------------------------------------
# foreachBatch upsert sink
# ---------------------------------------------------------------------------


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    from thrill_spark.streaming.sink import ForeachBatchUpsert

    sink = ForeachBatchUpsert(str(tmp_path / "t"), ["k"], ["ts", "eid"])
    b1 = spark.createDataFrame([(1, 10, 100, "a"), (2, 10, 101, "b")],
                               ["k", "ts", "eid", "val"])
    b2 = spark.createDataFrame([(1, 20, 102, "c")], ["k", "ts", "eid", "val"])
    sink(b1, 0)
    sink(b2, 1)
    after = sorted(map(tuple, sink.result(spark).collect()))
    # replaying an old batch (at-least-once redelivery) must not change
    # the converged state
    sink(b1, 2)
    assert sorted(map(tuple, sink.result(spark).collect())) == after
    state = {r.k: (r.ts, r.val) for r in sink.result(spark).collect()}
    assert state[1] == (20, "c") and state[2] == (10, "b")


# ---------------------------------------------------------------------------
# gopher gate / token budget
# ---------------------------------------------------------------------------


def test_gopher_gate_planted(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    out = {r.doc_id: r for r in QUERIES["text_gopher_gate"](spark, sf_dir).collect()}
    # every fixture doc is word-soup: wordlen/symbols should pass,
    # keep == AND of the four rules
    for r in out.values():
        assert r.keep == (
            r.words_ok and r.wordlen_ok and r.symbols_ok and r.stopwords_ok
        )
    assert any(r.keep for r in out.values())


def test_token_budget_monotone(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    rows = QUERIES["corpus_token_budget"](spark, sf_dir).collect()
    by_src = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        prev = by_src.get(r.source, 0)
        assert r.running == prev + r.n_toks  # contiguous prefix per source
        assert r.running <= 20_000
        by_src[r.source] = r.running


# ---------------------------------------------------------------------------
# power iteration / interval join
# ---------------------------------------------------------------------------


def test_power_iteration_planted_dominant_direction(spark):
    from thrill_spark.functions.embed import power_iteration_top_component

    # points hugging the x-axis: top component must load on dim 0
    rows = [(i, [1.0, 0.01 * (i % 3 - 1)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.dim: r.val for r in power_iteration_top_component(df, iterations=3).collect()}
    assert abs(out[0]) > 50 * abs(out[1])


def test_interval_overlap_join_planted(spark):
    from thrill_spark.operators.join import interval_overlap_join

    L = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", "2020-01-10 00:00:00"),
         (2, "2020-03-01 00:00:00", "2020-03-05 00:00:00")],
        ["lid", "ls", "le"],
    ).selectExpr("lid", "cast(ls as timestamp) ls", "cast(le as timestamp) le")
    R = spark.createDataFrame(
        [(10, "2020-01-05 00:00:00", "2020-02-20 00:00:00"),   # overlaps 1 only
         (11, "2020-02-25 00:00:00", "2020-03-02 00:00:00"),   # overlaps 2 only
         (12, "2019-12-01 00:00:00", "2019-12-31 00:00:00")],  # overlaps none
        ["rid", "rs", "re"],
    ).selectExpr("rid", "cast(rs as timestamp) rs", "cast(re as timestamp) re")
    out = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(L, R, "ls", "le", "rs", "re", bin_days=7).collect()
    )
    assert out == [(1, 10), (2, 11)]


def test_interval_overlap_join_no_duplicate_pairs(spark):
    from thrill_spark.operators.join import interval_overlap_join

    # long intervals spanning many bins must still emit each pair once
    L = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", "2020-06-01 00:00:00")], ["lid", "ls", "le"]
    ).selectExpr("lid", "cast(ls as timestamp) ls", "cast(le as timestamp) le")
    R = spark.createDataFrame(
        [(10, "2020-02-01 00:00:00", "2020-05-01 00:00:00")], ["rid", "rs", "re"]
    ).selectExpr("rid", "cast(rs as timestamp) rs", "cast(re as timestamp) re")
    out = interval_overlap_join(L, R, "ls", "le", "rs", "re", bin_days=7).collect()
    assert len(out) == 1


# ---------------------------------------------------------------------------
# rp-ANN / quality survivors / join cardinality
# ---------------------------------------------------------------------------


def test_rp_ann_rank_contract(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    rows = QUERIES["similarity_rp_ann"](spark, sf_dir).collect()
    assert rows, "bucketing produced no candidate pairs"
    per_q = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_quality_survivors_longest_wins(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    rows = QUERIES["dedup_quality_survivors"](spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        survivors = [m for m in members if m.is_survivor]
        assert len(survivors) == 1
        best = max(members, key=lambda m: (m.n_tokens, -m.doc_id))
        assert survivors[0].doc_id == best.doc_id


def test_join_cardinality_prediction_exact(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    row = QUERIES["profile_join_cardinality"](spark, sf_dir).collect()[0]
    assert row.match and row.predicted_rows == row.actual_rows > 0


# ---------------------------------------------------------------------------
# lexical diversity / compression / capped sessions
# ---------------------------------------------------------------------------


def test_lexical_diversity_planted(spark):
    from thrill_spark.functions.text import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in lexical_diversity(df).collect()}
    assert out[1].n_tokens == 4 and out[1].n_types == 2
    assert out[1].ttr_bp == 5000 and out[1].hapax_bp == 2500
    assert out[2].ttr_bp == 10000 and out[2].hapax_bp == 10000


def test_compression_signals_separate_repetitive_from_diverse(spark):
    from thrill_spark.functions.text import compression_signals

    rep = "spam " * 200
    div = " ".join(f"w{i}x{i*7%13}" for i in range(200))
    df = spark.createDataFrame([(1, rep), (2, div)], ["doc_id", "text"])
    out = {r.doc_id: r for r in compression_signals(df).collect()}
    for r in out.values():
        assert r.bounds_ok and r.doubling_ok
    # repetitive text must compress materially better
    assert out[1].comp_len * out[2].n_bytes < out[2].comp_len * out[1].n_bytes


def test_sessionize_capped_splits_long_sessions(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    rows = QUERIES["events_sessionize_capped"](spark, sf_dir).collect()
    cap_us = 2 * 3600 * 1_000_000
    for r in rows:
        assert r.end_us - r.start_us < cap_us  # no capped session exceeds cap
        assert r.sub_id >= 0


# ---------------------------------------------------------------------------
# phash dedup
# ---------------------------------------------------------------------------


def test_phash_identical_images_same_hash(spark):
    from thrill_spark.functions import multimodal as MM

    # doc ids 768 apart generate byte-identical synthetic images
    # (w, h, and every pixel depend on id mod lcm(32, 24, 256) = 768)
    ids = spark.createDataFrame([(1,), (769,), (2,)], ["id"])
    media = MM.attach_real_png_media(ids, "id")
    out = {r.id: r.phash_bits for r in MM.phash_real_png(media, "id").collect()}
    assert len(out[1]) == 64 and set(out[1]) <= {"0", "1"}
    assert out[1] == out[769]
    assert out[1] != out[2]


# ---------------------------------------------------------------------------
# dynamic partition pruning plan pin
# ---------------------------------------------------------------------------


def test_dpp_plan_has_runtime_pruning(spark, sf_dir):
    import os
    import tempfile

    from thrill_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(tempfile.gettempdir(), "thrill_spark_dpp_plan")
    orders.select("o_orderkey", "o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("5-LOW", 5)], ["p", "code"]
    ).filter("code <= 2")
    joined = fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["p"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


# ---------------------------------------------------------------------------
# Hilbert curve
# ---------------------------------------------------------------------------


def test_hilbert_bijection_and_unit_steps(spark):
    from thrill_spark.functions.layout import with_hvalue

    bits = 4
    n = 1 << bits
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], ["x", "y"]
    )
    out = with_hvalue(grid, F.col("x"), F.col("y"), bits=bits, out="d").collect()
    pos = {r.d: (r.x, r.y) for r in out}
    assert sorted(pos) == list(range(n * n))  # bijection onto [0, n^2)
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = pos[d - 1], pos[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1  # true Hilbert adjacency


def test_hilbert_tighter_buckets_than_zorder(spark, sf_dir):
    from thrill_spark.plans.queries import QUERIES

    def area(rows):
        return sum(
            (r.max_x - r.min_x + 1) * (r.max_y - r.min_y + 1) * r.n_rows for r in rows
        )

    hz = area(QUERIES["layout_hilbert_stats"](spark, sf_dir).collect())
    # compare on the matched 8-bit domain: recompute z envelopes at 8 bits
    from thrill_spark.catalog import load_table
    from thrill_spark.functions import layout as LAY

    o = load_table(spark, sf_dir, "orders")
    xm = F.col("o_custkey").bitwiseAND(F.lit(255))
    ym = F.col("o_orderkey").bitwiseAND(F.lit(255))
    z = o.select(LAY.zvalue(xm, ym, 8).alias("zval"), xm.alias("xm"), ym.alias("ym"))
    zrows = (
        z.groupBy(F.shiftright("zval", 10).alias("b"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xm").alias("min_x"),
            F.max("xm").alias("max_x"),
            F.min("ym").alias("min_y"),
            F.max("ym").alias("max_y"),
        )
        .collect()
    )
    # Hilbert's unit-step property should give row-weighted bounding
    # boxes no worse than Z-order's on the same bucketing
    assert hz <= area(zrows) * 1.05


# ---------------------------------------------------------------------------
# byte-range line source
# ---------------------------------------------------------------------------


def test_byte_range_lines_exactly_once(spark, tmp_path):
    from thrill_spark.sources.linesource import register

    # lines of visibly different lengths so several split boundaries
    # land mid-line
    lines = [f"line-{i}-" + "x" * (i * 7 % 95) for i in range(200)]
    p = tmp_path / "t.txt"
    p.write_text("\n".join(lines) + "\n")
    register(spark)
    for n_splits in (1, 3, 8, 64):
        out = (
            spark.read.format("thrill_lines")
            .option("path", str(p))
            .option("n_splits", n_splits)
            .load()
            .collect()
        )
        assert sorted(r.line for r in out) == sorted(lines), n_splits
        # offsets are the true byte offsets
        blob = ("\n".join(lines) + "\n").encode()
        for r in out:
            assert blob[r.offset : r.offset + len(r.line)].decode() == r.line


def test_byte_range_writer_two_phase_commit(tmp_path):
    """Two-phase commit contract, exercised at the writer level: a
    retried attempt's orphan tmp file is swept, the committed output
    holds exactly one copy of each partition, and no ._tmp-* files
    survive commit() or abort()."""
    import os

    from thrill_spark.sources.linesource import ByteRangeLinesWriter

    d = str(tmp_path / "out")
    w = ByteRangeLinesWriter({"path": d, "col": "line"})
    rows = [{"line": f"r{i}"} for i in range(5)]
    first_attempt = w.write(iter(rows))  # attempt 1: never reaches commit
    second_attempt = w.write(iter(rows))  # attempt 2: wins
    other = w.write(iter([{"line": "solo"}]))
    # driver commits only the winning messages
    w.commit([second_attempt, other])
    files = sorted(os.listdir(d))
    assert not [f for f in files if f.startswith("._tmp-")], files
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) == 2
    content = sorted(
        ln
        for f in parts
        for ln in open(os.path.join(d, f)).read().splitlines()
    )
    assert content == sorted(["solo"] + [r["line"] for r in rows])
    assert not os.path.exists(first_attempt.tmp)


def test_byte_range_writer_abort_and_null_rejection(tmp_path):
    import os

    import pytest

    from thrill_spark.sources.linesource import ByteRangeLinesWriter

    d = str(tmp_path / "out")
    w = ByteRangeLinesWriter({"path": d, "col": "line"})
    # NULL cells fail the task (a text sink has no NULL representation)
    # and clean their own tmp file
    with pytest.raises(ValueError, match="NULL"):
        w.write(iter([{"line": "ok"}, {"line": None}]))
    assert not [f for f in os.listdir(d) if f.startswith("._tmp-")]
    # abort() removes message'd tmp files AND this job's strays from
    # dead tasks — but NOT another job's in-flight temps (the sweep is
    # scoped by the per-write job token; see
    # tests/test_sources.py::test_thrill_lines_writer_sweep_is_job_scoped)
    m = w.write(iter([{"line": "a"}]))
    own_stray = os.path.join(d, f"._tmp-{w.job}-deadtask")
    open(own_stray, "w").write("partial")
    foreign = os.path.join(d, "._tmp-otherjob-inflight")
    open(foreign, "w").write("other writer, still running")
    w.abort([m])
    assert os.listdir(d) == ["._tmp-otherjob-inflight"]


# ---------------------------------------------------------------------------
# transformWithState (gated: needs google.protobuf for its driver worker)
# ---------------------------------------------------------------------------


def test_transform_with_state_gating(spark, sf_dir):
    import pytest

    from thrill_spark.plans.queries import QUERIES
    from thrill_spark.streaming.tws import has_transform_with_state

    if not has_transform_with_state():
        # honest gating: without protobuf the query must NOT be
        # registered (the API's streaming runner cannot initialize)
        assert "events_stream_transform_with_state" not in QUERIES
        pytest.skip("google.protobuf absent: transformWithState cannot run here")
    out = QUERIES["events_stream_transform_with_state"](spark, sf_dir)
    from thrill_spark.catalog import load_table

    expect = {
        (r.user_id, r.n): (r.user_id, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.user_id, r.n_events) for r in out.collect()}
    assert got == set(expect)


# ---------------------------------------------------------------------------
# layout writes actually tighten parquet footer stats
# ---------------------------------------------------------------------------


def test_clustered_write_tightens_footer_stats(spark, sf_dir, tmp_path):
    import duckdb

    from thrill_spark.catalog import load_table
    from thrill_spark.functions.layout import hilbert_layout

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"), (F.col("o_orderkey") % 256).alias("y")
    )
    natural = str(tmp_path / "nat")
    clustered = str(tmp_path / "hil")
    o.repartition(8).write.mode("overwrite").parquet(natural)
    hilbert_layout(o, "x", "y", bits=8, n_partitions=8).write.mode(
        "overwrite"
    ).parquet(clustered)

    def spread(path):
        con = duckdb.connect()
        rows = con.execute(
            f"""SELECT stats_min_value, stats_max_value
                FROM parquet_metadata('{path}/*.parquet')
                WHERE path_in_schema = 'x'"""
        ).fetchall()
        return sum(int(mx) - int(mn) for mn, mx in rows) / max(len(rows), 1)

    # per-row-group x ranges must be materially tighter after the
    # Hilbert rewrite — this is the pruning win the layout pays for
    assert spread(clustered) < spread(natural) * 0.8


# ---------------------------------------------------------------------------
# COVERAGE.md <-> registry drift guard
# ---------------------------------------------------------------------------


def test_coverage_doc_names_are_registered():
    import os
    import re

    from thrill_spark.plans.queries import QUERIES

    doc = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "COVERAGE.md")
    ).read()
    # query names appear in backticks in the query column; check every
    # backticked token that looks like a registered-query name
    names = set(re.findall(r"`([a-z0-9_]+)`", doc))
    lookalikes = {
        n
        for n in names
        if re.match(
            r"^(tpch|fn|io|events|corpus|text|dedup|similarity|multimodal|ml|"
            r"layout|profile|graph|basket|skyline|interval|asof|merge|scd2)_",
            n,
        )
    }
    ghosts = {
        n for n in lookalikes
        if n not in QUERIES
        and not any(q.startswith(n + "_") for q in QUERIES)  # short forms
        and n != "events_stream_transform_with_state"  # capability-gated
    }
    assert not ghosts, f"COVERAGE.md rows reference unregistered queries: {sorted(ghosts)}"
