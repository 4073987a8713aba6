"""Corpus-mining operator tests with planted ground truth: overlapping
token chunking, integer TF-IDF pair similarity, two-sided bounded
bucket join, incremental dedup vs an existing corpus, and Z-order
interleaving."""

import pytest
from pyspark.sql import functions as F

from thrill_spark.functions import dedup as D
from thrill_spark.functions import layout as LAY
from thrill_spark.functions import text as TX
from thrill_spark.functions import tfidf as TI
from thrill_spark.operators.skew import bounded_join


# --- chunk_token_windows ---------------------------------------------------


def test_chunk_windows_cover_with_overlap(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
    rows = sorted(
        (r["chunk_id"], r["n_toks"])
        for r in TX.chunk_token_windows(df, chunk=4, stride=3).collect()
    )
    # n=10, chunk=4, stride=3 -> ceil((10-4)/3)+1 = 3 chunks; last has 4
    # toks (positions 7..10)
    assert rows == [(0, 4), (1, 4), (2, 4)]


def test_chunk_windows_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only three words"), (2, "")], ["doc_id", "text"])
    out = TX.chunk_token_windows(df, chunk=32, stride=24).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 2
    assert by_id[1]["n_toks"] == 3 and by_id[1]["chunk_id"] == 0
    assert by_id[2]["n_toks"] == 0


def test_chunk_windows_exact_boundary(spark):
    # n == chunk -> exactly one chunk, not two
    df = spark.createDataFrame([(1, " ".join("x" * 1 for _ in range(8)))], ["doc_id", "text"])
    out = TX.chunk_token_windows(df, chunk=8, stride=4).collect()
    assert len(out) == 1 and out[0]["n_toks"] == 8


def test_chunk_windows_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        TX.chunk_token_windows(df, chunk=4, stride=0)
    with pytest.raises(ValueError):
        TX.chunk_token_windows(df, chunk=4, stride=5)


# --- tfidf_pairs -----------------------------------------------------------


def test_tfidf_pairs_ranks_shared_rare_terms_first(spark):
    a = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, a),
        (1, a + " extra tail words here"),  # shares 4 rare 3-grams with 0
        (2, "one two three four five six"),
        (3, "seven eight nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = TI.tfidf_pairs(df, ngram=3, max_df_div=2, top_n=10).collect()
    assert out, "expected at least one scored pair"
    top = out[0]
    assert (top["id_a"], top["id_b"]) == (0, 1)
    # no pair between the two unrelated docs
    assert (2, 3) not in {(r["id_a"], r["id_b"]) for r in out}


def test_tfidf_prunes_stop_terms(spark):
    # 'the end' trigram appears in every doc -> pruned at max_df_div=2
    rows = [(i, f"unique{i} filler{i} stuff{i} the end marker") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = TI.tfidf_pairs(df, ngram=3, max_df_div=2, top_n=100).collect()
    assert out == []  # only shared terms were the universal tail -> pruned


# --- bounded_join ----------------------------------------------------------


def test_bounded_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(k % 3, i) for i, k in enumerate(range(40))], ["bucket", "lid"]
    )
    right = spark.createDataFrame(
        [(k % 3, 100 + i) for i, k in enumerate(range(25))], ["bucket", "rid"]
    )
    got = {
        (r["bucket"], r["lid"], r["rid"])
        for r in bounded_join(
            left,
            right,
            ["bucket"],
            salt_left="lid",
            salt_right="rid",
            left_cols={"lid": "lid"},
            right_cols={"rid": "rid"},
            cap=4,  # force multi-subgroup decomposition
        ).collect()
    }
    want = {
        (r["bucket"], r["lid"], r["rid"])
        for r in left.join(right, "bucket").collect()
    }
    assert got == want


# --- incremental_dedup -----------------------------------------------------


def test_incremental_dedup_flags_planted_batch_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps on running far"
    corpus_rows = [(i, f"corpus document {i} about topic {i % 7} " + "filler " * 8) for i in range(1, 20)]
    corpus_rows.append((50, base))
    batch_rows = [
        (100, base),  # exact dup of corpus doc 50
        (101, base.replace("dog", "cat")),  # near dup
        (102, "entirely novel content that matches nothing in the corpus at all today"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.incremental_dedup(batch, corpus, threshold=0.5).collect()}
    assert set(out) == {100, 101, 102}
    assert out[100]["is_dup"] and out[100]["first_match"] == 50
    assert out[101]["is_dup"] and out[101]["first_match"] == 50
    assert not out[102]["is_dup"] and out[102]["first_match"] == -1


# --- Z-order ---------------------------------------------------------------


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(5, 3)], ["x", "y"])  # x=101b, y=011b
    z = df.select(LAY.zvalue(F.col("x"), F.col("y"), bits=4).alias("z")).collect()[0]["z"]
    # interleave: x bits at even positions, y at odd:
    # x=0101, y=0011 -> z bits (y3 x3 y2 x2 y1 x1 y0 x0) = 0 0 0 1 1 0 1 1
    assert z == 0b00011011


def test_zvalue_locality_monotone_in_quadrants(spark):
    # all points in the low quadrant sort before any in the high quadrant
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = df.select(
        "x", "y", LAY.zvalue(F.col("x"), F.col("y"), bits=4).alias("z")
    ).collect()
    lo = [r["z"] for r in out if r["x"] < 4 and r["y"] < 4]
    hi = [r["z"] for r in out if r["x"] >= 4 and r["y"] >= 4]
    assert max(lo) < min(hi)


def test_zorder_layout_partitions_are_z_ranges(spark):
    rows = [(i, (i * 37) % 256, (i * 91) % 256) for i in range(512)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = LAY.zorder_layout(df, "x", "y", bits=8, n_partitions=4)
    pid = out.select(
        F.spark_partition_id().alias("pid"), F.col("_zval")
    ).groupBy("pid").agg(F.min("_zval").alias("lo"), F.max("_zval").alias("hi"))
    ranges = sorted((r["lo"], r["hi"]) for r in pid.collect())
    # range partitioning -> partition z-ranges are disjoint and ordered
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


# --- semantic_dedup --------------------------------------------------------


def test_semantic_dedup_drops_near_identical_vectors(spark):
    from thrill_spark.functions import similarity as S

    base = [1.0, 0.5, -0.25, 2.0]
    near = [x * 1.001 for x in base]  # cosine ~1, same sign bucket
    ortho = [-2.0, 1.0, 1.0, -0.5]
    rows = [(0, base), (1, near), (2, ortho)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in S.semantic_dedup(df, dim=4, n_planes=3, threshold=0.9).collect()}
    assert out[0]["keep"]  # smallest id always kept
    assert not out[1]["keep"] and out[1]["n_dom"] == 1
    assert out[2]["keep"]
    assert out[0]["bucket"] == out[1]["bucket"]


# --- k_core ----------------------------------------------------------------


def test_k_core_peels_tree_keeps_clique(spark):
    from thrill_spark.plans import algorithms as A

    # 6-clique (every node degree 5) with a pendant chain hanging off:
    # 3-core = exactly the clique; the chain peels away over rounds.
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    chain = [(5, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + chain, ["u", "v"])
    out = {r["node"]: r["core_deg"] for r in A.k_core(df, 3).collect()}
    assert set(out) == set(range(6))
    assert all(d == 5 for d in out.values())


def test_k_core_empty_when_graph_too_sparse(spark):
    from thrill_spark.plans import algorithms as A

    chain = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(chain, ["u", "v"])
    assert A.k_core(df, 2).count() == 0  # a path has no 2-core


# --- real multimodal kernels ----------------------------------------------


def test_resize_real_png_roundtrips(spark):
    from thrill_spark.functions import multimodal as MM
    from thrill_spark.functions.pngcodec import decode_png

    base = spark.range(3).select(F.col("id"))
    media = MM.attach_real_png_media(base, "id")
    out = MM.resize_real_png(media, width=4, height=4).collect()
    assert len(out) == 3
    for r in out:
        w, h, ch, px = decode_png(bytes(r["media"]))  # resized blob decodes
        assert (w, h) == (4, 4)
        assert sum(px) == r["pix_sum"]


def test_wav_decode_recovers_planted_signal(spark):
    from thrill_spark.functions import multimodal as MM

    base = spark.range(4).select(F.col("id"))
    media = MM.attach_real_wav_media(base, "id")
    out = {r["id"]: r for r in MM.decode_wav_features(media).collect()}
    for ident in range(4):
        n = 100 + ident % 50
        samples = [((ident * 31 + i * 17) % 2048) - 1024 for i in range(n)]
        assert out[ident]["n_samples"] == n
        assert out[ident]["sample_rate"] == 8000
        assert out[ident]["energy"] == sum(s * s for s in samples)


# --- merge_upsert ----------------------------------------------------------


def test_merge_upsert_actions(spark):
    from thrill_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "val"])
    upd = spark.createDataFrame([(2, "B"), (9, "Z")], ["k", "val"])
    out = {r["k"]: (r["val"], r["_action"]) for r in merge_upsert(base, upd, ["k"]).collect()}
    assert out == {1: ("a", "keep"), 2: ("B", "update"), 3: ("c", "keep"), 9: ("Z", "insert")}


def test_merge_upsert_rejects_missing_cols(spark):
    import pytest as _pytest

    from thrill_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], ["k", "val"])
    upd = spark.createDataFrame([(1,)], ["k"])
    with _pytest.raises(ValueError):
        merge_upsert(base, upd, ["k"])


# --- edge cases ------------------------------------------------------------


def test_bounded_join_empty_side(spark):
    left = spark.createDataFrame([(1, 10)], ["bucket", "lid"])
    right = spark.createDataFrame([], "bucket int, rid int")
    out = bounded_join(
        left, right, ["bucket"], salt_left="lid", salt_right="rid",
        left_cols={"lid": "lid"}, right_cols={"rid": "rid"},
    )
    assert out.count() == 0


def test_scd2_no_updates_is_identity(spark):
    from thrill_spark.operators.merge import SCD2_OPEN_US, scd2_apply

    base = spark.createDataFrame(
        [(1, "a", 100, SCD2_OPEN_US), (2, "b", 50, 90)],
        ["k", "val", "valid_from_us", "valid_to_us"],
    )
    upd = spark.createDataFrame([], "k long, val string")
    out = {(r["k"], r["valid_to_us"]) for r in scd2_apply(base, upd, ["k"], at_us=200).collect()}
    assert out == {(1, SCD2_OPEN_US), (2, 90)}


def test_incremental_dedup_empty_batch(spark):
    corpus = spark.createDataFrame([(1, "some corpus text here")], ["doc_id", "text"])
    batch = spark.createDataFrame([], "doc_id long, text string")
    assert D.incremental_dedup(batch, corpus).count() == 0


def test_sssp_weighted_planted(spark):
    from thrill_spark.plans.algorithms import sssp

    # 1 -> 2 (w=10), 1 -> 3 (w=1), 3 -> 2 (w=2): shortest to 2 is 3 via 3.
    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (3, 2, 2)], ["src", "dst", "w"]
    )
    out = {r["node"]: r["dist"] for r in sssp(edges, 1).collect()}
    assert out == {1: 0, 2: 3, 3: 1}


def test_sssp_long_chain_crosses_honest_reset(spark):
    from thrill_spark.plans.algorithms import sssp

    # Bellman-Ford relaxes one hop per round, so a 12-edge chain needs
    # >8 rounds — running _fixpoint's plain round checkpoints ACROSS its
    # every-8th honest stats reset (rounds 1-7 plain, round 8 honest,
    # then plain again to the fixpoint).
    n = 13
    edges = spark.createDataFrame(
        [(i, i + 1, i + 1) for i in range(n - 1)], ["src", "dst", "w"]
    )
    out = {r["node"]: r["dist"] for r in sssp(edges, 0).collect()}
    assert out == {i: i * (i + 1) // 2 for i in range(n)}


def test_k_core_long_path_crosses_honest_reset(spark):
    from thrill_spark.plans import algorithms as A

    # A 41-node path peels two endpoints per round under k=2, so the
    # fixpoint takes >8 rounds — same honest-reset crossing as above,
    # ending at the empty core (a path has no 2-core).
    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, ["u", "v"])
    assert A.k_core(df, 2, max_iters=60).count() == 0
