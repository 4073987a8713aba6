"""Iterative algorithm tests with closed-form / known-graph expectations
(mirrors tests/examples/ in the reference)."""

import pytest
from pyspark.sql import functions as F

from thrill_spark.plans import algorithms as A


def test_pagerank_cycle_uniform(spark):
    # directed cycle: stationary distribution is uniform
    n = 10
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], ["src", "dst"])
    ranks = A.pagerank(edges, iterations=20).collect()
    for r in ranks:
        assert abs(r["rank"] - 1.0 / n) < 1e-6


def test_pagerank_star_center_dominates(spark):
    edges = spark.createDataFrame([(i, 0) for i in range(1, 6)], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in A.pagerank(edges, iterations=15).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0)
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_triangle_count_known_graphs(spark):
    # K4 has 4 triangles
    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    edges = spark.createDataFrame(k4, ["a", "b"])
    assert A.triangle_count(edges) == 4
    # square (no diagonal) has none
    sq = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], ["a", "b"])
    assert A.triangle_count(sq) == 0
    # duplicate/reversed edges must not double-count
    dup = spark.createDataFrame([(0, 1), (1, 0), (1, 2), (2, 0), (0, 2)], ["a", "b"])
    assert A.triangle_count(dup) == 1


def test_kmeans_separable(spark):
    rows = []
    for i in range(20):
        rows.append((i, [0.0 + i * 0.001, 0.0]))
        rows.append((100 + i, [10.0 + i * 0.001, 10.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = A.kmeans(df, k=2, iterations=5)
    clusters = {r["vec_id"]: r["cluster"] for r in out.collect()}
    low = {clusters[i] for i in range(20)}
    high = {clusters[100 + i] for i in range(20)}
    assert len(low) == 1 and len(high) == 1 and low != high


def test_kth_statistic(spark):
    import random

    rng = random.Random(7)
    vals = [rng.randint(0, 10_000) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    for k in (0, 10, 499):
        assert A.kth_statistic(df, "v", k) == sorted(vals)[k]


def test_bfs_chain_distances(spark):
    from thrill_spark.plans.algorithms import bfs

    # simple chain 0->1->2->3 plus shortcut 0->2
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2)], ["src", "dst"]
    )
    out = {r["node"]: r["d"] for r in bfs(edges, source=0).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 2}


def test_suffix_array_known_string(spark):
    from thrill_spark.plans.algorithms import suffix_array
    from pyspark.sql import functions as F

    s = "banana"
    chars = spark.createDataFrame(list(enumerate(s)), ["pos", "ch"])
    out = {r["pos"]: r["rank"] for r in suffix_array(chars, len(s)).collect()}
    # suffixes sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
    expect = {5: 0, 3: 1, 1: 2, 0: 3, 4: 4, 2: 5}
    assert out == expect


@pytest.mark.parametrize("step", [2, 3, 4, 8])
def test_suffix_array_bruteforce_adversarial(spark, step):
    """The analytic bucket-sort re-rank must reproduce brute-force
    suffix ranks for every step width on shapes that stress it:
    all-identical text (every round's keys collide — one bucket
    funnels the whole table, the doubling depth is maximal), periodic
    text (mass rank ties deep into the schedule), and a seeded
    pseudorandom string (no structure; ranks go distinct in ~2
    rounds so the terminal-round exit path is hit immediately)."""
    import random

    from thrill_spark.plans.algorithms import suffix_array

    rng = random.Random(1234)
    texts = [
        "a" * 37,
        "abcab" * 13,
        "".join(rng.choice("abcd") for _ in range(101)),
    ]
    for s in texts:
        chars = spark.createDataFrame(list(enumerate(s)), ["pos", "ch"])
        got = {
            r["pos"]: r["rank"]
            for r in suffix_array(chars, len(s), step=step).collect()
        }
        want_order = sorted(range(len(s)), key=lambda i: s[i:])
        want = {p: r for r, p in enumerate(want_order)}
        assert got == want, (step, s[:20], len(s))


def test_suffix_array_empty_input(spark):
    """n == 0 must short-circuit cleanly (r10 ADVICE: the carry map
    used to become a NULL-typed literal and fail analysis)."""
    from thrill_spark.plans.algorithms import suffix_array

    chars = spark.createDataFrame([], "pos long, ch string")
    assert suffix_array(chars, 0).count() == 0
    ranked, levels = suffix_array(chars, 0, step=4, keep_levels=True)
    assert ranked.count() == 0
    assert all(tab.count() == 0 for _, tab in levels)


def test_suffix_array_fp_regime_large_periodic(spark):
    """n > 9742 puts (n+1)**4 past 2^53 — the regime where a packed
    multi-component double surrogate loses monotonicity (r10 ADVICE:
    lexicographically smaller tuples could get larger surrogates and
    straddle bucket boundaries, silently corrupting global ranks).
    Leading-component bucketing is exact at any n; periodic text
    keeps rank ties alive to the deepest round so an inversion or a
    split mid-group would surface as wrong ranks or a premature
    terminal exit."""
    from thrill_spark.plans.algorithms import suffix_array

    s = "abcab" * 2048  # n = 10240 > 9742
    n = len(s)
    chars = spark.createDataFrame(list(enumerate(s)), ["pos", "ch"])
    ranked, levels = suffix_array(chars, n, step=4, keep_levels=True)
    got = {r["pos"]: r["rank"] for r in ranked.collect()}
    want_order = sorted(range(n), key=lambda i: s[i:])
    want = {p: r for r, p in enumerate(want_order)}
    assert got == want
    # the level ladder must be the complete power-of-two schedule
    plens = sorted(pl for pl, _ in levels)
    assert plens == [2**i for i in range(len(plens))]


def test_logistic_regression_separates(spark):
    from thrill_spark.plans.algorithms import logistic_regression_sgd

    rows = []
    for i in range(40):
        rows.append(([1.0, 1.0 + (i % 5) * 0.1], 1))
        rows.append(([-1.0, -1.0 - (i % 5) * 0.1], 0))
    df = spark.createDataFrame(rows, ["x", "y"])
    w = logistic_regression_sgd(df, dim=2, iterations=15, lr=0.5)
    # learned weights must put the classes on opposite margin sides
    assert w[0] + w[1] > 0.5


def test_connected_components_path_and_cliques(spark):
    # Path graph 0-1-2-...-9: worst case for min-label propagation
    # (label 0 must travel the full diameter), single component.
    path = spark.createDataFrame([(i, i + 1) for i in range(9)], ["a", "b"])
    comp = {r["node"]: r["component"] for r in A.connected_components(path).collect()}
    assert comp == {i: 0 for i in range(10)}
    # Two cliques + an isolated edge, reversed/duplicate edges mixed in.
    edges = [(10, 11), (11, 12), (12, 10), (21, 20), (20, 22), (30, 31), (31, 30)]
    comp = {
        r["node"]: r["component"]
        for r in A.connected_components(
            spark.createDataFrame(edges, ["a", "b"])
        ).collect()
    }
    assert comp == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_cc_star_matches_propagation_random(spark):
    """Differential: large-star/small-star CC must produce identical
    labels to min-label propagation on a random multi-component graph."""
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, ["a", "b"])
    star = {
        r["node"]: r["component"]
        for r in A.connected_components(df, algorithm="star").collect()
    }
    prop = {
        r["node"]: r["component"]
        for r in A.connected_components(df, algorithm="propagation").collect()
    }
    assert star == prop


def test_cc_star_long_chain_logarithmic_rounds(spark):
    """A 256-node path has diameter 255: propagation needs ~255 rounds,
    large-star/small-star must finish within O(log^2 n) — give it 12."""
    n = 256
    path = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    comp = {
        r["node"]: r["component"]
        for r in A.connected_components(path, algorithm="star", max_iters=12).collect()
    }
    assert comp == {i: 0 for i in range(n)}


def test_cc_star_round_is_four_jobs(spark, monkeypatch):
    """A join-free star round is at most 4 Spark jobs (two window
    exchanges, one distinct exchange, the checkpoint's result stage;
    the join-based round it replaced was 8), and every job of the call
    runs inside a checkpoint. Counted on the scheduler's job ids, so
    the bound is exact."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    per_ckpt = []
    ckpt = A._ckpt_with_sig

    def counted(df, *cols, **kw):
        j0 = dag.nextJobId()
        out = ckpt(df, *cols, **kw)
        per_ckpt.append(dag.nextJobId() - j0)
        return out

    monkeypatch.setattr(A, "_ckpt_with_sig", counted)
    # a path, a triangle with a tail, and an isolated edge
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10),
             (12, 13), (20, 21)]
    df = spark.createDataFrame(edges, ["a", "b"])
    j0 = dag.nextJobId()
    out = A.connected_components(df)
    total = dag.nextJobId() - j0
    init, rounds = per_ckpt[0], per_ckpt[1:]
    assert len(rounds) >= 2
    assert max(rounds) <= 4, per_ckpt
    assert total == init + sum(rounds), per_ckpt
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert comp == {**{i: 1 for i in range(1, 6)}, 10: 10, 11: 10, 12: 10,
                    13: 10, 20: 20, 21: 20}


def test_cc_propagation_raises_on_nonconvergence(spark):
    import pytest

    path = spark.createDataFrame([(i, i + 1) for i in range(40)], ["a", "b"])
    with pytest.raises(RuntimeError, match="diameter"):
        A.connected_components(path, algorithm="propagation", max_iters=3)


def _path(spark, n, schema):
    """A directed path 0 -> 1 -> ... -> n-1 (weight 1 if the schema has
    a third column)."""
    width = len(schema.split(","))
    return spark.createDataFrame([(i, i + 1, 1)[:width] for i in range(n - 1)], schema)


# name -> (run(edges, bound), edge schema, path length, smallest round
# bound that converges on that path, rows returned for no edges).
# bfs and sssp still place their source at distance 0.
FIXPOINTS = {
    "k_core": (lambda e, m: A.k_core(e, 2, max_iters=m), "u long, v long", 9, 6, []),
    "sssp": (lambda e, m: A.sssp(e, 0, max_iters=m), "src long, dst long, w long", 6, 6,
             [(0, 0)]),
    "bfs": (lambda e, m: A.bfs(e, 0, max_iters=m), "src long, dst long", 6, 6, [(0, 0)]),
    "cc_star": (lambda e, m: A.connected_components(e, max_iters=m), "a long, b long", 32, 6,
                []),
    "cc_propagation": (
        lambda e, m: A.connected_components(e, max_iters=m, algorithm="propagation"),
        "a long, b long", 6, 6, [],
    ),
    "scc": (lambda e, m: A.strongly_connected_components(e, max_rounds=m),
            "src long, dst long", 6, None, []),
}


@pytest.mark.parametrize("name", sorted(FIXPOINTS))
def test_fixpoint_round_bound_and_empty_input(spark, name):
    """Each fixpoint raises one round below the smallest bound that
    suffices on a path and converges at it (k-core at k=2 peels a path
    to nothing; the others return one row per node), and an empty edge
    table converges at once — its (0, None) signature repeats — to a
    frame with the algorithm's schema."""
    run, schema, n, bound, empty_rows = FIXPOINTS[name]
    path = _path(spark, n, schema)
    full = run(path, bound or 4)
    assert full.count() == (0 if name == "k_core" else n)
    if bound is not None:
        with pytest.raises(RuntimeError):
            run(path, bound - 1).collect()
    out = run(spark.createDataFrame([], schema), bound or 4)
    assert out.schema == full.schema
    assert sorted(tuple(r) for r in out.collect()) == empty_rows


# name -> (call, number of entry/return _honest_ckpt calls)
LOOP_CALLS = {
    "k_core": (lambda s: A.k_core(_path(s, 9, "u long, v long"), 2), 2),
    "sssp": (lambda s: A.sssp(_path(s, 6, "src long, dst long, w long"), 0), 1),
    "bfs": (lambda s: A.bfs(_path(s, 6, "src long, dst long"), 0), 1),
    "min_label": (lambda s: A._min_label_fixpoint(
        s.range(6).withColumnRenamed("id", "node"), _path(s, 6, "u long, v long")), 1),
    "cc_propagation": (lambda s: A.connected_components(
        _path(s, 6, "a long, b long"), algorithm="propagation"), 2),
}


@pytest.mark.parametrize("name", sorted(LOOP_CALLS))
def test_fixpoint_jobs_run_in_checkpoints(spark, monkeypatch, name):
    """Every Spark job of a fixpoint call runs inside a round
    checkpoint (_ckpt_with_sig, which also yields the convergence
    signature) or one of the entry/return _honest_ckpt calls: no
    count, aggregate or isEmpty probe of its own. Counted on the
    scheduler's job ids."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    inside = {"_ckpt_with_sig": [], "_honest_ckpt": []}

    def counted(fname):
        fn = getattr(A, fname)

        def wrapper(*args, **kw):
            j0 = dag.nextJobId()
            out = fn(*args, **kw)
            inside[fname].append(dag.nextJobId() - j0)
            return out

        return wrapper

    for fname in inside:
        monkeypatch.setattr(A, fname, counted(fname))
    call, honest_calls = LOOP_CALLS[name]
    j0 = dag.nextJobId()
    call(spark)
    total = dag.nextJobId() - j0
    assert len(inside["_honest_ckpt"]) == honest_calls, inside
    assert len(inside["_ckpt_with_sig"]) >= 2, inside
    assert total == sum(inside["_ckpt_with_sig"]) + sum(inside["_honest_ckpt"]), inside


def test_suffix_array_dc3_matches_bruteforce(spark):
    """DC3 vs brute force on a random string, with the base threshold
    forced small so multiple DISTRIBUTED recursion levels execute
    (the full pipeline: triples, naming, reduction, counting merge)."""
    import random

    from thrill_spark import ordering as O
    from thrill_spark.plans.algorithms import suffix_array_dc3

    random.seed(11)
    s = "".join(random.choice("ab") for _ in range(64))
    truth = {p: rk for rk, p in enumerate(sorted(range(64), key=lambda i: s[i:]))}
    chars = spark.createDataFrame(
        [(i, s[i]) for i in range(64)], "pos long, ch string"
    )
    out = {
        r["pos"]: r["rank"]
        for r in suffix_array_dc3(chars, 64, base_threshold=8).collect()
    }
    assert out == truth
    O.release_persisted()
    spark.catalog.clearCache()


def test_suffix_array_dc7_matches_truth(spark):
    """DC7 through forced recursion (threshold 8) equals the python
    ground truth — and therefore DC3's output — on a random string."""
    import random

    from thrill_spark import ordering as O
    from thrill_spark.plans.algorithms import suffix_array_dc7

    random.seed(11)
    s = "".join(random.choice("ab") for _ in range(64))
    truth = {p: rk for rk, p in enumerate(sorted(range(64), key=lambda i: s[i:]))}
    chars = spark.createDataFrame(
        [(i, s[i]) for i in range(64)], "pos long, ch string"
    )
    out = {
        r["pos"]: r["rank"]
        for r in suffix_array_dc7(chars, 64, base_threshold=8).collect()
    }
    assert out == truth
    O.release_persisted()
    spark.catalog.clearCache()


def test_scc_known_graph(spark):
    """SCC coloring on a hand-built graph: two 3-cycles joined by a
    one-way bridge plus a sink singleton."""
    from thrill_spark.plans.algorithms import strongly_connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7)],
        "src long, dst long",
    )
    out = sorted(
        (r["node"], r["scc_id"])
        for r in strongly_connected_components(e).collect()
    )
    assert out == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7)]


def test_scc_dag_chain_bulk_trims(spark):
    """A 200-node chain of singleton SCCs must NOT need ~200 peel
    rounds (the pre-trim coloring peeled only the class-min root per
    round and exhausted max_rounds): the (color, rcolor) pair trim
    collapses the whole DAG region, so a tight round budget suffices."""
    from thrill_spark.plans.algorithms import strongly_connected_components

    n = 200
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = sorted(
        (r["node"], r["scc_id"])
        for r in strongly_connected_components(e, max_rounds=4).collect()
    )
    assert out == [(i, i) for i in range(n)]


def test_scc_chain_of_cycles_with_tail(spark):
    """Mixed topology: 2-cycles chained through one-way bridges plus a
    pure-DAG tail — the trim peels the tail wholesale while the
    same-color backward peel takes the cycles."""
    from thrill_spark.plans.algorithms import strongly_connected_components

    edges = []
    # three 2-cycles 0-1, 10-11, 20-21 bridged one-way
    for base in (0, 10, 20):
        edges += [(base, base + 1), (base + 1, base)]
    edges += [(1, 10), (11, 20)]
    # DAG tail off the last cycle
    edges += [(21, 30), (30, 31), (31, 32)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = sorted(
        (r["node"], r["scc_id"])
        for r in strongly_connected_components(e, max_rounds=6).collect()
    )
    assert out == [
        (0, 0), (1, 0), (10, 10), (11, 10), (20, 20), (21, 20),
        (30, 30), (31, 31), (32, 32),
    ]


def test_chunked_chars_matches_direct_explode(spark):
    """chunked_chars must reproduce the exact (pos, ch) table of a
    direct single-row explode — including multi-row offsets, empty
    rows, and texts not divisible by the chunk size — while carrying
    a hash exchange on (row, slice) so no document funnels through
    one char-explode task."""
    from pyspark.sql import functions as F

    from thrill_spark.plans.algorithms import chunked_chars

    text = "the quick brown fox jumps over the lazy dog" * 3  # 132 chars
    df = spark.createDataFrame([(text,)], "text string")
    got = sorted((r["pos"], r["ch"]) for r in chunked_chars(df, chunk=7).collect())
    assert got == list(enumerate(text))

    # multi-row concatenation via explicit offsets
    rows = [(0, "hello"), (5, "world")]
    df2 = spark.createDataFrame(rows, "_off long, t string")
    got2 = sorted(
        (r["pos"], r["c"])
        for r in chunked_chars(df2, text_col="t", off_col="_off", chunk=3, ch="c").collect()
    )
    assert got2 == list(enumerate("helloworld"))

    # empty text contributes nothing (and must not crash the slicer)
    df3 = spark.createDataFrame([("",), ("ab",)], "text string")
    got3 = sorted((r["pos"], r["ch"]) for r in chunked_chars(df3, chunk=4).collect())
    assert got3 == [(0, "a"), (1, "b")]

    # the redistribution exchange is in the plan (the point of the helper)
    plan = (
        chunked_chars(df, chunk=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" in plan

    # contract guard: >1 non-empty row without off_col would assign
    # base offset 0 to every row (colliding pos) — must raise, not
    # silently corrupt the char table
    df4 = spark.createDataFrame([("ab",), ("cd",)], "text string")
    with pytest.raises(ValueError, match="off_col is required"):
        chunked_chars(df4, chunk=4)


@pytest.mark.parametrize("step", [2, 4, 8])
def test_lcp_from_levels_matches_bruteforce(spark, step):
    """Manber-Myers descent over the prefix-sort rank tables must equal
    the brute-force adjacent-suffix LCP — exercised on repetition-heavy
    strings (long LCPs, the case the old substring scan was quadratic
    on) and a random-ish one, for BOTH schedules: step=2 (one sort
    round per power-of-two level), step=4 (each quadrupling round
    emits TWO levels — mid 2k from the sort-key prefix, full 4k) and
    step=8 (THREE levels per round: 2k, 4k, 8k) — every schedule must
    present the same complete {1,2,4,8,...} ladder to the descent."""
    from thrill_spark.plans.algorithms import (
        chunked_chars,
        lcp_from_levels,
        suffix_array,
    )

    # the 100-char periodic text drives LCPs into the 90s, forcing the
    # deep schedule entries (h=94 = 64+16+8+4+2 exercises five levels
    # in one descent, including mid-emitted ones)
    texts = (
        "abracadabra",
        "aabaabaabaab",
        "mississippi$banana",
        "abcab" * 20,
    )
    for text in texts:
        df = spark.createDataFrame([(text,)], "text string")
        chars = chunked_chars(df, chunk=5)
        ranked, levels = suffix_array(
            chars, len(text), step=step, keep_levels=True
        )
        got = {
            r["rank"]: r["lcp"]
            for r in lcp_from_levels(ranked, levels).collect()
        }
        suf = sorted(text[i:] for i in range(len(text)))
        want = {0: 0}
        for r in range(1, len(suf)):
            a, b = suf[r - 1], suf[r]
            h = 0
            while h < min(len(a), len(b)) and a[h] == b[h]:
                h += 1
            want[r] = h
        assert got == want, (step, text, got, want)


@pytest.mark.parametrize("min_len", [1, 3, 5, 16])
def test_lcp_ge_flags_matches_exact_descent(spark, min_len):
    """lcp_ge_flags must equal (exact LCP >= L) for power-of-two AND
    composite L (composite = multi-probe greedy decomposition), on
    texts whose ladders top out below L (forcing repeated-level
    probes, e.g. 16 = 8+8)."""
    from thrill_spark.plans.algorithms import (
        chunked_chars,
        lcp_from_levels,
        lcp_ge_flags,
        suffix_array,
    )

    texts = ("abracadabra", "aabaabaabaab", "abcab" * 20)
    for text in texts:
        df = spark.createDataFrame([(text,)], "text string")
        chars = chunked_chars(df, chunk=5)
        ranked, levels = suffix_array(
            chars, len(text), step=8, keep_levels=True
        )
        exact = {
            r["rank"]: r["lcp"]
            for r in lcp_from_levels(ranked, levels).collect()
        }
        got = {
            r["rank"]: r["ge"]
            for r in lcp_ge_flags(ranked, levels, min_len).collect()
        }
        want = {rk: lcp >= min_len for rk, lcp in exact.items()}
        assert got == want, (text, min_len)


@pytest.mark.parametrize("min_len", [1, 4, 5, 16])
def test_prefix_classes_match_bruteforce(spark, min_len):
    """prefix_classes keys must partition suffixes exactly by their
    first min_len characters, including with the early-stopped ladder
    (max_prefix) and Ls needing multi-part greedy decompositions or
    repeated levels (ladder topped out below L)."""
    from thrill_spark.plans.algorithms import prefix_classes, suffix_array

    texts = ("abracadabra", "abcab" * 13, "aabaa")
    for text in texts:
        n = len(text)
        chars = spark.createDataFrame(list(enumerate(text)), ["pos", "ch"])
        _, levels = suffix_array(
            chars, n, step=8, keep_levels=True, max_prefix=min_len
        )
        rows = prefix_classes(levels, min_len).collect()
        assert sorted(r["pos"] for r in rows) == list(range(n))
        cls = {r["pos"]: tuple(r["cls"]) for r in rows}
        for a in range(n):
            for b in range(n):
                same = text[a:a + min_len] == text[b:b + min_len] and (
                    # suffixes shorter than min_len must not merge
                    # unless truly identical-to-end at equal length
                    min(n - a, min_len) == min(n - b, min_len)
                )
                assert (cls[a] == cls[b]) == same, (text, min_len, a, b)


def test_pagerank_all_null_src_edges(spark):
    """rollup over an empty contribs input yields no grand-total row;
    pagerank must fall back to uniform dangling mass, not crash."""
    import pyspark.sql.functions as F

    from thrill_spark.plans.algorithms import pagerank

    edges = spark.createDataFrame(
        [(None, 1), (None, 2)], "src int, dst int"
    )
    out = pagerank(edges, iterations=2).collect()
    ranks = {r["node"]: r["rank"] for r in out}
    # the NULL src appears as a node of its own (union+distinct keeps
    # it); the guarded scalar keeps the run alive with uniform mass
    assert {1, 2} <= set(ranks)
    assert all(v > 0 for v in ranks.values())
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
