"""Session defaults (derived from the host, forwarded to the workers)
and driver-built tables as local relations."""

import os

import pytest

from thrill_spark import session


def test_driver_memory_is_half_of_host_ram_capped(monkeypatch):
    def sysconf(ram_gib):
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * (1 << 30) // 4096}
        return lambda name: sizes[name]

    monkeypatch.setattr(session.os, "sysconf", sysconf(15))
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(session.os, "sysconf", sysconf(512))
    assert session.default_driver_memory() == "49152m"


def test_worker_env_forwarded(spark):
    conf = spark.sparkContext.getConf()
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    assert conf.get("spark.executorEnv.PYTHONPATH") == parent
    for var in session._THREAD_CAP_VARS:
        assert conf.get(f"spark.executorEnv.{var}") == os.environ[var], var


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_local_frame_is_an_honest_local_relation(spark):
    df = session.local_frame(
        spark, [(i, f"x{i}", float(i)) for i in range(48)], "a long, b string, c double"
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # actual bytes, not the Long.MaxValue estimate of a LogicalRDD
    assert 0 < int(plan.stats().sizeInBytes()) < 1 << 16
    j0 = _jobs(spark)
    assert len(df.collect()) == 48
    assert _jobs(spark) == j0


def test_local_frame_round_trip_is_exact(spark):
    rows = [
        ("\x01", 1, 2**62, 0.1),
        ("'", -(2**31), -(2**63), -1.5e300),
        ("\\", 0, 0, 0.0),
        ("é", 7, 1, float("inf")),
        ("😀", 2**31 - 1, 2**63 - 1, 5e-324),
        (None, None, None, None),
    ]
    df = session.local_frame(spark, rows, "s string, i int, l long, d double")
    assert [tuple(r) for r in df.collect()] == rows
    assert [f.dataType.simpleString() for f in df.schema] == [
        "string", "int", "bigint", "double"
    ]


def test_local_frame_rejects_what_the_schema_does_not_accept(spark):
    with pytest.raises(TypeError):
        session.local_frame(spark, [(1.5,)], "a long")  # no silent truncation
    with pytest.raises(UnicodeEncodeError):
        session.local_frame(spark, [("\ud83d",)], "s string")  # lone surrogate


def test_local_frame_empty_rows_keep_the_schema(spark):
    df = session.local_frame(spark, [], "node long, scc_id long")
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<node:bigint,scc_id:bigint>"


def test_astral_text_suffix_ranks_cross_arrow(spark):
    """The suffix ladder's alphabet ranks are a local relation: an
    astral-plane text must split by code point and rank like Python's
    sorted suffixes."""
    from thrill_spark.plans.algorithms import chunked_chars, suffix_array

    s = "a😀b😀a"
    chars = chunked_chars(spark.createDataFrame([(s,)], "text string"), chunk=2)
    assert sorted((r["pos"], r["ch"]) for r in chars.collect()) == list(enumerate(s))
    got = {r["pos"]: r["rank"] for r in suffix_array(chars, len(s), step=8).collect()}
    order = sorted(range(len(s)), key=lambda i: s[i:])
    assert got == {p: rk for rk, p in enumerate(order)}
