"""Session defaults: derived from the host, forwarded to the workers."""

import os

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
