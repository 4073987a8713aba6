"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a real cluster: shuffle-partition count,
AQE, and Arrow settings are chosen so the same plans scale to a
many-executor deployment (partition counts are derived from
parallelism, not hard-coded to the test data size).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Thrill analogue: api::Run spawns hosts*workers_per_host workers
# (thrill/api/context.cpp:947). In Spark the parallelism knob is the
# master + shuffle partitions; everything else is the scheduler's job.


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def scratch_local_dir() -> str | None:
    """Scratch override for Spark's local dirs (shuffle files, spills,
    broadcast blocks): SPARK_GRAFT_LOCAL_DIR when set, else None =
    Spark's stock temp dir.

    r15: the r14 default of RAM-backed /dev/shm is now OPT-IN
    (SPARK_GRAFT_LOCAL_DIR=/dev/shm/... on hosts with a measured slow
    disk). Reverted per VERDICT r14 #1/#2 and the ADVICE free-space
    gate: (a) an unbounded tmpfs default is a deployment hazard — the
    moment shuffle/spill exceeds RAM the job dies with ENOSPC where a
    disk would survive, the exact 100 TB regime this engine targets,
    and containers commonly cap /dev/shm far below the host's RAM;
    (b) it was the sole global knob in the round whose driver bench
    regressed, and the r15 bisect could not verify any benefit
    (alternating fresh-JVM passes were dominated by ±10x ambient host
    spikes on identical code/config, with the /tmp arm never faster —
    see OPTIMIZATION_r15.md); (c) an empty-string override previously
    could not disable the behavior. Unset/empty now always means
    Spark's default."""
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None


# BLAS/OpenMP/numexpr pool sizes, capped per process and forwarded to
# the Python workers.
_THREAD_CAP_VARS = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def _cap_native_thread_pools() -> None:
    """Pin BLAS/OpenMP pools to one thread per process (overridable via
    the env). Spark's parallelism unit is the TASK: under local[32] up
    to 32 Python workers run numpy kernels concurrently, and each
    OpenBLAS/OMP pool defaulting to nproc threads yields up to 32x32
    oversubscribed threads — measured as inverse core scaling on the
    numpy-heavy queries (r14 PERF: dedup_embedding_cosine 8c/32c ratio
    0.72). One BLAS thread per task is the standard Spark+numpy
    deployment discipline (spark.task.cpus=1 ⇒ single-threaded
    kernels); in local mode the Python daemon inherits this process's
    environment, and on a cluster the same variables belong in
    spark.executorEnv.* (get_spark forwards them)."""
    for var in _THREAD_CAP_VARS:
        os.environ.setdefault(var, "1")


# Cap of the derived driver heap: the fixed default it replaces.
_DRIVER_MEM_CAP_MB = 48 * 1024


def default_driver_memory() -> str:
    """spark.driver.memory when SPARK_GRAFT_DRIVER_MEM is unset: half
    the host's physical memory, capped at 48g. In local mode the
    driver JVM is also the only executor, and the Python workers and
    the OS need the other half; a heap limit above physical memory
    lets a large collect push the host out of memory instead of
    failing with a Java OutOfMemoryError."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 >> 20, _DRIVER_MEM_CAP_MB)}m"


def get_spark(app_name: str = "thrill_spark", parallelism: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — this is what replaces Thrill's hand-rolled
      location-detection / duplicate-detection shuffles at scale.
    - shuffle.partitions = parallelism locally; on a real cluster this
      would be executors*cores*2-3 or left to AQE's coalescing.
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle and are deployment-independent.
    """
    _cap_native_thread_pools()
    p = parallelism or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{p}]")
        # The package's parent directory on the workers' path: a client
        # that imports thrill_spark through sys.path (PYTHONPATH unset)
        # ships functions the workers must be able to unpickle.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(p))
        .config("spark.default.parallelism", str(p))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for var in _THREAD_CAP_VARS:
        builder = builder.config(f"spark.executorEnv.{var}", os.environ[var])
    local_dir = scratch_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A driver-built table as a JVM local relation: Thrill's
    EqualToDIA/Distribute (thrill/api/equal_to_dia.hpp), which turn a
    driver vector into a DIA without running user code on the workers.

    The rows are checked against the declared schema (a StructType or
    a DDL string) with the same type verifier the list path of
    createDataFrame uses, converted column by column to a pyarrow
    Table and handed to createDataFrame. The plan is a LocalRelation:
    no Python worker task, no Spark job to collect or broadcast it, and
    a sizeInBytes of the actual rows. createDataFrame(list) instead
    parallelizes the list through a PythonRDD (a Python worker task
    per slice) into a LogicalRDD whose size estimate is Long.MaxValue,
    which costs every downstream join its broadcast eligibility. A
    value that fails the verifier or that Arrow cannot convert (a lone
    UTF-16 surrogate) raises.

    For engine-internal tables only: the user-facing ingestion in
    api.py and sources/io.py:from_vector takes collections with
    inferred or nested schemas and keeps createDataFrame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    rows = list(rows)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(struct)
    cols = [
        pa.array([row[i] for row in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), struct)
