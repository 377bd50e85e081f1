"""SparkSession factory tuned for this engine, and :func:`local_frame`,
which turns driver-held rows into a local relation.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too (AQE, shuffle partitioning, Arrow for the few
pandas-UDF boundaries). Everything else is left to Catalyst/Tungsten.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# HotSpot's Tier-4 (C2) thresholds at 3x the JDK 17 defaults: C2 now takes
# 15000 calls, or 1800 calls and 45000 calls + loop back-edges, or 120000
# back-edges for an on-stack replacement. Methods still get C1 code after
# Tier-3's ~200 calls, so only code that stays hot past warm-up pays for a
# C2 compile.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


def local_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, otherwise the
    cores this process may run on (its CPU affinity), so a tool started
    without the variable never oversubscribes the host."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "data_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB posture):
      - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
        and dynamic broadcast conversion replace hand-tuned batch sizes the
        reference used (520 s loops / 1000-row batches, BASELINE.md).
      - session timezone pinned to UTC so timestamp semantics are stable and
        match the DuckDB oracle (naive == UTC).
      - Arrow enabled for the pandas-UDF boundaries (simhash, multimodal).

    JIT policy: the driver JVM starts with ``DRIVER_JIT_OPTIONS``,
    HotSpot's Tier-4 (C2) thresholds at 3x the defaults. A run of this
    engine is many short Spark SQL jobs, store commits and stream drains
    over small data, so most of its CPU is Catalyst planning and codegen
    in Spark's own classes, which HotSpot is still warming up when the run
    ends. With the default thresholds the C1/C2 compiler threads burned
    more than half of the driver JVM's CPU on the ``query_mix`` benchmark
    and ~40% on ``incremental_load``, compiling ``org.apache.spark.sql.*``
    methods rather than generated classes. Higher C2 thresholds keep C1
    code for methods that are warm for a while and then go cold, and leave
    C2 to loops and methods that stay hot, which long jobs still reach.
    The cost is that a method waiting for C2 runs slower, fully profiled
    C1 code on the caller's thread, so the multiple is a trade between CPU
    and warm-up latency. At 3x, on a 4-core host, both benchmark
    workloads used ~14% less CPU per operation with every latency median
    and the sf0.1 long-run warm times within run-to-run spread, but the
    test suite, one JVM running hundreds of distinct short code paths,
    took ~19% longer (one run each). At 4x session start-up was slower
    in wall time beyond that spread, and at 10x (for calls) a point
    read's latency rose ~22%. C1 only (``-XX:TieredStopAtLevel=1``) was
    rejected: it cut CPU too but made ``query_mix`` 57% slower in wall
    time (13.9 -> 21.8 s a pass), since planning then never gets C2 code.
    ROADMAP Open item 7 tracks the warm-up latency of this setting.
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python DataSource filter pushdown (sources/rest_datasource.py
        # prunes endpoint pages from cursor-column predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", DRIVER_JIT_OPTIONS)
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-held ``rows`` as an Arrow-backed local relation under the
    DDL ``schema``. ``createDataFrame`` of a Python list goes through a
    Python RDD, so every action over it launches a job and a Python
    worker (about 1.1 CPU s per frame on a 4-core host); the Arrow
    table becomes a ``LocalRelation`` that Catalyst folds projections
    into, so a select over it collects with 0 jobs and joins broadcast
    it as is. Rows are checked with the same type verifier the list
    path applies, so a value the schema cannot hold raises instead of
    being coerced."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import StructType, _make_type_verifier  # noqa: PLC0415

    struct = StructType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, schema=struct)
