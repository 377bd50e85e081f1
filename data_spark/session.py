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


def get_spark(app_name: str = "data_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB posture):
      - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
        and dynamic broadcast conversion replace hand-tuned batch sizes the
        reference used (520 s loops / 1000-row batches, BASELINE.md).
      - session timezone pinned to UTC so timestamp semantics are stable and
        match the DuckDB oracle (naive == UTC).
      - Arrow enabled for the pandas-UDF boundaries (simhash, multimodal).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
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
