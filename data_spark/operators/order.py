"""Distributed total-order ranking.

``Window.orderBy(...)`` with no partition key funnels every row through
ONE partition — acceptable for calendar- or vocab-bounded frames (the
house rule elsewhere in the engine), fatal for data-scale ones. The
reference's sorted-scan shapes (cursor pagination, ordered exports)
need a global ROW_NUMBER that scales, which is the classic two-phase
rank:

1. range-repartition on the order key, so partitions hold disjoint key
   ranges AND partition index order equals key order;
2. rank within each partition (parallel windows);
3. shift each partition's local ranks by the total row count of all
   earlier partitions — one BIGINT per partition collected to the
   driver, bounded by the partition count, never by the data.

The range-partitioned frame is materialized (lineage truncation) before
step 2: the offsets were measured against ITS partition boundaries, and
a recomputation that resampled different range bounds would silently
shift every rank.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_spark.plans.lineage import truncate_lineage
from data_spark.session import local_frame


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a 1-based global ROW_NUMBER over ``order_cols`` without a
    single-partition window. ``order_cols`` must be a TOTAL order
    (include a unique tiebreak column) — with ties the rank assignment
    would depend on physical row placement.

    Partition count defaults to ``spark.sql.shuffle.partitions`` so the
    sort parallelism follows cluster sizing, same as any shuffle.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(truncate_lineage)
    )
    per_pid = ranged.groupBy("_pid").count().collect()
    offsets, acc = [], 0
    for row in sorted(per_pid, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    off = local_frame(spark, offsets, "_pid int, _off bigint")
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn("_prn", F.row_number().over(w))
        .join(F.broadcast(off), "_pid")
        .withColumn(out, (F.col("_off") + F.col("_prn")).cast("bigint"))
        .drop("_pid", "_off", "_prn")
    )
