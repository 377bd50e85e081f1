"""Processed-log incremental loading (SURVEY S6/J3 — the reference's
core incremental idiom: `LEFT JOIN loaded_x ON id WHERE b.id IS NULL`
batches of 1000 until drained, load_elastic_contributions/main.py:60-237).

Spark restatement: the log is an append-only parquet table of processed
keys; each cycle anti-joins source against it, processes a batch, and
appends the batch's keys. The reference's 6-way sharded log tables
(BigQuery DML quota workaround) collapse to plain appends — the read
side is the union of all appended files, which is exactly what a
parquet directory scan is.

At cluster scale the anti-join is a broadcast join while the log is
small and a shuffled hash join later; either way the pattern is safe to
re-run (keys are appended only after a batch succeeds — replays are
idempotent because downstream sinks merge on key).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


class ProcessedLog:
    """Append-only key log backing the anti-join loader."""

    def __init__(self, spark: SparkSession, path: str, key: str = "sub_id"):
        self.spark = spark
        self.path = path
        self.key = key

    def keys(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def append(self, batch: DataFrame) -> None:
        batch.select(self.key).write.mode("append").parquet(self.path)


def load_unprocessed(source: DataFrame, log: ProcessedLog, limit: int | None = None) -> DataFrame:
    """Rows of ``source`` whose key is not in the log (one batch when
    ``limit`` is given, ordered by key for determinism)."""
    done = log.keys()
    remaining = source if done is None else source.join(done, on=log.key, how="left_anti")
    if limit is not None:
        remaining = remaining.orderBy(log.key).limit(limit)
    return remaining


def incremental_batches(
    source: DataFrame,
    log: ProcessedLog,
    process: Callable[[DataFrame], None],
    batch_size: int = 1000,
    max_batches: int | None = None,
) -> Iterator[int]:
    """Drain ``source`` through ``process`` in anti-joined batches,
    appending each batch's keys to the log after it succeeds. Yields the
    batch row count per cycle; stops when the anti-join is empty.

    (The reference stops on a 520 s wall-clock budget instead; a batch
    count bound expresses the same back-pressure without wall-clock
    nondeterminism.)
    """
    batches = 0
    while max_batches is None or batches < max_batches:
        batch = load_unprocessed(source, log, limit=batch_size).cache()
        n = batch.count()
        if n == 0:
            batch.unpersist()
            break
        process(batch)
        log.append(batch)
        batch.unpersist()
        batches += 1
        yield n
