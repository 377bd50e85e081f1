"""The composed incremental pipeline (pipelines/incremental_e2e) —
the COST side of the contract the pipe_incremental_e2e gate query
can't hash-check: batch-2 work must be O(|delta|), bounded by the
delta's own buckets, never O(|history|) (VERDICT r4 'Next round' #5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_spark.pipelines.incremental_e2e import run_batch
from data_spark.queries.common import t


@pytest.fixture()
def docs(spark, sf_small):
    return t(spark, sf_small, "documents").select("doc_id", "text", "lang", "source")


def test_second_batch_is_o_delta(spark, docs, tmp_path):
    """400-row history, then a 5-row delta: the delta's merge re-reads
    only its own buckets (~delta/num_buckets of the store)."""
    work = str(tmp_path / "wd")
    m1 = run_batch(spark, docs, work, batch_limit=400, num_buckets=64)
    assert m1["delta_rows"] == 400
    assert m1["merged_rows"] == 400
    assert m1["near_dups_dropped"] == 0
    assert m1["store_rows_read"] == 0  # no store existed yet
    assert m1["store_rows_total"] == 400

    m2 = run_batch(spark, docs, work, batch_limit=5, num_buckets=64)
    assert m2["delta_rows"] == 5
    # the sf0.001 corpus deliberately contains real near-dups, so some
    # of the 5 may legitimately be dropped against the 400-doc history
    merged = m2["merged_rows"]
    assert merged + m2["near_dups_dropped"] == 5
    assert 1 <= merged <= 5
    # THE measured O(delta) claim: <=|merged| of 64 buckets touched, so
    # the merge re-read at most ~merged/64 of the 400-row history (plus
    # skew headroom), never the whole store
    assert 1 <= m2["store_buckets_touched"] <= merged
    assert 0 < m2["store_rows_read"] <= 80
    assert m2["store_rows_total"] == 400 + merged
    # the footer total counts exactly what a Spark read of the store sees
    store = spark.read.parquet(os.path.join(work, "store"))
    assert m2["store_rows_total"] == store.count()


def test_near_dup_gate_blocks_history_dups(spark, docs, tmp_path):
    """Batch 2 consists only of near-dup variants of batch 1: the
    persistent index must drop every one WITHOUT the survivors' store
    or corpus text being rescanned, then the drained log makes batch 3
    a no-op (idempotent re-run)."""
    work = str(tmp_path / "wd")
    base = docs.filter(F.col("doc_id") < 50)
    variants = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" v2 dup")).alias("text"),
        "lang",
        "source",
    )
    source = base.unionByName(variants)
    m1 = run_batch(spark, source, work, batch_limit=50)
    assert (m1["merged_rows"], m1["near_dups_dropped"]) == (50, 0)
    m2 = run_batch(spark, source, work, batch_limit=50)
    assert m2["delta_rows"] == 50
    assert m2["near_dups_dropped"] == 50
    assert m2["merged_rows"] == 0
    assert m2["store_rows_total"] == 50
    # dropped dups are logged as processed: they are never re-offered
    m3 = run_batch(spark, source, work, batch_limit=50)
    assert m3["delta_rows"] == 0
    assert m3["store_rows_total"] == 50

    # the store holds exactly the originals
    stored = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(work, "store")).select("doc_id").collect()
    )
    assert stored == list(range(50))


def test_fresh_docs_pass_the_gate(spark, docs, tmp_path):
    """Genuinely new content (disjoint shingle space) must NOT be
    dropped by the index probe — the gate errs in neither direction."""
    work = str(tmp_path / "wd")
    base = docs.filter(F.col("doc_id") < 40)
    fresh = base.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.sha2(F.col("doc_id").cast("string"), 256).alias("text"),
        "lang",
        "source",
    )
    source = base.unionByName(fresh)
    run_batch(spark, source, work, batch_limit=40)
    m2 = run_batch(spark, source, work, batch_limit=40)
    assert m2["near_dups_dropped"] == 0
    assert m2["merged_rows"] == 40
    assert m2["store_rows_total"] == 80

