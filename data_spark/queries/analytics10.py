"""Round-11 tier: driver gates for the change-data-feed and native
stream-tailing surfaces built (and pytest-gated) in round 10.

- ``m_change_feed``: the CDF reader (``io.read_changes``) as a
  first-class gate — append → MERGE → DELETE, then reconstruct the
  interval's change rows (``insert`` / ``update_preimage`` /
  ``update_postimage`` / ``delete`` with commit versions) and hash
  them against a DuckDB oracle that derives the same changes from the
  base table. This is the amendments contract the reference implements
  as a delete-then-replace loop on its graph store
  (federal/fec/functions/federal_fec_compute_load_graph_expenditures/cypher.py:40-75), expressed as
  a replayable feed over the commit log. The gate covers BOTH serving
  modes: the merge version reconstructs (bounds-pruned pre-image scan +
  one-pass classification), the delete version commits with
  ``change_feed=True`` and is served from its stored change files.
- ``pipe_stream_source_e2e``: the ``versioned_table`` streaming source
  driven END TO END through the engine — a table built as
  overwrite → append → merge → delete is tailed with
  ``spark.readStream.format("versioned_table")`` (snapshot + appends +
  merge inserts, delete skipped: Delta ``ignoreChanges`` semantics),
  drained availableNow into a parquet sink, and the sink's aggregate
  must equal the oracle's one-shot reconstruction.

Scale posture: ``read_changes`` recovers delete/merge pre-images
through a prior-snapshot semi-join PRUNED by the key bounds the
commit recorded in its delete entry (O(files overlapping the changed
keys) on a stats-maintained table, asserted present in-gate); the
stream source plans one InputPartition per data file and reads
parquet on executors — no driver-side row materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_spark.queries.common import run_scratch_dir, t

QUERIES = {}
ORACLE = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# m_change_feed — CDF over append → merge → delete, vs a SQL reconstruction
# ---------------------------------------------------------------------------

# one orders-derived table, all selectors on o_orderkey (unique):
#   v0 overwrite: k%3=0 (original price)        — before the feed window
#   v1 append:    k%3=1                          → insert
#   v2 merge:     source k%5=0 (doubled price), delete-flagged k%11=0
#       matched    (k%3 in (0,1), k%5=0, k%11<>0) → update_pre/postimage
#       unmatched  (k%3=2,        k%5=0, k%11<>0) → insert
#       matched-del(k%3 in (0,1), k%5=0, k%11=0)  → delete (pre-image)
#   v3 delete:    tombstone k%7=0 → pre-images of the rows VISIBLE at
#       v2: originals (k%3 in (0,1), k%5<>0) and merge upserts
#       (k%5=0, k%11<>0) at the doubled price.
# change_seq = _commit_version - v0 ∈ {1, 2, 3}. Doubling is exact in
# binary floating point, so raw prices hash cleanly cross-engine. Keys
# are dense 0..N-1, so [200, 1200] is non-degenerate at every SF
# (sf0.001 tops out at 1499).
_CDF_LO, _CDF_HI = 200, 1_200

_CDF_SQL = f"""
WITH o AS (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS p
    FROM orders
    WHERE o_orderkey BETWEEN {_CDF_LO} AND {_CDF_HI}
), ch AS (
    SELECT k, status, p, 1 AS change_seq, 'insert' AS change_type
    FROM o WHERE k % 3 = 1
    UNION ALL
    SELECT k, status, p, 2, 'update_preimage'
    FROM o WHERE k % 3 IN (0, 1) AND k % 5 = 0 AND k % 11 <> 0
    UNION ALL
    SELECT k, status, p * 2, 2, 'update_postimage'
    FROM o WHERE k % 3 IN (0, 1) AND k % 5 = 0 AND k % 11 <> 0
    UNION ALL
    SELECT k, status, p * 2, 2, 'insert'
    FROM o WHERE k % 3 = 2 AND k % 5 = 0 AND k % 11 <> 0
    UNION ALL
    SELECT k, status, p, 2, 'delete'
    FROM o WHERE k % 3 IN (0, 1) AND k % 5 = 0 AND k % 11 = 0
    UNION ALL
    SELECT k, status, p, 3, 'delete'
    FROM o WHERE k % 3 IN (0, 1) AND k % 5 <> 0 AND k % 7 = 0
    UNION ALL
    SELECT k, status, p * 2, 3, 'delete'
    FROM o WHERE k % 5 = 0 AND k % 11 <> 0 AND k % 7 = 0
)
SELECT k AS o_orderkey, status AS o_orderstatus, p AS price,
       CAST(change_seq AS BIGINT) AS change_seq, change_type
FROM ch
"""


@_q("m_change_feed", _CDF_SQL)
def m_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed gate: a downstream consumer that processed
    version v0 reads EXACTLY what happened since — the new appends as
    ``insert``, the merge's matched keys split into ``update_preimage``
    / ``update_postimage`` (plus its unmatched inserts and matched
    deletes), and the delete's full pre-image rows — instead of
    re-diffing snapshots or re-scanning the table. The reference ships
    this contract as an amendment delete-then-replace loop on its graph
    store (federal/fec/functions/federal_fec_compute_load_graph_expenditures/cypher.py:40-75); here
    the commit log IS the feed and the same interval always replays the
    same changes.

    In-gate asserts: the merge and delete commits recorded key BOUNDS
    on their delete entries (written at commit time, null-free), which
    is what lets ``read_changes`` prune its pre-image recovery scans to
    the files overlapping the changed keys — the property that keeps a
    merge-heavy feed O(changed data) instead of O(versions × table)."""
    from data_spark.io import (  # noqa: PLC0415
        _load_manifest,
        delete_versioned,
        merge_versioned,
        read_changes,
        write_versioned,
    )

    base_dir = run_scratch_dir("cdf", sf_dir)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")

    v0 = write_versioned(
        o.filter(k % 3 == 0), base_dir, mode="overwrite",
        stats_cols=["o_orderkey"],
    )
    write_versioned(
        o.filter(k % 3 == 1), base_dir, mode="append",
        stats_cols=["o_orderkey"],
    )
    source = (
        o.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("is_del", k % 11 == 0)
    )
    v2 = merge_versioned(
        source, base_dir, keys=["o_orderkey"], delete_col="is_del",
        stats_cols=["o_orderkey"],
    )
    # the delete commits WITH change_feed=True: its pre-images are
    # materialized at commit time and read_changes serves them from
    # stored files, while the merge exercises the reconstruction path —
    # one gate covers both CDF serving modes
    v3 = delete_versioned(
        o.filter(k % 7 == 0).select("o_orderkey"), base_dir, change_feed=True
    )

    # commit-time key bounds present and null-free on BOTH tombstoning
    # versions — the contract read_changes prunes pre-image scans with —
    # and the change_feed delete recorded its stored change files
    for v in (v2, v3):
        b = _load_manifest(base_dir, v)["deletes"][-1].get("bounds", {})
        if "o_orderkey" not in b or b["o_orderkey"][2] != 0:
            raise AssertionError(
                f"version {v} tombstone carries no null-free key bounds: {b}"
            )
    if "changes" not in _load_manifest(base_dir, v3):
        raise AssertionError("change_feed delete recorded no change files")

    ch = read_changes(spark, base_dir, from_version=v0)
    return ch.filter(k.between(_CDF_LO, _CDF_HI)).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("_commit_version") - F.lit(v0)).cast("bigint").alias("change_seq"),
        F.col("_change_type").alias("change_type"),
    )


# ---------------------------------------------------------------------------
# pipe_stream_source_e2e — tail the versioned store through the engine
# ---------------------------------------------------------------------------

# stream contents with starting_version = v0 (Delta-source semantics):
#   snapshot@v0:   id%4=0                      (original value)
#   v1 append:     id%4=1                      (original value)
#   v2 merge:      inserted rows id%6=0, id%9<>0 (doubled value) —
#                  ignoreChanges: upserts re-emit, no retractions
#   v3 delete:     contributes nothing
_PSS_SQL = """
WITH e AS (
    SELECT event_id AS id, event_type, CAST(value AS DOUBLE) AS v
    FROM events WHERE value IS NOT NULL
), s AS (
    SELECT id, event_type, v     FROM e WHERE id % 4 = 0
    UNION ALL
    SELECT id, event_type, v     FROM e WHERE id % 4 = 1
    UNION ALL
    SELECT id, event_type, v * 2 FROM e WHERE id % 6 = 0 AND id % 9 <> 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids,
       CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM s GROUP BY event_type
"""


@_q("pipe_stream_source_e2e", _PSS_SQL)
def pipe_stream_source_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``versioned_table`` streaming source end to end THROUGH the
    engine: a store built as overwrite → append → merge → delete is
    tailed from ``starting_version`` = the first version, drained
    availableNow into a parquet sink, and the sink must hold exactly
    snapshot + append rows + merge-inserted row versions (the delete
    version is skipped — Delta ``ignoreDeletes``; upserted rows re-emit
    under ``ignoreChanges``, retractions never appear). The reader
    plans one InputPartition per data file and executors read the
    parquet directly (sources/versioned_datasource.py), so the same
    drain distributes at any table size — this gate pins the
    semantics; SCALE_PROBE pins the no-driver-materialization cost
    shape. Reference parity: the reference tails its warehouse with
    hand-rolled processed-marker batches (pubsub_laundromat/main.py);
    this is that contract native to the engine's own store."""
    import os  # noqa: PLC0415

    from data_spark.io import (  # noqa: PLC0415
        delete_versioned,
        merge_versioned,
        write_versioned,
    )
    from data_spark.sources.versioned_datasource import register  # noqa: PLC0415

    work = run_scratch_dir("psrc", sf_dir)
    table = os.path.join(work, "table")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")

    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    i = F.col("event_id")
    v0 = write_versioned(e.filter(i % 4 == 0), table, mode="overwrite")
    write_versioned(e.filter(i % 4 == 1), table, mode="append")
    source = (
        e.filter(i % 6 == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn("is_del", i % 9 == 0)
    )
    merge_versioned(source, table, keys=["event_id"], delete_col="is_del")
    delete_versioned(e.filter(i % 12 == 0).select("event_id"), table)

    register(spark)
    q = (
        spark.readStream.format("versioned_table")
        .option("path", table)
        .option("starting_version", str(v0))
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "pipe_stream_source_e2e: stream did not drain within 300s"
        )

    got = spark.read.parquet(sink)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("event_id").cast("bigint").alias("n_ids"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# m_multi_prune_scan — 2-d stats pruning on a two-column z-ordered table
# ---------------------------------------------------------------------------

_MPS_X_LO, _MPS_X_HI = 100, 400      # o_custkey range
_MPS_Y_LO, _MPS_Y_HI = 500, 4_000    # o_orderkey range

_MPS_SQL = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM orders
WHERE o_custkey BETWEEN {_MPS_X_LO} AND {_MPS_X_HI}
  AND o_orderkey BETWEEN {_MPS_Y_LO} AND {_MPS_Y_HI}
GROUP BY o_orderstatus
"""


@_q("m_multi_prune_scan", _MPS_SQL)
def m_multi_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column file skipping from the query's OWN filter: a 2-d
    range probe of a versioned table z-ordered on (o_custkey,
    o_orderkey) reads through ``read_versioned(where=...)`` — the
    predicate string is both the filter AND the prune source
    (``io._derive_where`` turns its BETWEEN conjuncts, read from
    Spark's own parse tree, into manifest-stats ranges), so callers
    never hand-compute prune triples; the full predicate re-applies on
    the scan, making the
    derivation answer-invariant by construction. In-gate asserts that
    the 2-d ``where`` opens no more files than the x-only one and
    (when the layout has enough files to show it) strictly fewer than
    the full scan — the property multi-column Z-order stats exist for.
    Oracle: the plain 2-d filter aggregate."""
    from data_spark.io import (  # noqa: PLC0415
        optimize_versioned,
        read_versioned,
        write_versioned,
    )

    base_dir = run_scratch_dir("mprune", sf_dir)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    write_versioned(o, base_dir, mode="overwrite")
    optimize_versioned(
        spark,
        base_dir,
        zorder_cols=["o_custkey", "o_orderkey"],
        target_file_bytes=64_000,
    )

    wx = f"o_custkey BETWEEN {_MPS_X_LO} AND {_MPS_X_HI}"
    wy = f"o_orderkey BETWEEN {_MPS_Y_LO} AND {_MPS_Y_HI}"
    full = read_versioned(spark, base_dir)
    x_only = read_versioned(spark, base_dir, where=wx)
    both = read_versioned(spark, base_dir, where=f"{wx} AND {wy}")
    n_full = len(full.inputFiles())
    n_x, n_b = len(x_only.inputFiles()), len(both.inputFiles())
    if not (n_b <= n_x <= n_full):
        raise AssertionError(
            f"2-d prune opened MORE files: both={n_b} x={n_x} full={n_full}"
        )
    if n_full >= 8 and not n_b < n_full:
        raise AssertionError(
            f"2-d prune skipped nothing on a {n_full}-file layout"
        )
    return both.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_price"),
    )
