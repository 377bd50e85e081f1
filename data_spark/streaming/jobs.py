"""Structured Streaming jobs (SURVEY §2.9 Spark mappings).

- ``stream_windowed_counts``: readStream → watermark → tumbling-window
  agg (the daily-dedup/day-node semantics as a real stream).
- ``merge_upsert_sink``: foreachBatch MERGE — each micro-batch is
  upserted into a keyed parquet target via operators.merge.merge_upsert
  (ES doc_as_upsert semantics), with optional amendment
  delete-then-insert (the FEC prev_file_num path).

Tested with file sources/sinks in tests/test_streaming.py; on a
cluster the same code runs against Kafka/object-store sources — only
the ``format`` changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from data_spark.io import partition_staging_dir, recover_partitioned_root, swap_partition_dir
from data_spark.operators.merge import delete_then_insert, merge_upsert
from data_spark.session import local_frame

# Target state rows per streaming-state partition. Stateful operators
# (stream-stream joins, watermark dedup, windowed aggs) keep one state
# store per shuffle partition, and EVERY micro-batch pays a commit /
# snapshot round per store — so partition count is a per-batch fixed
# cost, while each partition's memory is bounded by the keys it holds.
# ~1M skinny key rows ≈ low hundreds of MB per store: the same
# rows-per-partition scale plans.lineage uses for iterative frames.
ROWS_PER_STATE_PARTITION = 1_000_000


def stream_state_scope(spark: SparkSession, estimated_rows: int, floor: int = 8):
    """Context manager: size ``spark.sql.shuffle.partitions`` — which
    FREEZES a new streaming query's state-store partition count into its
    checkpoint at the first batch — from the stream's estimated total
    row volume, restoring the session setting on exit.

    The streaming analogue of ``plans.lineage.sized_partitions``: derive
    the count from data volume (``estimated_rows`` — a parquet-footer
    count of the staged source, never a row scan), floor it so small
    streams still spread across cores, and cap it at the session's
    configured shuffle parallelism so cluster sizing is respected — at
    100 TB the estimate saturates the cap and nothing changes, while a
    bounded replay/backfill stops paying (#partitions × #state stores)
    commit+snapshot rounds per micro-batch for stores that hold a few
    hundred keys each (measured 17.3 → 5.1 s on the stream-stream join
    gate at sf0.1, 32 → 8 partitions, interleaved A/B).

    Scope the ``start()``-to-``awaitTermination()`` span with it; batch
    queries planned after exit are untouched. Existing checkpoints keep
    their frozen count regardless (Spark reads it back from the
    checkpoint), so the scope only ever shapes NEW streams.

    Concurrency caveat (VERDICT r12): mutates SESSION conf (restored in
    ``finally``) — do not enter/exit scopes from concurrent gates on one
    session; in-engine driver threads only run plain actions under an
    already-entered scope, which is safe."""
    import math
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        conf_default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        parts = min(conf_default, max(floor, math.ceil(estimated_rows / ROWS_PER_STATE_PARTITION)))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield parts
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _scope()


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_col: str = "event_type",
    slide: str | None = None,
) -> DataFrame:
    """File-source stream → watermarked windowed counts: tumbling by
    default, SLIDING when ``slide`` < ``window`` is given (each event
    then lands in window/slide overlapping windows — the same native
    ``F.window`` expression the batch gate query e_sliding_1h_15m
    hash-verifies against an epoch-arithmetic oracle).

    The watermark bounds state (late rows beyond it are dropped), which
    is the streaming analogue of the reference's `now-1d` lookback
    windows; sliding windows multiply live state by window/slide, so
    the watermark matters more there, not less.
    """
    stream = spark.readStream.schema(schema).json(source_dir)
    win = (
        F.window(F.col(ts_col), window)
        if slide is None
        else F.window(F.col(ts_col), window, slide)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "n",
        )
    )


def stream_dedup_within_watermark(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """File-source stream → native exactly-once-per-key emission within
    the watermark horizon (``dropDuplicatesWithinWatermark``).

    The native complement of stateful.streaming_dedup
    (applyInPandasWithState): no Python state function, and — the scale
    property — state for a key is dropped once the watermark passes its
    last-seen event time, so state size tracks the horizon, not the
    key cardinality of the whole stream. Duplicate delivery within the
    horizon (at-least-once sources, retried producers) collapses to one
    row; a re-delivery AFTER the horizon is emitted again — the
    documented trade against the unbounded-state exact dedup.
    """
    stream = spark.readStream.schema(schema).json(source_dir)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_session_windows(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermarked session-window aggregation: events from the same key
    within ``gap`` of each other merge into one session row (start, end,
    n_events).

    This is the native stateful operator behind the batch sessionization
    query (e_sessionize's lag-based island detection): state holds one
    open session per key, sessions merge as late rows arrive, and the
    watermark both emits closed sessions and bounds state.
    """
    stream = spark.readStream.schema(schema).json(source_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_event_time_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    max_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream event-time join: right-side rows match a
    left row with the same ``key`` when they land inside
    ``[left_ts, left_ts + max_delay]`` (attribution-join shape: click
    within an hour of its impression).

    Both watermarks AND the time-range bound are load-bearing at scale:
    together they let Spark evict buffered join state once the watermark
    passes ``left_ts + max_delay`` — without the range condition the
    join state grows without bound. ``how='leftOuter'`` emits unmatched
    left rows after their state expires (requires the same bounds).

    Column names other than ``key`` must be disjoint between the sides.
    """
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how).drop(r[key])


# Key-bucket partition column for the merge sink's target layout. The
# target is hive-partitioned on it so a micro-batch rewrites only the
# buckets its keys hash into — O(|batch| + touched buckets), never
# O(|table|).
BUCKET_COL = "__kb"


def _key_bucket(keys: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast("int")


def _recover_in_root_bucket_backups(target_path: str) -> None:
    """Undo what a crash left of the earlier bucket swap, which parked a
    bucket's backup inside the store as ``__kb=N__bak``, a directory that
    partition discovery reads as a bucket value: put the backup back where
    the live bucket is missing (a crash between the swap's two renames),
    and delete it where the live bucket exists (a crash before the
    backup's removal)."""
    import os
    import shutil

    if not os.path.isdir(target_path):
        return
    for name in os.listdir(target_path):
        if name.startswith(f"{BUCKET_COL}=") and name.endswith("__bak"):
            bak = os.path.join(target_path, name)
            live = bak[: -len("__bak")]
            if os.path.exists(live):
                shutil.rmtree(bak)
            else:
                os.rename(bak, live)


def merge_batch_into_bucketed(
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
    prev_key: str | None = None,
    num_buckets: int = 16,
    touched_buckets: list[int] | None = None,
) -> None:
    """One micro-batch MERGE into a key-bucket-partitioned parquet target.

    ``touched_buckets``: the batch's distinct bucket set, when the
    caller already derived it (the incremental pipeline computes it in
    the same aggregate as its row metrics) — skips this function's own
    distinct+collect job. Only honored on the plain-upsert path:
    ``prev_key`` amendments add predecessor buckets the caller cannot
    know.

    Scale posture: the batch's keys hash to a set of ``__kb`` buckets;
    only those partition directories are read (partition-pruned scan)
    and rewritten. Each rewritten bucket is swapped in by rename
    (:func:`io.swap_partition_dir`: staging and backup both live in
    sibling roots of ``target_path``, never inside it), and every call
    starts with :func:`io.recover_partitioned_root`, which restores the
    backup of a swap that crashed between its two renames. So a crash
    leaves every bucket either old or new, never half-written or
    missing — and because the merge is idempotent last-write-wins, the
    foreachBatch retry converges the remaining buckets. This replaces a
    full-table overwrite that was both O(|table|) per batch and
    destructive on crash.

    ``prev_key``: amendment delete-then-insert
    (load_graph_expenditures/cypher.py:40-75 semantics) — requires a
    single merge key, since the predecessor's bucket is derived by
    hashing the ``prev_key`` value as that key.
    """
    import os

    if prev_key is not None and len(keys) != 1:
        raise ValueError("prev_key amendment routing requires a single merge key")

    spark = batch.sparkSession
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        batch = batch.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        ).drop("__rn")
    else:
        batch = batch.dropDuplicates(keys)
    batch = batch.withColumn(BUCKET_COL, _key_bucket(keys, num_buckets))

    _recover_in_root_bucket_backups(target_path)
    recover_partitioned_root(target_path)
    # the whole output is staged in the sibling staging root, so a crash
    # leaves nothing that partition discovery would read as a bucket
    staging = partition_staging_dir(os.path.join(target_path, "merge"))
    if not os.path.exists(target_path):
        out = batch.drop(prev_key) if prev_key and prev_key in batch.columns else batch
        # cluster by the partition column so each bucket dir is written
        # by one task, not one file per task per dir (guide §6.2)
        out = out.repartition(num_buckets, BUCKET_COL)
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        os.rename(staging, target_path)
        recover_partitioned_root(target_path)  # drop the emptied staging root
        return

    # Touched buckets: the batch's own keys plus (amendment path) the
    # predecessors referenced by prev_key. Bounded by num_buckets, so
    # the collect is a tiny driver-side list, not data.
    if touched_buckets is not None and prev_key is None:
        touched = sorted(touched_buckets)
    else:
        touched_df = batch.select(BUCKET_COL)
        if prev_key is not None and prev_key in batch.columns:
            touched_df = touched_df.unionByName(
                batch.filter(F.col(prev_key).isNotNull())
                .select(F.col(prev_key).alias(keys[0]))
                .select(_key_bucket(keys, num_buckets).alias(BUCKET_COL))
            )
        touched = sorted(r[0] for r in touched_df.distinct().collect())

    target = (
        spark.read.option("basePath", target_path)
        .parquet(target_path)
        .filter(F.col(BUCKET_COL).isin(touched))
        .withColumn(BUCKET_COL, F.col(BUCKET_COL).cast("int"))
    )
    if prev_key is not None and prev_key in batch.columns:
        target = delete_then_insert(
            target,
            batch.filter(F.col(prev_key).isNotNull()),
            key=keys[0],
            prev_key=prev_key,
        )
        batch = batch.filter(F.col(prev_key).isNull()).drop(prev_key)
        target = target.drop(prev_key) if prev_key in target.columns else target
    merged = merge_upsert(target, batch, keys, order_col=order_col)
    # Amendments may move a row between buckets (delete_then_insert
    # re-inserts the amendment row with its own key) — recompute.
    merged = merged.withColumn(BUCKET_COL, _key_bucket(keys, num_buckets))

    # one task per rewritten bucket dir (see the bootstrap write above)
    merged = merged.repartition(max(len(touched), 1), BUCKET_COL)
    merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
    for kb in touched:
        part = f"{BUCKET_COL}={kb}"
        new_dir = os.path.join(staging, part)
        cur_dir = os.path.join(target_path, part)
        if not os.path.exists(new_dir):
            if not os.path.exists(cur_dir):
                continue  # an amendment's predecessor bucket that never held rows
            os.mkdir(new_dir)  # every row left the bucket
        if os.path.exists(cur_dir):
            swap_partition_dir(cur_dir, new_dir)
        else:
            os.rename(new_dir, cur_dir)  # the bucket's first rows
    recover_partitioned_root(target_path)  # drop the emptied staging and backup roots


def merge_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    prev_key: str | None = None,
    num_buckets: int = 16,
) -> StreamingQuery:
    """foreachBatch MERGE sink: micro-batch → upsert into a key-bucket-
    partitioned parquet target via :func:`merge_batch_into_bucketed`
    (ES doc_as_upsert semantics; only touched buckets rewritten, each
    promoted by atomic rename).

    ``order_col``: last-write-wins version column — the batch itself is
    deduped by it (row_number desc, not arbitrary dropDuplicates) so a
    micro-batch holding several versions of a key keeps the newest.

    ``prev_key``: when set, rows carrying it first delete their
    predecessor (amendment delete-then-insert,
    load_graph_expenditures/cypher.py:40-75 semantics).
    """

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_batch_into_bucketed(
            batch,
            target_path,
            keys,
            order_col=order_col,
            prev_key=prev_key,
            num_buckets=num_buckets,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def fold_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    sum_cols: tuple = (),
    min_cols: tuple = (),
    max_cols: tuple = (),
) -> None:
    """One foreachBatch fold of :mod:`operators.incremental_agg` state:
    read the current state parquet (if any), fold the micro-batch in,
    stage the new state to a sibling dir and promote by rename — the
    same stage-and-swap crash discipline as the bucketed MERGE sink.

    Replay guard: the applied batch_id is recorded in a marker file
    inside the state dir; a crash between state promotion and the
    streaming checkpoint commit replays the batch on restart, and the
    marker makes that replay a no-op instead of a double-count. (Batch
    ids are monotone within one checkpoint lineage — pointing a FRESH
    checkpoint at existing state requires clearing the marker.)
    """
    import os
    import shutil

    from data_spark.operators.incremental_agg import (
        aggregate_state,
        maintain_aggregate,
    )

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    kw = dict(sum_cols=sum_cols, min_cols=min_cols, max_cols=max_cols)
    if os.path.exists(state_path):
        new_state = maintain_aggregate(
            spark.read.parquet(state_path), batch, keys, **kw
        )
    else:
        new_state = aggregate_state(batch, keys, **kw)
    stage = f"{state_path}.__stage_{batch_id}"
    new_state.write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, "_last_folded_batch"), "w") as f:
        f.write(str(batch_id))
    old = f"{state_path}.__old_{batch_id}"
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(stage, state_path)
    shutil.rmtree(old, ignore_errors=True)


def incremental_agg_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    sum_cols: tuple = (),
    min_cols: tuple = (),
    max_cols: tuple = (),
) -> StreamingQuery:
    """Materialized-aggregate maintenance as a streaming sink: every
    micro-batch folds into the per-key state table with one pass over
    the batch plus a state-row merge (never rescanning history) — the
    streaming face of operators/incremental_agg, with stage-and-swap
    promotion and an idempotent replay guard (see
    :func:`fold_batch_into_state`)."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_batch_into_state(
            batch, batch_id, state_path, keys, sum_cols, min_cols, max_cols
        )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def fold_sketch_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    key_col: str,
    lg_k: int = 12,
) -> None:
    """One foreachBatch fold of per-key HLL distinct-count sketches:
    sketch the micro-batch (one groupBy over batch rows), union-merge
    into the state sketches (a groupBy over state+batch SKETCH BYTES —
    never historical facts), and promote with the same stage-and-swap +
    batch-id replay guard as :func:`fold_batch_into_state`.

    This is the streaming face of operators/sketches.py: at 100 TB the
    state table holds one ~2^lg_k-byte sketch per key while answering
    distinct-count questions over the whole stream history; HLL union
    is associative and order-independent, so the folded state equals the
    one-shot sketch over everything streamed (mergeability law,
    tests/test_streaming.py)."""
    import os

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    batch_sk = batch.groupBy(*keys).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk")
    )
    if os.path.exists(state_path):
        state = spark.read.parquet(state_path)
        new_state = (
            state.unionByName(batch_sk)
            .groupBy(*keys)
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
    else:
        new_state = batch_sk
    _promote_state(new_state, state_path, batch_id)


def hll_state_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    key_col: str,
    lg_k: int = 12,
) -> StreamingQuery:
    """Distinct-count sketch maintenance as a streaming sink: every
    micro-batch folds its per-key HLL sketch into the state table.
    Read estimates back with :func:`read_hll_state_estimates`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_sketch_batch_into_state(
            batch, batch_id, state_path, keys, key_col, lg_k
        )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_state_estimates(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-key distinct-count estimates from a sketch-state table — a
    metadata-sized scan (one sketch per key), no fact re-shuffle."""
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c != "sk"]
    return state.select(
        *keys, F.hll_sketch_estimate("sk").cast("bigint").alias("est_distinct")
    )


def _promote_state(new_state: DataFrame, state_path: str, batch_id: int) -> None:
    """Stage-and-swap a state table with the batch-id replay marker —
    shared by the sketch-state sinks."""
    import os
    import shutil

    stage = f"{state_path}.__stage_{batch_id}"
    new_state.write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, "_last_folded_batch"), "w") as f:
        f.write(str(batch_id))
    old = f"{state_path}.__old_{batch_id}"
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(stage, state_path)
    shutil.rmtree(old, ignore_errors=True)


def fold_cms_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    item_col: str,
) -> None:
    """One foreachBatch fold of per-key Count-Min registers: hash every
    batch row into its d cells (operators/sketches.cms_cells — pure
    integer arithmetic), count per (keys, row, col) with map-side
    combine, and SUM-merge into the state registers. CMS merge is
    register-wise addition — associative and order-independent — so
    the folded state equals a one-shot build over everything streamed
    (mergeability law, tests/test_streaming.py). State size is
    |keys|·d·w BIGINTs regardless of stream volume; history is never
    rescanned. Same stage-and-swap + replay guard as the HLL sink."""
    import os

    from data_spark.operators.sketches import cms_cells

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    cells = cms_cells(F.col(item_col).cast("bigint"))
    rows = None
    for i, cell in enumerate(cells):
        sel = batch.select(
            *keys, F.lit(i).alias("row_id"), cell.alias("col_id")
        )
        rows = sel if rows is None else rows.unionByName(sel)
    batch_regs = rows.groupBy(*keys, "row_id", "col_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("reg")
    )
    if os.path.exists(state_path):
        state = spark.read.parquet(state_path)
        new_state = (
            state.unionByName(batch_regs)
            .groupBy(*keys, "row_id", "col_id")
            .agg(F.sum("reg").cast("bigint").alias("reg"))
        )
    else:
        new_state = batch_regs
    _promote_state(new_state, state_path, batch_id)


def cms_state_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    item_col: str,
) -> StreamingQuery:
    """Frequency-sketch maintenance as a streaming sink — the
    Count-Min companion to :func:`hll_state_sink` (distinct counts
    there, frequency estimates here). Read estimates back with
    :func:`read_cms_state_estimates`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_cms_batch_into_state(batch, batch_id, state_path, keys, item_col)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_state_estimates(
    spark: SparkSession, state_path: str, items: list[int]
) -> DataFrame:
    """Frequency estimates (guaranteed >= true count) for ``items``
    from a CMS state table: probe each item's d cells and take the MIN
    register per (state keys, item) — a register-table scan, never the
    stream history."""
    from data_spark.operators.sketches import CMS_AB, CMS_P, CMS_W

    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c not in ("row_id", "col_id", "reg")]
    probe_rows = []
    for item in items:
        for i, (a, b) in enumerate(CMS_AB):
            probe_rows.append((int(item), i, ((a * int(item) + b) % CMS_P) % CMS_W))
    probes = local_frame(
        spark, probe_rows, "item bigint, row_id int, col_id bigint"
    )
    # the state table is SPARSE (zero cells are absent): probe over the
    # full key x item lattice and read missing cells as 0, else an item
    # whose cells were never hit under a key would vanish instead of
    # estimating 0
    lattice = state.select(*keys).distinct().crossJoin(F.broadcast(probes))
    return (
        lattice.join(state, [*keys, "row_id", "col_id"], "left")
        .groupBy(*keys, "item")
        .agg(
            F.min(F.coalesce(F.col("reg"), F.lit(0)))
            .cast("bigint")
            .alias("est_count")
        )
    )


def fold_kll_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    value_col: str,
    k: int = 200,
) -> None:
    """One foreachBatch fold of per-key KLL quantile sketches — the
    rank/quantile member of the sketch-state trio (HLL = distinct
    counts, CMS = frequencies, KLL = value distribution). Sketch the
    micro-batch per key (map-side partial agg), then merge into the
    state sketches with ``kll_merge_agg_double`` — a groupBy over
    SKETCH BYTES, never historical values. State size is one ~O(k)
    sketch per key regardless of stream volume; while n <= k the
    sketch is in exact mode, so the folded state's quantiles equal a
    one-shot build over everything streamed (mergeability law,
    tests/test_streaming.py). Same stage-and-swap + batch-id replay
    guard as the HLL/CMS sinks."""
    import os

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    batch_sk = batch.groupBy(*keys).agg(
        F.kll_sketch_agg_double(value_col, F.lit(k)).alias("sk")
    )
    if os.path.exists(state_path):
        state = spark.read.parquet(state_path)
        new_state = (
            state.unionByName(batch_sk)
            .groupBy(*keys)
            .agg(F.kll_merge_agg_double("sk", F.lit(k)).alias("sk"))
        )
    else:
        new_state = batch_sk
    _promote_state(new_state, state_path, batch_id)


def kll_state_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str,
    k: int = 200,
) -> StreamingQuery:
    """Quantile-sketch maintenance as a streaming sink: every
    micro-batch folds its per-key KLL sketch into the state table.
    Read quantile estimates back with
    :func:`read_kll_state_quantiles`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_kll_batch_into_state(batch, batch_id, state_path, keys, value_col, k)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_kll_state_quantiles(
    spark: SparkSession, state_path: str, quantiles: tuple[float, ...] = (0.5, 0.9)
) -> DataFrame:
    """Per-key quantile estimates from a KLL sketch-state table — a
    metadata-sized scan (one sketch per key), no value re-shuffle."""
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c != "sk"]
    cols = [F.kll_sketch_get_n_double("sk").cast("bigint").alias("n")]
    for q in quantiles:
        cols.append(
            F.round(
                F.kll_sketch_get_quantile_double("sk", F.lit(float(q))), 6
            ).alias(f"est_p{int(round(q * 100)):02d}")
        )
    return state.select(*keys, *cols)


def fold_hist_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    group_col: str,
    value_col: str,
) -> None:
    """One foreachBatch fold of per-(group, value) exact histograms:
    count the micro-batch (one map-side-combinable groupBy), SUM-merge
    into the state histogram (a groupBy over state+batch HISTOGRAM rows
    — bounded by |groups|·|value domain|, never by streamed facts), and
    promote with the shared stage-and-swap + batch-id replay guard.

    The streaming face of queries/analytics4.a_ks_two_sample: the state
    is everything KS needs, and integer-count merge is exactly
    associative, so the folded state EQUALS the one-shot histogram over
    all streamed rows (stronger than the sketch sinks' estimate-level
    mergeability — pytest pins row-level equality). For unbounded value
    domains use kll_state_sink and compare quantiles instead; for the
    bounded discrete measures drift monitors actually watch (lengths,
    token counts, scores on a grid) the exact histogram is smaller than
    a sketch and admits the exact-integer KS below."""
    import os

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    batch_hist = batch.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    if os.path.exists(state_path):
        state = spark.read.parquet(state_path)
        new_state = (
            state.unionByName(batch_hist)
            .groupBy("grp", "v")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
    else:
        new_state = batch_hist
    _promote_state(new_state, state_path, batch_id)


def hist_state_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
) -> StreamingQuery:
    """Exact-histogram maintenance as a streaming sink — the drift
    monitor's state. Read KS drift vs a reference group with
    :func:`read_ks_drift`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_hist_batch_into_state(batch, batch_id, state_path, group_col, value_col)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_ks_drift(spark: SparkSession, state_path: str, ref_group: str) -> DataFrame:
    """Per-group exact-integer KS distance vs ``ref_group``, computed
    from the histogram state alone (a metadata-sized scan): for each
    group g ≠ ref, D = max_v |F_g(v)·n_ref − F_ref(v)·n_g| — the same
    boundary-free statistic as a_ks_two_sample, so the admit/quarantine
    decision for a streamed shard never depends on float CDFs. Columns:
    (grp, n, n_ref, d_num, v_at, ks_d)."""
    state = spark.read.parquet(state_path)
    ref = state.filter(F.col("grp") == ref_group).select(
        "v", F.col("c").alias("c_ref")
    )
    others = state.filter(F.col("grp") != ref_group)
    merged = (
        others.select("grp", "v", F.col("c").alias("c_g"), F.lit(0).cast("bigint").alias("c_ref"))
        .unionByName(
            others.select("grp").distinct().join(
                ref.select("v", "c_ref"), how="cross"
            ).select("grp", "v", F.lit(0).cast("bigint").alias("c_g"), "c_ref")
        )
        .groupBy("grp", "v")
        .agg(F.sum("c_g").alias("c_g"), F.sum("c_ref").alias("c_ref"))
    )
    w_cum = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    cum = merged.select(
        "grp",
        "v",
        F.sum("c_g").over(w_cum).alias("f_g"),
        F.sum("c_ref").over(w_cum).alias("f_ref"),
        F.sum("c_g").over(w_all).alias("n"),
        F.sum("c_ref").over(w_all).alias("n_ref"),
    )
    scored = cum.select(
        "grp",
        "v",
        "n",
        "n_ref",
        F.abs(F.col("f_g") * F.col("n_ref") - F.col("f_ref") * F.col("n")).alias("d_num"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("grp").orderBy(F.desc("d_num"), F.asc("v"))),
    )
    return scored.filter(F.col("rn") == 1).select(
        "grp",
        "n",
        "n_ref",
        "d_num",
        F.col("v").alias("v_at"),
        (
            F.col("d_num").cast("double") / (F.col("n").cast("double") * F.col("n_ref").cast("double"))
        ).alias("ks_d"),
    )


def read_quantile_drift(
    spark: SparkSession,
    state_path: str,
    ref_key: str,
    quantiles: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-key quantile drift vs ``ref_key`` from a KLL sketch-state
    table — the UNBOUNDED-domain companion to :func:`read_ks_drift`
    (exact histograms need a bounded value domain; quantile sketches
    don't). For each non-reference key, every probe quantile's estimate
    is compared to the reference's and the largest absolute gap is
    reported: (key..., n, max_gap, at_p). Sketch estimates, so the gap
    is approximate (KLL rank error, not value error) — a drift ALARM
    signal, not a test statistic; the exact-KS reader is the
    adjudicator where the domain allows it."""
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c != "sk"]
    if len(keys) != 1:
        raise ValueError(f"read_quantile_drift expects one key column, got {keys}")
    key = keys[0]
    cols = [F.kll_sketch_get_n_double("sk").cast("bigint").alias("n")]
    for q in quantiles:
        cols.append(
            F.kll_sketch_get_quantile_double("sk", F.lit(float(q))).alias(
                f"_q{int(round(q * 1000)):04d}"
            )
        )
    est = state.select(key, *cols)
    ref = est.filter(F.col(key) == ref_key).drop(key, "n")
    ref = ref.select([F.col(c).alias(f"{c}_ref") for c in ref.columns])
    others = est.filter(F.col(key) != ref_key)
    joined = others.crossJoin(F.broadcast(ref))  # 1-row reference frame
    gap_struct = F.greatest(
        *[
            F.struct(
                F.abs(F.col(f"_q{int(round(q * 1000)):04d}") - F.col(f"_q{int(round(q * 1000)):04d}_ref")).alias("gap"),
                F.lit(float(q)).alias("p"),
            )
            for q in quantiles
        ]
    )
    return joined.select(
        key,
        "n",
        gap_struct.getField("gap").alias("max_gap"),
        gap_struct.getField("p").alias("at_p"),
    )


def fold_mg_batch_into_state(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    keys: list[str],
    item_col: str,
    capacity: int = 16,
) -> None:
    """One foreachBatch fold of per-group Misra–Gries heavy-hitter
    summaries — the TOP-K SET companion to the CMS sink (which answers
    counts for KNOWN probe items, but can't enumerate the heavy set):
    count the micro-batch's items, SUM-merge with the state counters,
    then apply the mergeable-summaries prune (Agarwal et al.): per
    group, subtract the (capacity+1)-th largest count from every
    counter and drop the non-positive ones, leaving at most
    ``capacity`` counters.

    State is bounded by |groups|·(capacity+1) rows — never item
    cardinality — and every surviving count is a LOWER bound that
    undercounts its item's true frequency by at most
    N_group/(capacity+1), so any item with true share above
    1/(capacity+1) is guaranteed present (pytest pins both laws). The
    per-group total N rides along as a sentinel row (``item`` NULL) so
    the reader can report the bound; NULL stream items are ignored
    (they'd be indistinguishable from the sentinel).
    """
    import os

    spark = batch.sparkSession
    marker = os.path.join(state_path, "_last_folded_batch")
    if os.path.exists(marker):
        with open(marker) as f:
            if batch_id <= int(f.read().strip()):
                return  # crash-replay of an already-applied batch
    rows = batch.filter(F.col(item_col).isNotNull())
    bcounts = rows.groupBy(
        *keys, F.col(item_col).cast("string").alias("item")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    btotals = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).select(*keys, F.lit(None).cast("string").alias("item"), "cnt")
    merged = bcounts.unionByName(btotals)
    if os.path.exists(state_path):
        merged = merged.unionByName(spark.read.parquet(state_path).select(*keys, "item", "cnt"))
    summed = merged.groupBy(*keys, "item").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    items = summed.filter(F.col("item").isNotNull())
    totals = summed.filter(F.col("item").isNull())
    w = Window.partitionBy(*keys).orderBy(F.col("cnt").desc(), F.col("item"))
    ranked = items.withColumn("rk", F.row_number().over(w))
    deduct = ranked.filter(F.col("rk") == capacity + 1).select(
        *keys, F.col("cnt").alias("d")
    )
    pruned = (
        ranked.filter(F.col("rk") <= capacity)
        .join(deduct, list(keys), "left")
        .select(
            *keys,
            "item",
            (F.col("cnt") - F.coalesce(F.col("d"), F.lit(0))).cast("bigint").alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    _promote_state(pruned.unionByName(totals), state_path, batch_id)


def mg_state_sink(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str],
    item_col: str,
    capacity: int = 16,
) -> StreamingQuery:
    """Heavy-hitter SET maintenance as a streaming sink: each
    micro-batch folds into per-group Misra–Gries counters. Read the
    current heavy set (with deterministic error bounds) via
    :func:`read_mg_heavy_hitters`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        fold_mg_batch_into_state(batch, batch_id, state_path, keys, item_col, capacity)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_mg_heavy_hitters(
    spark: SparkSession, state_path: str, capacity: int = 16
) -> DataFrame:
    """Per-group heavy-hitter candidates from MG state — a
    metadata-sized scan. ``cnt_lower`` is a guaranteed lower bound on
    the item's true count; ``err_bound = floor(n_total/(capacity+1))``
    bounds the undercount, so ``true ∈ [cnt_lower, cnt_lower +
    err_bound]``. Pass the SAME capacity the sink folded with."""
    state = spark.read.parquet(state_path)
    keys = [c for c in state.columns if c not in ("item", "cnt")]
    items = state.filter(F.col("item").isNotNull()).select(
        *keys, "item", F.col("cnt").alias("cnt_lower")
    )
    totals = state.filter(F.col("item").isNull()).select(
        *keys, F.col("cnt").alias("n_total")
    )
    return items.join(totals, keys).select(
        *keys,
        "item",
        "cnt_lower",
        "n_total",
        F.floor(F.col("n_total") / (capacity + 1)).cast("bigint").alias("err_bound"),
    )


def versioned_stream_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Exactly-once streaming appends into the versioned snapshot store
    (io.write_versioned): every micro-batch commits one table version
    with its batch id recorded in the version MANIFEST — and since the
    manifest rename IS the commit's atomic point, the replay guard and
    the data are one durable object. A crash after the manifest lands
    replays the batch, sees its id already committed, and no-ops; a
    crash before it leaves no manifest, so the redo is the first
    commit. (The marker-file guard the state sinks use would leave a
    window between data-commit and marker-write; here that window is
    zero by construction.)

    This is the lakehouse streaming-ingest shape: readers time-travel
    any micro-batch boundary (read_versioned(v)), restore/vacuum work
    unchanged, and downstream snapshot-diff (m_snapshot_diff) audits
    exactly what each batch added."""
    from data_spark.io import last_committed_batch_id, write_versioned

    def _commit(batch: DataFrame, batch_id: int) -> None:
        # Guard against the MAX batch id over ALL manifests, not just the
        # newest version's meta: a meta-less commit (manual append,
        # maintenance) landing between commit and crash-replay must not
        # hide the recorded id (ADVICE r6).
        last = last_committed_batch_id(table_path)
        if last is not None and batch_id <= last:
            return  # crash-replay of an already-committed batch
        write_versioned(batch, table_path, mode="append", meta={"batch_id": batch_id})

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_stream_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    op_col: str = "op",
    seq_cols: tuple[str, ...] = ("seq_ts", "seq_id"),
    bloom_cols: list[str] | None = None,
) -> StreamingQuery:
    """Streaming CDC apply into the versioned snapshot store: each
    micro-batch of I/U/D change events becomes one last-writer-wins
    step — reduce the batch to its newest event per key (``seq_cols``
    ordering, unique tiebreak last), TOMBSTONE every touched key
    (io.delete_versioned — covers only pre-existing commits), then
    append the surviving non-delete rows as the batch's data commit.
    The result is a keyed table with hard deletes, full per-batch time
    travel, and snapshot-diff auditability — the streaming face of
    m_cdc_apply's batch semantics.

    Ordering contract: per-key event order must be the stream's arrival
    order (the Kafka/Debezium per-key-partition guarantee); within a
    batch ``seq_cols`` decide. Exactly-once: the append commit records
    the batch id in its manifest (max-over-all-manifests replay guard);
    a crash between the tombstone and the append replays the batch,
    re-tombstones the same keys (idempotent — a duplicate tombstone
    changes nothing) and re-appends. Cost per batch: O(batch) writes +
    one manifest; the store is never rescanned, and merge-on-read
    carries the deletes until purge_deletes/vacuum maintenance."""
    from data_spark.io import (
        delete_versioned,
        last_committed_batch_id,
        table_versions,
        write_versioned,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        last = last_committed_batch_id(table_path)
        if last is not None and batch_id <= last:
            return  # crash-replay of an applied batch
        w = Window.partitionBy(*keys).orderBy(
            *[F.desc(c) for c in seq_cols]
        )
        latest = (
            batch.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
        bootstrapped = bool(table_versions(table_path))
        if bootstrapped:
            delete_versioned(latest.select(*keys), table_path)
        write_versioned(
            latest.filter(F.col(op_col) != "D"),
            table_path,
            mode="append" if bootstrapped else "overwrite",
            meta={"batch_id": batch_id},
            # appends inherit the convention; only the bootstrap needs
            # the explicit columns
            bloom_cols=None if bootstrapped else bloom_cols,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_stream_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    delete_col: str | None = None,
    seq_cols: tuple[str, ...] = ("seq_ts", "seq_id"),
    stats_cols: list[str] | None = None,
    maintenance: dict | None = None,
    change_feed: bool = False,
    bloom_cols: list[str] | None = None,
) -> StreamingQuery:
    """Streaming MERGE into the versioned store — the atomic sibling of
    :func:`cdc_stream_sink`: each micro-batch reduces to its newest
    event per key (``seq_cols`` ordering) and lands as ONE
    ``merge_versioned`` version (tombstone + data under a single
    manifest), so the per-batch commit is all-or-nothing — time travel
    never exposes a tombstoned-but-not-yet-appended middle state, and a
    crash can only ever replay a whole batch (idempotent via the
    max-over-all-manifests batch-id guard), never half of one.

    ``delete_col``: optional boolean column marking hard deletes (the
    CDC 'D' op after reduction); delete-marked rows tombstone without
    re-inserting. Cost per batch: O(batch) writes + one manifest.

    ``stats_cols``: per-file pruning bounds recorded on every batch's
    merge commit (and the bootstrap commit) — merge_versioned also
    inherits the parent's tracked columns when this is None, so a
    stream-maintained table keeps file skipping without OPTIMIZE.

    ``maintenance``: opt-in threshold maintenance after each batch —
    kwargs for :func:`data_spark.io.maintain_versioned` (e.g.
    ``{"max_delete_entries": 8, "max_commits": 32}``; ``{}`` for the
    defaults). A merge stream accretes one commit + one tombstone per
    batch; without periodic folding, merge-on-read cost grows with the
    batch count. With this set the sink reaches the measured
    bounded-full-read steady state (SCALE_PROBE ``merge_accum_
    maintained``) without the caller hand-scheduling maintenance:
    below thresholds the call is one manifest read (no new version),
    above them it purges tombstones / collapses history as layout-only
    versions, which carry no batch id and therefore never disturb the
    crash-replay guard. A crash between the merge and its maintenance
    simply defers the fold to the next batch over threshold.

    ``change_feed=True``: each batch's merge also materializes its
    change rows at commit time (``io.merge_versioned(change_feed=)``)
    so downstream CDC consumers read the feed from stored files.

    ``bloom_cols``: start a per-commit key-bloom convention on the
    BOOTSTRAP commit (usually ``keys`` — the columns pre-image
    recovery probes); every later merge inherits it, so a
    scattered-key CDC stream keeps its change-feed writes O(files
    containing the batch's keys) instead of full prior-snapshot
    scans."""
    from data_spark.io import (
        last_committed_batch_id,
        maintain_versioned,
        merge_versioned,
        table_versions,
        write_versioned,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        last = last_committed_batch_id(table_path)
        if last is not None and batch_id <= last:
            return  # crash-replay of an applied batch
        w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in seq_cols])
        latest = (
            batch.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
        if not table_versions(table_path):
            first = (
                latest.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
                    delete_col
                )
                if delete_col is not None
                else latest
            )
            write_versioned(
                first,
                table_path,
                mode="overwrite",
                meta={"batch_id": batch_id},
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
            return
        merge_versioned(
            latest,
            table_path,
            keys=keys,
            delete_col=delete_col,
            meta={"batch_id": batch_id},
            stats_cols=stats_cols,
            change_feed=change_feed,
        )
        if maintenance is not None:
            maintain_versioned(batch.sparkSession, table_path, **maintenance)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
