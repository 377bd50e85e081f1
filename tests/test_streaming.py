"""Streaming-layer tests: anti-join incremental loader drains exactly
once; Structured Streaming windowed agg and foreachBatch MERGE sink run
end-to-end on file sources."""

from __future__ import annotations

import pytest

import json
import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from data_spark.streaming import (
    ProcessedLog,
    incremental_batches,
    load_unprocessed,
    merge_upsert_sink,
    stream_windowed_counts,
)

# the subprocess imports the checkout this test file belongs to
_REPO_ROOT = repr(str(Path(__file__).resolve().parents[1]))

def test_incremental_batches_drain_exactly_once(spark, tmp_path):
    src = spark.range(0, 95).select(F.col("id").alias("sub_id"), (F.col("id") * 2).alias("v"))
    log = ProcessedLog(spark, str(tmp_path / "log"), key="sub_id")
    # pre-populate the log with 10 already-processed keys (FIXTURES.md §3)
    log.append(spark.range(0, 10).select(F.col("id").alias("sub_id")))

    seen = []

    def process(batch):
        seen.extend(r["sub_id"] for r in batch.collect())

    counts = list(incremental_batches(src, log, process, batch_size=40))
    assert counts == [40, 40, 5]  # 85 remaining after the 10 pre-loaded
    assert sorted(seen) == list(range(10, 95))
    assert len(seen) == len(set(seen))  # exactly once
    # drained: nothing left
    assert load_unprocessed(src, log).count() == 0


def _write_events(dirpath, rows):
    os.makedirs(dirpath, exist_ok=True)
    p = os.path.join(dirpath, f"part{len(os.listdir(dirpath))}.json")
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def test_stream_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    _write_events(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01T00:10:00Z", "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T00:40:00Z", "event_type": "click", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01T01:10:00Z", "event_type": "view", "value": 3.0},
        ],
    )
    agg = stream_windowed_counts(spark, src, EVENT_SCHEMA)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_merge_upsert_sink_with_amendments(spark, tmp_path):
    src = str(tmp_path / "merge_src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType(
        [
            StructField("file_num", LongType()),
            StructField("amount", DoubleType()),
            StructField("prev_file_num", LongType()),
        ]
    )
    _write_events(
        src,
        [
            {"file_num": 100, "amount": 10.0, "prev_file_num": None},
            {"file_num": 101, "amount": 20.0, "prev_file_num": None},
        ],
    )
    stream = spark.readStream.schema(schema).json(src)
    q = merge_upsert_sink(stream, target, keys=["file_num"], checkpoint=ckpt, prev_key="prev_file_num")
    q.awaitTermination(120)
    got = {r["file_num"]: r["amount"] for r in spark.read.parquet(target).collect()}
    assert got == {100: 10.0, 101: 20.0}

    # second micro-batch: update 101, amend 100 → 102
    _write_events(
        src,
        [
            {"file_num": 101, "amount": 25.0, "prev_file_num": None},
            {"file_num": 102, "amount": 11.0, "prev_file_num": 100},
        ],
    )
    stream2 = spark.readStream.schema(schema).json(src)
    q2 = merge_upsert_sink(stream2, target, keys=["file_num"], checkpoint=ckpt, prev_key="prev_file_num")
    q2.awaitTermination(120)
    got = {r["file_num"]: r["amount"] for r in spark.read.parquet(target).collect()}
    assert got == {101: 25.0, 102: 11.0}  # 100 deleted by amendment


def test_merge_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property: a micro-batch whose keys hash into K buckets
    must leave every other bucket's files untouched (same inode set,
    same mtimes) — the sink is O(batch), not O(table)."""
    from data_spark.streaming.jobs import BUCKET_COL, merge_batch_into_bucketed

    target = str(tmp_path / "bucketed_target")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    merge_batch_into_bucketed(base, target, keys=["k"], num_buckets=8)
    kb_dirs = sorted(d for d in os.listdir(target) if d.startswith(BUCKET_COL))
    assert len(kb_dirs) == 8

    def snapshot():
        out = {}
        for d in kb_dirs:
            p = os.path.join(target, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        return out

    before = snapshot()
    upd = spark.createDataFrame([(7, 700.0), (7, 699.0)], "k bigint, v double")
    merge_batch_into_bucketed(upd, target, keys=["k"], num_buckets=8)
    after = snapshot()

    touched = [r[0] for r in upd.select(
        F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")
    ).distinct().collect()]
    assert len(touched) == 1
    for d in kb_dirs:
        kb = int(d.split("=")[1])
        if kb in touched:
            assert before[d] != after[d], "touched bucket must be rewritten"
        else:
            assert before[d] == after[d], f"untouched bucket {d} was rewritten"

    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert len(got) == 200
    assert got[7] in (700.0, 699.0)  # no order_col: arbitrary single survivor
    assert got[8] == 8.0


def test_merge_sink_order_col_keeps_newest_within_batch(spark, tmp_path):
    """A micro-batch holding several versions of one key must keep the
    highest order_col version (row_number dedup, not dropDuplicates)."""
    from data_spark.streaming.jobs import merge_batch_into_bucketed

    target = str(tmp_path / "ver_target")
    b1 = spark.createDataFrame(
        [(1, 1, "old"), (1, 3, "newest"), (1, 2, "mid"), (2, 1, "base")],
        "k bigint, ver bigint, payload string",
    )
    merge_batch_into_bucketed(b1, target, keys=["k"], order_col="ver", num_buckets=4)
    got = {r["k"]: (r["ver"], r["payload"]) for r in spark.read.parquet(target).collect()}
    assert got == {1: (3, "newest"), 2: (1, "base")}

    # stale update must lose against the stored newer version
    b2 = spark.createDataFrame([(1, 2, "stale")], "k bigint, ver bigint, payload string")
    merge_batch_into_bucketed(b2, target, keys=["k"], order_col="ver", num_buckets=4)
    got = {r["k"]: (r["ver"], r["payload"]) for r in spark.read.parquet(target).collect()}
    assert got[1] == (3, "newest")


def test_streaming_dedup_across_batches(spark, tmp_path):
    from data_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "dd_src")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
        ]
    )
    sink = str(tmp_path / "dd_sink")
    # two source files → two micro-batches within one availableNow run
    # (maxFilesPerTrigger=1), so state persistence is exercised without
    # paying two full query startups; 1 state partition keeps the
    # state-store maintenance cost out of a 5-row test
    _write_events(src, [{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 3}])
    _write_events(src, [{"k": "a", "v": 9}, {"k": "c", "v": 4}])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = (
            streaming_dedup(stream, "k", "k string, v long")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(sink).collect()}
    # first occurrences only: 'a' once (from batch 1), 'b', and 'c';
    # the batch-2 duplicate of 'a' is suppressed by the state store
    assert {k for k, _ in got} == {"a", "b", "c"}
    assert ("a", 9) not in got
    assert ("c", 4) in got
    assert len(got) == 3


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-key running (count, sum)
    survives across micro-batches AND across separate availableNow
    runs (checkpointed state store); the final totals equal the batch
    groupBy oracle over everything ingested."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState speaks protobuf to the state server",
    )
    from data_spark.streaming.stateful import streaming_running_totals

    src = str(tmp_path / "rt_src")
    ckpt = str(tmp_path / "rt_ckpt")
    sink = str(tmp_path / "rt_sink")
    schema = StructType(
        [StructField("k", StringType()), StructField("v", LongType())]
    )

    def drain():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
        )
        q = (
            streaming_running_totals(stream, "k", "v")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        _write_events(src, [{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 5}])
        _write_events(src, [{"k": "a", "v": 4}])
        drain()
        # second query run: state must resume from the checkpoint
        _write_events(src, [{"k": "a", "v": 10}, {"k": "b", "v": 1}])
        drain()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    out = spark.read.parquet(sink)
    # the LAST emitted row per key is the running total to date
    latest = {
        r["k"]: (r["n"], r["total"])
        for r in out.orderBy("n").collect()  # n is monotone per key
    }
    assert latest["a"] == (4, 17.0)
    assert latest["b"] == (2, 6.0)


def test_stream_event_time_join_attribution(spark, tmp_path):
    from data_spark.streaming import stream_event_time_join

    imp_dir = str(tmp_path / "impressions")
    clk_dir = str(tmp_path / "clicks")
    _write_events(
        imp_dir,
        [
            {"imp_id": 1, "user_id": "u1", "imp_ts": "2024-01-01T00:00:00Z"},
            {"imp_id": 2, "user_id": "u2", "imp_ts": "2024-01-01T00:05:00Z"},
            {"imp_id": 3, "user_id": "u3", "imp_ts": "2024-01-01T00:10:00Z"},
        ],
    )
    _write_events(
        clk_dir,
        [
            # in-window click for u1 (20 min after impression)
            {"click_id": 10, "user_id": "u1", "click_ts": "2024-01-01T00:20:00Z"},
            # too-late click for u2 (2 h after impression, outside 30 min)
            {"click_id": 11, "user_id": "u2", "click_ts": "2024-01-01T02:05:00Z"},
            # click before the impression for u3 — must not match
            {"click_id": 12, "user_id": "u3", "click_ts": "2024-01-01T00:01:00Z"},
        ],
    )
    imp_schema = StructType(
        [
            StructField("imp_id", LongType()),
            StructField("user_id", StringType()),
            StructField("imp_ts", TimestampType()),
        ]
    )
    clk_schema = StructType(
        [
            StructField("click_id", LongType()),
            StructField("user_id", StringType()),
            StructField("click_ts", TimestampType()),
        ]
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        imps = spark.readStream.schema(imp_schema).json(imp_dir)
        clks = spark.readStream.schema(clk_schema).json(clk_dir)
        joined = stream_event_time_join(
            imps, clks, key="user_id", left_ts="imp_ts", right_ts="click_ts",
            max_delay="30 minutes",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attrib")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.sql("select * from attrib").collect()
    }
    assert got == {(1, 10)}


def test_stream_session_windows(spark, tmp_path):
    from data_spark.streaming import stream_session_windows

    src = str(tmp_path / "sess_src")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", StringType()),
        ]
    )
    _write_events(
        src,
        [
            # u1: two events 10 min apart (one session), then a third
            # 2 h later (a second session)
            {"event_id": 1, "ts": "2024-01-01T08:00:00Z", "user_id": "u1"},
            {"event_id": 2, "ts": "2024-01-01T08:10:00Z", "user_id": "u1"},
            {"event_id": 3, "ts": "2024-01-01T10:30:00Z", "user_id": "u1"},
            # u2: single event
            {"event_id": 4, "ts": "2024-01-01T09:00:00Z", "user_id": "u2"},
        ],
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        q = (
            stream_session_windows(spark, src, schema)
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {
        (r["user_id"], r["session_start"].isoformat(), r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    assert ("u1", "2024-01-01T08:00:00", 2) in got
    assert ("u1", "2024-01-01T10:30:00", 1) in got
    assert ("u2", "2024-01-01T09:00:00", 1) in got
    assert len(got) == 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    from data_spark.streaming.jobs import stream_dedup_within_watermark

    src = str(tmp_path / "ddw_src")
    ckpt = str(tmp_path / "ddw_ckpt")
    sink = str(tmp_path / "ddw_sink")
    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("ts", TimestampType()),
            StructField("v", LongType()),
        ]
    )
    # duplicate deliveries of key 'a' within the horizon, distinct 'b'
    _write_events(
        src,
        [
            {"k": "a", "ts": "2024-01-01T10:00:00Z", "v": 1},
            {"k": "a", "ts": "2024-01-01T10:05:00Z", "v": 2},
            {"k": "b", "ts": "2024-01-01T10:10:00Z", "v": 3},
        ],
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        q = (
            stream_dedup_within_watermark(
                spark, src, schema, keys=["k"], watermark="1 hour"
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(sink).collect())
    # one row per key within the watermark horizon; the first arrival wins
    assert [k for k, _ in got] == ["a", "b"]
    assert ("a", 1) in got or ("a", 2) in got
    assert len(got) == 2


def test_stream_sliding_window_counts(spark, tmp_path):
    """Sliding windows in a real stream: a 1h window sliding every 30m
    puts each event in exactly two windows, and the counts per window
    reflect every event whose ts falls inside [start, start+1h)."""
    src = str(tmp_path / "slide_src")
    _write_events(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01T00:10:00Z", "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T00:40:00Z", "event_type": "click", "value": 2.0},
        ],
    )
    agg = stream_windowed_counts(spark, src, EVENT_SCHEMA, slide="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): r["n"]
        for r in spark.sql(
            "select * from slide_counts where event_type = 'click'"
        ).collect()
    }
    # event 1 (00:10) ∈ [23:30, 00:30); event 2 (00:40) ∈ [00:30, 01:30)
    # both ∈ [00:00, 01:00)
    assert got == {
        "2023-12-31 23:30:00": 1,
        "2024-01-01 00:00:00": 2,
        "2024-01-01 00:30:00": 1,
    }


def test_streaming_incremental_agg_state_maintenance(spark, tmp_path):
    """Micro-batches fold into the aggregate-state parquet; the final
    state equals a one-shot aggregate over everything streamed, and a
    crash-replay of an already-applied batch id is a no-op (the marker
    guard), not a double count."""
    from data_spark.operators.incremental_agg import aggregate_state
    from data_spark.streaming.jobs import fold_batch_into_state, incremental_agg_sink

    src = str(tmp_path / "src")
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "b", "value": 2.0},
    ])
    _write_events(src, [
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "event_type": "a", "value": 3.0},
        {"event_id": 4, "ts": "2024-01-01T00:03:00", "event_type": "a", "value": 5.0},
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
        .json(src)
    )
    state_path = str(tmp_path / "state")
    q = incremental_agg_sink(
        stream,
        state_path,
        str(tmp_path / "ckpt"),
        keys=["event_type"],
        sum_cols=("value",),
        min_cols=("value",),
        max_cols=("value",),
    )
    q.awaitTermination(120)

    def snapshot():
        return {
            r["event_type"]: (
                r["cnt"], float(r["sum_value"]), r["min_value"], r["max_value"]
            )
            for r in spark.read.parquet(state_path).collect()
        }

    expect = {
        r["event_type"]: (r["cnt"], float(r["sum_value"]), r["min_value"], r["max_value"])
        for r in aggregate_state(
            spark.read.schema(EVENT_SCHEMA).json(src),
            ["event_type"],
            sum_cols=("value",),
            min_cols=("value",),
            max_cols=("value",),
        ).collect()
    }
    assert snapshot() == expect
    assert expect["a"] == (3, 9.0, 1.0, 5.0) and expect["b"] == (1, 2.0, 2.0, 2.0)

    # crash-replay: re-folding the last applied batch id must not change state
    replay = spark.createDataFrame(
        [(9, "a", 100.0)], "event_id long, event_type string, value double"
    )
    fold_batch_into_state(
        replay, 1, state_path, ["event_type"],
        sum_cols=("value",), min_cols=("value",), max_cols=("value",),
    )
    assert snapshot() == expect
    # ...while a NEW batch id folds in normally
    fold_batch_into_state(
        replay, 2, state_path, ["event_type"],
        sum_cols=("value",), min_cols=("value",), max_cols=("value",),
    )
    assert snapshot()["a"] == (4, 109.0, 1.0, 100.0)


def test_hll_state_sink_folds_sketches(spark, tmp_path):
    """Micro-batch HLL sketches union-fold into the state table: the
    folded estimate equals the one-shot sketch over everything streamed
    (mergeability law), which at this cardinality is the exact distinct
    count; a crash-replay of an applied batch id is a no-op."""
    from data_spark.streaming.jobs import (
        fold_sketch_batch_into_state,
        hll_state_sink,
        read_hll_state_estimates,
    )

    src = str(tmp_path / "src")
    # batch 1 and batch 2 overlap on event_ids 2 and 3: a fact-count
    # fold would double-count them, the sketch union must not
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "a", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "event_type": "b", "value": 3.0},
    ])
    _write_events(src, [
        {"event_id": 2, "ts": "2024-01-01T00:03:00", "event_type": "a", "value": 4.0},
        {"event_id": 3, "ts": "2024-01-01T00:04:00", "event_type": "b", "value": 5.0},
        {"event_id": 4, "ts": "2024-01-01T00:05:00", "event_type": "b", "value": 6.0},
        {"event_id": 5, "ts": "2024-01-01T00:06:00", "event_type": "a", "value": 7.0},
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
        .json(src)
    )
    state_path = str(tmp_path / "state")
    q = hll_state_sink(
        stream, state_path, str(tmp_path / "ckpt"),
        keys=["event_type"], key_col="event_id",
    )
    q.awaitTermination(120)

    def snapshot():
        return {
            r["event_type"]: r["est_distinct"]
            for r in read_hll_state_estimates(spark, state_path).collect()
        }

    got = snapshot()
    # exact at this cardinality: a={1,2,5}, b={3,4}
    assert got == {"a": 3, "b": 2}
    # mergeability: folded state == one-shot sketch over the whole source
    import pyspark.sql.functions as F
    oneshot = {
        r["event_type"]: r["est"]
        for r in spark.read.schema(EVENT_SCHEMA).json(src)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("event_id", F.lit(12))
            ).cast("bigint").alias("est")
        )
        .collect()
    }
    assert got == oneshot

    # crash-replay of the last applied batch id must not change state
    replay = spark.createDataFrame(
        [(99, "a", 0.0)], "event_id long, event_type string, value double"
    )
    fold_sketch_batch_into_state(replay, 1, state_path, ["event_type"], "event_id")
    assert snapshot() == got


def test_stream_event_time_join_left_outer_emits_nulls(spark, tmp_path):
    """leftOuter stream-stream join: an impression with no in-window
    click is emitted with NULL click columns once the watermark passes
    its expiry — not dropped (inner) and not held forever (state is
    evicted). The pusher events land in a SECOND file processed as a
    separate micro-batch (maxFilesPerTrigger=1), because outer-join
    results only flush in a batch that runs AFTER the watermark
    advanced past the expiry."""
    from data_spark.streaming import stream_event_time_join

    imp_dir = str(tmp_path / "lo_impressions")
    clk_dir = str(tmp_path / "lo_clicks")
    # batch 1: the data under test
    _write_events(
        imp_dir,
        [
            {"imp_id": 1, "user_id": "u1", "imp_ts": "2024-01-01T00:00:00Z"},
            {"imp_id": 2, "user_id": "u2", "imp_ts": "2024-01-01T00:05:00Z"},
        ],
    )
    _write_events(
        clk_dir,
        [{"click_id": 10, "user_id": "u1", "click_ts": "2024-01-01T00:20:00Z"}],
    )
    # batch 2: watermark pushers on BOTH streams (outer joins use the
    # minimum of the two watermarks), far past u2's expiry of
    # 00:35 + 2 h watermark delay
    _write_events(
        imp_dir,
        [{"imp_id": 8, "user_id": "u8", "imp_ts": "2024-01-01T09:00:00Z"}],
    )
    _write_events(
        clk_dir,
        [{"click_id": 90, "user_id": "u9", "click_ts": "2024-01-01T09:00:00Z"}],
    )
    imp_schema = StructType(
        [
            StructField("imp_id", LongType()),
            StructField("user_id", StringType()),
            StructField("imp_ts", TimestampType()),
        ]
    )
    clk_schema = StructType(
        [
            StructField("click_id", LongType()),
            StructField("user_id", StringType()),
            StructField("click_ts", TimestampType()),
        ]
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        imps = (
            spark.readStream.schema(imp_schema)
            .option("maxFilesPerTrigger", 1)
            .json(imp_dir)
        )
        clks = (
            spark.readStream.schema(clk_schema)
            .option("maxFilesPerTrigger", 1)
            .json(clk_dir)
        )
        joined = stream_event_time_join(
            imps, clks, key="user_id", left_ts="imp_ts", right_ts="click_ts",
            max_delay="30 minutes", how="leftOuter",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attrib_lo")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.sql("select * from attrib_lo").collect()
    }
    # u1 matched; u2 flushed as an outer null; the unmatched RIGHT row
    # (u9's click) is dropped — leftOuter, not full
    assert (1, 10) in got
    assert (2, None) in got
    assert not any(c == 90 for _, c in got)


def test_cms_state_sink_folds_registers(spark, tmp_path):
    """Micro-batch CMS registers SUM-fold into the state table: the
    folded estimates equal a one-shot build over everything streamed
    (register addition is associative), every estimate is >= the true
    count, and at this tiny cardinality the estimates are exact; a
    crash-replay of an applied batch id is a no-op."""
    from data_spark.streaming.jobs import (
        cms_state_sink,
        fold_cms_batch_into_state,
        read_cms_state_estimates,
    )

    src = str(tmp_path / "cms_src")
    # user 2 appears in both batches — the fold must count BOTH
    # occurrences (frequency semantics, unlike the HLL distinct fold)
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "a", "value": 2.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "a", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "event_type": "b", "value": 3.0},
    ])
    _write_events(src, [
        {"event_id": 4, "ts": "2024-01-01T00:03:00", "event_type": "a", "value": 2.0},
        {"event_id": 5, "ts": "2024-01-01T00:04:00", "event_type": "b", "value": 7.0},
        {"event_id": 6, "ts": "2024-01-01T00:05:00", "event_type": "b", "value": 3.0},
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state_path = str(tmp_path / "cms_state")
    # item = value cast to a small int id; keys = event_type
    q = cms_state_sink(
        stream.withColumn("item", F.col("value").cast("bigint")),
        state_path, str(tmp_path / "cms_ckpt"),
        keys=["event_type"], item_col="item",
    )
    q.awaitTermination(120)

    got = {
        (r["event_type"], r["item"]): r["est_count"]
        for r in read_cms_state_estimates(spark, state_path, [2, 3, 7]).collect()
    }
    # true counts: a×2 → 3 events (values 2.0,2.0,2.0), b×3 → 2, b×7 → 1
    truth = {("a", 2): 3, ("b", 3): 2, ("b", 7): 1}
    for k, true_n in truth.items():
        assert got[k] >= true_n
        # 3 items in a 4×64 table: no collisions, estimates exact
        assert got[k] == true_n
    # items never seen under a key estimate to 0-or-collision, never negative
    assert got[("a", 3)] >= 0 and got[("a", 7)] >= 0

    # crash-replay of the last applied batch id must not change state
    replay = spark.createDataFrame(
        [("a", 2)], "event_type string, item bigint"
    )
    before = sorted(got.items())
    fold_cms_batch_into_state(replay, 1, state_path, ["event_type"], "item")
    after = sorted(
        (
            (r["event_type"], r["item"]),
            r["est_count"],
        )
        for r in read_cms_state_estimates(spark, state_path, [2, 3, 7]).collect()
    )
    assert after == before


def test_kll_state_sink_folds_quantile_sketches(spark, tmp_path):
    """Micro-batch KLL sketches merge-fold into the state table: while
    n <= k the sketch is in exact mode, so the folded state's quantiles
    equal a one-shot sketch over everything streamed (mergeability
    law) AND the exact percentile; replaying an applied batch id is a
    no-op."""
    from data_spark.streaming.jobs import (
        fold_kll_batch_into_state,
        kll_state_sink,
        read_kll_state_quantiles,
    )

    src = str(tmp_path / "kll_src")
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "a", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "event_type": "b", "value": 10.0},
    ]
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01T00:03:00", "event_type": "a", "value": 3.0},
        {"event_id": 5, "ts": "2024-01-01T00:04:00", "event_type": "a", "value": 4.0},
        {"event_id": 6, "ts": "2024-01-01T00:05:00", "event_type": "b", "value": 30.0},
    ]
    _write_events(src, batch1)
    _write_events(src, batch2)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state_path = str(tmp_path / "kll_state")
    q = kll_state_sink(
        stream, state_path, str(tmp_path / "kll_ckpt"),
        keys=["event_type"], value_col="value", k=200,
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (r["n"], r["est_p50"], r["est_p90"])
        for r in read_kll_state_quantiles(spark, state_path).collect()
    }
    assert got["a"][0] == 4 and got["b"][0] == 2
    # exact mode (n << k): quantiles are true order statistics
    assert got["a"][1] in (2.0, 3.0)  # p50 of {1,2,3,4}
    assert got["a"][2] == 4.0  # p90
    assert got["b"][2] == 30.0

    # one-shot sketch over the union must agree while in exact mode
    allrows = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in map(lambda d: d, batch1 + batch2)],
        "event_type string, value double",
    )
    oneshot = {
        r["event_type"]: (r["n"], r["p50"], r["p90"])
        for r in allrows.groupBy("event_type")
        .agg(
            F.kll_sketch_get_n_double(
                F.kll_sketch_agg_double("value", F.lit(200))
            ).cast("bigint").alias("n"),
            F.round(
                F.kll_sketch_get_quantile_double(
                    F.kll_sketch_agg_double("value", F.lit(200)), F.lit(0.5)
                ), 6,
            ).alias("p50"),
            F.round(
                F.kll_sketch_get_quantile_double(
                    F.kll_sketch_agg_double("value", F.lit(200)), F.lit(0.9)
                ), 6,
            ).alias("p90"),
        )
        .collect()
    }
    assert got == oneshot

    # crash-replay of an applied batch id must not change state
    replay = spark.createDataFrame(
        [("a", 999.0)], "event_type string, value double"
    )
    fold_kll_batch_into_state(replay, 1, state_path, ["event_type"], "value")
    after = {
        r["event_type"]: (r["n"], r["est_p50"], r["est_p90"])
        for r in read_kll_state_quantiles(spark, state_path).collect()
    }
    assert after == got


def test_hist_state_sink_ks_drift(spark, tmp_path):
    """Micro-batch histograms SUM-fold into the state table: the folded
    state row-equals the one-shot histogram over everything streamed
    (integer merge is exact, stronger than sketch-level mergeability);
    read_ks_drift computes the same exact-integer KS a python mirror
    does; a crash-replay of an applied batch id is a no-op."""
    from data_spark.streaming.jobs import (
        fold_hist_batch_into_state,
        hist_state_sink,
        read_ks_drift,
    )

    src = str(tmp_path / "src")
    # 'ref' is the admitted distribution; 'new' drifts upward
    _write_events(src, [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "event_type": "ref", "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "ref", "value": 20.0},
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "event_type": "new", "value": 20.0},
    ])
    _write_events(src, [
        {"event_id": 4, "ts": "2024-01-01T00:03:00", "event_type": "ref", "value": 20.0},
        {"event_id": 5, "ts": "2024-01-01T00:04:00", "event_type": "new", "value": 30.0},
        {"event_id": 6, "ts": "2024-01-01T00:05:00", "event_type": "new", "value": 40.0},
        {"event_id": 7, "ts": "2024-01-01T00:06:00", "event_type": "ref", "value": 30.0},
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches
        .json(src)
    )
    state_path = str(tmp_path / "state")
    q = hist_state_sink(
        stream, state_path, str(tmp_path / "ckpt"),
        group_col="event_type", value_col="value",
    )
    q.awaitTermination(120)

    # folded state == one-shot histogram (row-level exactness)
    state = {
        (r.grp, r.v): r.c for r in spark.read.parquet(state_path).collect()
    }
    oneshot = {
        (r.event_type, int(r.value)): r.c
        for r in spark.read.schema(EVENT_SCHEMA).json(src)
        .groupBy("event_type", F.col("value").cast("bigint").alias("value"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    }
    assert state == oneshot

    # KS vs python mirror: ref=[10,20,20,30], new=[20,30,40]
    drift = {r.grp: r for r in read_ks_drift(spark, state_path, "ref").collect()}
    assert set(drift) == {"new"}
    ref_vals, new_vals = [10, 20, 20, 30], [20, 30, 40]
    best, best_v = -1, None
    for v in sorted(set(ref_vals) | set(new_vals)):
        fg = sum(1 for x in new_vals if x <= v)
        fr = sum(1 for x in ref_vals if x <= v)
        d = abs(fg * len(ref_vals) - fr * len(new_vals))
        if d > best:
            best, best_v = d, v
    r = drift["new"]
    assert (r.n, r.n_ref) == (len(new_vals), len(ref_vals))
    assert r.d_num == best and r.v_at == best_v
    assert r.ks_d == best / (len(new_vals) * len(ref_vals))

    # crash-replay of the last applied batch id must not change state
    replay = spark.createDataFrame(
        [(99, "new", 999.0)], "event_id long, event_type string, value double"
    )
    fold_hist_batch_into_state(replay, 1, state_path, "event_type", "value")
    assert {
        (r.grp, r.v): r.c for r in spark.read.parquet(state_path).collect()
    } == oneshot


def test_read_quantile_drift(spark, tmp_path):
    """KLL quantile drift vs a reference key: a key with the same
    distribution reports ~zero gap, a shifted key reports ~the shift
    (exact here — at this cardinality the sketch is exact)."""
    from data_spark.streaming.jobs import kll_state_sink, read_quantile_drift

    src = str(tmp_path / "src")
    base = [float(v) for v in range(1, 101)]
    rows = []
    eid = 0
    for v in base:
        for grp, val in (("ref", v), ("same", v), ("shifted", v + 50.0)):
            eid += 1
            rows.append({
                "event_id": eid, "ts": "2024-01-01T00:00:00",
                "event_type": grp, "value": val,
            })
    _write_events(src, rows)
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    state_path = str(tmp_path / "state")
    q = kll_state_sink(
        stream, state_path, str(tmp_path / "ckpt"),
        keys=["event_type"], value_col="value",
    )
    q.awaitTermination(120)

    drift = {r.event_type: r for r in read_quantile_drift(spark, state_path, "ref").collect()}
    assert set(drift) == {"same", "shifted"}
    assert drift["same"].max_gap == 0.0
    assert drift["same"].n == 100 and drift["shifted"].n == 100
    assert 40.0 <= drift["shifted"].max_gap <= 60.0
    assert drift["shifted"].at_p in (0.1, 0.25, 0.5, 0.75, 0.9)


@pytest.mark.slow
def test_state_sink_fold_survives_task_failure():
    """Retry-stability of the sketch-state sinks' fold path: a fresh
    local[4,2] session folds two histogram batches into state with a
    Python UDF injected upstream that hard-fails partition 0's FIRST
    attempt in batch 2 — the promoted state must equal the clean run's
    (the stage-and-swap promotes only after the retried job succeeds,
    so a task retry can neither drop nor double-count rows)."""
    import subprocess
    import sys

    script = r"""
import shutil, sys, tempfile
sys.path.insert(0, REPO_ROOT)
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[4,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("sink_retry_test")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from data_spark.streaming.jobs import fold_hist_batch_into_state

rows1 = [(i, "g%d" % (i % 3), float(i % 7)) for i in range(200)]
rows2 = [(i, "g%d" % (i % 3), float(i % 5)) for i in range(200, 500)]
schema = "event_id long, event_type string, value double"
b1 = spark.createDataFrame(rows1, schema).repartition(4)
b2 = spark.createDataFrame(rows2, schema).repartition(4)

def run(inject):
    path = tempfile.mkdtemp(prefix="hist_state_")
    shutil.rmtree(path, ignore_errors=True)
    fold_hist_batch_into_state(b1, 1, path, "event_type", "value")
    batch = b2
    if inject:
        @F.udf("string")
        def fail_first(s):
            tc = TaskContext.get()
            if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
                raise RuntimeError("injected task failure")
            return s
        batch = b2.withColumn("event_type", fail_first(F.col("event_type")))
    fold_hist_batch_into_state(batch, 2, path, "event_type", "value")
    state = sorted((r.grp, r.v, r.c) for r in spark.read.parquet(path).collect())
    shutil.rmtree(path, ignore_errors=True)
    return state

clean = run(inject=False)
got = run(inject=True)
assert len(clean) > 10, len(clean)
assert got == clean, "state diverged after an injected task failure"
print("SINK_RETRY_OK", len(got))
"""
    out = subprocess.run(
        [sys.executable, "-c", script.replace("REPO_ROOT", _REPO_ROOT)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "SINK_RETRY_OK" in out.stdout, (
        f"stdout={out.stdout[-500:]}\nstderr={out.stderr[-2000:]}"
    )
    assert "injected task failure" in out.stderr


def test_mg_state_sink_heavy_hitter_laws(spark, tmp_path):
    """Misra–Gries state sink: folded counters obey the mergeable-
    summaries guarantees — every surviving count is a lower bound
    within N/(capacity+1) of the truth, every item with true share
    above 1/(capacity+1) survives, the state never holds more than
    `capacity` item counters per group, and a crash-replay of an
    applied batch id is a no-op."""
    from collections import Counter

    from data_spark.streaming.jobs import (
        fold_mg_batch_into_state,
        mg_state_sink,
        read_mg_heavy_hitters,
    )

    src = str(tmp_path / "src")
    cap = 3
    batch1 = [1, 1, 1, 1, 1, 1, 2, 3, 4, 5]
    batch2 = [1, 1, 1, 1, 2, 2, 2, 6, 7, 8]
    for i, batch in enumerate((batch1, batch2)):
        _write_events(src, [
            {"event_id": 100 * i + j, "ts": f"2024-01-01T00:0{i}:00",
             "event_type": "a", "value": float(v)}
            for j, v in enumerate(batch)
        ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batch folds
        .json(src)
    )
    state_path = str(tmp_path / "state")
    q = mg_state_sink(
        stream, state_path, str(tmp_path / "ckpt"),
        keys=["event_type"], item_col="value", capacity=cap,
    )
    q.awaitTermination(120)

    truth = Counter(float(v) for v in batch1 + batch2)
    n = sum(truth.values())
    hh = {r.item: r for r in read_mg_heavy_hitters(spark, state_path, cap).collect()}
    assert 0 < len(hh) <= cap  # counter budget respected
    for item, r in hh.items():
        true_cnt = truth[float(item)]
        assert r.n_total == n
        assert r.cnt_lower <= true_cnt <= r.cnt_lower + r.err_bound, (item, r)
    # every item above the guaranteed threshold must be present
    for v, c in truth.items():
        if c > n / (cap + 1):
            assert str(v) in hh, (v, c)

    # crash-replay of an applied batch id leaves the state untouched
    before = sorted(map(tuple, spark.read.parquet(state_path).collect()), key=repr)
    replay = spark.createDataFrame(
        [("a", 9.0)], "event_type string, value double"
    )
    fold_mg_batch_into_state(replay, 0, state_path, ["event_type"], "value", cap)
    after = sorted(map(tuple, spark.read.parquet(state_path).collect()), key=repr)
    assert before == after


def test_versioned_stream_sink_exactly_once_time_travel(spark, tmp_path):
    """Streaming appends into the versioned store: each micro-batch is
    one table version whose manifest records the batch id, so (a) every
    batch boundary is time-travelable, (b) the final table equals the
    full input, and (c) replaying an applied batch id is a no-op
    because the replay guard IS the commit manifest — zero window
    between data and guard."""
    from data_spark.io import read_versioned, table_versions, version_meta
    from data_spark.streaming.jobs import versioned_stream_sink

    src = str(tmp_path / "src")
    batch1 = [(1, "a"), (2, "b")]
    batch2 = [(3, "c"), (4, "d"), (5, "e")]
    for i, rows in enumerate((batch1, batch2)):
        _write_events(src, [
            {"event_id": k, "ts": f"2024-01-01T00:0{i}:00", "event_type": t_, "value": 1.0}
            for k, t_ in rows
        ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select("event_id", "event_type")
    )
    table = str(tmp_path / "table")
    q = versioned_stream_sink(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    versions = table_versions(table)
    assert len(versions) == 2  # one version per micro-batch
    v0 = sorted(tuple(r) for r in read_versioned(spark, table, versions[0]).collect())
    v1 = sorted(tuple(r) for r in read_versioned(spark, table).collect())
    all_rows = sorted([(k, t_) for k, t_ in batch1 + batch2])
    assert len(v0) in (2, 3) and v1 == all_rows  # batch order may vary
    assert version_meta(table).get("batch_id") == 1

    # replaying an applied batch id must not create a new version
    replay = spark.createDataFrame([(99, "z")], "event_id bigint, event_type string")
    from data_spark.io import last_committed_batch_id, write_versioned

    def _commit(batch, batch_id):
        # the sink's guard: skip ids at or below the MAX committed over
        # ALL manifests (not just the newest version's meta — ADVICE r6)
        last = last_committed_batch_id(table)
        if last is not None and batch_id <= last:
            return
        write_versioned(batch, table, mode="append", meta={"batch_id": batch_id})

    before = table_versions(table)
    _commit(replay, 0)
    _commit(replay, 1)
    assert table_versions(table) == before  # both ids already committed

    # a meta-less commit (manual append / maintenance job) landing
    # between a batch's commit and its crash-replay must NOT hide the
    # recorded ids: the latest version's meta is now empty, but the
    # guard scans every manifest
    write_versioned(replay, table, mode="append")  # no meta
    assert version_meta(table).get("batch_id") is None  # latest meta empty
    assert last_committed_batch_id(table) == 1  # guard still sees max id
    n_after_manual = len(table_versions(table))
    _commit(replay, 0)
    _commit(replay, 1)
    assert len(table_versions(table)) == n_after_manual  # replays no-op
    _commit(replay, 2)
    assert len(table_versions(table)) == n_after_manual + 1  # a new id commits


@pytest.mark.slow
def test_cdc_stream_sink_lww_deletes_and_time_travel(spark, tmp_path):
    """Streaming CDC into the versioned store: per-batch last-writer-
    wins with hard deletes, cross-batch overwrites via key tombstones,
    re-inserts after deletes survive, and every batch boundary is a
    readable table version."""
    import os
    import time

    from data_spark.io import read_versioned, table_versions
    from data_spark.streaming.jobs import cdc_stream_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        # batch 0: inserts; k=2 has two events, newest (seq 4) wins
        [(1, 10.0, "I", 1), (2, 20.0, "I", 2), (2, 21.0, "U", 4), (3, 30.0, "I", 3)],
        # batch 1: update k=1, delete k=2
        [(1, 11.0, "U", 5), (2, 0.0, "D", 6)],
        # batch 2: re-insert k=2 after its delete, delete k=3
        [(2, 22.0, "I", 7), (3, 0.0, "D", 8)],
    ]
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            [(k, p, op, float(s), s) for k, p, op, s in rows],
            "key long, payload double, op string, seq_ts double, seq_id long",
        ).coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(n for n in os.listdir(staged) if n.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    table = str(tmp_path / "table")
    q = cdc_stream_sink(stream, table, str(tmp_path / "ckpt"), keys=["key"])
    assert q.awaitTermination(120)

    def state(v=None):
        return {
            r.key: (r.payload, r.op)
            for r in read_versioned(spark, table, v).collect()
        }

    # final: k=1 updated, k=2 re-inserted after delete, k=3 deleted
    assert state() == {1: (10.0, "I"), 2: (22.0, "I")} or state() == {
        1: (11.0, "U"),
        2: (22.0, "I"),
    }
    assert state()[1] == (11.0, "U")  # batch-1 update applied
    # versions: v0 bootstrap, then (tombstone, append) per later batch
    vs = table_versions(table)
    assert len(vs) == 5
    # time travel: after batch 0, within-batch LWW picked seq 4 for k=2
    assert state(0) == {1: (10.0, "I"), 2: (21.0, "U"), 3: (30.0, "I")}
    # after batch 1 (version index 2 = its append commit): k=2 gone
    assert state(2) == {1: (11.0, "U"), 3: (30.0, "I")}

    # crash-replay: a fresh run over the same files with a FRESH
    # checkpoint replays batch ids 0..2 — the manifest guard no-ops all
    time.sleep(0.1)
    q2 = cdc_stream_sink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        table,
        str(tmp_path / "ckpt2"),
        keys=["key"],
    )
    assert q2.awaitTermination(120)
    assert table_versions(table) == vs  # nothing re-applied
    assert state()[2] == (22.0, "I")


@pytest.mark.slow
def test_merge_stream_sink_one_atomic_version_per_batch(spark, tmp_path):
    """The atomic sibling of cdc_stream_sink: each micro-batch lands as
    exactly ONE merge version (tombstone + data in a single manifest),
    so the version count equals the batch count and no time-travel
    point exposes a tombstoned-but-unappended middle state."""
    import os
    import time

    from data_spark.io import _load_manifest, read_versioned, table_versions
    from data_spark.streaming.jobs import merge_stream_sink

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, 10.0, "I", 1), (2, 20.0, "I", 2), (2, 21.0, "U", 4), (3, 30.0, "I", 3)],
        [(1, 11.0, "U", 5), (2, 0.0, "D", 6)],
        [(2, 22.0, "I", 7), (3, 0.0, "D", 8)],
    ]
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            [(k, p, op == "D", float(s), s) for k, p, op, s in rows],
            "key long, payload double, is_del boolean, seq_ts double, seq_id long",
        ).coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(n for n in os.listdir(staged) if n.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    table = str(tmp_path / "table")
    q = merge_stream_sink(
        stream, table, str(tmp_path / "ckpt"), keys=["key"], delete_col="is_del"
    )
    assert q.awaitTermination(120)

    def state(v=None):
        return {r.key: r.payload for r in read_versioned(spark, table, v).collect()}

    # ONE version per batch — not two
    vs = table_versions(table)
    assert len(vs) == 3
    assert _load_manifest(table, 1)["mode"] == "merge"
    assert state() == {1: 11.0, 2: 22.0}
    # every version boundary is a consistent batch state
    assert state(0) == {1: 10.0, 2: 21.0, 3: 30.0}
    assert state(1) == {1: 11.0, 3: 30.0}

    # crash-replay with a fresh checkpoint: the batch-id guard no-ops
    time.sleep(0.1)
    q2 = merge_stream_sink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        table,
        str(tmp_path / "ckpt2"),
        keys=["key"],
        delete_col="is_del",
    )
    assert q2.awaitTermination(120)
    assert table_versions(table) == vs


@pytest.mark.slow
def test_merge_stream_sink_maintained_steady_state(spark, tmp_path):
    """merge_stream_sink(maintenance=...): a long merge stream reaches
    the bounded steady state WITHOUT the caller hand-scheduling
    maintenance — visible commits and live delete entries stay under
    the thresholds (layout-only collapse/purge versions interleave with
    the merges), the final state equals a driver-side replay of the
    same batches, and the crash-replay guard still no-ops across the
    maintenance versions (they carry no batch id)."""
    import os

    from data_spark.io import branch_head, _load_manifest, read_versioned, table_versions
    from data_spark.streaming.jobs import merge_stream_sink

    n_batches, n_keys = 18, 10
    src = str(tmp_path / "src")
    os.makedirs(src)
    expected: dict[int, float] = {}
    for i in range(n_batches):
        rows = []
        for j in range(3):
            k = (i + j) % n_keys
            p = float(i * 100 + k)
            dele = (i + j) % 7 == 0
            rows.append((k, p, dele, float(i), i * 10 + j))
            if dele:
                expected.pop(k, None)
            else:
                expected[k] = p
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            rows,
            "key long, payload double, is_del boolean, seq_ts double, seq_id long",
        ).coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(n for n in os.listdir(staged) if n.endswith(".parquet"))
        dst = os.path.join(src, f"b{i:03d}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    table = str(tmp_path / "table")
    q = merge_stream_sink(
        stream,
        table,
        str(tmp_path / "ckpt"),
        keys=["key"],
        delete_col="is_del",
        maintenance={"max_delete_entries": 4, "max_commits": 6},
    )
    assert q.awaitTermination(240)

    got = {r.key: r.payload for r in read_versioned(spark, table).collect()}
    assert got == expected
    # bounded steady state: the head manifest never exceeds
    # thresholds + the one batch committed since the last fold
    head = _load_manifest(table, branch_head(table))
    assert len(head.get("commits", [])) <= 7
    assert len(head.get("deletes", [])) <= 5
    # maintenance really committed layout versions between the merges
    assert len(table_versions(table)) > n_batches
    # crash-replay across maintenance versions: batch-id guard no-ops
    vs = table_versions(table)
    q2 = merge_stream_sink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        table,
        str(tmp_path / "ckpt2"),
        keys=["key"],
        delete_col="is_del",
        maintenance={"max_delete_entries": 4, "max_commits": 6},
    )
    assert q2.awaitTermination(240)
    assert table_versions(table) == vs


def test_stream_state_scope_sizes_and_restores(spark, tmp_path):
    """stream_state_scope derives the state partition count from the
    volume estimate (floor / linear / conf cap), applies it inside the
    scope, restores the session setting on exit — including on error —
    and a drain run under it produces the same results as without."""
    from data_spark.streaming.jobs import (
        ROWS_PER_STATE_PARTITION,
        stream_state_scope,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    conf_cap = int(prev)
    # floor for tiny streams
    with stream_state_scope(spark, 10, floor=3) as parts:
        assert parts == min(conf_cap, 3)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # linear in volume, capped at the session conf (cluster sizing wins)
    with stream_state_scope(spark, 10**12, floor=3) as parts:
        assert parts == conf_cap
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    mid = 5 * ROWS_PER_STATE_PARTITION
    with stream_state_scope(spark, mid, floor=1) as parts:
        assert parts == min(conf_cap, 5)
    # restored even when the body raises
    try:
        with stream_state_scope(spark, 10, floor=2):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # a windowed-count drain under the scope equals the unscoped run
    src = str(tmp_path / "ev")
    _write_events(
        src,
        [
            {"event_id": i, "ts": f"2024-01-01T0{i % 4}:10:00Z", "kind": "a"}
            for i in range(8)
        ],
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("kind", StringType()),
        ]
    )

    def drain(name, ckpt):
        stream = spark.readStream.schema(schema).json(src)
        counts = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "kind")
            .count()
        )
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r["window"]["start"], r["kind"], r["count"])
            for r in spark.sql(f"select * from {name}").collect()
        }

    with stream_state_scope(spark, 8):
        scoped = drain("scoped_counts", "ck1")
    unscoped = drain("unscoped_counts", "ck2")
    assert scoped == unscoped and scoped
