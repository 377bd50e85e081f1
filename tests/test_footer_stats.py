"""Footer-metadata stats fast path (r12 optimization) — the commit-time
stats/bounds that used to pay a second Spark scan per commit now come
from parquet footers when dtypes are provably safe. These tests pin the
contract: FOOTER PATH OUTPUT == SCAN PATH OUTPUT, and every unsafe
shape falls back (returns None) rather than guessing."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from data_spark.io import (
    _collect_commit_stats,
    _footer_dir_stats,
    _footer_row_count,
    _json_stat,
    _tombstone_bounds,
    _tombstone_bounds_dir,
)


def _scan_stats(spark, path, cols):
    """The legacy scan-path stats, forced (footer path bypassed)."""
    df = spark.read.parquet(path)
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("__f"))
        .agg(
            *[F.min(c).alias(f"{c}__min") for c in cols],
            *[F.max(c).alias(f"{c}__max") for c in cols],
        )
        .collect()
    )
    out = {}
    for r in rows:
        p = r["__f"]
        if p.startswith("file:"):
            p = p[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
        out[os.path.basename(p)] = {
            c: [
                _json_stat(r[f"{c}__min"], down=True),
                _json_stat(r[f"{c}__max"], down=False),
            ]
            for c in cols
        }
    return out


def _basename_keys(stats):
    return {os.path.basename(k): v for k, v in stats.items()}


def test_footer_matches_scan_int_string_date_bool(spark, tmp_path):
    p = str(tmp_path / "c")
    df = spark.createDataFrame(
        [
            (1, "alpha", datetime.date(2024, 1, 2), True),
            (9, "zulu", datetime.date(2023, 5, 1), False),
            (4, None, datetime.date(2024, 3, 3), True),
            (None, "mid", None, None),
        ],
        "k bigint, s string, d date, b boolean",
    )
    df.repartition(2).write.parquet(p)
    cols = ["k", "s", "d", "b"]
    footer = _collect_commit_stats(spark, p, cols)
    scan = _scan_stats(spark, p, cols)
    assert _basename_keys(footer) == _basename_keys(scan)


def test_footer_all_null_column_matches_scan(spark, tmp_path):
    p = str(tmp_path / "c")
    spark.createDataFrame(
        [(1, None), (2, None)], "k bigint, s string"
    ).coalesce(1).write.parquet(p)
    footer = _collect_commit_stats(spark, p, ["k", "s"])
    scan = _scan_stats(spark, p, ["k", "s"])
    assert _basename_keys(footer) == _basename_keys(scan)
    (only,) = footer.values()
    assert only["s"] == [None, None]


def test_footer_unsafe_dtypes_fall_back(spark, tmp_path):
    # doubles (NaN semantics), decimals, timestamps: _footer_dir_stats
    # must refuse so the scan path's guards stay authoritative
    for i, (ddl, row) in enumerate(
        [
            ("k bigint, x double", (1, float("nan"))),
            ("k bigint, x decimal(12,2)", (1, None)),
            ("k bigint, x timestamp", (1, datetime.datetime(2024, 1, 1))),
        ]
    ):
        p = str(tmp_path / f"c{i}")
        spark.createDataFrame([row], ddl).coalesce(1).write.parquet(p)
        assert _footer_dir_stats(p, None) is None, ddl
        assert _footer_dir_stats(p, ["x"]) is None, ddl
        # but the safe SUBSET is still footer-readable when named
        assert _footer_dir_stats(p, ["k"]) is not None, ddl


def test_tombstone_bounds_dir_matches_scan(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(5, "b"), (17, "a"), (None, "c"), (9, None)], "k bigint, s string"
    )
    df.repartition(2).write.parquet(p)
    assert _footer_dir_stats(p, None) is not None  # fast path engages
    fast = _tombstone_bounds_dir(spark, p)
    scan = _tombstone_bounds(spark.read.parquet(p))
    assert fast == scan == {"k": [5, 17, 1], "s": ["a", "c", 1]}


def test_tombstone_bounds_dir_unsafe_schema_falls_back(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1.5, 2), (float("nan"), 3)], "x double, k bigint"
    ).coalesce(1).write.parquet(p)
    # footer path refuses (double column) -> identical to scan semantics
    assert _footer_dir_stats(p, None) is None
    fast = _tombstone_bounds_dir(spark, p)
    scan = _tombstone_bounds(spark.read.parquet(p))
    assert fast == scan
    assert "x" not in fast  # the NaN guard dropped the double column
    assert fast["k"] == [2, 3, 0]


def test_tombstone_bounds_dir_empty_frame_matches_scan(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame([], "k bigint").coalesce(1).write.parquet(p)
    fast = _tombstone_bounds_dir(spark, p)
    scan = _tombstone_bounds(spark.read.parquet(p))
    assert fast == scan == {"k": [None, None, 0]}


def test_footer_row_count(spark, tmp_path):
    p = str(tmp_path / "c")
    spark.range(137).repartition(3).write.parquet(p)
    assert _footer_row_count(p) == 137
    assert _footer_row_count(str(tmp_path / "missing")) is None


def test_footer_multi_rowgroup_aggregation(spark, tmp_path):
    p = str(tmp_path / "c")
    prev = spark.conf.get("spark.sql.parquet.outputWriterMaxRecordsPerBatch", None)
    # force several row groups in one file via a tiny block size
    spark.conf.set("spark.hadoop.parquet.block.size", "1024")
    try:
        spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.concat(F.lit("s"), F.col("id")).alias("s")
        ).coalesce(1).write.parquet(p)
    finally:
        spark.conf.unset("spark.hadoop.parquet.block.size")
        if prev is not None:
            spark.conf.set(
                "spark.sql.parquet.outputWriterMaxRecordsPerBatch", prev
            )
    footer = _collect_commit_stats(spark, p, ["k", "s"])
    scan = _scan_stats(spark, p, ["k", "s"])
    assert _basename_keys(footer) == _basename_keys(scan)


def test_partitioned_commit_keeps_scan_path(spark, tmp_path):
    # spec'd (hive-partitioned) commits carry partition columns that do
    # not exist in footers; _collect_commit_stats must keep the scan
    # path and still produce relative col=val/ keys
    p = str(tmp_path / "c")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k bigint, part string"
    )
    df.coalesce(1).write.partitionBy("part").parquet(p)
    stats = _collect_commit_stats(
        spark, p, ["k", "part"], spec={"part": "string"}
    )
    assert all("part=" in rel for rel in stats)
    ks = sorted(v["k"] for v in stats.values())
    assert ks == [[1, 2], [3, 3]]


def test_footer_cap_falls_back_to_scan(spark, tmp_path, monkeypatch):
    # VERDICT r12 #4: past _FOOTER_DRIVER_MAX_FILES the driver-side
    # footer loop must bail (None) so callers run the distributed scan;
    # both paths must agree on the stats they record.
    import data_spark.io as io_mod

    p = str(tmp_path / "capped")
    spark.createDataFrame(
        [(i, f"s{i:03d}") for i in range(40)], "k int, s string"
    ).repartition(4).write.parquet(p)
    fast = io_mod._footer_dir_stats(p, ["k", "s"])
    assert fast is not None
    footer_stats = {
        rel: {
            c: [
                io_mod._json_stat(mn, down=True),
                io_mod._json_stat(mx, down=False),
            ]
            for c, (mn, mx, _n) in per.items()
        }
        for rel, per in fast[0].items()
    }
    n_rows_fast = io_mod._footer_row_count(p)
    monkeypatch.setattr(io_mod, "_FOOTER_DRIVER_MAX_FILES", 2)
    assert io_mod._footer_dir_stats(p, ["k", "s"]) is None
    assert io_mod._footer_row_count(p) is None
    # capped -> _collect_commit_stats takes the scan path; same output
    scan_stats = io_mod._collect_commit_stats(spark, p, ["k", "s"])
    assert scan_stats == footer_stats
    assert n_rows_fast == 40
