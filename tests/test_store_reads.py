"""How the versioned store reads its own directories: schemas come from
parquet footers on the driver instead of a schema-inference job
(``io._read_store_parquet``), and tombstones are read without a
dedup, because duplicate keys on the build side of a semi or anti join
cannot change its result.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import data_spark.io as dio
from data_spark.io import (
    _footer_spark_schema,
    _load_manifest,
    _read_store_parquet,
    _write_change_files,
    branch_head,
    merge_versioned,
    optimize_versioned,
    purge_deletes,
    read_changes,
    read_versioned,
    table_versions,
    write_versioned,
)
from data_spark.session import local_frame
from test_bloom_pruning import _jobs_during
from test_versioned_stream_source import _drain

_MATRIX = """
    id AS b,
    CAST(id AS INT) AS i,
    IF(id = 3, NULL, CAST(id AS STRING)) AS s,
    CAST(id AS DOUBLE) / 3 AS d,
    CAST(id AS DECIMAL(12, 2)) AS dec,
    DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt,
    TIMESTAMP_SECONDS(id * 3600) AS ts,
    id % 2 = 0 AS flag,
    ARRAY(CAST(id AS STRING), 'x') AS arr,
    NAMED_STRUCT('n', id, 't', IF(id = 4, NULL, 'y')) AS st
"""


def _commit_dirs(tp):
    commits = _load_manifest(tp, branch_head(tp, "main"))["commits"]
    return [os.path.join(tp, "data", c) for c in commits]


def _described(schema):
    return [(f.name, f.dataType.simpleString(), f.nullable, f.metadata) for f in schema]


def test_footer_schema_equals_inference_for_dtype_matrix(spark, tmp_path):
    """The helper's read has the schema ``spark.read.parquet`` infers —
    field order, dtypes, nullability (the reader marks every field
    nullable, the footer's non-null ``b`` too) and field metadata — for
    a directory, several directories and single files; it plans with
    no job and returns the same rows."""
    tp = str(tmp_path / "t")
    df = spark.range(0, 12).selectExpr(*[e.strip() for e in _MATRIX.split(",\n")])
    df = df.withColumn("s", F.col("s").alias("s", metadata={"comment": "key"}))
    write_versioned(df.filter("b < 6").repartition(2), tp, mode="overwrite")
    write_versioned(df.filter("b >= 6").repartition(2), tp, mode="append")
    dirs = _commit_dirs(tp)
    files = sorted(
        os.path.join(dirs[0], f) for f in os.listdir(dirs[0]) if f.endswith(".parquet")
    )
    for paths in ([dirs[0]], dirs, files, [files[-1], dirs[1]]):
        want = spark.read.parquet(*paths)
        assert _footer_spark_schema(paths).names == want.columns
        fast, jobs = _jobs_during(spark, lambda: _read_store_parquet(spark, *paths))
        assert jobs == 0, (paths, jobs)
        assert _described(fast.schema) == _described(want.schema)
        assert fast.schema.json() == want.schema.json()
        assert sorted(map(str, fast.collect())) == sorted(map(str, want.collect()))


def test_store_reader_falls_back_to_inference(spark, tmp_path):
    """Where a footer answer is not provably inference's — commits of
    an ``allow_schema_evolution`` table disagree, ``merge_schema=True``,
    a file written without Spark's schema key — the helper infers, and
    its schema equals a plain read's."""
    tp = str(tmp_path / "t")
    write_versioned(
        spark.range(0, 5).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        tp,
        mode="overwrite",
    )
    write_versioned(
        spark.range(5, 9).selectExpr("id AS k", "CAST(id AS STRING) AS v", "id * 2 AS extra"),
        tp,
        mode="append",
        allow_schema_evolution=True,
    )
    dirs = _commit_dirs(tp)
    assert _footer_spark_schema(dirs) is None
    assert _footer_spark_schema([dirs[1]]).names == ["k", "v", "extra"]
    cases = [
        (dirs, {}, spark.read.parquet(*dirs)),
        (dirs, {"merge_schema": True}, spark.read.option("mergeSchema", "true").parquet(*dirs)),
        ([dirs[0]], {"merge_schema": True}, spark.read.parquet(dirs[0])),
    ]
    for paths, kw, want in cases:
        got, jobs = _jobs_during(spark, lambda: _read_store_parquet(spark, *paths, **kw))
        assert jobs >= 1, (paths, kw)
        assert got.schema == want.schema
    merged = read_versioned(spark, tp, merge_schema=True)
    assert merged.columns == ["k", "v", "extra"]
    assert merged.filter("extra IS NOT NULL").count() == 4

    plain = tmp_path / "arrow"
    plain.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "v": ["a", "b"]}),
        str(plain / "part-0.parquet"),
    )
    assert _footer_spark_schema([str(plain)]) is None
    got, jobs = _jobs_during(spark, lambda: _read_store_parquet(spark, str(plain)))
    assert jobs >= 1
    assert got.schema == spark.read.parquet(str(plain)).schema


# --- duplicate tombstone keys -------------------------------------------

_PLAIN_MERGES = 2  # merges 0 and 1 leave no change files; later ones write them
_MERGES = 5
_INDEXED_ABOVE = 2  # live tombstones past which read_versioned takes the indexed plan


def _merge_rows(i):
    """Merge ``i``'s source: keys repeated (identical rows), a repeated
    NULL key on every other merge, and a deleted key."""
    rows = [
        (i, f"m{i}", False),
        (i, f"m{i}", False),
        (20 + i, f"m{i}", False),
        (60 + i, f"m{i}", False),
        (60 + i, f"m{i}", False),
        (30 + i, None, True),
    ]
    if i % 2 == 0:
        rows += [(None, f"n{i}", False), (None, f"n{i}", False)]
    return rows


def _dup_table(spark, tp):
    base = [(k, f"a{k}") for k in range(40)] + [(None, "a-null")]
    write_versioned(
        local_frame(spark, base, "k bigint, v string").repartition(3),
        tp,
        mode="overwrite",
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    for i in range(_MERGES):
        merge_versioned(
            local_frame(
                spark, _merge_rows(i), "k bigint, v string, d boolean"
            ).coalesce(1),
            tp,
            keys=["k"],
            delete_col="d",
            change_feed=i >= _PLAIN_MERGES,
        )
    # and one tombstone dir duplicated by hand: every key twice
    d0 = _load_manifest(tp, branch_head(tp, "main"))["deletes"][0]["dir"]
    dd = os.path.join(tp, "deletes", d0)
    for f in os.listdir(dd):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(dd, f), os.path.join(dd, "z-copy-" + f))


def _dedup_copy(spark, src, dst):
    """``src`` with every tombstone dir deduplicated and every stored
    change dir rebuilt from the deduplicated tombstones."""
    shutil.copytree(src, dst)
    for d in os.listdir(os.path.join(dst, "deletes")):
        p = os.path.join(dst, "deletes", d)
        spark.read.parquet(p).dropDuplicates().write.parquet(p + "-tmp")
        shutil.rmtree(p)
        os.rename(p + "-tmp", p)
    for v in table_versions(dst):
        m = _load_manifest(dst, v)
        if m.get("changes"):
            shutil.rmtree(os.path.join(dst, "changes", m["changes"]))
            d_entry = m["deletes"][-1]
            _write_change_files(
                spark, dst, v - 1, m["mode"], d_entry["dir"],
                d_entry.get("bounds"), m["changes"],
                commit_dir=m["commits"][-1], keys=["k"],
            )


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


def test_duplicate_tombstone_keys_change_no_result(spark, tmp_path, monkeypatch):
    """A merge source with repeated keys (a repeated NULL key among
    them) writes a tombstone with duplicate keys, and one tombstone
    dir is duplicated by hand. Every tombstone consumer — both
    ``read_versioned`` plans, ``read_changes`` (stored and
    reconstructed), ``purge_deletes``, incremental OPTIMIZE and the
    ``versioned_table`` stream — answers exactly as over the same
    table with deduplicated tombstones. The indexed plan's threshold
    (8 live tombstones) is lowered so that five merges reach it."""
    monkeypatch.setattr(dio, "_TOMBSTONE_JOIN_THRESHOLD", _INDEXED_ABOVE)
    dup, ded = str(tmp_path / "dup"), str(tmp_path / "ded")
    _dup_table(spark, dup)
    tombs = os.path.join(dup, "deletes")
    tomb_rows = spark.read.parquet(*[os.path.join(tombs, d) for d in os.listdir(tombs)])
    assert tomb_rows.count() > tomb_rows.distinct().count()
    _dedup_copy(spark, dup, ded)

    versions = table_versions(dup)
    live = [len(_load_manifest(dup, v).get("deletes", [])) for v in versions]
    assert min(live) <= _INDEXED_ABOVE < max(live)  # both plans run
    for v in versions:
        assert _bag(read_versioned(spark, dup, version=v)) == _bag(
            read_versioned(spark, ded, version=v)
        ), v
    head = _bag(read_versioned(spark, ded))
    assert (None, "a-null") not in head and head[(0, "m0")] == 2

    assert _bag(read_changes(spark, dup, versions[0])) == _bag(
        read_changes(spark, ded, versions[0])
    )

    for name, tp in (("dup", dup), ("ded", ded)):
        shutil.copytree(tp, str(tmp_path / f"{name}-purge"))
        shutil.copytree(tp, str(tmp_path / f"{name}-opt"))
    for name in ("dup", "ded"):
        purge_deletes(spark, str(tmp_path / f"{name}-purge"))
        optimize_versioned(
            spark, str(tmp_path / f"{name}-opt"), ["k"], incremental=True
        )
        assert _bag(read_versioned(spark, str(tmp_path / f"{name}-purge"))) == head
        assert _bag(read_versioned(spark, str(tmp_path / f"{name}-opt"))) == head

    # the change-feed stream: the snapshot at the last merge without
    # change files (the source applies its tombstones with pyarrow),
    # then the stored change files
    got = []
    for n, tp in (("dup", dup), ("ded", ded)):
        out = str(tmp_path / f"out-{n}")
        _drain(
            spark, tp, str(tmp_path / f"ck-{n}"), out,
            read_changes="true", starting_version=str(versions[_PLAIN_MERGES]),
        )
        got.append(_bag(spark.read.parquet(out)))
    assert got[0] == got[1]
    assert {r[-2] for r in got[0]} >= {"insert", "update_postimage", "delete"}
