"""Per-commit key blooms for the versioned store — MEMBERSHIP file
skipping for tombstone pre-image recovery in the regime min/max bounds
can't help: scattered keys whose bounds span the whole table. Covers
the maintenance contract (inheritance across append/merge, rebuild on
compact/optimize/purge, lost-race rename, vacuum sweep) and probe
soundness (null-key bail, keep-set answer-invariance, cast guard).
"""

from __future__ import annotations

import os
import random
import re

import pyspark.sql.functions as F

import data_spark.io as dio
from data_spark.io import (
    _bloom_keep_files,
    _load_manifest,
    branch_head,
    compact_versioned,
    delete_versioned,
    maintain_versioned,
    merge_versioned,
    optimize_versioned,
    read_changes,
    read_versioned,
    vacuum_versions,
    write_versioned,
)
from data_spark.session import local_frame


def _scattered_table(spark, tp, n=4000, commits=4, bloom=True):
    """n rows split round-robin across commits, so every commit's [min,
    max] envelope on k spans ~the whole domain — bounds pruning skips
    nothing for any probe, the shape blooms exist for. Each commit is
    pinned to 16 files: a ``spark.range`` layout would follow the
    session's core count."""
    base = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 101).cast("bigint").alias("v")
    )
    write_versioned(
        base.filter(F.col("k") % commits == 0).repartition(16),
        tp,
        mode="overwrite",
        stats_cols=["k"],
        bloom_cols=["k"] if bloom else None,
    )
    for i in range(1, commits):
        write_versioned(
            base.filter(F.col("k") % commits == i).repartition(16),
            tp,
            mode="append",
            stats_cols=["k"],
        )
    return base


def _tomb(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k bigint")


def _pair(path):
    """(commit dir, file path relative to it) of a data file URI."""
    commit, rel = re.sub("^file:/+", "/", path).split("/data/", 1)[1].split("/", 1)
    return commit, rel


def _files_holding(spark, tp, keys, cols=("k",)):
    """Ground truth for the keep-map: every (commit, file) of the head
    version whose rows hold one of ``keys``, read from
    ``_metadata.file_path`` rather than from any bloom."""
    want = {tuple(k) if isinstance(k, tuple) else (k,) for k in keys}
    commits = _load_manifest(tp, branch_head(tp, "main"))["commits"]
    rows = (
        spark.read.parquet(*[os.path.join(tp, "data", c) for c in commits])
        .select(F.col("_metadata.file_path").alias("p"), *cols)
        .distinct()
        .collect()
    )
    return {_pair(r["p"]) for r in rows if tuple(r[c] for c in cols) in want}


def _kept(keep):
    return {(c, f) for c, files in keep.items() for f in files}


def _jobs_during(spark, fn):
    """``(fn(), Spark jobs it launched)`` — the max-job-id delta of the
    status tracker, with the listener bus drained on both sides so a
    late event from an earlier action is never counted."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    def top():
        bus.waitUntilEmpty()
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = top()
    out = fn()
    return out, top() - before


def test_bloom_inherited_across_appends_and_merge(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    m = _load_manifest(tp, branch_head(tp, "main"))
    assert m["bloom"]["cols"] == ["k"]
    assert sorted(m["bloom"]["dirs"]) == sorted(m["commits"])
    # a merge's data commit joins the bloom dirs without being asked
    src = spark.createDataFrame([(7, 999, False)], "k bigint, v bigint, is_del boolean")
    merge_versioned(src, tp, keys=["k"], delete_col="is_del")
    m2 = _load_manifest(tp, branch_head(tp, "main"))
    assert sorted(m2["bloom"]["dirs"]) == sorted(m2["commits"])
    for d in m2["bloom"]["dirs"]:
        assert os.path.isdir(os.path.join(tp, "blooms", d))


def test_scattered_keys_prune_to_containing_files(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    m = _load_manifest(tp, branch_head(tp, "main"))
    keys = [3, 1001, 2002, 3999]
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, keys))
    assert keep is not None and set(keep) == set(m["commits"])
    kept = sum(len(s) for s in keep.values())
    total = sum(
        1
        for c in m["commits"]
        for f in os.listdir(os.path.join(tp, "data", c))
        if f.endswith(".parquet")
    )
    # 4 keys can live in at most 4 files; bloom fpp may add a few false
    # positives but must never approach the full file count
    assert kept <= 8, (kept, total)
    assert total >= 64  # the scan this probe avoided
    assert _files_holding(spark, tp, keys) <= _kept(keep)
    # and recovery through the probe is exact: CDF delete pre-images
    v0 = branch_head(tp, "main")
    delete_versioned(_tomb(spark, keys), tp)
    got = sorted(r["k"] for r in read_changes(spark, tp, v0).collect())
    assert got == sorted(keys)
    assert read_versioned(spark, tp).count() == 4000 - len(keys)


def test_bloom_equals_bloomless_feed(spark, tmp_path):
    """Answer-invariance: the same scattered merge interval feeds
    identical change rows with and without blooms maintained."""
    rows = {}
    for name, bloom in (("b", True), ("p", False)):
        tp = str(tmp_path / name)
        _scattered_table(spark, tp, bloom=bloom)
        v0 = branch_head(tp, "main")
        src = spark.createDataFrame(
            [(5, -1, False), (1500, -2, False), (3997, -3, True), (9999, -4, False)],
            "k bigint, v bigint, is_del boolean",
        )
        merge_versioned(src, tp, keys=["k"], delete_col="is_del", change_feed=True)
        delete_versioned(_tomb(spark, [8, 2500]), tp, change_feed=True)
        rows[name] = sorted(
            (r["k"], r["v"], r["_change_type"], r["_commit_version"])
            for r in read_changes(spark, tp, v0).collect()
        )
    assert rows["b"] == rows["p"]


def test_null_tombstone_key_bails_and_stays_correct(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    tomb = spark.createDataFrame([(None,), (5,)], "k bigint")
    assert _bloom_keep_files(spark, tp, m, tomb) is None
    v0 = branch_head(tp, "main")
    delete_versioned(_tomb(spark, [5]), tp)
    assert [r["k"] for r in read_changes(spark, tp, v0).collect()] == [5]


def test_probe_bails_on_convention_mismatch(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    # key set not covering the bloom columns
    assert (
        _bloom_keep_files(
            spark, tp, m, spark.createDataFrame([(1,)], "other bigint")
        )
        is None
    )
    # hash-convention drift
    stale = {**m, "bloom": {**m["bloom"], "hash_version": -1}}
    assert _bloom_keep_files(spark, tp, stale, _tomb(spark, [1])) is None
    # oversized key set
    old = dio._BLOOM_PROBE_MAX_KEYS
    dio._BLOOM_PROBE_MAX_KEYS = 2
    try:
        assert _bloom_keep_files(spark, tp, m, _tomb(spark, [1, 2, 3])) is None
    finally:
        dio._BLOOM_PROBE_MAX_KEYS = old


def test_compact_optimize_rebuild_blooms(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=800, commits=3)
    compact_versioned(spark, tp, stats_cols=["k"])
    m = _load_manifest(tp, branch_head(tp, "main"))
    assert len(m["commits"]) == 1 and m["bloom"]["dirs"] == m["commits"]
    optimize_versioned(spark, tp, zorder_cols=["k"])
    m2 = _load_manifest(tp, branch_head(tp, "main"))
    assert m2["bloom"]["dirs"] == m2["commits"]
    keep = _bloom_keep_files(spark, tp, m2, _tomb(spark, [17]))
    assert keep is not None and sum(len(s) for s in keep.values()) >= 1


def test_purge_rebuilds_covered_commits_only(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=800, commits=3)
    delete_versioned(_tomb(spark, [3, 400]), tp)
    report = maintain_versioned(spark, tp, max_delete_entries=0)
    assert report["purged"] is not None
    m = _load_manifest(tp, branch_head(tp, "main"))
    assert sorted(m["bloom"]["dirs"]) == sorted(m["commits"])
    # purged rows are really out of the bloom: probing a purged key
    # must still be CORRECT (semi-join residual) after the rewrite
    v0 = branch_head(tp, "main")
    delete_versioned(_tomb(spark, [5]), tp)
    assert [r["k"] for r in read_changes(spark, tp, v0).collect()] == [5]


def test_vacuum_sweeps_dead_bloom_dirs(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    old_dirs = _load_manifest(tp, branch_head(tp, "main"))["bloom"]["dirs"]
    compact_versioned(spark, tp, stats_cols=["k"])
    keep_from = branch_head(tp, "main")
    removed = vacuum_versions(tp, keep_from=keep_from)
    for d in old_dirs:
        assert not os.path.isdir(os.path.join(tp, "blooms", d))
        assert os.path.join("blooms", d) in removed
    m = _load_manifest(tp, keep_from)
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, [9]))
    assert keep is not None  # the surviving commit's bloom still probes


def test_missing_bloom_dir_reads_fully_not_wrongly(spark, tmp_path):
    """A bloom dir deleted out-of-band (partial vacuum, manual rm) must
    drop that commit from the keep map — unpruned, never empty."""
    import shutil

    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    victim = m["bloom"]["dirs"][0]
    shutil.rmtree(os.path.join(tp, "blooms", victim))
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, [6]))
    assert keep is not None and victim not in keep
    v0 = branch_head(tp, "main")
    delete_versioned(_tomb(spark, [6]), tp)
    assert [r["k"] for r in read_changes(spark, tp, v0).collect()] == [6]


def test_lost_race_renames_bloom_dir(spark, tmp_path, monkeypatch):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    real = dio._publish_manifest
    fails = {"n": 1}

    def flaky(table_path, new_v, manifest):
        if fails["n"]:
            fails["n"] -= 1
            # simulate a concurrent writer landing this version first
            # (a faithful head copy, so the bloom convention survives)
            head = _load_manifest(table_path, branch_head(table_path, "main"))
            real(table_path, new_v, {**head, "version": new_v})
            return False
        return real(table_path, new_v, manifest)

    monkeypatch.setattr(dio, "_publish_manifest", flaky)
    write_versioned(
        spark.range(4).select(F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")),
        tp,
        mode="append",
        stats_cols=["k"],
    )
    monkeypatch.setattr(dio, "_publish_manifest", real)
    m = _load_manifest(tp, branch_head(tp, "main"))
    # the renamed commit's bloom dir exists under the FINAL name and is
    # referenced; probing it finds the appended key
    assert sorted(m["bloom"]["dirs"]) == sorted(
        d for d in m["commits"] if os.path.isdir(os.path.join(tp, "blooms", d))
    )
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, [2]))
    assert keep is not None
    assert any(m["commits"][-1] == c and s for c, s in keep.items())


def test_int_probe_against_bigint_bloom_casts_soundly(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    tomb32 = spark.createDataFrame([(7,)], "k int")
    keep = _bloom_keep_files(spark, tp, m, tomb32)
    assert keep is not None and sum(len(s) for s in keep.values()) >= 1


def test_scatter_hint_silent_on_bloom_covered_table(spark, tmp_path, caplog):
    """The scattered-bounds maintenance hint exists to route callers to
    a fix; a bloom-covered table already HAS the fix, so a scattered
    merge there must not warn."""
    import logging

    tp_b = str(tmp_path / "b")
    tp_p = str(tmp_path / "p")
    _scattered_table(spark, tp_b, n=2000, commits=3, bloom=True)
    _scattered_table(spark, tp_p, n=2000, commits=3, bloom=False)
    src = spark.createDataFrame(
        [(1, -1, False), (1999, -2, False)], "k bigint, v bigint, is_del boolean"
    )
    with caplog.at_level(logging.WARNING, logger="data_spark.io"):
        merge_versioned(src, tp_b, keys=["k"], delete_col="is_del")
    assert not [r for r in caplog.records if "scattered" in r.message]
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="data_spark.io"):
        merge_versioned(src, tp_p, keys=["k"], delete_col="is_del")
    assert [r for r in caplog.records if "scattered" in r.message]


def test_hot_tail_bounds_skip_bloom_probe(spark, tmp_path):
    """On a key-CLUSTERED table the bounds candidate filter must keep
    the bloom probe away from commits whose files all fall outside the
    changed key range — hot-tail merges pay nothing for older history."""
    from data_spark.io import _bounds_candidate_dirs

    tp = str(tmp_path / "t")
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 101).cast("bigint").alias("v")
    )
    # RANGE-partitioned commits: commit i holds keys [i*1000, (i+1)*1000)
    write_versioned(
        base.filter(F.col("k") < 1000), tp, mode="overwrite",
        stats_cols=["k"], bloom_cols=["k"],
    )
    for i in range(1, 4):
        write_versioned(
            base.filter((F.col("k") >= i * 1000) & (F.col("k") < (i + 1) * 1000)),
            tp, mode="append", stats_cols=["k"],
        )
    m = _load_manifest(tp, branch_head(tp, "main"))
    # a hot-tail tombstone: keys only in the LAST commit's range
    bounds = {"k": [3900, 3950, 0]}
    cand = _bounds_candidate_dirs(m, bounds)
    assert cand == {m["commits"][-1]}
    keep = _bloom_keep_files(
        spark, tp, m, _tomb(spark, [3901, 3944]), candidate_dirs=cand
    )
    assert keep is not None and set(keep) == {m["commits"][-1]}
    # and the recovery is exact through the restricted probe
    v0 = branch_head(tp, "main")
    delete_versioned(_tomb(spark, [3901, 3944]), tp)
    got = sorted(r["k"] for r in read_changes(spark, tp, v0).collect())
    assert got == [3901, 3944]


def _data_files(df):
    return [f for f in df.inputFiles() if "/data/" in f]


def test_where_equality_point_lookup_uses_bloom(spark, tmp_path):
    """S9-style point get through ``read_versioned(where='k = N')`` on
    a scattered-layout table: the equality conjunct consults the key
    bloom, so the scan opens only the files that can contain the key —
    the where residual keeps it answer-exact."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    full = read_versioned(spark, tp).filter("k = 1234").collect()
    pt = read_versioned(spark, tp, where="k = 1234")
    assert sorted(map(tuple, pt.collect())) == sorted(map(tuple, full))
    opened = _data_files(pt)
    total = _data_files(read_versioned(spark, tp))
    assert len(total) >= 64
    assert len(opened) <= 4, (len(opened), len(total))
    assert _files_holding(spark, tp, [1234]) <= {_pair(p) for p in opened}
    # a key past the domain: zero files opened, empty result, no error
    miss = read_versioned(spark, tp, where="k = 999999")
    assert miss.count() == 0
    assert len(_data_files(miss)) == 0


def test_where_point_lookup_composes_and_degrades(spark, tmp_path):
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    # equality on a NON-bloom column: no bloom consult, still correct
    got = read_versioned(spark, tp, where="v = 7")
    want = read_versioned(spark, tp).filter("v = 7")
    assert got.count() == want.count() > 0
    # compound predicate: the bloom prunes on k, the rest filters rows
    got2 = read_versioned(spark, tp, where="k = 2000 AND v >= 0").collect()
    assert [r["k"] for r in got2] == [2000]
    # point lookup still correct after a delete tombstones the key
    delete_versioned(_tomb(spark, [2000]), tp)
    assert read_versioned(spark, tp, where="k = 2000").count() == 0


def test_compact_rederives_bloom_bits_for_density(spark, tmp_path):
    """A full rewrite packs many small files into few dense ones; the
    inherited bit size would saturate (fpp -> 1, all files kept). The
    single-commit compact/optimize result re-derives bits from the new
    density, and the probe still prunes afterwards."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=20000, commits=4)
    bits0 = _load_manifest(tp, branch_head(tp, "main"))["bloom"]["bits"]
    compact_versioned(spark, tp, stats_cols=["k"])
    m = _load_manifest(tp, branch_head(tp, "main"))
    # 20k rows in one commit of few files: bits must have grown past
    # the multi-file setup sizing
    assert m["bloom"]["bits"] > bits0
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, [17]))
    assert keep is not None
    kept = sum(len(s) for s in keep.values())
    total = sum(len(files) for files in m["stats"].values())
    assert 1 <= kept < total or total == 1


def test_compound_key_point_lookup(spark, tmp_path):
    """Multi-column bloom keys hash as ONE tuple; a where= with
    equality on every key column probes it."""
    tp = str(tmp_path / "t")
    base = spark.range(0, 3000).select(
        (F.col("id") % 50).alias("a"),
        (F.col("id") / 50).cast("bigint").alias("b"),
        F.col("id").alias("v"),
    )
    write_versioned(
        base.repartition(16), tp, mode="overwrite",
        stats_cols=["a", "b"], bloom_cols=["a", "b"],
    )
    got = read_versioned(spark, tp, where="a = 7 AND b = 33").collect()
    assert [(r["a"], r["b"], r["v"]) for r in got] == [(7, 33, 33 * 50 + 7)]
    opened = _data_files(read_versioned(spark, tp, where="a = 7 AND b = 33"))
    total = _data_files(read_versioned(spark, tp))
    assert len(opened) < len(total)
    # equality on only ONE of the two key columns: no probe (the bloom
    # hashes the tuple), full correctness anyway
    part = read_versioned(spark, tp, where="a = 7")
    assert part.count() == 60


def test_merge_stream_sink_starts_and_inherits_blooms(spark, tmp_path):
    """A CDC stream whose sink bootstraps with bloom_cols keeps the
    convention on every merged batch — the steady-state shape the
    feature exists for."""
    from data_spark.streaming.jobs import merge_stream_sink

    src_dir = str(tmp_path / "src")
    tp = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    rows = spark.range(0, 300).select(
        F.col("id").alias("k"),
        F.col("id").alias("seq_ts"),
        F.col("id").alias("seq_id"),
        (F.col("id") % 7).alias("v"),
        F.lit(False).alias("is_del"),
    )
    rows.write.parquet(src_dir)
    stream = spark.readStream.schema(rows.schema).parquet(src_dir)
    q = merge_stream_sink(
        stream, tp, ckpt, keys=["k"], delete_col="is_del",
        stats_cols=["k"], bloom_cols=["k"],
    )
    q.awaitTermination(120)
    # second batch: an update lands as a MERGE and must inherit
    spark.createDataFrame(
        [(5, 1000, 1000, 99, False)],
        "k bigint, seq_ts bigint, seq_id bigint, v bigint, is_del boolean",
    ).write.mode("append").parquet(src_dir)
    q2 = merge_stream_sink(
        stream, tp, ckpt, keys=["k"], delete_col="is_del",
        stats_cols=["k"], bloom_cols=["k"],
    )
    q2.awaitTermination(120)
    m = _load_manifest(tp, branch_head(tp, "main"))
    assert m["bloom"]["cols"] == ["k"]
    assert sorted(m["bloom"]["dirs"]) == sorted(m["commits"])
    assert read_versioned(spark, tp).filter("k = 5").first()["v"] == 99


def test_where_in_list_membership_probe(spark, tmp_path):
    """P9-style ids-in probes: ``where="k IN (...)"`` probes the bloom
    with the LISTED values (the range collapse would keep every file on
    a scattered layout); answer-exact under the residual."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    q = read_versioned(spark, tp, where="k IN (15, 1230, 3888)")
    assert sorted(r["k"] for r in q.collect()) == [15, 1230, 3888]
    opened = _data_files(q)
    total = _data_files(read_versioned(spark, tp))
    assert len(total) >= 64
    assert len(opened) <= 9, (len(opened), len(total))
    assert _files_holding(spark, tp, [15, 1230, 3888]) <= {
        _pair(p) for p in opened
    }
    # equality + IN on the same column: the equality (shorter list) wins
    q2 = read_versioned(spark, tp, where="k = 15 AND k IN (15, 1230)")
    assert [r["k"] for r in q2.collect()] == [15]
    assert len(_data_files(q2)) <= 4
    # an IN list mixing representable values stays exact
    q3 = read_versioned(spark, tp, where="k IN (999998, 999999)")
    assert q3.count() == 0 and len(_data_files(q3)) == 0


def test_probe_cap_boundary_single_pass(spark, tmp_path, monkeypatch):
    """The fused one-job probe (guards + positions in one aggregate,
    requirement lists assembled driver-side) must keep the cap contract
    exact: AT the cap it runs and its keep-map recovers every key; ONE
    distinct key past the cap it bails to the unpruned read; duplicate
    tombstone rows collapse to distinct keys BEFORE the cap applies."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    monkeypatch.setattr(dio, "_BLOOM_PROBE_MAX_KEYS", 4)
    keys = [1, 102, 203, 304]
    keep = _bloom_keep_files(spark, tp, m, _tomb(spark, keys))
    assert keep is not None
    pruned = read_versioned(spark, tp, _keep_files=keep)
    got = sorted(
        r["k"]
        for r in pruned.join(_tomb(spark, keys), "k", "left_semi").collect()
    )
    assert got == keys  # no false negatives through the keep-map
    assert _bloom_keep_files(spark, tp, m, _tomb(spark, keys + [7])) is None
    dup = spark.createDataFrame(
        [(k,) for k in keys for _ in range(3)], "k bigint"
    )
    assert _bloom_keep_files(spark, tp, m, dup) is not None
    # a NULL key row still bails even when distinct keys fit the cap
    nullish = spark.createDataFrame([(1,), (None,)], "k bigint")
    assert _bloom_keep_files(spark, tp, m, nullish) is None


def test_word_mask_convention_matches_spark(spark):
    # ADVICE r12: the pos->(word, mask) packing exists twice (Spark
    # expression on the build side, Python on the probe side). Pin them
    # value-identical across bit 0, bit 63 (signed two's-complement
    # wrap) and a word boundary, so a layout change on one side fails
    # here instead of silently desynchronizing the probe.
    from data_spark.io import _bloom_word_mask_cols, _bloom_word_mask_py

    df = spark.range(0, 130).selectExpr("CAST(id AS BIGINT) AS pos")
    w_col, m_col = _bloom_word_mask_cols("pos")
    rows = df.select("pos", w_col.alias("w"), m_col.alias("m")).collect()
    assert len(rows) == 130
    for r in rows:
        assert _bloom_word_mask_py(int(r["pos"])) == (r["w"], r["m"]), r["pos"]


def test_keep_map_covers_every_file_holding_a_probed_key(spark, tmp_path):
    """Seeded hits, misses and IN lists against the ground truth: the
    tombstone-frame probe, the literal-key probe and the ``where=``
    read must each keep every file that holds a probed key."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp)
    m = _load_manifest(tp, branch_head(tp, "main"))
    for seed in (3, 11, 29):
        rng = random.Random(seed)
        hits = rng.sample(range(4000), 6)
        misses = [4000 + rng.randrange(10**6) for _ in range(3)]
        for keys in (hits, misses, hits[:3] + misses):
            truth = _files_holding(spark, tp, keys)
            # two hits may share a file; a miss is in none
            assert bool(truth) == any(k < 4000 for k in keys)
            for probe in (_tomb(spark, keys), [(k,) for k in keys]):
                keep = _bloom_keep_files(spark, tp, m, probe)
                assert keep is not None and truth <= _kept(keep), (seed, keys)
            q = read_versioned(
                spark, tp, where=f"k IN ({', '.join(map(str, keys))})"
            )
            assert sorted(r["k"] for r in q.collect()) == sorted(
                k for k in keys if k < 4000
            )
            assert truth <= {_pair(p) for p in _data_files(q)}


def test_literal_key_probe_launches_no_jobs(spark, tmp_path, monkeypatch):
    """Literal keys (``=``, ``IN``, compound keys) fold over a local
    relation and the bloom words are tested on the driver: the probe
    itself launches no Spark job."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    for keys in ([(7,)], [(7,), (102,), (7,), (999999,)]):
        keep, jobs = _jobs_during(
            spark, lambda: _bloom_keep_files(spark, tp, m, keys)
        )
        assert keep is not None and jobs == 0, (keys, jobs)
        assert _files_holding(spark, tp, [k for (k,) in keys]) <= _kept(keep)
    # the where= point reads reach the same literal probe
    probes = []
    real = dio._bloom_keep_files

    def counted(*a, **kw):
        out, jobs = _jobs_during(spark, lambda: real(*a, **kw))
        probes.append((out is not None, jobs))
        return out

    monkeypatch.setattr(dio, "_bloom_keep_files", counted)
    assert read_versioned(spark, tp, where="k = 7").count() == 1
    assert read_versioned(spark, tp, where="k IN (7, 102, 5000)").count() == 2
    assert probes == [(True, 0), (True, 0)]
    monkeypatch.undo()
    # compound keys hash as one tuple, still without a job
    tc = str(tmp_path / "c")
    base = spark.range(0, 600).select(
        (F.col("id") % 20).alias("a"), (F.col("id") / 20).cast("bigint").alias("b")
    )
    write_versioned(
        base.repartition(8), tc, mode="overwrite", bloom_cols=["a", "b"]
    )
    mc = _load_manifest(tc, branch_head(tc, "main"))
    keys = [(7, 3), (19, 29), (7, 999)]
    keep, jobs = _jobs_during(
        spark, lambda: _bloom_keep_files(spark, tc, mc, keys)
    )
    assert keep is not None and jobs == 0, jobs
    assert _files_holding(spark, tc, keys, cols=("a", "b")) <= _kept(keep)


def test_tombstone_probe_launches_at_most_two_jobs(spark, tmp_path):
    """A tombstone frame keeps its one fused guard-and-positions
    aggregate (its shuffle may add a second job); the bloom rows no
    longer cost Spark jobs."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    tomb = _tomb(spark, [1, 102, 203, 999999])
    keep, jobs = _jobs_during(spark, lambda: _bloom_keep_files(spark, tp, m, tomb))
    assert keep is not None and jobs <= 2, jobs
    assert _files_holding(spark, tp, [1, 102, 203]) <= _kept(keep)


def test_keep_map_equals_plain_loop_over_bloom_rows(spark, tmp_path):
    """The vectorized driver-side membership test against a plain loop
    over every bloom row: the keep-map is exactly the set of files whose
    words hold all k bits of some probed key, false positives included."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=2000, commits=2)
    m = _load_manifest(tp, branch_head(tp, "main"))
    cfg = m["bloom"]
    keys = random.Random(5).sample(range(4000), 40)
    keep = _bloom_keep_files(spark, tp, m, [(k,) for k in keys])
    pos = _tomb(spark, keys).select(
        F.array(*dio._bloom_positions(F.struct("k"), cfg["bits"], cfg["k"]))
    ).collect()
    reqs = [[dio._bloom_word_mask_py(int(p)) for p in r[0]] for r in pos]
    want = {}
    for c in cfg["dirs"]:
        rows = spark.read.parquet(os.path.join(tp, "blooms", c)).collect()
        words = {(r["file"], r["w"]): r["word"] for r in rows}
        want[c] = {
            f
            for f, _ in words
            if any(all(words.get((f, w), 0) & mask for w, mask in req) for req in reqs)
        }
    assert keep == want
    assert 0 < sum(map(len, want.values())) < sum(len(s) for s in m["stats"].values())


def test_point_read_with_live_tombstone_job_count(spark, tmp_path):
    """A bloom point read over a table with one live tombstone: the
    literal probe launches nothing, the scans plan from footer schemas
    read on the driver, and the tombstone's anti join needs no dedup
    shuffle — 2 jobs (5 while each scan inferred its schema and the
    tombstone was deduplicated)."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    delete_versioned(_tomb(spark, [5]), tp)
    rows, jobs = _jobs_during(
        spark, lambda: read_versioned(spark, tp, where="k = 7").collect()
    )
    assert [r["k"] for r in rows] == [7]
    assert jobs == 2, jobs


def test_change_feed_merge_job_count(spark, tmp_path):
    """``merge_versioned(change_feed=True)`` with a local-relation
    source on a bloom table: 9 jobs (15 with a schema-inference job per
    internal read and a deduplicated tombstone)."""
    tp = str(tmp_path / "t")
    _scattered_table(spark, tp, n=400, commits=2)
    src = local_frame(spark, [(7, 1), (102, 2), (5000, 3)], "k bigint, v bigint")
    v0 = branch_head(tp, "main")
    v, jobs = _jobs_during(
        spark, lambda: merge_versioned(src, tp, keys=["k"], change_feed=True)
    )
    assert jobs == 9, jobs
    got = {(r["k"], r["_change_type"]) for r in read_changes(spark, tp, v0).collect()}
    assert got == {
        (7, "update_preimage"), (7, "update_postimage"),
        (102, "update_preimage"), (102, "update_postimage"),
        (5000, "insert"),
    }
    assert v == v0 + 1
