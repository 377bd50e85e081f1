"""Layout maintenance: the versioned store's commit log, tombstones,
compaction, OPTIMIZE ZORDER, vacuum and manifest publish, plus the
plain-parquet z-order writer and the staged table swap's crash
recovery (``validated_overwrite``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _file_envelopes(spark, path, col):
    """Per-file ``(min, max)`` of ``col`` over a plain parquet dataset,
    grouped by the hidden ``_metadata.file_path`` column."""
    return (
        spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("f"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    )


def test_versioned_table_time_travel_and_restore(spark, tmp_path):
    """Commit-log snapshots on plain parquet: append extends the parent
    manifest, overwrite starts a new one, every historical version
    stays readable (time travel), restore commits an old manifest as a
    new version, and vacuum deletes exactly the unreachable commits."""
    import os

    from data_spark.io import (
        read_versioned,
        restore_version,
        table_versions,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vtable")
    df0 = spark.range(0, 5).select(F.col("id").alias("k"))
    df1 = spark.range(5, 8).select(F.col("id").alias("k"))
    df2 = spark.range(100, 102).select(F.col("id").alias("k"))

    assert write_versioned(df0, path, "overwrite") == 0
    assert write_versioned(df1, path, "append") == 1
    assert write_versioned(df2, path, "overwrite") == 2
    assert table_versions(path) == [0, 1, 2]

    def ks(v=None):
        return sorted(r["k"] for r in read_versioned(spark, path, v).collect())

    assert ks(0) == [0, 1, 2, 3, 4]
    assert ks(1) == [0, 1, 2, 3, 4, 5, 6, 7]  # append = parent + delta
    assert ks(2) == [100, 101]  # overwrite snapshot
    assert ks() == [100, 101]  # latest

    # restore: history-preserving rollback to the append state
    assert restore_version(path, 1) == 3
    assert ks() == [0, 1, 2, 3, 4, 5, 6, 7]
    assert ks(2) == [100, 101]  # v2 still readable after restore

    # vacuum everything older than the restore: commit-2-* (only v2's)
    # becomes unreachable; commits 0 and 1 survive via v3
    removed = vacuum_versions(path, keep_from=3)
    assert len(removed) == 1 and removed[0].startswith("commit-2-")
    assert table_versions(path) == [3]
    assert ks() == [0, 1, 2, 3, 4, 5, 6, 7]
    data = sorted(os.listdir(os.path.join(path, "data")))
    assert len(data) == 2
    assert data[0].startswith("commit-0-") and data[1].startswith("commit-1-")


def test_rank_scaled_zorder_clusters_skewed_keys(spark, tmp_path):
    """Skew resistance: with 90% of u in a tiny dense range, min-max
    z-order collapses the cluster into one interleave level and a dense
    sub-range probe overlaps almost every file's envelope; rank (equi-
    depth) levels spread the cluster, so the same probe overlaps far
    fewer files. Content is identical either way."""
    from data_spark.io import write_zordered

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        # 90% dense in [0, 100), 10% flung to [1e8, 1e9)
        F.when(F.col("id") % 10 < 9, F.pmod(F.col("id") * 37, F.lit(100)))
        .otherwise(F.col("id") * 50000 + 100_000_000)
        .alias("u"),
        F.pmod(F.col("id") * 2654435761, F.lit(10000)).alias("v"),
    )

    def overlapping_files(mode):
        # probe a sub-range INSIDE the dense cluster (u in [40,60], any
        # v): min-max scaling maps the whole cluster to interleave
        # level ~0, so u contributes nothing to the layout and nearly
        # every file's envelope covers the probe; rank levels keep
        # separating values inside the cluster
        path = str(tmp_path / f"z_{mode}")
        write_zordered(df, path, ["u", "v"], num_files=16, scaling=mode)
        n = (
            _file_envelopes(spark, path, "u")
            .filter((F.col("lo") <= 60) & (F.col("hi") >= 40))
            .count()
        )
        rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        return n, rows

    n_minmax, rows_minmax = overlapping_files("minmax")
    n_rank, rows_rank = overlapping_files("rank")
    assert rows_minmax == rows_rank  # a layout choice, never a data change
    # minmax rides sampled range boundaries → its count can shift a
    # little under host load; assert the cluster-collapse direction
    # with margin.
    assert n_minmax >= 12, n_minmax  # cluster collapse: ~no u-pruning
    # rank routing is exact (global rank → file id → hash token), so
    # its envelope count is a pure function of the data: 8 of 16 files
    # on this fixture, load-invariant. Allow a little headroom so a
    # deliberate bits/num_files retune doesn't fail spuriously, but
    # keep it far below the minmax floor.
    assert n_rank <= 10, n_rank
    assert n_rank < n_minmax, (n_rank, n_minmax)


def test_zorder_four_columns_fits_bigint(spark, tmp_path):
    """4 cluster keys at the default bits=16 would place an interleave
    bit at position 63 — ``1 << 63`` overflows the signed-long literal
    and the whole rewrite died with NumberFormatException (ADVICE r6).
    The level width now auto-shrinks to ``63 // n_cols``; content is
    preserved and the layout still prunes on every key."""
    from data_spark.io import optimize_versioned, read_versioned, write_versioned, write_zordered

    df = spark.range(0, 8000).select(
        (F.col("id") % 97).alias("a"),
        ((F.col("id") * 7) % 89).alias("b"),
        ((F.col("id") * 13) % 83).alias("c"),
        ((F.col("id") * 29) % 79).alias("d"),
    )
    before = sorted(tuple(r) for r in df.collect())

    for mode in ("minmax", "rank"):
        path = str(tmp_path / f"z4_{mode}")
        write_zordered(df, path, ["a", "b", "c", "d"], num_files=8, scaling=mode)
        assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
        # the min/max envelopes must actually separate on a key. With 8
        # files only ~3 interleave bits order the range partitioning,
        # and LSB-first interleave puts the LAST column's top bit
        # highest — so `d` is the strongest-pruned key here.
        n_overlap = (
            _file_envelopes(spark, path, "d")
            .filter((F.col("lo") <= 5) & (F.col("hi") >= 0))
            .count()
        )
        assert n_overlap < 8, (mode, n_overlap)

    # and through OPTIMIZE ZORDER on the versioned store (the reproduced
    # failure path)
    table = str(tmp_path / "z4_opt")
    write_versioned(df.repartition(20), table)
    v = optimize_versioned(spark, table, zorder_cols=["a", "b", "c", "d"])
    assert sorted(tuple(r) for r in read_versioned(spark, table, v).collect()) == before


def test_table_swap_crash_recovery(spark, tmp_path):
    """A crash between a table swap's two renames leaves NO directory at
    `path` and the pre-swap table under a backup name. The next staged
    rewrite (validated_overwrite) must restore it instead of failing on
    a missing table, and sweep the crashed rewrite's leftovers
    (ADVICE r6)."""
    from data_spark.io import validated_overwrite

    df = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("x"))

    def crash_mid_swap(path):
        # backup-rename happened, live-rename did not; a stale staging
        # from the crashed rewrite is also lying around
        os.rename(path, f"{path}__bak_deadbeef")
        spark.range(3).write.parquet(f"{path}__staging_deadbeef")

    # validated_overwrite recovers the baseline BEFORE the shrink check:
    # a shrinking load must roll back against the restored table
    path = str(tmp_path / "t")
    df.repartition(4).write.parquet(path)
    crash_mid_swap(path)
    with pytest.raises(ValueError, match="rollback"):
        validated_overwrite(spark.range(5).select(F.col("id").alias("k")), path)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(1000))
    assert not os.path.exists(f"{path}__bak_deadbeef")
    assert not os.path.exists(f"{path}__staging_deadbeef")


def test_bloom_double_hash_stride_never_degenerates(spark, tmp_path):
    """Double hashing h1 + i·h2 collapses all k probes onto h1 whenever
    h2 ≡ 0 (mod m) — those values effectively get a 1-hash bloom and a
    far higher fpp (extra file reads). The stride is now forced into
    [1, m-1]; the store's bloom build and probe share the expression,
    so point lookups stay exact either way."""
    from data_spark.io import _bloom_positions, read_versioned, write_versioned

    bits, k = 4096, 5
    # find values whose OLD stride xxhash64(v,1) % bits was 0
    probe = spark.range(0, 500_000).select(
        F.col("id").alias("v"), F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(bits)).alias("h2_old")
    )
    degenerate = [r.v for r in probe.filter("h2_old = 0").limit(5).collect()]
    assert degenerate, "expected ~1/4096 of values to have h2 ≡ 0"

    # the new stride spreads every degenerate value over >1 position
    pos_df = spark.createDataFrame([(v,) for v in degenerate], "v long").select(
        F.array(*_bloom_positions(F.col("v"), bits, k)).alias("pos")
    )
    for r in pos_df.collect():
        assert len(set(r.pos)) > 1, r.pos

    # and a store build+probe round trip on such a value stays exact.
    # The store hashes its key tuple as one struct, so pick a value whose
    # OLD stride was 0 under that form
    h2_struct = F.pmod(F.xxhash64(F.struct(F.col("id")), F.lit(1)), F.lit(bits))
    u0 = spark.range(0, 500_000).filter(h2_struct == 0).first()["id"]
    table = str(tmp_path / "t")
    write_versioned(
        spark.range(0, 2000)
        .select(F.when(F.col("id") == 0, F.lit(u0)).otherwise(F.col("id") + 10_000_000).alias("u"))
        .repartition(8),
        table,
        bloom_cols=["u"],
        bloom_bits=bits,
    )
    got = read_versioned(spark, table, where=f"u = {u0}")
    assert [r.u for r in got.collect()] == [u0]
    # the bloom was consulted: files that cannot hold u0 were skipped
    assert len(got.inputFiles()) < len(read_versioned(spark, table).inputFiles())

    # degenerate sizing is rejected outright
    with pytest.raises(ValueError, match="bits"):
        _bloom_positions(F.lit(1), bits=1, k=3)


def test_tombstone_delete_lifecycle(spark, tmp_path):
    """Key tombstones on the versioned store: merge-on-read delete,
    history-position semantics (a later re-insert of a deleted key
    survives), time travel to pre-delete versions, physical purge
    equivalence, and vacuum reclaiming both superseded commits and the
    tombstones themselves."""
    from data_spark.io import (
        delete_versioned,
        purge_deletes,
        read_versioned,
        table_versions,
        vacuum_versions,
        write_versioned,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g" if i % 2 else "h", float(i)) for i in range(100)], "k long, g string, x double"
    )
    write_versioned(df.filter("k < 60"), table, "overwrite")          # v0
    write_versioned(df.filter("k >= 60"), table, "append")            # v1
    delete_versioned(df.filter("k % 10 = 0").select("k"), table)      # v2
    write_versioned(df.filter("k in (20, 40)"), table, "append")      # v3: re-insert

    def keys(version=None):
        return sorted(r.k for r in read_versioned(spark, table, version).collect())

    expected = sorted([k for k in range(100) if k % 10 != 0] + [20, 40])
    assert keys() == expected                       # re-inserts survive
    assert keys(2) == [k for k in range(100) if k % 10 != 0]
    assert keys(1) == list(range(100))              # time travel: pre-delete
    assert keys(0) == list(range(60))

    # delete costs O(tombstone): no data commit was rewritten by v2
    assert table_versions(table) == [0, 1, 2, 3]

    # physical purge: identical rows, no delete entries left
    v4 = purge_deletes(spark, table)
    assert keys(v4) == expected
    import json
    with open(f"{table}/_manifests/v{v4}.json") as f:
        assert "deletes" not in json.load(f)

    # vacuum to the purged version reclaims old commits AND tombstones
    removed = vacuum_versions(table, keep_from=v4)
    assert any(c.startswith("delete-") for c in removed)
    assert keys() == expected

    # a second purge with nothing to do is a no-op version-wise
    assert purge_deletes(spark, table) == v4


def test_versioned_stats_prune_file_skipping(spark, tmp_path):
    """Manifest-embedded file stats (write_versioned(stats_cols=...)):
    a range-pruned read opens only the overlapping files, answers
    exactly like the full-scan filter, composes with tombstones, and
    stats survive appends, deletes, restores, and purges."""
    import os

    from data_spark.io import (
        delete_versioned,
        purge_deletes,
        read_versioned,
        restore_version,
        write_versioned,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 8000).select(F.col("id").alias("k"), (F.col("id") % 13).alias("x"))
    # range-clustered layout so per-file k bounds are tight
    clustered = df.repartitionByRange(8, "k").sortWithinPartitions("k")
    write_versioned(clustered, table, "overwrite", stats_cols=["k"])   # v0
    write_versioned(
        spark.range(8000, 16000)
        .select(F.col("id").alias("k"), (F.col("id") % 13).alias("x"))
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k"),
        table,
        "append",
        stats_cols=["k"],
    )                                                                  # v1

    full = read_versioned(spark, table)
    n_files = len(full.inputFiles())
    assert n_files == 16

    pruned = read_versioned(spark, table, prune=("k", 2000, 2500))
    assert 0 < len(pruned.inputFiles()) < n_files
    expect = sorted(tuple(r) for r in full.filter("k between 2000 and 2500").collect())
    assert sorted(tuple(r) for r in pruned.collect()) == expect

    # prune hits the second commit too
    pruned2 = read_versioned(spark, table, prune=("k", 9000, 9100))
    assert sorted(r.k for r in pruned2.collect()) == list(range(9000, 9101))
    assert 0 < len(pruned2.inputFiles()) < n_files

    # one-sided range + out-of-range empties
    assert read_versioned(spark, table, prune=("k", 15990, None)).count() == 10
    empty = read_versioned(spark, table, prune=("k", 50000, 60000))
    assert empty.count() == 0 and empty.columns == ["k", "x"]

    # tombstones compose with pruning (delete half the probe range)
    delete_versioned(
        spark.range(2000, 2251).select(F.col("id").alias("k"),
                                       (F.col("id") % 13).alias("x")),
        table,
    )
    pruned3 = read_versioned(spark, table, prune=("k", 2000, 2500))
    assert sorted(r.k for r in pruned3.collect()) == list(range(2251, 2501))
    data_files3 = [f for f in pruned3.inputFiles() if "/data/" in f]
    assert 0 < len(data_files3) < n_files

    # purge recomputes stats for rewritten commits — pruning still works
    v = purge_deletes(spark, table)
    pruned4 = read_versioned(spark, table, version=v, prune=("k", 2000, 2500))
    assert sorted(r.k for r in pruned4.collect()) == list(range(2251, 2501))
    assert 0 < len(pruned4.inputFiles())

    # restore keeps the restored version's stats usable
    restore_version(table, 1)
    pruned5 = read_versioned(spark, table, prune=("k", 2000, 2100))
    assert sorted(r.k for r in pruned5.collect()) == list(range(2000, 2101))
    assert 0 < len(pruned5.inputFiles()) < n_files


def test_compact_versioned_collapses_commit_log(spark, tmp_path):
    """After many small commits (+ a tombstone), compaction rewrites
    the visible rows as ONE commit: reads resolve to a single data
    directory, content is unchanged, history stays time-travelable,
    the streaming batch-id replay guard still sees the max id, and
    vacuum afterwards reclaims the superseded commits and tombstones."""
    import os

    from data_spark.io import (
        compact_versioned,
        delete_versioned,
        last_committed_batch_id,
        read_versioned,
        table_versions,
        vacuum_versions,
        write_versioned,
    )

    table = str(tmp_path / "t")
    for i in range(6):  # 6 micro-batch-sized commits
        write_versioned(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id").alias("k")),
            table,
            "overwrite" if i == 0 else "append",
            meta={"batch_id": i},
        )
    delete_versioned(spark.range(0, 5).select(F.col("id").alias("k")), table)
    before = sorted(r.k for r in read_versioned(spark, table).collect())
    assert before == list(range(5, 60))
    n_dirs_before = len(
        {f.rsplit("/", 2)[-2] for f in read_versioned(spark, table).inputFiles() if "/data/" in f}
    )
    assert n_dirs_before == 6

    v = compact_versioned(spark, table, stats_cols=["k"])
    after = read_versioned(spark, table)
    assert sorted(r.k for r in after.collect()) == before
    dirs = {f.rsplit("/", 2)[-2] for f in after.inputFiles() if "/data/" in f}
    assert len(dirs) == 1 and dirs.pop().startswith(f"commit-{v}-")  # one directory now

    # history intact, replay guard intact, pruning works on new stats
    assert sorted(r.k for r in read_versioned(spark, table, 2).collect()) == list(range(30))
    assert last_committed_batch_id(table) == 5
    pruned = read_versioned(spark, table, prune=("k", 10, 12))
    assert sorted(r.k for r in pruned.collect()) == [10, 11, 12]

    removed = vacuum_versions(table, keep_from=v)
    assert len(removed) >= 6  # old commits + the tombstone dir
    assert sorted(r.k for r in read_versioned(spark, table).collect()) == before


def test_manifest_publish_is_create_if_absent(tmp_path):
    """The commit point must FAIL on an already-taken version number,
    never silently replace it — os.rename here would let the second
    writer overwrite the first's committed manifest (VERDICT r7)."""
    from data_spark.io import _load_manifest, _publish_manifest

    table = str(tmp_path / "t")
    assert _publish_manifest(table, 0, {"version": 0, "commits": ["commit-0-aaa"]})
    assert not _publish_manifest(table, 0, {"version": 0, "commits": ["commit-0-bbb"]})
    # the loser's attempt left the winner's manifest intact
    assert _load_manifest(table, 0)["commits"] == ["commit-0-aaa"]
    # no temp debris
    assert all(not n.endswith(".tmp") for n in os.listdir(os.path.join(table, "_manifests")))


def test_concurrent_appends_both_survive(spark, tmp_path):
    """Two writers appending concurrently: optimistic concurrency must
    commit BOTH as distinct versions with disjoint commit dirs — the
    pre-r8 rename-based publish silently dropped one (VERDICT r7)."""
    import threading

    from data_spark.io import read_versioned, table_versions, write_versioned

    table = str(tmp_path / "t")
    write_versioned(spark.range(0, 10).select(F.col("id").alias("k")), table, "overwrite")

    barrier = threading.Barrier(2)
    results, errors = {}, []

    def committer(tag, lo, hi):
        try:
            df = spark.range(lo, hi).select(F.col("id").alias("k"))
            barrier.wait()
            results[tag] = write_versioned(df, table, "append", meta={"writer": tag})
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [
        threading.Thread(target=committer, args=("a", 100, 110)),
        threading.Thread(target=committer, args=("b", 200, 210)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    # both committed, as different versions
    assert sorted(results.values()) == [1, 2]
    assert table_versions(table) == [0, 1, 2]
    # the final snapshot contains BOTH appends on top of the base
    got = sorted(r.k for r in read_versioned(spark, table).collect())
    assert got == list(range(0, 10)) + list(range(100, 110)) + list(range(200, 210))
    # disjoint commit dirs: v2's list extends v1's by exactly one new dir
    from data_spark.io import _load_manifest

    c1, c2 = _load_manifest(table, 1)["commits"], _load_manifest(table, 2)["commits"]
    assert len(c1) == 2 and len(c2) == 3 and c2[:2] == c1
    assert len(set(c2)) == 3


def test_concurrent_delete_recomputes_tombstone_scope(spark, tmp_path):
    """A delete that loses the commit race re-derives its `upto` from
    the NEW parent, so the tombstone covers the commits visible when it
    actually lands (and a post-delete append still resurrects keys)."""
    import threading

    from data_spark.io import (
        delete_versioned,
        read_versioned,
        table_versions,
        write_versioned,
    )

    table = str(tmp_path / "t")
    write_versioned(spark.range(0, 10).select(F.col("id").alias("k")), table, "overwrite")

    barrier = threading.Barrier(2)
    errors = []

    def do_append():
        try:
            df = spark.range(100, 105).select(F.col("id").alias("k"))
            barrier.wait()
            write_versioned(df, table, "append")
        except Exception as e:
            errors.append(e)

    def do_delete():
        try:
            keys = spark.range(0, 3).select(F.col("id").alias("k"))
            barrier.wait()
            delete_versioned(keys, table)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=do_append), threading.Thread(target=do_delete)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert table_versions(table) == [0, 1, 2]
    got = sorted(r.k for r in read_versioned(spark, table).collect())
    # keys 0-2 tombstoned; the concurrent append survives either order
    assert got == list(range(3, 10)) + list(range(100, 105))


def test_compact_versioned_never_drops_concurrent_append(spark, tmp_path):
    """Compaction snapshots the version it READ, so its commit must land
    at exactly read_version + 1: when an append sneaks in between the
    read and the publish, compaction must redo itself against the new
    head instead of committing a manifest that hides the append."""
    from data_spark import io as dio

    table = str(tmp_path / "t")
    dio.write_versioned(
        spark.range(0, 10).select(F.col("id").alias("k")), table, "overwrite"
    )
    dio.write_versioned(
        spark.range(10, 20).select(F.col("id").alias("k")), table, "append"
    )

    # inject a racing append between compaction's read and its publish:
    # the first publish attempt is made to lose deterministically
    real_publish = dio._publish_manifest
    state = {"raced": False}

    def racing_publish(table_path, new_v, manifest):
        if not state["raced"]:
            state["raced"] = True
            dio.write_versioned(
                spark.range(500, 505).select(F.col("id").alias("k")),
                table_path,
                "append",
            )
        return real_publish(table_path, new_v, manifest)

    dio._publish_manifest = racing_publish
    try:
        v = dio.compact_versioned(spark, table)
    finally:
        dio._publish_manifest = real_publish

    got = sorted(r.k for r in dio.read_versioned(spark, table).collect())
    assert got == list(range(0, 20)) + list(range(500, 505))
    # and the compacted head is a single commit dir
    files = dio.read_versioned(spark, table, v).inputFiles()
    assert len({f.rsplit("/", 2)[-2] for f in files if "/data/" in f}) == 1


def test_vacuum_preserves_stream_replay_guard(spark, tmp_path):
    """Vacuuming the manifests that recorded the streaming high-water
    batch id must not reset the replay guard: the dropped ids fold into
    _manifests/stream_state.json, which vacuum never removes (ADVICE
    r7 — without this a crash-replay after vacuum re-appends a batch)."""
    from data_spark.io import (
        last_committed_batch_id,
        table_versions,
        vacuum_versions,
        write_versioned,
    )

    table = str(tmp_path / "t")
    for i in range(3):
        write_versioned(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id").alias("k")),
            table,
            "overwrite" if i == 0 else "append",
            meta={"batch_id": i},
        )
    # a meta-less maintenance commit becomes the only survivor
    write_versioned(
        spark.range(0, 30).select(F.col("id").alias("k")), table, "overwrite"
    )
    assert last_committed_batch_id(table) == 2

    vacuum_versions(table, keep_from=3)
    assert table_versions(table) == [3]
    # every manifest carrying a batch_id is gone, the guard is not
    assert last_committed_batch_id(table) == 2

    # a later, larger id still wins over the folded state
    write_versioned(
        spark.range(0, 5).select(F.col("id").alias("k")),
        table,
        "append",
        meta={"batch_id": 7},
    )
    assert last_committed_batch_id(table) == 7


def test_vacuum_min_age_spares_inflight_commit_dirs(spark, tmp_path):
    """An in-flight writer's commit dir exists before its manifest does;
    vacuum with a retention window must not reclaim it."""
    from data_spark.io import read_versioned, vacuum_versions, write_versioned

    table = str(tmp_path / "t")
    write_versioned(spark.range(0, 5).select(F.col("id").alias("k")), table, "overwrite")
    write_versioned(spark.range(5, 9).select(F.col("id").alias("k")), table, "overwrite")
    # simulate an in-flight commit: data written, manifest not yet
    inflight = os.path.join(table, "data", "commit-2-inflight0")
    spark.range(100, 103).select(F.col("id").alias("k")).write.parquet(inflight)

    removed = vacuum_versions(table, keep_from=1, min_age_s=3600)
    assert removed == []  # everything is younger than the window
    assert os.path.isdir(inflight)

    removed = vacuum_versions(table, keep_from=1, min_age_s=0)
    assert any(r.startswith("commit-0-") for r in removed)
    assert "commit-2-inflight0" in removed  # age 0 = no writer running
    assert sorted(r.k for r in read_versioned(spark, table).collect()) == [5, 6, 7, 8]


def test_recover_table_prefers_newest_backup_by_name(spark, tmp_path):
    """os.rename preserves a directory's own mtime, so with multiple
    crashed-swap leftovers the mtime heuristic can resurrect a STALE
    snapshot; the backup name carries a creation counter that orders
    them correctly (ADVICE r7)."""
    import time as _time

    from data_spark.io import _backup_tag, _recover_table

    path = str(tmp_path / "t")
    old = spark.range(0, 3).select(F.col("id").alias("k"))
    new = spark.range(100, 104).select(F.col("id").alias("k"))

    older_bak = f"{path}__bak_{_backup_tag()}"
    old.write.parquet(older_bak)
    newer_bak = f"{path}__bak_{_backup_tag()}"
    new.write.parquet(newer_bak)
    # defeat the mtime heuristic: make the OLDER backup look recent
    _time.sleep(0.01)
    os.utime(older_bak, None)
    assert os.path.getmtime(older_bak) > os.path.getmtime(newer_bak)

    _recover_table(path)
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [100, 101, 102, 103]
    assert not os.path.exists(older_bak) and not os.path.exists(newer_bak)


def test_append_retry_keeps_stats_on_renamed_commit_dir(spark, tmp_path):
    """An append that loses the commit race renames its (exclusively
    owned) data dir to the next version number — the manifest's stats
    entry must follow the RENAMED name, or pruned reads would treat the
    new commit as stats-less (no skipping) or, worse, key stats to a
    directory that no longer exists."""
    import json

    from data_spark import io as dio

    table = str(tmp_path / "t")
    dio.write_versioned(
        spark.range(0, 100).select(F.col("id").alias("k")),
        table,
        "overwrite",
        stats_cols=["k"],
    )

    real_publish = dio._publish_manifest
    state = {"raced": False}

    def racing_publish(table_path, new_v, manifest):
        if not state["raced"]:
            state["raced"] = True
            dio.write_versioned(
                spark.range(1000, 1100).select(F.col("id").alias("k")),
                table_path,
                "append",
            )
        return real_publish(table_path, new_v, manifest)

    dio._publish_manifest = racing_publish
    try:
        v = dio.write_versioned(
            spark.range(500, 600).select(F.col("id").alias("k")),
            table,
            "append",
            stats_cols=["k"],
        )
    finally:
        dio._publish_manifest = real_publish

    assert v == 2  # lost one race, committed at the next number
    with open(os.path.join(table, "_manifests", "v2.json")) as f:
        m = json.load(f)
    own_dir = m["commits"][-1]
    assert own_dir.startswith("commit-2-")
    assert own_dir in m.get("stats", {}), "stats key did not follow the rename"
    assert os.path.isdir(os.path.join(table, "data", own_dir))

    # the recorded bounds actually skip: commit-0's stats ([0,99]) prune
    # it away entirely; the racing append committed WITHOUT stats so it
    # reads fully (conservative); the retried commit's files survive
    pruned = dio.read_versioned(spark, table, prune=("k", 500, 599))
    assert sorted(r.k for r in pruned.collect()) == list(range(500, 600))
    files = pruned.inputFiles()
    assert any(own_dir in f for f in files)
    assert not any("commit-0-" in f for f in files)


def test_optimize_versioned_zorders_snapshot_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER on the versioned store: rows preserved exactly
    (tombstones applied), the new head is one z-ordered commit whose
    manifest stats prune multi-column range probes, history stays
    readable, and a concurrent append during the rewrite is never
    dropped (commit lands at read-version + 1 or redoes)."""
    from data_spark import io as dio

    table = str(tmp_path / "t")
    # fragmented history: 4 appends + a delete
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id") * 2654435761, F.lit(4000))).alias("u"),
    )
    for i in range(4):
        dio.write_versioned(
            df.filter((F.col("k") >= i * 1000) & (F.col("k") < (i + 1) * 1000)),
            table,
            "overwrite" if i == 0 else "append",
        )
    dio.delete_versioned(spark.range(0, 100).select(F.col("id").alias("k")), table)
    before = sorted(tuple(r) for r in dio.read_versioned(spark, table).collect())

    v = dio.optimize_versioned(
        spark, table, zorder_cols=["k", "u"], target_file_bytes=8 << 10
    )
    after = dio.read_versioned(spark, table, v)
    assert sorted(tuple(r) for r in after.collect()) == before
    dirs = {f.rsplit("/", 2)[-2] for f in after.inputFiles() if "/data/" in f}
    assert len(dirs) == 1 and dirs.pop().startswith(f"commit-{v}z-")

    # multi-column stats prune: range probes on EITHER z-order column
    # open a strict subset of the files (the point of z-order vs a
    # single-column sort, where the second column never prunes),
    # answers unchanged
    all_files = set(after.inputFiles())
    assert len(all_files) > 2  # the tiny target forced several files
    for col in ("k", "u"):
        pruned = dio.read_versioned(spark, table, prune=(col, 0, 399))
        assert set(pruned.inputFiles()) < all_files, f"no pruning on {col}"
        expect = sorted(
            tuple(r) for r in after.filter(F.col(col).between(0, 399)).collect()
        )
        assert sorted(tuple(r) for r in pruned.collect()) == expect

    # history intact
    assert len(dio.read_versioned(spark, table, 0).collect()) == 1000

    # concurrent append during the rewrite: redo, nothing dropped
    real_publish = dio._publish_manifest
    state = {"raced": False}

    def racing_publish(table_path, new_v, manifest):
        if not state["raced"]:
            state["raced"] = True
            dio.write_versioned(
                spark.range(9000, 9010).select(
                    F.col("id").alias("k"), F.col("id").alias("u")
                ),
                table_path,
                "append",
            )
        return real_publish(table_path, new_v, manifest)

    dio._publish_manifest = racing_publish
    try:
        v2 = dio.optimize_versioned(spark, table, zorder_cols=["k", "u"])
    finally:
        dio._publish_manifest = real_publish
    got = sorted(r.k for r in dio.read_versioned(spark, table, v2).collect())
    assert got == [r[0] for r in before] + list(range(9000, 9010))


# --------------------------------------------- manifest-publish seam


class _FakeConditionalStore:
    """Object-store stand-in for the manifest-publish seam: an
    in-memory key set is the conditional-PUT authority (GCS
    if-generation-match:0 / S3 If-None-Match:* semantics); winning
    puts write through to disk so manifest READERS keep working."""

    def __init__(self):
        self.keys: set[str] = set()
        self.puts = 0
        self.lost = 0

    def publish_if_absent(self, tmp: str, final: str) -> bool:
        import shutil

        self.puts += 1
        if final in self.keys or os.path.exists(final):
            self.lost += 1
            return False
        self.keys.add(final)
        shutil.copyfile(tmp, final)
        return True


def test_object_store_publisher_end_to_end(spark, tmp_path):
    """The whole versioned-store protocol runs unchanged on a
    conditional-PUT publisher (no hard links involved)."""
    from data_spark import io as dio

    store = _FakeConditionalStore()
    table = str(tmp_path / "t")
    dio.set_manifest_publisher(store.publish_if_absent)
    try:
        v0 = dio.write_versioned(
            spark.range(0, 10).select(F.col("id").alias("k")), table, "overwrite"
        )
        v1 = dio.write_versioned(
            spark.range(10, 15).select(F.col("id").alias("k")), table, "append"
        )
    finally:
        dio.set_manifest_publisher(None)
    assert (v0, v1) == (0, 1)
    assert store.puts == 2 and store.lost == 0
    got = sorted(r.k for r in dio.read_versioned(spark, table).collect())
    assert got == list(range(15))
    # time travel still works through the fake store's objects
    assert len(dio.read_versioned(spark, table, 0).collect()) == 10


def test_object_store_publisher_lost_race_retries(spark, tmp_path):
    """When a competing writer's conditional PUT lands version N first,
    the loser's publish returns False and write_versioned retries at
    N+1 — both commits survive, matching the POSIX-link behavior."""
    from data_spark import io as dio

    store = _FakeConditionalStore()
    table = str(tmp_path / "t")
    state = {"injected": False}

    def racing(tmp: str, final: str) -> bool:
        # first v1 attempt: another writer wins the key just before us
        if not state["injected"] and final.endswith("v1.json"):
            state["injected"] = True
            import json

            competing = {"version": 1, "mode": "append",
                         "commits": ["commit-0-base", "commit-1-rival"]}
            with open(final + ".rival", "w") as f:
                json.dump(competing, f)
            assert store.publish_if_absent(final + ".rival", final)
            os.remove(final + ".rival")
        return store.publish_if_absent(tmp, final)

    dio.set_manifest_publisher(racing)
    try:
        dio.write_versioned(
            spark.range(0, 10).select(F.col("id").alias("k")), table, "overwrite"
        )
        v = dio.write_versioned(
            spark.range(100, 110).select(F.col("id").alias("k")), table, "append"
        )
    finally:
        dio.set_manifest_publisher(None)
    # our append lost v1 to the rival and landed at v2
    assert v == 2
    assert store.lost == 1
    assert dio.table_versions(table) == [0, 1, 2]
    # v2's manifest extends the RIVAL's commit list (re-read parent)
    m2 = dio._load_manifest(table, 2)
    assert m2["commits"][:2] == ["commit-0-base", "commit-1-rival"]
    assert len(m2["commits"]) == 3 and m2["commits"][2].startswith("commit-2-")


def test_merge_versioned_is_one_atomic_version(spark, tmp_path):
    """MERGE INTO: upsert + delete as ONE version — no reader, current
    or time-traveling, can observe the torn delete-then-append middle
    state; matched keys replaced, unmatched inserted, delete-marked
    rows removed."""
    from data_spark.io import (
        _load_manifest,
        merge_versioned,
        read_versioned,
        table_versions,
        write_versioned,
    )

    table = str(tmp_path / "t")
    base = spark.createDataFrame([(k, k * 10.0) for k in range(10)], "k long, x double")
    write_versioned(base, table, "overwrite")
    src = spark.createDataFrame(
        [(3, 999.0, False), (100, 1.0, False), (7, 0.0, True)],
        "k long, x double, is_del boolean",
    )
    v = merge_versioned(src, table, keys=["k"], delete_col="is_del")
    assert table_versions(table) == [0, 1] and v == 1
    got = {(r.k, r.x) for r in read_versioned(spark, table).collect()}
    expect = {(k, k * 10.0) for k in range(10) if k not in (3, 7)} | {
        (3, 999.0),
        (100, 1.0),
    }
    assert got == expect
    # single manifest carries BOTH the tombstone and the data commit
    m = _load_manifest(table, v)
    assert m["mode"] == "merge"
    assert len(m["commits"]) == 2 and len(m["deletes"]) == 1
    # tombstone scope excludes the merge's own commit: the upsert for a
    # tombstoned key survives
    assert m["deletes"][0]["upto"] == 1
    # time travel: v0 still reads the pre-merge rows
    assert read_versioned(spark, table, version=0).count() == 10


def test_merge_versioned_reinsert_after_delete_survives(spark, tmp_path):
    from data_spark.io import merge_versioned, read_versioned, write_versioned

    table = str(tmp_path / "t")
    write_versioned(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double"),
        table,
        "overwrite",
    )
    merge_versioned(
        spark.createDataFrame([(1, 0.0, True)], "k long, x double, is_del boolean"),
        table,
        keys=["k"],
        delete_col="is_del",
    )
    assert {r.k for r in read_versioned(spark, table).collect()} == {2}
    # a later merge re-inserting the deleted key is a NEW fact
    merge_versioned(
        spark.createDataFrame([(1, 5.0, False)], "k long, x double, is_del boolean"),
        table,
        keys=["k"],
        delete_col="is_del",
    )
    got = {(r.k, r.x) for r in read_versioned(spark, table).collect()}
    assert got == {(1, 5.0), (2, 2.0)}


def test_optimize_versioned_incremental_rewrites_only_the_delta(spark, tmp_path):
    """Incremental OPTIMIZE: commits already clustered on the same
    columns are kept byte-identical; only post-optimize commits (with
    their tombstones applied) are rewritten — O(delta), the only
    schedulable maintenance shape at 100 TB."""
    import os

    from data_spark.io import (
        _load_manifest,
        delete_versioned,
        optimize_versioned,
        read_versioned,
        write_versioned,
    )

    table = str(tmp_path / "t")

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("c")
        )

    write_versioned(df(0, 4000), table, "overwrite")
    v_full = optimize_versioned(spark, table, zorder_cols=["k", "c"])
    # no-op when fully clustered
    assert (
        optimize_versioned(spark, table, zorder_cols=["k", "c"], incremental=True)
        == v_full
    )
    big_commit = _load_manifest(table, v_full)["commits"][0]
    mtime_before = os.path.getmtime(
        os.path.join(table, "data", big_commit)
    )
    write_versioned(df(4000, 4400), table, "append")
    delete_versioned(spark.createDataFrame([(7,), (4100,)], "k long"), table)
    v_incr = optimize_versioned(
        spark, table, zorder_cols=["k", "c"], incremental=True
    )
    m = _load_manifest(table, v_incr)
    assert m["mode"] == "optimize-incr"
    # the optimized prefix was KEPT (same dir, untouched), delta rewritten
    assert m["commits"][0] == big_commit
    assert len(m["commits"]) == 2
    assert os.path.getmtime(os.path.join(table, "data", big_commit)) == mtime_before
    # tombstone still covers the kept prefix (k=7 lives there), while
    # the delta's coverage (k=4100) was baked into the rewrite
    assert m["deletes"] == [{"dir": m["deletes"][0]["dir"], "upto": 1}]
    got = read_versioned(spark, table, version=v_incr)
    assert got.count() == 4398
    assert got.filter(F.col("k").isin(7, 4100)).count() == 0
    # a later FULL optimize collapses everything to one commit again
    v_full2 = optimize_versioned(spark, table, zorder_cols=["k", "c"])
    m2 = _load_manifest(table, v_full2)
    assert len(m2["commits"]) == 1 and not m2.get("deletes")
    assert read_versioned(spark, table, version=v_full2).count() == 4398


def test_optimize_incremental_different_cols_rewrites_everything(spark, tmp_path):
    """A cluster-column change invalidates the kept prefix: incremental
    OPTIMIZE on new columns must rewrite the whole table once."""
    from data_spark.io import (
        _load_manifest,
        optimize_versioned,
        read_versioned,
        write_versioned,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") * 13 % 500).alias("c")
    )
    write_versioned(df, table, "overwrite")
    optimize_versioned(spark, table, zorder_cols=["k", "c"])
    v = optimize_versioned(
        spark, table, zorder_cols=["c", "k"], incremental=True
    )
    m = _load_manifest(table, v)
    assert len(m["commits"]) == 1
    assert m["zorder"][m["commits"][0]] == ["c", "k"]
    assert read_versioned(spark, table, version=v).count() == 3000


def test_append_schema_enforcement(spark, tmp_path):
    """Schema enforcement on append (the Delta write contract): a
    divergent batch raises instead of landing silently — the default
    reader plans from one footer, so an unchecked divergent commit
    surfaces as dropped columns or nulls much later. Intentional
    evolution opts in and reads back with merge_schema."""
    import pytest as _pytest

    from data_spark.io import read_versioned, write_versioned

    table = str(tmp_path / "t")
    write_versioned(
        spark.createDataFrame([(1, 1.0)], "k long, x double"), table, "overwrite"
    )
    # missing column
    with _pytest.raises(ValueError, match="missing=\\['x'\\]"):
        write_versioned(spark.createDataFrame([(2,)], "k long"), table, "append")
    # new column
    with _pytest.raises(ValueError, match="new=\\['y'\\]"):
        write_versioned(
            spark.createDataFrame([(2, 2.0, 9)], "k long, x double, y long"),
            table,
            "append",
        )
    # retyped column
    with _pytest.raises(ValueError, match="retyped=\\['x'\\]"):
        write_versioned(
            spark.createDataFrame([(2, "s")], "k long, x string"), table, "append"
        )
    # matching append still lands; explicit evolution opts in
    write_versioned(spark.createDataFrame([(2, 2.0)], "k long, x double"), table, "append")
    write_versioned(
        spark.createDataFrame([(3, 3.0, 9)], "k long, x double, y long"),
        table,
        "append",
        allow_schema_evolution=True,
    )
    got = read_versioned(spark, table, merge_schema=True)
    assert got.count() == 3 and "y" in got.columns
    # enforcement against a hive-partitioned parent uses the recorded
    # spec dtypes, not the re-inferred ones
    t2 = str(tmp_path / "t2")
    write_versioned(
        spark.createDataFrame([(1, "0")], "k long, p string"),
        t2,
        "overwrite",
        partition_by=["p"],
    )
    write_versioned(
        spark.createDataFrame([(2, "1")], "k long, p string"), t2, "append"
    )
    assert read_versioned(spark, t2).count() == 2


def test_multi_column_prune_skips_on_both_dimensions(spark, tmp_path):
    """read_versioned(prune=[(x...), (y...)]): a 2-d range probe of a
    table z-ordered on (x, y) must open fewer files than either
    single-column prune — multi-column pruning is what multi-column
    Z-order stats exist for — and the answer must equal the unpruned
    filter exactly (residuals keep pruning answer-invariant)."""
    from data_spark.io import optimize_versioned, read_versioned, write_versioned

    tp = str(tmp_path / "t")
    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        (F.pmod(F.col("id") * 48271, F.lit(200))).alias("y"),
        F.col("id").alias("payload"),
    )
    write_versioned(df.repartition(8), tp, mode="overwrite")
    # small target so the z-order rewrite yields MANY files (the 40k-row
    # fixture would otherwise collapse to one and nothing could prune)
    optimize_versioned(
        spark, tp, zorder_cols=["x", "y"], target_file_bytes=40_000
    )

    full = read_versioned(spark, tp)
    n_files = len(full.inputFiles())
    px, py = ("x", 10, 40), ("y", 10, 40)
    one_x = read_versioned(spark, tp, prune=px)
    one_y = read_versioned(spark, tp, prune=py)
    both = read_versioned(spark, tp, prune=[px, py])
    nx, ny, nb = (len(d.inputFiles()) for d in (one_x, one_y, both))
    assert nb <= nx and nb <= ny
    assert nb < n_files and nb < max(nx, ny)

    expect = sorted(
        tuple(r)
        for r in full.filter(
            F.col("x").between(10, 40) & F.col("y").between(10, 40)
        ).collect()
    )
    got = sorted(tuple(r) for r in both.collect())
    assert got == expect and len(got) > 0
    # single-triple form is unchanged (back-compat)
    assert sorted(tuple(r) for r in one_x.collect()) == sorted(
        tuple(r) for r in full.filter(F.col("x").between(10, 40)).collect()
    )


def test_read_versioned_where_derives_pruning(spark, tmp_path):
    """VERDICT r11 item 4: read_versioned(where=...) mines the query's
    own predicate for prune ranges — derivable conjuncts skip files
    exactly like explicit prune triples, non-derivable predicates
    derive nothing, and EVERY where= read answers exactly like the
    full-scan filter (the residual re-applies the whole predicate)."""
    from data_spark.io import (
        _derive_prune_triples,
        delete_versioned,
        read_versioned,
        write_versioned,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 8000).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("x"),
        (F.col("id") % 7).cast("string").alias("s"),
    )
    clustered = df.repartitionByRange(8, "k").sortWithinPartitions("k")
    write_versioned(clustered, table, "overwrite", stats_cols=["k"])
    delete_versioned(spark.range(100, 140).withColumnRenamed("id", "k").select("k"), table)

    full = read_versioned(spark, table)
    n_full = len(full.inputFiles())
    assert n_full >= 8

    # derivable: BETWEEN on the stats column skips files
    w = "k BETWEEN 2000 AND 2999 AND x >= 0"
    pruned = read_versioned(spark, table, where=w)
    assert len(pruned.inputFiles()) < n_full
    want = sorted(tuple(r) for r in full.filter(F.expr(w)).collect())
    assert sorted(tuple(r) for r in pruned.collect()) == want

    # equality conjunct + tombstone interplay: deleted keys stay gone
    we = "k BETWEEN 90 AND 160"
    got = {r["k"] for r in read_versioned(spark, table, where=we).collect()}
    assert got == set(range(90, 100)) | set(range(140, 161))

    # non-derivable predicate: derives nothing, answer still exact
    wn = "k % 10 = 3 OR s = '5'"
    assert _derive_prune_triples(wn) == []
    nd = read_versioned(spark, table, where=wn)
    assert len(nd.inputFiles()) == n_full
    assert sorted(tuple(r) for r in nd.collect()) == sorted(
        tuple(r) for r in full.filter(F.expr(wn)).collect()
    )

    # mixed: one derivable conjunct prunes, the opaque one filters
    wm = "k >= 6000 AND k % 2 = 1"
    md = read_versioned(spark, table, where=wm)
    assert len(md.inputFiles()) < n_full
    assert sorted(tuple(r) for r in md.collect()) == sorted(
        tuple(r) for r in full.filter(F.expr(wm)).collect()
    )

    # where= composes with an explicit prune triple (both AND)
    comp = read_versioned(
        spark, table, prune=("k", 2000, 2999), where="x <= 5"
    )
    assert len(comp.inputFiles()) < n_full
    assert sorted(tuple(r) for r in comp.collect()) == sorted(
        tuple(r)
        for r in full.filter((F.col("k").between(2000, 2999)) & (F.col("x") <= 5)).collect()
    )


def test_derive_prune_triples_conservative(spark):
    """The predicate miner only ever derives SUPERSET ranges: strict
    bounds relax to inclusive, IN collapses to [min, max], flipped
    literal-first comparisons normalize, and anything it cannot prove
    (OR, NOT, IS NULL, arithmetic, functions, LIKE) derives nothing."""
    from data_spark.io import _derive_prune_triples as d

    assert d("a > 5") == [("a", 5, None)]
    assert d("a < 5") == [("a", None, 5)]
    assert d("5 >= a") == [("a", None, 5)]
    assert d("a = 7") == [("a", 7, 7)]
    assert d("a IN (9, 3, 5)") == [("a", 3, 9)]
    assert d("a BETWEEN 1 AND 3 AND b = 'x'") == [("a", 1, 3), ("b", "x", "x")]
    assert d("ts >= TIMESTAMP '2020-01-01 00:00:00'") == [
        ("ts", "2020-01-01 00:00:00", None)
    ]
    for opaque in (
        "a > 5 OR b > 5",
        "NOT (a > 5)",
        "a IS NOT NULL",
        "a + 1 > 5",
        "abs(a) > 5",
        "a LIKE 'x%'",
        "a <> 5",
        "a IN (1, 'x')",
    ):
        assert d(opaque) == [], opaque
