"""Readers and validated writers (SURVEY §2.1 S3/S4).

The reference loads pipe-delimited unquoted ``.txt`` and quoted-header
``.csv`` FEC bulk files with explicit per-table schemas
(``federal_fec_ingest_import_bigquery/main.py:26-41,44-363``), then
archives the old table, compares row counts, and rolls back on shrink
(``:367-403``). Spark-side: explicit-schema CSV readers plus a
staging-write → count-validate → atomic-swap writer.
"""

from __future__ import annotations

import decimal
import errno
import functools
import logging
import math
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_spark.session import local_frame

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table (TESTDATA.md).

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark only reads as a long behind the legacy flag — set the flag at
    read time (the driver owns the session, so we can't rely on builder
    config) and convert nanos → TimestampType by truncation to micros
    (exactly what DuckDB's nanos→micros read does, so oracles agree).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns/1000 in double loses precision at 1e18 ns
            # (ulp 0.25 µs) and flips the floor on boundary values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
            # TIMESTAMP_NTZ, which unix_micros/window-time functions
            # reject; the session tz is pinned UTC (session.py) so the
            # cast is a wall-clock identity, matching DuckDB's naive-UTC
            # reading of the same file.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_pipe_delimited(
    spark: SparkSession, path: str, schema: StructType, header: bool = False
) -> DataFrame:
    """FEC bulk ``.txt`` reader: pipe-delimited, unquoted, explicit schema.

    Mirrors the reference's load config (``import_bigquery/main.py:26-33``):
    ``field_delimiter='|'``, ``quote_character=''``. Empty strings load as
    NULL to match BigQuery CSV-load semantics the downstream SQL relies on.
    """
    return spark.read.csv(
        path,
        sep="|",
        quote="\u0000",  # effectively "no quoting", like quote_character=""
        header=header,
        schema=schema,
        nullValue="",
        mode="PERMISSIVE",
    )


def read_headed_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """FEC ``.csv`` reader: header row + standard quoting
    (``import_bigquery/main.py:34-41``: skip_leading_rows=1, quote='\"')."""
    return spark.read.csv(
        path,
        header=True,
        quote='"',
        escape='"',
        schema=schema,
        nullValue="",
        mode="PERMISSIVE",
    )


def _fit_zorder_bits(bits: int, n_cols: int) -> int:
    """Largest per-column level width whose interleave fits a signed
    BIGINT: ``bits * n_cols <= 63``. 63 levels-bits of clustering
    resolution is far beyond what parquet row-group pruning can use, so
    shrinking silently (rather than raising) is the right contract for
    a maintenance-time rewrite."""
    if n_cols < 1:
        raise ValueError("z-order needs at least one column")
    return max(1, min(bits, 63 // n_cols))


def zorder_value(cols: list[str], bits: int = 16):
    """Z-order (Morton) interleave of up to 4 numeric columns: each
    column is min-max-scaled into ``2^bits`` levels (``<col>__min`` /
    ``<col>__max`` bound columns must be present — see
    :func:`write_zordered`), then the level bits are interleaved
    LSB-first into one BIGINT. Rows close in z-value are close in
    EVERY keyed dimension, so range-sorting by it clusters parquet
    row-groups for min/max data skipping on ANY of the keys — the
    multi-dimensional generalization of sort-by-one-column.

    ``bits`` is auto-shrunk so the interleaved value fits a signed
    BIGINT: the highest bit position is ``bits*len(cols)-1``, which must
    stay below 63 (at 4 columns the default 16 bits would place a bit at
    position 63 — ``1 << 63`` overflows the signed long literal)."""
    bits = _fit_zorder_bits(bits, len(cols))
    levels = []
    for c in cols:
        lo, hi = F.col(f"{c}__min"), F.col(f"{c}__max")
        frac = (F.col(c).cast("double") - lo) / F.greatest(hi - lo, F.lit(1e-12))
        levels.append(
            F.least((frac * (1 << bits)).cast("bigint"), F.lit((1 << bits) - 1))
        )
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for ci, lvl in enumerate(levels):
            pos = b * len(levels) + ci
            z = z + (F.shiftright(lvl, b).bitwiseAND(F.lit(1)) * F.lit(1 << pos))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
    bits: int = 16,
    scaling: str = "minmax",
) -> None:
    """Z-order-clustered parquet write: range-partition + sort by the
    Morton value of ``cols`` so every file's min/max footer stats are
    tight on ALL the cluster keys — scans filtering on any of them
    skip most files (row-group pruning at 100 TB scale, where
    partition directories are too coarse and a single-column sort only
    helps one predicate).

    ``scaling`` picks how column values map to interleave levels:

    - ``"minmax"`` (default): min-max scaling against a broadcast 1-row
      bounds aggregate — one extra scan, NO global sort/rank. The skew
      caveat: a heavy value cluster collapses into one level and the
      z-curve can't separate it.
    - ``"rank"``: equi-DEPTH levels from each column's distributed
      global rank (operators.order.global_row_number — the two-phase
      range-partitioned rank, never a single-partition window). Every
      level holds ~n/2^bits rows REGARDLESS of the value distribution,
      so skewed keys cluster as tightly as uniform ones; costs one
      range-shuffle per cluster key, the right trade for a
      maintenance-time rewrite of a skewed table.

    File assignment differs per mode, deliberately: ``minmax`` rides
    ``repartitionByRange(__z)`` (cheap, but the sampled boundaries —
    and so each file's stats envelope — can shift run to run under
    load). ``rank`` already pays for exact ranks, so it also routes
    ROWS to files exactly: global rank over ``__z`` → equi-depth file
    id → hash-token routing (:func:`_hash_tokens_for_partitions`).
    The rank layout is therefore a pure function of the data — file
    envelopes never depend on sampling, which the skew-pruning test
    pins."""
    if scaling == "minmax":
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"{c}__min") for c in cols],
            *[F.max(c).cast("double").alias(f"{c}__max") for c in cols],
        )
        leveled = df.join(F.broadcast(bounds)).withColumn(
            "__z", zorder_value(cols, bits)
        )
        drop_cols = [f"{c}__min" for c in cols] + [f"{c}__max" for c in cols]
    elif scaling == "rank":
        from data_spark.operators.order import global_row_number  # noqa: PLC0415

        bits = _fit_zorder_bits(bits, len(cols))
        n_rows = df.count()
        leveled = df
        for c in cols:
            # total order: tiebreak on every original column via a hash
            leveled = global_row_number(
                leveled, [c, F.xxhash64(*df.columns)], out=f"__rn_{c}"
            ).withColumn(
                f"__lvl_{c}",
                F.least(
                    ((F.col(f"__rn_{c}") - 1) * (1 << bits) / max(n_rows, 1)).cast("bigint"),
                    F.lit((1 << bits) - 1),
                ),
            )
        z = F.lit(0).cast("bigint")
        for b in range(bits):
            for ci, c in enumerate(cols):
                pos = b * len(cols) + ci
                z = z + (
                    F.shiftright(F.col(f"__lvl_{c}"), b).bitwiseAND(F.lit(1))
                    * F.lit(1 << pos)
                )
        leveled = leveled.withColumn("__z", z)
        drop_cols = [f"__rn_{c}" for c in cols] + [f"__lvl_{c}" for c in cols]
        # Exact equi-depth file routing (see docstring): rank over the
        # Morton value, slice into num_files equal runs, and route each
        # run to its own task via the hash-token map — no sampled range
        # boundaries anywhere in the rank layout.
        leveled = global_row_number(
            leveled.drop(*drop_cols), ["__z", F.xxhash64(*df.columns)], out="__rn_z"
        )
        fid = F.least(
            ((F.col("__rn_z") - 1) * num_files / max(n_rows, 1)).cast("int"),
            F.lit(num_files - 1),
        )
        tokens = _hash_tokens_for_partitions(df.sparkSession, num_files)
        # BIGINT literals: murmur3(int) != murmur3(bigint) for the same
        # value, and the probe hashed spark.range's BIGINT ids.
        tok = F.element_at(
            F.array(*[F.lit(t).cast("bigint") for t in tokens]), fid + 1
        )
        (
            leveled.withColumn("__tok", tok)
            .drop("__rn_z")
            .repartition(num_files, "__tok")
            .sortWithinPartitions("__z")
            .drop("__z", "__tok")
            .write.mode("overwrite")
            .parquet(path)
        )
        return
    else:
        raise ValueError(f"scaling must be minmax|rank, got {scaling!r}")
    (
        leveled.drop(*drop_cols)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _hash_tokens_for_partitions(spark: SparkSession, n: int) -> list[int]:
    """For each partition index p in [0, n), the smallest non-negative
    BIGINT t with ``pmod(hash(t), n) == p``. ``repartition(n, col)``
    places a row at partition ``pmod(murmur3(col), n)`` — the exact
    expression ``F.hash`` exposes — so mapping a computed file id
    through these tokens routes every row to exactly the intended task
    with the plain DataFrame API (a deterministic partitioner without
    dropping to RDDs). One tiny bounded job per rewrite; result size n.
    """
    rows = (
        spark.range(0, 64 * n)
        .select(
            F.col("id").alias("t"),
            F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"),
        )
        .groupBy("p")
        .agg(F.min("t").alias("t"))
        .collect()
    )
    by_p = {r["p"]: r["t"] for r in rows}
    missing = [p for p in range(n) if p not in by_p]
    if missing:  # 64 probes per slot make this practically unreachable
        raise RuntimeError(f"no hash token found for partitions {missing}")
    return [by_p[p] for p in range(n)]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 16,
    sort_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table (SURVEY §2 "bucketing for co-located joins"): two
    tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle on either side — verify with plans.report
    (exchanges == 0 under AQE-off probe). With ``path`` the table is
    external (data at the given location, catalog entry only points
    there), so callers don't depend on the session's warehouse dir
    being writable; otherwise it's a managed table in the warehouse."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def validated_overwrite(
    df: DataFrame,
    path: str,
    min_rows: int | None = None,
    allow_shrink: bool = False,
) -> int:
    """Staging-write + count-validate + atomic swap (SURVEY S4).

    The reference archives the current table, loads the new one, and rolls
    back if ``new.num_rows < archived.num_rows``
    (``import_bigquery/main.py:367-403``). Here: write to a staging dir,
    count, compare against the existing table (or ``min_rows``), then swap
    directories. Raises ``ValueError`` on a shrinking load, leaving the
    existing data untouched.

    Scale note: the count is a metadata-cheap action over the staged
    parquet; the swap is a filesystem rename, so the validation adds no
    extra shuffle.
    """
    spark = df.sparkSession
    _recover_table(path)
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(staging)
    new_rows = spark.read.parquet(staging).count()

    old_rows = 0
    if os.path.exists(path):
        try:
            old_rows = spark.read.parquet(path).count()
        except Exception:
            old_rows = 0
    threshold = min_rows if min_rows is not None else old_rows
    if not allow_shrink and new_rows < threshold:
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"validated_overwrite rollback: new rows {new_rows} < expected {threshold}"
        )
    _swap_table(path, staging)
    return new_rows


def _backup_tag() -> str:
    """Name component for staged-swap backup dirs: a zero-padded
    wall-clock nanosecond counter (lexicographic order == creation
    order) plus a uniquifier. ``os.rename`` PRESERVES a directory's own
    mtime — it reflects the table's last internal write, not when the
    backup was taken — so mtime cannot order backups (ADVICE r7); the
    name can."""
    return f"{time.time_ns():020d}_{uuid.uuid4().hex[:6]}"


def _backup_order_key(path: str):
    """Sort key for picking the newest backup: the embedded creation
    counter when the name carries one, else the legacy mtime heuristic
    (ordered strictly before every counter-named backup — a counter
    name is always the more recent convention)."""
    digits = os.path.basename(path).rsplit("_", 2)[-2]
    if digits.isdigit() and len(digits) == 20:
        return (1, int(digits))
    try:
        return (0, os.path.getmtime(path))
    except OSError:
        return (0, 0.0)


def _recover_table(path: str) -> None:
    """Crash recovery shared by the staged table swaps
    (:func:`validated_overwrite` and the MinHash index's signature-table
    purge in ``operators.dedup_index``): a swap is stage →
    backup-rename → live-rename, so a crash between the two renames
    leaves NO directory at ``path`` and the newest backup IS the
    pre-swap table. Restore it (the caller then redoes one rewrite
    instead of losing the table), and sweep every other stray
    staging/backup leftover (ADVICE r6)."""
    parent, base = os.path.split(os.path.abspath(path))
    prefixes = tuple(
        f"{base}{tag}"
        for tag in ("__bak_", "__archive_", "__old_", "__staging_", "__zorder_")
    )
    leftovers = sorted(
        os.path.join(parent, n)
        for n in (os.listdir(parent) if os.path.isdir(parent) else [])
        if n.startswith(prefixes)
    )
    if not os.path.exists(path):
        backups = [
            p
            for p in leftovers
            if any(
                t in os.path.basename(p) for t in ("__bak_", "__archive_", "__old_")
            )
        ]
        if backups:
            restored = max(backups, key=_backup_order_key)
            os.rename(restored, path)
            leftovers.remove(restored)
    for p in leftovers:
        shutil.rmtree(p, ignore_errors=True)


def _part_maintenance_roots(root: str) -> tuple[str, str]:
    """Staging and backup roots for per-partition rewrites of a
    hive-partitioned dataset at ``root`` — SIBLINGS of the root, never
    inside it: a leftover ``cell=3__staging`` dir inside the dataset
    would be parsed by Spark partition discovery as a partition VALUE,
    flipping the partition column to string and leaking stale rows
    (ADVICE r7)."""
    return f"{root}__compact_staging", f"{root}__compact_bak"


def recover_partitioned_root(root: str, restore_only: bool = False) -> None:
    """Crash recovery for per-partition staged swaps
    (:func:`swap_partition_dir`): restore any backup whose live
    partition dir is missing (the crash window between the swap's two
    renames), then — unless ``restore_only`` — sweep every remaining
    staging/backup leftover. Probes pass ``restore_only=True`` so a
    read racing a live compaction never deletes its staging; the
    compactors run the full sweep at start (they are single-maintenance
    ops like every other rewrite here).

    Probe-side restores are BEST-EFFORT: between the probe's
    ``exists(dst)`` check and its rename, a live compactor can finish
    its second rename (the probe's rename then hits ENOTEMPTY) or
    sweep the backup (ENOENT). Neither produces stale rows — the live
    dir is valid either way — so the probe skips instead of crashing.
    The maintenance-time sweep (``restore_only=False``) still raises:
    it runs single-maintenance by contract, a failed restore there
    means real trouble, and swallowing it would let the rmtree below
    delete the only surviving copy."""
    staging_root, bak_root = _part_maintenance_roots(root)
    if os.path.isdir(bak_root):
        for name in sorted(os.listdir(bak_root)):
            dst = os.path.join(root, name)
            if not os.path.exists(dst):
                try:
                    os.rename(os.path.join(bak_root, name), dst)
                except OSError:
                    if not restore_only:
                        raise
    if not restore_only:
        shutil.rmtree(staging_root, ignore_errors=True)
        shutil.rmtree(bak_root, ignore_errors=True)


def partition_staging_dir(part_dir: str) -> str:
    """Where a per-partition rewrite stages its output: the partition's
    name under the dataset's sibling staging root."""
    root, name = os.path.split(os.path.abspath(part_dir))
    staging_root, _ = _part_maintenance_roots(root)
    os.makedirs(staging_root, exist_ok=True)
    return os.path.join(staging_root, name)


def swap_partition_dir(part_dir: str, staging: str) -> None:
    """Backup-rename → live-rename swap for ONE partition directory of
    a hive-partitioned dataset, with the backup parked under the
    dataset's sibling backup root (never inside the dataset — see
    :func:`_part_maintenance_roots`). ``recover_partitioned_root``
    undoes a crash between the renames.

    A concurrent read-side probe (``recover_partitioned_root(
    restore_only=True)``) can restore the backup into the live slot
    inside our two-rename window; the live rename then hits
    EEXIST/ENOTEMPTY. That restore is the probe doing its job on what
    looked like a crashed swap — park the restored copy again and
    retry the live rename once."""
    root, name = os.path.split(os.path.abspath(part_dir))
    _, bak_root = _part_maintenance_roots(root)
    os.makedirs(bak_root, exist_ok=True)
    bak = os.path.join(bak_root, name)
    os.rename(part_dir, bak)
    try:
        os.rename(staging, part_dir)
    except OSError as exc:
        if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
        os.rename(part_dir, bak)  # probe emptied the bak slot when it restored
        os.rename(staging, part_dir)
    shutil.rmtree(bak, ignore_errors=True)


def _swap_table(path: str, staging: str) -> None:
    """Backup-rename → live-rename swap shared by the staged table
    rewrites listed at :func:`_recover_table`, which undoes a crash
    between the renames."""
    backup = f"{path}__bak_{_backup_tag()}"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


# Bloom sizing: with k hashes and m bits over n distinct values per
# file, fpp ≈ (1 − e^(−k·n/m))^k — the default 4096 bits / 5 hashes
# gives ~2% at n=500 and ~0.1% at n=200; size m ≈ 10·n_distinct for
# ~1% as a rule of thumb.
_BLOOM_BITS = 4096
_BLOOM_K = 5
# Bit-layout convention of _bloom_positions. Bump on ANY change to the
# position math: build and probe must agree bit-for-bit. A versioned
# table's manifest records the convention its blooms were built with
# (_bloom_convention): a probe under another hash version reads unpruned,
# and a commit under another convention never joins the parent's bloom
# dirs — mixed layouts would make probes (which require ALL k bits)
# silently prune files that contain the value (ADVICE r7). v2 = h2
# stride forced into [1, bits-1].
_BLOOM_HASH_VERSION = 2


def _bloom_positions(col: Column, bits: int, k: int) -> list[Column]:
    """k bit positions for a value via double hashing
    (h1 + i·h2 mod m) — two xxhash64 evaluations, not k. Both hashes
    are reduced mod m BEFORE the i-multiply (i·raw64 overflows a long
    under ANSI arithmetic; mod-m arithmetic is overflow-free). h2 is
    forced into [1, m-1]: with h2 ≡ 0 (mod m) all k probes collapse to
    h1 and that value's effective fpp jumps (extra file reads, never
    wrong rows). Build and probe share this function, so the stride
    convention is applied identically on both sides."""
    if bits < 2:
        # bits == 1 would divide by zero in the h2 stride (and a 1-bit
        # filter prunes nothing anyway)
        raise ValueError(f"bloom bits must be >= 2, got {bits}")
    h1 = F.pmod(F.xxhash64(col), F.lit(bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(bits - 1)) + F.lit(1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(bits)) for i in range(k)]


# --- bloom word/mask packing convention (ADVICE r12) -----------------------
# A bit position p packs into word index p // 64 with a SIGNED-long mask
# 1 << (p % 64) under two's complement (bit 63 wraps negative, matching
# Spark's shiftleft on BIGINT). The two implementations below are the
# ONLY places the convention exists — the build side folds words with the
# Spark expression, the probe side assembles driver-side requirement
# lists with the Python twin — and test_bloom_pruning cross-checks them
# against Spark's own shiftleft output at bit 0 and bit 63, so a layout
# change on one side cannot silently desynchronize the other (which
# would mean unsound pruning: missed rows, not just extra reads).


def _bloom_word_mask_cols(pos_name: str) -> tuple[Column, Column]:
    """(word index, signed mask) for a bit-position column — build side."""
    return (
        (F.col(pos_name) / 64).cast("int"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({pos_name} % 64 AS INT))"),
    )


def _bloom_word_mask_py(p: int) -> tuple[int, int]:
    """(word index, signed mask) for a bit position — probe side. Must
    stay value-identical to :func:`_bloom_word_mask_cols`."""
    m = 1 << (p % 64)
    return p // 64, (m - (1 << 64) if m >= (1 << 63) else m)


#: Above this many delete entries, read_versioned switches from the
#: per-group anti-join plan to the indexed single-join plan (each
#: tombstone dir read once with its ``upto``). Both produce identical
#: rows; the cutover only bounds plan size on tombstone-heavy tables.
_TOMBSTONE_JOIN_THRESHOLD = 8


def _run_concurrently(*thunks):
    """Run independent driver thunks (typically tiny Spark actions) on
    a thread each and return their results in order (guide §2.6: the
    scheduler happily overlaps jobs; commit paths ran their
    metadata-scale writes serially only because the driver called them
    serially). Exceptions propagate — partially-written side dirs are
    harmless because the manifest publish is the only commit point."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        return [f.result() for f in [ex.submit(t) for t in thunks]]


def _versions_dir(table_path: str) -> str:
    return os.path.join(table_path, "_manifests")


def _load_manifest(table_path: str, version: int) -> dict:
    import json

    with open(os.path.join(_versions_dir(table_path), f"v{version}.json")) as f:
        return json.load(f)


def _posix_publish_if_absent(tmp: str, final: str) -> bool:
    """POSIX put-if-absent: hard-link the staged temp onto the final
    name. ``os.link`` fails with EEXIST instead of silently replacing —
    ``os.rename`` here would let the second writer overwrite the
    first's committed manifest and lose a version."""
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False


# The manifest-publish seam. The versioned store's entire concurrency
# story reduces to ONE storage primitive: an atomic PUT-IF-ABSENT of a
# small JSON object at a well-known key, returning False when the key
# already exists. On POSIX filesystems (this container, HDFS via
# create-no-overwrite) the default hard-link strategy below provides
# it. On object stores the deployment must swap in the store's
# conditional write: S3 `PutObject` with `If-None-Match: *`
# (conditional writes, GA since 2024 — before that, a coordination
# service like DynamoDB, which is what open-source Delta's S3 LogStore
# uses), GCS `if-generation-match: 0`, ADLS/Azure Blob
# `If-None-Match: *`. Swap via `set_manifest_publisher`; everything
# above this seam (optimistic retry, manifest content, vacuum safety)
# is storage-agnostic.
_MANIFEST_PUBLISHER = _posix_publish_if_absent


def set_manifest_publisher(publisher) -> None:
    """Install a ``publish_if_absent(tmp_path, final_path) -> bool``
    strategy for manifest commits (see the seam comment above). Pass
    ``None`` to restore the POSIX hard-link default."""
    global _MANIFEST_PUBLISHER
    _MANIFEST_PUBLISHER = publisher if publisher is not None else _posix_publish_if_absent


def _refs_path(table_path: str) -> str:
    return os.path.join(_versions_dir(table_path), "refs.json")


def _advance_ref(table_path: str, branch: str, version: int) -> None:
    """Best-effort ADVISORY head cache (the `_last_checkpoint` idea):
    after a successful publish, record branch → head in ``refs.json``
    so :func:`branch_head` resolves in O(1) manifest reads instead of
    walking the whole log. The cache is never load-bearing — readers
    validate it against the log and fall back to the full walk on any
    mismatch, and the put-if-absent manifest publish remains the ONLY
    commit primitive. Last-writer races can therefore only make the
    cache stale (monotonicity is still enforced per rewrite), which
    the read-side validation absorbs."""
    import json

    path = _refs_path(table_path)
    try:
        heads: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                heads = json.load(f).get("heads", {})
        if int(heads.get(branch, -1)) >= version:
            return
        heads[branch] = version
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump({"heads": heads}, f)
        os.replace(tmp, path)
    except (OSError, ValueError):
        pass  # advisory only: a failed cache write never fails a commit


def _cached_head(table_path: str, branch: str) -> int | None:
    import json

    try:
        with open(_refs_path(table_path)) as f:
            v = json.load(f).get("heads", {}).get(branch)
        return int(v) if v is not None else None
    except (OSError, ValueError, TypeError):
        return None


def _publish_manifest(table_path: str, new_v: int, manifest: dict) -> bool:
    """Atomically publish ``vN.json`` — the versioned store's commit
    point. Returns False when version N is already taken (a concurrent
    writer won the race), so callers re-read the log and retry with the
    next number: Delta-style optimistic concurrency. The actual
    create-if-absent is delegated to the installed publisher
    (:func:`set_manifest_publisher`) so the same commit protocol runs
    on POSIX (hard link) and object stores (conditional PUT).

    Every published manifest is stamped with ``committed_at`` (epoch
    seconds at publish attempt) — the anchor for timestamp time travel
    (:func:`version_at_timestamp`). The stamp rides the manifest, so it
    is exactly as durable and as atomic as the commit itself."""
    import json
    import time

    manifest["committed_at"] = time.time()
    vdir = _versions_dir(table_path)
    os.makedirs(vdir, exist_ok=True)
    tmp = os.path.join(vdir, f".v{new_v}.{uuid.uuid4().hex[:8]}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        ok = _MANIFEST_PUBLISHER(tmp, os.path.join(vdir, f"v{new_v}.json"))
    finally:
        os.remove(tmp)
    if ok:
        _advance_ref(table_path, _manifest_branch(manifest), new_v)
    return ok


def table_versions(table_path: str) -> list[int]:
    """Committed version numbers for a versioned table, ascending."""
    vdir = _versions_dir(table_path)
    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _manifest_branch(manifest: dict) -> str:
    """The branch a manifest belongs to (absent field = ``main`` —
    every pre-branch manifest is a main commit)."""
    return manifest.get("branch", "main")


def branch_head(table_path: str, branch: str = "main") -> int | None:
    """Latest committed version on ``branch`` (None when the branch has
    no commits). Branches share ONE version log (Iceberg's refs-into-a
    -single-metadata-log model): every commit on any branch takes the
    next global version number through the same put-if-absent publish,
    so cross-branch ordering — and therefore vacuum reachability and
    the streaming replay guard — need no second coordination primitive.

    Resolution consults the advisory ``refs.json`` head cache first
    (written best-effort after every successful publish): when the
    cached head is a live manifest of the right branch, only manifests
    NEWER than it need checking — zero in the common case, so a head
    lookup costs O(1) manifest reads instead of an O(versions) walk
    (the Delta ``_last_checkpoint`` shape). Any mismatch — cache
    missing, stale, vacuumed away, or pointing at the wrong branch —
    falls back to the full newest-first walk; the cache can therefore
    never change an answer, only the number of JSONs read."""
    versions = table_versions(table_path)
    if not versions:
        return None
    cand = _cached_head(table_path, branch)
    if cand is not None and cand in set(versions):
        try:
            if _manifest_branch(_load_manifest(table_path, cand)) == branch:
                for v in reversed([v for v in versions if v > cand]):
                    if _manifest_branch(_load_manifest(table_path, v)) == branch:
                        return v
                return cand
        except (OSError, ValueError):
            pass
    for v in reversed(versions):
        if _manifest_branch(_load_manifest(table_path, v)) == branch:
            return v
    return None


def version_at_timestamp(
    table_path: str, ts: float, branch: str = "main"
) -> int | None:
    """Timestamp time travel: the latest version on ``branch`` whose
    manifest was committed at or before ``ts`` (epoch seconds) — the
    Delta/Iceberg ``TIMESTAMP AS OF`` resolution, anchored on the
    ``committed_at`` stamp every publish writes into its manifest.
    Manifests that predate the stamp (older repos) are treated as
    always-eligible. Returns None when nothing on the branch is old
    enough. Walks newest-first over driver-side metadata."""
    for v in reversed(table_versions(table_path)):
        m = _load_manifest(table_path, v)
        if _manifest_branch(m) != branch:
            continue
        if m.get("committed_at", float("-inf")) <= ts:
            return v
    return None


def list_branches(table_path: str) -> dict[str, int]:
    """branch name → head version, across the whole log."""
    heads: dict[str, int] = {}
    for v in table_versions(table_path):
        heads[_manifest_branch(_load_manifest(table_path, v))] = v
    return heads


def publish_branch(
    table_path: str, branch: str, expect_main: int | None = None
) -> int:
    """Publish a branch to main — the P of Write-Audit-Publish: commit
    a new MAIN manifest whose contents equal the branch head's
    (commits/deletes/stats/specs), i.e. a fast-forward. No data file
    moves; the publish is one manifest put-if-absent, so readers switch
    from pre-audit to audited state atomically and history keeps both.

    ``expect_main``: optimistic guard for the audit window — when set,
    the publish refuses (ValueError) if main's head is no longer this
    version, instead of silently discarding whatever landed on main
    while the audit ran. Leave None only when this pipeline is main's
    sole writer. Returns the new main version."""
    while True:
        bh = branch_head(table_path, branch)
        if bh is None:
            raise ValueError(f"branch {branch!r} has no commits under {table_path}")
        if expect_main is not None:
            mh = branch_head(table_path, "main")
            if mh != expect_main:
                raise ValueError(
                    f"main moved during audit: expected head {expect_main}, found {mh}"
                )
        src = _load_manifest(table_path, bh)
        versions = table_versions(table_path)
        new_v = versions[-1] + 1
        manifest = {
            "version": new_v,
            "mode": f"publish-{branch}@{bh}",
            "commits": src["commits"],
        }
        for k in ("deletes", "stats", "specs", "zorder", "bloom"):
            if src.get(k):
                manifest[k] = src[k]
        if _publish_manifest(table_path, new_v, manifest):
            return new_v


_PART_INFER_CONF = "spark.sql.sources.partitionColumnTypeInference.enabled"

# Serializes the set/restore of the session-wide inference conf across
# driver threads so two concurrent spec reads can never interleave
# set/restore and leave the conf stuck in the wrong state. NOTE: an
# UNRELATED read planned by another thread during the window still sees
# inference off (a session conf cannot be scoped per-read); that read
# gets raw partition strings — correct values, wider type. Multi-
# threaded drivers that mix spec and non-spec partitioned reads should
# pin partition dtypes with explicit schemas.
_PART_INFER_LOCK = __import__("threading").Lock()

# The footer key under which Spark's parquet writer records the written
# DataFrame's schema as JSON; non-merging schema inference reads it back
# from the first data file.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """The file non-merging schema inference reads for ``path``: the
    path itself, or the first data file of a flat directory in name
    order, skipping the names Spark's listing ignores (a leading ``_``
    or ``.``). None where there is no data file, or a subdirectory
    (partition discovery would add columns)."""
    if os.path.isfile(path):
        return path
    with os.scandir(path) as it:
        listed = [e for e in it if not e.name.startswith(("_", "."))]
    if not listed or any(e.is_dir() for e in listed):
        return None
    return min(listed, key=lambda e: e.name).path


def _footer_spark_schema(paths: list[str]) -> StructType | None:
    """The data schema a plain ``spark.read.parquet(*paths)`` infers
    (the reader then marks every field nullable, as it does a given
    schema), read on the driver from Spark's schema key in the footer
    of each path's first data file (pyarrow, through
    :func:`_footer_map`). Inference reads the first file of all paths
    in path order, which is one of these files, so when every one holds
    the same key the answer is exactly inference's. None — the caller
    infers — when a path has no such file or key, the paths disagree,
    the JSON does not round-trip through pyspark's type model, or the
    paths number more than the driver footer cap."""
    if not paths or len(paths) > _FOOTER_DRIVER_MAX_FILES:
        return None
    try:
        import json  # noqa: PLC0415

        import pyarrow.parquet as pq  # noqa: PLC0415

        files = [_first_data_file(p) for p in paths]
        if None in files:
            return None
        found = set(
            _footer_map(
                sorted(set(files)),
                lambda f: (pq.read_metadata(f).metadata or {}).get(
                    _SPARK_ROW_METADATA
                ),
            ).values()
        )
        if len(found) != 1 or None in found:
            return None
        raw = json.loads(found.pop())
        schema = StructType.fromJson(raw)
        return schema if schema.jsonValue() == raw else None
    except (OSError, ValueError, KeyError, TypeError):
        # unreadable path or footer (pyarrow raises OSError/ValueError
        # subclasses), bad JSON, a type pyspark does not model → infer
        return None


def _read_store_parquet(
    spark: SparkSession,
    *paths: str,
    merge_schema: bool = False,
    base_path: str | None = None,
) -> DataFrame:
    """The one reader of versioned-store ``data/``, ``deletes/`` and
    ``changes/`` paths. A schema-less ``spark.read.parquet`` launches a
    Spark job to read one footer; here the schema comes from the
    footers on the driver (:func:`_footer_spark_schema`) and is handed
    to the reader, so the read plans without a job. ``merge_schema``,
    a ``base_path`` (hive partition discovery) and any footer the fast
    path cannot vouch for fall back to plain inference — the result
    equals inference wherever the fast answer is not provably the
    same. Each store dir is written by one Spark job, so its files
    share one schema and the first file speaks for all of them."""
    fast = not merge_schema and base_path is None
    schema = _footer_spark_schema(list(paths)) if fast else None
    r = spark.read
    if schema is not None:
        return r.schema(schema).parquet(*paths)
    if merge_schema:
        r = r.option("mergeSchema", "true")
    if base_path is not None:
        r = r.option("basePath", base_path)
    return r.parquet(*paths)


def _read_spec_commit(
    spark: SparkSession,
    paths: list[str],
    spec: dict,
    base_path: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan a hive-partitioned (spec'd) commit with partition-column
    type inference DISABLED, then cast each partition column to the
    dtype the manifest spec pinned at write time. Inference-then-cast
    is NOT equivalent: discovery would read a string partition value
    ``'007'`` as the int 7, and casting back yields ``'7'`` — permanent
    value loss. With inference off the raw directory string survives
    and the single cast to the recorded dtype is exact. Every consumer
    of a spec'd commit (read_versioned, purge_deletes, incremental
    OPTIMIZE, stats collection) must come through here so rewrites
    never bake an inferred dtype into a new commit."""
    with _PART_INFER_LOCK:
        old = spark.conf.get(_PART_INFER_CONF)
        spark.conf.set(_PART_INFER_CONF, "false")
        try:
            df = _read_store_parquet(
                spark, *paths, merge_schema=merge_schema, base_path=base_path
            )
        finally:
            spark.conf.set(_PART_INFER_CONF, old)
    for col_name, dtype in spec.items():
        df = df.withColumn(col_name, F.col(col_name).cast(dtype))
    return df


def _json_stat(v, down: bool | None = None):
    """JSON-serializable min/max bound (dates/timestamps → ISO strings,
    which compare lexicographically like the values do). Decimals are
    converted to the nearest float AT OR BELOW the exact value for a
    min (``down=True``) / at or above for a max (``down=False``) — a
    straight ``str()`` would make the Python overlap test in
    ``commit_paths`` compare decimal bounds LEXICOGRAPHICALLY
    ('100.50' < '99.00'), falsely skipping overlapping files (ADVICE
    r11); directed widening keeps the bounds numeric and conservative,
    so pruning can drop only provably-disjoint files."""
    if v is None:
        return None
    if isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if down is True and decimal.Decimal(f) > v:
            f = math.nextafter(f, float("-inf"))
        elif down is False and decimal.Decimal(f) < v:
            f = math.nextafter(f, float("inf"))
        return f
    return str(v)


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


# Parquet (physical_type, converted_type) pairs whose FOOTER statistics
# decode to exactly the Python values the Spark-scan stats path yields
# (pyarrow: int / str / bool / datetime.date), so the two paths produce
# byte-identical manifest JSON. Deliberately excluded: FLOAT/DOUBLE (a
# file containing NaN has writer-dependent footer min/max while the
# Spark path sees NaN and the NaN guards fire), DECIMAL / INT96 /
# TIMESTAMP_* (footer decoding or tz canonicalization differs from the
# ``_json_stat`` string forms), unsigned ints (Spark never writes them,
# so a file carrying one was made elsewhere — let the scan path decide).
_FOOTER_SAFE_TYPES = frozenset(
    (
        ("INT32", "NONE"), ("INT32", "INT_8"), ("INT32", "INT_16"),
        ("INT32", "INT_32"), ("INT32", "DATE"),
        ("INT64", "NONE"), ("INT64", "INT_64"),
        ("BYTE_ARRAY", "UTF8"), ("BOOLEAN", "NONE"),
    )
)

# footer-safe parquet type -> the Spark dtype the scan path would see
# (all members of _ATOMIC_DTYPES; used by the tombstone-bounds gate)
_FOOTER_SPARK_DTYPE = {
    ("INT32", "NONE"): "int", ("INT32", "INT_8"): "tinyint",
    ("INT32", "INT_16"): "smallint", ("INT32", "INT_32"): "int",
    ("INT32", "DATE"): "date",
    ("INT64", "NONE"): "bigint", ("INT64", "INT_64"): "bigint",
    ("BYTE_ARRAY", "UTF8"): "string", ("BOOLEAN", "NONE"): "boolean",
}


# Driver-side footer collection is O(files) metadata work; at 100 TB a
# commit can hold tens of thousands of files and a SEQUENTIAL per-file
# footer loop becomes a serial driver scan (VERDICT r12 #4). Bound it
# two ways: read footers on a small thread pool (pyarrow releases the
# GIL during file IO/parse), and above _FOOTER_DRIVER_MAX_FILES bail to
# the caller's Spark aggregate, which distributes the work.
# test_footer_stats pins footer==scan on both sides of the threshold.
_FOOTER_DRIVER_MAX_FILES = 4096
_FOOTER_IO_THREADS = 16


def _footer_map(files: list[str], fn):
    """``{path: fn(path)}`` over parquet files, threaded when the list
    is large enough to amortize pool startup."""
    if len(files) <= 4:
        return {p: fn(p) for p in files}
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    with ThreadPoolExecutor(
        max_workers=min(_FOOTER_IO_THREADS, len(files))
    ) as ex:
        return dict(zip(files, ex.map(fn, files)))


def _footer_dir_stats(commit_path: str, cols: list[str] | None):
    """Per-file min/max/null-count for ``cols`` read from parquet FOOTER
    metadata — the write-side stats pass without a second scan of the
    commit's rows (guide §1.2/§6: a commit used to pay write + full
    re-read; footers make the stats step O(files) driver-side metadata,
    which is also the only posture that survives 100 TB commits).

    Returns ``(stats, total_rows)`` where ``stats`` maps RELATIVE file
    path → ``{col: (min, max, null_count)}`` (``(None, None, n)`` for an
    all-NULL or empty file), or ``None`` whenever anything about the
    footers is not PROVABLY equivalent to the Spark-scan path — unknown
    physical/converted type, missing column, absent or unreadable
    statistics — in which case the caller falls back to the scan.
    ``cols=None`` collects every footer-safe column in the schema."""
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    files = []
    for dp, _dirs, fs in os.walk(commit_path):
        files.extend(os.path.join(dp, f) for f in fs if f.endswith(".parquet"))
    if not files or len(files) > _FOOTER_DRIVER_MAX_FILES:
        # past the cap, per-file driver work is a serial scan at
        # manifest scale — let the caller's Spark aggregate distribute
        return None
    abs_commit = os.path.abspath(commit_path)
    out: dict = {}
    total_rows = 0
    want = cols
    try:
        metas = _footer_map(
            sorted(files), lambda p: pq.ParquetFile(p).metadata
        )
        for path in sorted(files):
            md = metas[path]
            total_rows += md.num_rows
            if md.num_rows == 0:
                # the scan path's groupBy never yields a row for an
                # empty file, so it is absent from scan stats; mirror
                # that (pruning drops it either way — it has no rows)
                continue
            idx: dict[str, int] = {}
            for i in range(md.num_columns):
                sc = md.schema.column(i)
                if sc.max_repetition_level == 0 and "." not in sc.path:
                    idx.setdefault(sc.path, i)
            if want is None:
                want = [
                    c
                    for c in idx
                    if (
                        md.schema.column(idx[c]).physical_type,
                        md.schema.column(idx[c]).converted_type,
                    )
                    in _FOOTER_SAFE_TYPES
                ]
                # cols=None means "the whole schema": every leaf must be
                # a footer-safe top-level column, or the caller's scan
                # path (which sees the real dtypes and applies the
                # NaN/atomic-dtype guards) must run instead
                if not want or len(want) != md.num_columns:
                    return None
            per_col = {}
            for c in want:
                i = idx.get(c)
                if i is None:
                    return None
                sc = md.schema.column(i)
                if (sc.physical_type, sc.converted_type) not in _FOOTER_SAFE_TYPES:
                    return None
                mn = mx = None
                nulls = 0
                for rg in range(md.num_row_groups):
                    rg_meta = md.row_group(rg)
                    st = rg_meta.column(i).statistics
                    if st is None or not st.has_null_count:
                        return None
                    nulls += st.null_count
                    if st.has_min_max:
                        v0, v1 = st.min, st.max
                        mn = v0 if mn is None or v0 < mn else mn
                        mx = v1 if mx is None or v1 > mx else mx
                    elif rg_meta.num_rows - st.null_count > 0:
                        # non-null rows present but no min/max recorded
                        # (e.g. a >4 KB binary value made the writer
                        # drop them): not provably equivalent — scan
                        return None
                per_col[c] = (mn, mx, nulls)
            rel = (
                os.path.relpath(path, abs_commit)
                if path.startswith(abs_commit + os.sep)
                else os.path.basename(path)
            )
            out[rel] = per_col
    except Exception:  # noqa: BLE001 - any footer surprise → scan path
        return None
    return out, total_rows


def _collect_commit_stats(
    spark: SparkSession, commit_path: str, cols: list[str], spec: dict | None = None
) -> dict:
    """Per-FILE min/max for ``cols`` over one commit directory —
    manifest METADATA (files x cols bounds, never rows). Stats keys are
    paths RELATIVE to the commit dir (equal to the basename for flat
    commits; for hive-partitioned commits they carry the ``col=val/``
    prefix so pruning resolves the right leaf). Partition columns
    themselves can be stats columns: their value is constant per file
    and survives the groupBy like any other column. ``spec`` (the
    commit's partition spec, when hive-partitioned): bounds for spec
    columns are recorded in the PINNED dtype, never the
    discovery-inferred one — otherwise a string partition column's
    stats would hold ints and pruning comparisons against string probes
    would misfire.

    Fast path (guide §1.2: remove whole passes first): for flat commits
    whose stats columns are footer-safe types, bounds come from parquet
    FOOTER metadata (:func:`_footer_dir_stats`) — no second Spark scan
    of the commit. Spec'd commits and non-footer-safe dtypes (floats,
    decimals, timestamps) keep the O(commit) scan, whose semantics the
    NaN/decimal guards below are pinned to. A 0-row data file is absent
    from the scan path's groupBy output and recorded as an all-NULL
    ``[None, None]`` bound by the footer path — both make pruning skip
    it, which holds no rows either way."""
    if spec is None:
        fast = _footer_dir_stats(commit_path, cols)
        if fast is not None:
            return {
                rel: {
                    c: [
                        _json_stat(mn, down=True),
                        _json_stat(mx, down=False),
                    ]
                    for c, (mn, mx, _nulls) in per_col.items()
                }
                for rel, per_col in fast[0].items()
            }
    if spec:
        df = _read_spec_commit(spark, [commit_path], spec)
    else:
        df = _read_store_parquet(spark, commit_path)
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("__f"))
        .agg(
            *[F.min(c).alias(f"{c}__min") for c in cols],
            *[F.max(c).alias(f"{c}__max") for c in cols],
        )
        .collect()
    )
    abs_commit = os.path.abspath(commit_path)
    out = {}
    for r in rows:
        p = r["__f"]
        if p.startswith("file:"):
            p = p[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
        rel = (
            os.path.relpath(p, abs_commit)
            if os.path.isabs(p) and p.startswith(abs_commit + os.sep)
            else os.path.basename(p)
        )
        out[rel] = {
            c: [
                _json_stat(r[f"{c}__min"], down=True),
                _json_stat(r[f"{c}__max"], down=False),
            ]
            for c in cols
        }
    return out


# Exact dtype TOKENS (the part before any '('), not prefixes — a
# startswith("int") test would also claim "interval day to second"
# dtypes, whose str()-serialized bounds are neither JSON-stable nor
# ordered like the values (ADVICE r11).
_ATOMIC_DTYPES = frozenset(
    (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "date", "timestamp", "timestamp_ntz", "decimal",
        "boolean",
    )
)


def _is_atomic_dtype(dt: str) -> bool:
    return dt.split("(", 1)[0] in _ATOMIC_DTYPES


def _tombstone_bounds(keys_df: DataFrame) -> dict | None:
    """Per-key-column ``[min, max, null_count]`` over a tombstone frame
    — one tiny aggregate, O(tombstone), recorded in the delete entry
    (``{"dir", "upto", "bounds"}``) at commit time. CDF pre-image
    recovery (:func:`read_changes`) uses the bounds to PRUNE its
    prior-snapshot scan to the files whose stats overlap the deleted
    keys, the same way Delta bounds its CDF cost by writing change
    files at commit time — without this, every delete/merge version in
    a feed costs a full prior-snapshot scan. Null count rides along
    because a bounds prune is only sound when no tombstoned key is
    NULL (a BETWEEN residual would drop null-key pre-images).
    Non-atomic key dtypes are skipped, and so is any float/double
    column whose min or max aggregates to NaN — every ordered compare
    against NaN is False, so a NaN bound would make the overlap test
    skip EVERY file and the feed silently report zero deletes (ADVICE
    r11). Returns None when nothing is recordable (consumers treat
    that as "no bounds, scan fully")."""
    cols = [c for c, dt in keys_df.dtypes if _is_atomic_dtype(dt)]
    if not cols:
        return None
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
        ]
    r = keys_df.agg(*aggs).first()
    out = {}
    for c in cols:
        mn, mx = r[f"{c}__min"], r[f"{c}__max"]
        if _is_nan(mn) or _is_nan(mx):
            continue
        out[c] = [
            _json_stat(mn, down=True),
            _json_stat(mx, down=False),
            int(r[f"{c}__nulls"] or 0),
        ]
    return out or None


def _tombstone_bounds_dir(spark: SparkSession, delete_path: str) -> dict | None:
    """:func:`_tombstone_bounds` over a WRITTEN tombstone directory.

    Fast path: when every tombstone column is a footer-safe type, the
    per-column min/max/null-count aggregates come from the parquet
    footers (:func:`_footer_dir_stats`) — commit-time bounds without a
    read-back Spark job (guide §1.2). Any other schema (float/double
    keys with their NaN guard, decimals' directed rounding, non-atomic
    dtypes) falls back to the read-back aggregate whose semantics those
    guards are pinned to; so does an all-empty tombstone, whose scan
    path records explicit ``[None, None, 0]`` bounds."""
    fast = _footer_dir_stats(delete_path, None)
    if fast is not None and fast[0]:
        agg: dict[str, list] = {}
        for per_col in fast[0].values():
            for c, (mn, mx, nulls) in per_col.items():
                cur = agg.setdefault(c, [None, None, 0])
                if mn is not None and (cur[0] is None or mn < cur[0]):
                    cur[0] = mn
                if mx is not None and (cur[1] is None or mx > cur[1]):
                    cur[1] = mx
                cur[2] += nulls
        return {
            c: [
                _json_stat(mn, down=True),
                _json_stat(mx, down=False),
                int(nulls),
            ]
            for c, (mn, mx, nulls) in agg.items()
        } or None
    return _tombstone_bounds(_read_store_parquet(spark, delete_path))


_log = logging.getLogger("data_spark.io")

# Fraction of the table's stats envelope a tombstone's bounds must
# cover (on EVERY recordable key column) before the commit logs the
# scattered-keys maintenance hint, and the minimum number of
# stats-tracked files for the hint to matter at all — below that a
# "full" pre-image scan and a pruned one open the same handful of
# files, so warning would just be gate/test noise.
_SCATTER_COVERAGE = 0.95
_SCATTER_MIN_FILES = 8


def _warn_scattered_bounds(
    table_path: str,
    parent_manifest: dict | None,
    bounds: dict | None,
    change_feed: bool,
) -> bool:
    """Log a maintenance hint when a tombstoning commit's recorded key
    bounds cover ~the table's whole stats envelope — bounds pruning
    then skips nothing, so CDF pre-image recovery degrades to a full
    prior-snapshot scan per feed version (SCALE_PROBE_r11 measured the
    write-side cost climbing 3.9→8.7 s/merge on exactly this shape).
    Pure manifest metadata: per-column envelope mins/maxes over the
    parent's per-file stats, zero data reads. Fires only when EVERY
    bounded column that has table stats is non-selective — one
    selective column is enough for ``_bounds_prune`` (which ANDs all
    columns) to keep recovery O(changed files). Returns whether the
    hint fired (for tests)."""
    if not bounds:
        return False
    # a bloom-maintained table recovers pre-images by per-file key
    # MEMBERSHIP — scattered bounds are exactly the regime blooms
    # close, so there is nothing to warn about when every commit is
    # covered
    pb = (parent_manifest or {}).get("bloom")
    if pb and set((parent_manifest or {}).get("commits", [])) <= set(
        pb.get("dirs", [])
    ):
        return False
    stats = (parent_manifest or {}).get("stats") or {}
    if not stats:
        return False
    if sum(len(files) for files in stats.values()) < _SCATTER_MIN_FILES:
        return False
    env: dict = {}
    dropped: set = set()
    for files in stats.values():
        for b in files.values():
            for c, (mn, mx) in b.items():
                if c in dropped or mn is None or mx is None:
                    continue
                if _is_nan(mn) or _is_nan(mx):
                    continue
                cur = env.get(c)
                try:
                    env[c] = (
                        mn if cur is None or mn < cur[0] else cur[0],
                        mx if cur is None or mx > cur[1] else cur[1],
                    )
                except TypeError:
                    env.pop(c, None)
                    dropped.add(c)
    covs = []
    for c, bb in bounds.items():
        e = env.get(c)
        if e is None or bb[0] is None or bb[1] is None:
            continue
        lo, hi = bb[0], bb[1]
        t_lo, t_hi = e
        try:
            numeric = all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                for x in (lo, hi, t_lo, t_hi)
            )
            if numeric:
                span = float(t_hi) - float(t_lo)
                if span <= 0:
                    covs.append(1.0 if (lo <= t_lo and hi >= t_hi) else 0.0)
                else:
                    ov = min(float(hi), float(t_hi)) - max(float(lo), float(t_lo))
                    covs.append(max(0.0, ov) / span)
            else:
                covs.append(1.0 if (lo <= t_lo and hi >= t_hi) else 0.0)
        except TypeError:
            continue
    if not covs or min(covs) < _SCATTER_COVERAGE:
        return False
    if change_feed:
        hint = (
            "its commit-time change-file write will scan ~the whole prior "
            "snapshot; maintain per-file key blooms "
            "(write_versioned bloom_cols=...) to bound the read by key "
            "membership, or prefer batch read_changes per consumer "
            "interval, or schedule maintain_versioned to keep the table "
            "clustered on the keys"
        )
    else:
        hint = (
            "CDF pre-image reconstruction for this version will scan ~the "
            "whole prior snapshot per consumer; maintain per-file key "
            "blooms (write_versioned bloom_cols=...), or consider "
            "change_feed=True (pay the scan once at commit) or "
            "maintain_versioned"
        )
    _log.warning(
        "scattered tombstone keys on %s: recorded bounds cover >=%d%% of "
        "the table's stats envelope on every key column, so bounds pruning "
        "will skip nothing — %s",
        table_path,
        int(_SCATTER_COVERAGE * 100),
        hint,
    )
    return True


def _check_append_schema(
    df: DataFrame, table_path: str, parent_manifest: dict
) -> None:
    """Schema ENFORCEMENT on append (the Delta write contract): a batch
    whose column names/types differ from the table's would otherwise
    land silently — the default reader plans from one footer, so the
    divergent commit's new columns vanish and missing ones surface as
    corruption only much later. One parent footer read on the driver
    (no Spark job; a footer without Spark's schema key, or a
    partitioned parent, falls back to a schema-inferring read) buys
    the check; intentional evolution passes
    ``allow_schema_evolution=True`` and reads back with
    ``merge_schema=True``. Enforcement anchors on the NEWEST data
    commit — the table's CURRENT schema — so after an intentional
    ``allow_schema_evolution`` append, later appends in the evolved
    schema pass and appends in the stale pre-evolution schema are
    rejected (the Delta contract; anchoring on the oldest commit would
    invert it)."""
    parent_commits = parent_manifest.get("commits", [])
    if not parent_commits:
        return
    c0 = parent_commits[-1]
    c0_path = os.path.join(table_path, "data", c0)
    parent = _footer_spark_schema([c0_path])
    if parent is None:
        parent = _read_store_parquet(df.sparkSession, c0_path).schema
    want = {f.name: f.dataType.simpleString() for f in parent.fields}
    # a hive-partitioned parent's partition columns read back with
    # INFERRED types; the manifest's spec records the real ones
    spec = parent_manifest.get("specs", {}).get(c0)
    if isinstance(spec, dict):
        want.update(spec)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if want != got:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        retyped = sorted(
            n for n in set(want) & set(got) if want[n] != got[n]
        )
        raise ValueError(
            "append schema does not match the table "
            f"(missing={missing}, new={extra}, retyped={retyped}); pass "
            "allow_schema_evolution=True to evolve intentionally"
        )


# Above this many DISTINCT tombstoned keys the bloom probe is skipped
# and pre-image recovery falls back to bounds pruning / full scan. The
# cap is principled, not a resource dodge: the probe costs
# O(keys x candidate files) bit tests, and bloom pruning only WINS when
# the key set is small relative to the table's per-file key density —
# with this many scattered keys nearly every file genuinely contains a
# match, so membership pruning could not skip much even if computed.
_BLOOM_PROBE_MAX_KEYS = 65536


def _commit_bloom_path(table_path: str, commit_dir: str) -> str:
    return os.path.join(table_path, "blooms", commit_dir)


def _strip_file_scheme(col: Column) -> Column:
    # `file:///x` and `file:/x` both normalize to `/x`, matching the
    # driver-side normalization in _collect_commit_stats
    return F.regexp_replace(col, "^file:/+", "/")


def _build_commit_bloom(
    spark: SparkSession,
    table_path: str,
    commit_dir: str,
    cfg: dict,
    spec: dict | None = None,
) -> bool:
    """Per-FILE key bloom for one commit directory — MEMBERSHIP data
    skipping on the table's key tuple, the complement of the min/max
    manifest stats: after enough scattered writes every file's [min,
    max] envelope spans the whole key domain and bounds pruning skips
    nothing, but a bloom still answers "can file F contain key K?"
    per file (Delta/Iceberg's bloom-filter data-skipping idea, held as
    table metadata instead of parquet footers so no footer is opened
    for a skipped file).

    One O(commit) aggregate at write time: each row's key tuple
    (``cfg["cols"]``, hashed as ONE struct so multi-column keys probe
    as a unit) contributes k bit positions, folded per (file, 64-bit
    word) with ``bit_or`` — the output is ``files x bits/64`` one-long
    rows under ``blooms/<commit_dir>/``, metadata-sized at any table
    size. File paths are stored RELATIVE to the commit dir, so the
    lost-race rename of a commit (and its bloom dir alongside) never
    invalidates the rows. Rows with a NULL in any key column set no
    bits (the probe bails out when the tombstone holds NULL keys, so
    null-key matches can never be pruned away). Returns False — and
    builds nothing — when the commit's key dtypes differ from the
    convention the table recorded at bloom setup: a probe hashed under
    different dtypes would silently miss files (xxhash64 hashes by
    type as well as value), and an absent bloom is merely unpruned,
    never wrong."""
    commit_path = os.path.join(table_path, "data", commit_dir)
    if spec:
        df = _read_spec_commit(spark, [commit_path], spec)
    else:
        df = _read_store_parquet(spark, commit_path)
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if any(have.get(c) != dt for c, dt in cfg["dtypes"].items()):
        return False
    cols, bits, k = cfg["cols"], cfg["bits"], cfg["k"]
    prefix = os.path.abspath(commit_path) + os.sep
    key = F.struct(*[F.col(c) for c in cols])
    pos = (
        df.filter(
            ~functools.reduce(
                lambda a, b: a | b, [F.col(c).isNull() for c in cols]
            )
        )
        .select(
            F.substring(
                _strip_file_scheme(F.col("_metadata.file_path")),
                len(prefix) + 1,
                1 << 20,
            ).alias("file"),
            F.explode(F.array(*_bloom_positions(key, bits, k))).alias("pos"),
        )
    )
    w_col, m_col = _bloom_word_mask_cols("pos")
    (
        pos.select("file", w_col.alias("w"), m_col.alias("m"))
        .groupBy("file", "w")
        .agg(F.bit_or("m").alias("word"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_commit_bloom_path(table_path, commit_dir))
    )
    return True


# Auto-sizing clamp for a new bloom convention: bits ≈ 10 x the first
# commit's rows-per-file (≈1% fpp), rounded up to a power of two. The
# floor keeps tiny tables at the legacy default; the ceiling (4M bits =
# 512 KiB of words per file) bounds the per-file metadata at ~0.4% of a
# 128 MB data file — past that density callers size explicitly.
_BLOOM_MIN_BITS = _BLOOM_BITS
_BLOOM_MAX_BITS = 1 << 22


def _footer_row_count(commit_path: str) -> int | None:
    """Total rows under a parquet file or directory from footer
    metadata (no Spark job); None when unreadable."""
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        if os.path.isfile(commit_path):
            return pq.ParquetFile(commit_path).metadata.num_rows
        files = []
        for dp, _dirs, fs in os.walk(commit_path):
            files.extend(
                os.path.join(dp, f) for f in fs if f.endswith(".parquet")
            )
        if not files or len(files) > _FOOTER_DRIVER_MAX_FILES:
            return None  # caller falls back to a distributed count
        counts = _footer_map(
            files, lambda p: pq.ParquetFile(p).metadata.num_rows
        )
        return sum(counts.values())
    except Exception:  # noqa: BLE001 - fall back to a count job
        return None


def _auto_bloom_bits(spark: SparkSession, commit_path: str) -> int:
    n_files = 0
    for dp, _dirs, fs in os.walk(commit_path):
        n_files += sum(1 for f in fs if f.endswith(".parquet"))
    rows = _footer_row_count(commit_path)
    if rows is None:
        rows = _read_store_parquet(spark, commit_path).count()
    per_file = rows / max(n_files, 1)
    bits = _BLOOM_MIN_BITS
    while bits < per_file * 10 and bits < _BLOOM_MAX_BITS:
        bits <<= 1
    return bits


def _bloom_cfg(
    parent_manifest: dict | None,
    bloom_cols: list[str] | None,
    df: DataFrame,
    bits: int | None = None,
) -> dict | None:
    """Resolve the bloom convention a new commit should build under:
    an explicit ``bloom_cols`` starts (or restates) the table's
    convention with dtypes pinned from ``df``; otherwise the parent
    manifest's convention is inherited — the stats-columns inheritance
    discipline, so a MERGE-maintained table keeps membership pruning
    on every commit. None = table doesn't maintain blooms. ``bits`` is
    caller-sized or density-derived (:func:`_auto_bloom_bits`) — the
    convention is table-level and fixed at setup, because probe and
    build must agree on the bit layout for every covered commit."""
    if bloom_cols:
        return {
            "cols": list(bloom_cols),
            "bits": int(bits) if bits else _BLOOM_BITS,
            "k": _BLOOM_K,
            "hash_version": _BLOOM_HASH_VERSION,
            "dtypes": {
                c: df.schema[c].dataType.simpleString() for c in bloom_cols
            },
            "dirs": [],
        }
    pb = (parent_manifest or {}).get("bloom")
    if pb:
        return {**pb, "dirs": list(pb.get("dirs", []))}
    return None


def _bloom_convention(cfg: dict) -> tuple:
    """The build/probe-compatibility identity of a bloom config —
    everything except ``dirs``. Two configs with equal conventions can
    share one manifest's ``dirs`` list; unequal ones cannot (a probe
    under one would silently miss files built under the other)."""
    return (
        list(cfg["cols"]),
        cfg["bits"],
        cfg["k"],
        cfg["hash_version"],
        dict(cfg["dtypes"]),
    )


def _bloom_manifest_entry(
    cfg: dict, commits: list[str], built: list[str]
) -> dict:
    """The child manifest's ``bloom`` field: the convention with
    ``dirs`` restricted to commit dirs still visible plus the dirs
    this write just built — a commit dropped from the manifest (purge,
    compact) silently drops its bloom reference too (vacuum reclaims
    the files)."""
    visible = set(commits)
    dirs = [d for d in cfg.get("dirs", []) if d in visible]
    dirs += [d for d in built if d not in dirs]
    return {**cfg, "dirs": dirs}


def _bounds_candidate_dirs(
    manifest: dict, bounds: dict | None
) -> set[str] | None:
    """Commits with at least one file whose stats envelope overlaps the
    tombstone's recorded bounds — driver-side manifest metadata, the
    same conservative overlap test ``read_versioned``'s stats pruning
    applies per file. None = no bounds or no stats (every commit is a
    candidate). Lets the bloom probe skip reading bloom rows for
    commits bounds pruning already excludes wholesale — the hot-tail
    CDC shape, where older commits' files all fall outside the changed
    key range and the probe should cost nothing for them."""
    triples = _bounds_prune(bounds)
    stats = manifest.get("stats") or {}
    if not triples or not stats:
        return None
    out: set[str] = set()
    for c in manifest.get("commits", []):
        st = stats.get(c)
        if st is None:
            out.add(c)  # no stats: cannot exclude, must probe
            continue
        for b in st.values():
            ok = True
            for col, lo, hi in triples:
                cb = b.get(col)
                if cb is None:
                    continue
                mn, mx = cb
                if mn is None or mx is None:
                    ok = False
                    break
                if _is_nan(mn) or _is_nan(mx) or _is_nan(lo) or _is_nan(hi):
                    continue
                try:
                    if not (mn <= hi and mx >= lo):
                        ok = False
                        break
                except TypeError:
                    continue
            if ok:
                out.add(c)
                break
    return out


def _bloom_keep_files(
    spark: SparkSession,
    table_path: str,
    manifest: dict,
    keys: DataFrame | list[tuple],
    candidate_dirs: set[str] | None = None,
) -> dict[str, set[str]] | None:
    """Membership file pruning: which files of which bloom-covered
    commits MIGHT contain any of ``keys`` — a tombstone frame (pre-image
    recovery) or driver-held literal key tuples in ``bloom.cols`` order
    (``read_versioned``'s ``where=`` point probe). Returns
    ``{commit_dir: {relative file, ...}}`` for exactly the commits in
    the manifest's ``bloom.dirs`` (commits without a bloom are absent —
    read fully), or None when the probe cannot run soundly (no bloom
    config, hash-convention drift, NULL keys, dtype casts that lose
    values, or a key set past ``_BLOOM_PROBE_MAX_KEYS``).

    Soundness: blooms have no false negatives under the recorded
    convention, and the caller's key semi-join (or ``where`` residual)
    is the row-level filter — pruning changes which files OPEN, never
    which rows match. Probe cost, metadata work on the driver:

    1. key positions, computed by Spark so build and probe share the
       hash convention exactly. Literal keys are deduplicated on the
       driver and projected over an Arrow-backed local relation the
       optimizer folds: 0 jobs. A tombstone frame runs ONE aggregate
       that also answers the guards (at most 2 jobs);
    2. bloom rows: only the words the keys need, read with pyarrow, one
       threaded read per candidate ``blooms/<commit>/`` dir — O(files)
       metadata, the order of the manifest stats every read holds;
    3. membership: each key's (word, mask) requirements tested against
       every candidate file's words — O(keys x files) vectorized bit
       tests with both factors bounded (keys by the cap, files by
       bounds pruning having already run on the same manifest)."""
    cfg = manifest.get("bloom")
    if not cfg or cfg.get("hash_version") != _BLOOM_HASH_VERSION:
        return None
    cols = cfg["cols"]
    literal = not isinstance(keys, DataFrame)
    if not literal and not set(cols) <= set(keys.columns):
        return None
    dirs = [d for d in cfg.get("dirs", []) if d in set(manifest["commits"])]
    if candidate_dirs is not None:
        # commits bounds pruning already excludes wholesale need no
        # membership probe — their bloom rows are never read
        dirs = [d for d in dirs if d in candidate_dirs]
    dirs = [
        d for d in dirs if os.path.isdir(_commit_bloom_path(table_path, d))
    ]
    if not dirs:
        return None
    if literal:
        keys = local_frame(
            spark,
            list(dict.fromkeys(keys)),
            ", ".join(f"{c} {cfg['dtypes'][c]}" for c in cols),
        )
    bits, k = cfg["bits"], cfg["k"]
    probe = keys.select(
        *[F.col(c).cast(cfg["dtypes"][c]).alias(c) for c in cols],
        *[F.col(c).isNull().alias(f"__wasnull_{c}") for c in cols],
    )
    # the guards: NULL keys (eqNullSafe can match stored NULL rows,
    # which set no bits) and value-losing casts (probe would hash a
    # different value than the build did) make pruning unsound ->
    # bail; so does a key set past the cap. A tombstone frame answers
    # them in the same job that yields each distinct key's positions
    # (limit cap+1 bounds the collect regardless); grouping keeps
    # NULL-key groups, and any such group bails.
    bad_row = functools.reduce(
        lambda a, b: a | b,
        [F.col(c).isNull() | F.col(f"__wasnull_{c}") for c in cols],
    )
    pos = F.array(*_bloom_positions(F.struct(*cols), bits, k)).alias("__pos")
    if literal:
        q = probe.select(bad_row.cast("int").alias("__bad"), pos)
    else:
        q = (
            probe.groupBy(*cols)
            .agg(F.max(bad_row.cast("int")).alias("__bad"))
            .select("__bad", pos)
            .limit(_BLOOM_PROBE_MAX_KEYS + 1)
        )
    key_rows = q.collect()
    if not key_rows or len(key_rows) > _BLOOM_PROBE_MAX_KEYS:
        return None
    # the bad-row check over the limit(cap+1) collected groups is
    # complete: any truncation by the limit implies > cap distinct
    # keys, which the cap bail above has already taken
    if any(r["__bad"] for r in key_rows):
        return None
    import numpy as np  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    reqs = [[_bloom_word_mask_py(int(p)) for p in r["__pos"]] for r in key_rows]
    need = np.array(sorted({w for req in reqs for w, _ in req}), np.int64)
    req_w = np.searchsorted(need, [[w for w, _ in req] for req in reqs])
    req_m = np.array([[m for _, m in req] for req in reqs], np.int64)
    rows = _footer_map(
        [_commit_bloom_path(table_path, d) for d in dirs],
        lambda p: pq.read_table(
            p, columns=["file", "w", "word"], filters=[("w", "in", need.tolist())]
        ),
    )
    keep: dict[str, set[str]] = {}
    for d in dirs:
        t = rows[_commit_bloom_path(table_path, d)]
        files, inv = np.unique(
            t["file"].to_numpy(zero_copy_only=False), return_inverse=True
        )
        slots = np.searchsorted(need, t["w"].to_numpy())
        words = t["word"].to_numpy()
        order = np.argsort(inv, kind="stable")
        ends = np.cumsum(np.bincount(inv, minlength=len(files)))[:-1]
        keep[d] = set()
        for f, at in zip(files, np.split(order, ends)):
            have = np.zeros(len(need), np.int64)  # missing word == 0
            have[slots[at]] = words[at]
            if ((have[req_w] & req_m) != 0).all(axis=1).any():
                keep[d].add(f)
    return keep


def write_versioned(
    df: DataFrame,
    table_path: str,
    mode: str = "overwrite",
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    branch: str = "main",
    partition_by: list[str] | None = None,
    allow_schema_evolution: bool = False,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
) -> int:
    """Commit ``df`` as a new table version — snapshot isolation and
    time travel on plain parquet, the lakehouse commit-log idea
    (Delta/Iceberg) without a table format dependency:

    - data files are IMMUTABLE: each commit writes its rows into its
      own ``data/commit-N/`` directory and never touches earlier ones;
    - a version is a MANIFEST (``_manifests/vN.json``) listing the
      commit directories visible at that version — ``overwrite`` lists
      just the new commit, ``append`` extends the parent's list;
    - the manifest write is the atomic commit point: readers resolving
      version N never see later commits (snapshot isolation), and any
      historical version stays readable until explicitly vacuumed.

    The manifest is driver-side METADATA (a list of directory names,
    bytes proportional to commit count — never to rows). Returns the
    new version number.

    ``stats_cols``: record per-FILE min/max bounds for these columns in
    the manifest (the Delta ``add.stats`` idea) — one O(commit) scan at
    write time buys ``read_versioned(prune=...)`` file skipping without
    opening a footer. Appends inherit the parent's stats for earlier
    commits, so each commit pays only for its own files.

    Concurrency: commit directories carry a unique token
    (``commit-N-<tok>``), so concurrent writers never touch each
    other's data; the manifest publish is an atomic create-if-absent
    (:func:`_publish_manifest`), and on collision the loser re-reads
    the log, recomputes its parent-dependent manifest state, and
    retries with the next version number — both commits survive
    (optimistic concurrency, the Delta commit protocol). Data is
    written ONCE regardless of retries.

    Storage contract: the commit point requires exactly one primitive
    from the underlying store — atomic PUT-IF-ABSENT of the manifest
    object (POSIX hard link / HDFS create-no-overwrite / S3
    ``If-None-Match: *`` conditional write / GCS
    ``if-generation-match: 0``). Deployments on stores lacking it must
    install a coordinating publisher via
    :func:`set_manifest_publisher`; everything else in the protocol is
    plain immutable-object I/O.

    ``branch``: commit onto a named branch instead of main (the W of
    Write-Audit-Publish). Branch manifests live in the SAME version
    log — they take global version numbers through the same
    put-if-absent — and carry a ``branch`` field; main readers never
    resolve them (:func:`branch_head`). An ``append`` to a branch with
    no prior head forks from MAIN's current head (Iceberg's
    branch-from-snapshot); audit the branch with :func:`read_versioned`
    ``(branch=...)`` / :func:`delete_versioned`, then atomically
    fast-forward main with :func:`publish_branch`.

    ``partition_by``: hive-partition this commit's files on the given
    columns. The spec is PER COMMIT (recorded in the manifest's
    ``specs`` map), so it can evolve across the table's life — Iceberg
    partition-spec evolution: old commits keep their layout, new
    commits get the new one, and ``read_versioned`` plans each commit
    under its own spec (partition pruning on new commits, stats/file
    pruning on old — no rewrite to change the spec).

    ``bloom_cols``: maintain a per-file KEY BLOOM over these columns
    (hashed as one tuple) for this and — via inheritance, like stats
    columns — every later append/merge: membership file skipping for
    tombstone pre-image recovery where min/max bounds can't prune
    because scattered writes made every file's envelope span the whole
    key domain (:func:`_build_commit_bloom`). Append mode inherits the
    parent's convention when None; overwrite drops it unless restated
    (the stats_cols discipline). Starting blooms on an EXISTING table
    covers new commits only — run ``compact_versioned`` /
    ``optimize_versioned`` to extend coverage to the rewritten
    history. ``bloom_bits`` sizes the per-file filter; default =
    density-derived from this first commit (≈10 bits per row-per-file,
    ~1% fpp) — tables whose later commits are much denser than the
    first should size explicitly, since the convention is fixed at
    setup."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    token = uuid.uuid4().hex[:8]
    existing = table_versions(table_path)
    if mode == "append" and existing and not allow_schema_evolution:
        check_v = branch_head(table_path, branch)
        if check_v is None and branch != "main":
            check_v = branch_head(table_path, "main")
        if check_v is not None:
            _check_append_schema(df, table_path, _load_manifest(table_path, check_v))
    new_v = (existing[-1] + 1) if existing else 0
    commit_dir = f"commit-{new_v}-{token}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(table_path, "data", commit_dir))
    commit_spec = (
        {c: df.schema[c].dataType.simpleString() for c in partition_by}
        if partition_by
        else None
    )
    bloom_parent = None
    if bloom_cols is None and mode == "append" and existing:
        bp_v = branch_head(table_path, branch)
        if bp_v is None and branch != "main":
            bp_v = branch_head(table_path, "main")
        if bp_v is not None:
            bloom_parent = _load_manifest(table_path, bp_v)
    if bloom_cols and bloom_bits is None:
        bloom_bits = _auto_bloom_bits(
            df.sparkSession, os.path.join(table_path, "data", commit_dir)
        )
    bloom_cfg = _bloom_cfg(bloom_parent, bloom_cols, df, bits=bloom_bits)
    # stats (footer metadata or a scan fallback) and the bloom build
    # (one aggregate over the just-written commit) are independent —
    # overlap their jobs (guide §2.6)
    commit_stats, bloom_built = _run_concurrently(
        lambda: _collect_commit_stats(
            df.sparkSession,
            os.path.join(table_path, "data", commit_dir),
            stats_cols,
            spec=commit_spec,
        )
        if stats_cols
        else None,
        lambda: bool(bloom_cfg)
        and _build_commit_bloom(
            df.sparkSession, table_path, commit_dir, bloom_cfg, spec=commit_spec
        ),
    )
    while True:
        if mode == "append" and existing:
            # the parent is the head of THIS branch; a branch's first
            # append forks from main's current head (branch-from-snapshot)
            parent_v = branch_head(table_path, branch)
            if parent_v is None and branch != "main":
                parent_v = branch_head(table_path, "main")
            parent = (
                _load_manifest(table_path, parent_v) if parent_v is not None else {}
            )
            parents = parent.get("commits", [])
            # tombstones survive appends: they keep applying to the
            # commits they covered (`upto` indexes are positions in the
            # commit list, which appends only extend)
            deletes = parent.get("deletes", [])
            stats = dict(parent.get("stats", {}))
            specs = dict(parent.get("specs", {}))
            zorder = dict(parent.get("zorder", {}))
        else:
            parents, deletes, stats, specs, zorder = [], [], {}, {}, {}
        if commit_stats is not None:
            stats[commit_dir] = commit_stats
        if commit_spec:
            # record each spec column's ORIGINAL dtype: hive partition
            # discovery re-infers types from the directory names (a
            # string column holding "0" comes back as an int — caught
            # by the model fuzz), so readers cast back from the
            # manifest, the Iceberg schema-in-metadata discipline
            specs[commit_dir] = commit_spec
        manifest = {"version": new_v, "mode": mode, "commits": parents + [commit_dir]}
        if branch != "main":
            manifest["branch"] = branch
        if deletes:
            manifest["deletes"] = deletes
        if stats:
            manifest["stats"] = stats
        if specs:
            manifest["specs"] = specs
        if zorder:
            manifest["zorder"] = zorder
        if meta:
            manifest["meta"] = meta
        # the IN-LOOP parent's bloom dirs (a lost race may have added
        # commits with blooms); on a concurrent CONVENTION change the
        # parent's wins and our just-built dir stays unreferenced
        # (vacuum-swept) — an absent bloom is unpruned, never wrong
        parent_bloom = (
            parent.get("bloom") if mode == "append" and existing else None
        )
        if bloom_cfg is not None and (
            parent_bloom is None
            or _bloom_convention(parent_bloom) == _bloom_convention(bloom_cfg)
        ):
            base = {**bloom_cfg, "dirs": (parent_bloom or {}).get("dirs", [])}
            manifest["bloom"] = _bloom_manifest_entry(
                base, manifest["commits"], [commit_dir] if bloom_built else []
            )
        elif parent_bloom is not None:
            manifest["bloom"] = _bloom_manifest_entry(
                parent_bloom, manifest["commits"], []
            )
        if _publish_manifest(table_path, new_v, manifest):
            return new_v
        # lost the race: rename our (exclusively-owned) commit dir to
        # match the next version number and rebuild the manifest against
        # the new parent
        existing = table_versions(table_path)
        next_v = (existing[-1] + 1) if existing else 0
        renamed = f"commit-{next_v}-{token}"
        os.rename(
            os.path.join(table_path, "data", commit_dir),
            os.path.join(table_path, "data", renamed),
        )
        if bloom_built:
            os.rename(
                _commit_bloom_path(table_path, commit_dir),
                _commit_bloom_path(table_path, renamed),
            )
        commit_dir, new_v = renamed, next_v


def version_meta(table_path: str, version: int | None = None) -> dict:
    """The caller-supplied metadata recorded in a version's manifest
    (empty dict when none). Because the manifest rename IS the commit
    point, this metadata is exactly as durable as the version itself —
    which is what makes it usable as a streaming replay guard."""
    import json

    versions = table_versions(table_path)
    if not versions:
        return {}
    v = versions[-1] if version is None else version
    with open(os.path.join(_versions_dir(table_path), f"v{v}.json")) as f:
        return json.load(f).get("meta", {})


def delete_versioned(
    keys_df: DataFrame,
    table_path: str,
    branch: str = "main",
    change_feed: bool = False,
) -> int:
    """Row-level DELETE on the versioned store, merge-on-read — the
    deletion-vector idea (Delta/Iceberg v2 position deletes) expressed
    as KEY tombstones on plain parquet:

    - the tombstone keys are written to ``deletes/delete-N/`` (their
      own immutable directory, like data commits);
    - the new manifest carries the parent's commit list unchanged plus
      a delete entry ``{dir, upto}`` where ``upto`` = number of parent
      commits — the tombstone applies ONLY to commits that existed when
      the delete ran. A later append that re-inserts a deleted key is
      a NEW fact and survives (CDC replays depend on this);
    - no data file is rewritten: a delete costs O(tombstone), never
      O(table) — the only viable DELETE at 100 TB. Readers anti-join
      the tombstones at scan time (``read_versioned``); a maintenance
      rewrite can physically purge later without changing results.

    ``keys_df``'s columns ARE the delete key (already projected by the
    caller). Returns the new version number. Commits with the same
    optimistic-concurrency protocol as :func:`write_versioned`; on a
    collision the tombstone's ``upto`` is recomputed against the new
    parent, so it covers exactly the commits visible when the delete
    actually lands.

    ``branch``: tombstone the head of that branch instead of main — the
    A of Write-Audit-Publish (an audit that finds bad rows deletes them
    ON the branch, then publishes the cleaned state).

    ``change_feed=True`` additionally materializes the deleted rows'
    PRE-IMAGES to ``changes/`` at commit time (bounds-pruned parent
    scan — Delta CDF's write-side approach), so ``read_changes`` serves
    this version from stored files instead of reconstructing per
    consumer. Costs one O(changed files) read at commit."""
    existing = table_versions(table_path)
    if not existing:
        raise FileNotFoundError(f"no committed versions under {table_path}")
    token = uuid.uuid4().hex[:8]
    new_v = existing[-1] + 1
    delete_dir = f"delete-{new_v}-{token}"
    keys_df.dropDuplicates().write.mode("overwrite").parquet(
        os.path.join(table_path, "deletes", delete_dir)
    )
    # bounds from the WRITTEN tombstone (tiny), not the caller's frame,
    # whose lineage may be arbitrarily expensive to re-evaluate —
    # footer metadata when the key dtypes allow, read-back scan otherwise
    bounds = _tombstone_bounds_dir(
        keys_df.sparkSession, os.path.join(table_path, "deletes", delete_dir)
    )
    probe_v = branch_head(table_path, branch)
    if probe_v is not None:
        _warn_scattered_bounds(
            table_path, _load_manifest(table_path, probe_v), bounds, change_feed
        )
    while True:
        parent_v = branch_head(table_path, branch)
        if parent_v is None:
            raise FileNotFoundError(
                f"branch {branch!r} has no commits under {table_path}"
            )
        parent = _load_manifest(table_path, parent_v)
        d_entry = {"dir": delete_dir, "upto": len(parent["commits"])}
        if bounds:
            d_entry["bounds"] = bounds
        manifest = {
            "version": new_v,
            "mode": "delete",
            "commits": parent["commits"],
            "deletes": parent.get("deletes", []) + [d_entry],
        }
        if branch != "main":
            manifest["branch"] = branch
        if parent.get("stats"):
            manifest["stats"] = parent["stats"]
        if parent.get("specs"):
            manifest["specs"] = parent["specs"]
        if parent.get("zorder"):
            manifest["zorder"] = parent["zorder"]
        if parent.get("bloom"):
            manifest["bloom"] = parent["bloom"]
        if change_feed:
            changes_dir = delete_dir.replace("delete-", "change-", 1)
            _write_change_files(
                keys_df.sparkSession, table_path, parent_v, "delete",
                delete_dir, bounds, changes_dir,
            )
            manifest["changes"] = changes_dir
        if _publish_manifest(table_path, new_v, manifest):
            return new_v
        existing = table_versions(table_path)
        next_v = existing[-1] + 1
        renamed = f"delete-{next_v}-{token}"
        os.rename(
            os.path.join(table_path, "deletes", delete_dir),
            os.path.join(table_path, "deletes", renamed),
        )
        delete_dir, new_v = renamed, next_v


def merge_versioned(
    source: DataFrame,
    table_path: str,
    keys: list[str],
    delete_col: str | None = None,
    meta: dict | None = None,
    branch: str = "main",
    stats_cols: list[str] | None = None,
    change_feed: bool = False,
) -> int:
    """MERGE INTO for the versioned store — last-writer-wins upsert
    plus optional row deletion as ONE atomic version (the Delta
    ``MERGE`` contract):

    - every source key is tombstoned against the commits that existed
      at merge time (``upto`` = parent commit count, so the merge's own
      appended rows survive — matched rows are replaced, unmatched
      source rows are plain inserts);
    - source rows whose ``delete_col`` is true contribute ONLY their
      tombstone (WHEN MATCHED THEN DELETE); the rest are appended as
      the merge's data commit;
    - tombstones and data publish under ONE manifest, so no reader —
      current or time-traveling — can ever observe the torn middle
      state a delete-then-append pair leaves in history.

    Cost: O(source) writes + one manifest; the table is never
    rescanned (merge-on-read carries the tombstones until
    purge_deletes). The per-key LWW reduction over the SOURCE is the
    caller's job (cdc_stream_sink does it per micro-batch); a source
    with duplicate keys would insert duplicate rows, exactly like SQL
    MERGE with a non-deterministic source. The tombstone is the
    source's key projection as is, without a dedup shuffle: every
    tombstone consumer ignores duplicate keys (anti and semi joins, the
    bloom probe's key grouping, the recorded bounds' ``nulls == 0``
    test, the stream source's set probe).

    Concurrency: same optimistic protocol as write_versioned — data
    and tombstone dirs are written once under a unique token; on a
    lost race only the manifest (and the ``upto`` scope) recompute
    against the new parent. Returns the new version number.

    ``stats_cols``: record per-file min/max bounds for these columns on
    the merge's data commit, exactly like ``write_versioned`` — when
    None, the column set the PARENT's stats already track is inherited
    (restricted to columns the upsert frame actually has), so a
    MERGE-maintained table (the CDC steady state) keeps
    ``read_versioned(prune=...)`` file skipping on every commit instead
    of silently degrading until the next OPTIMIZE.

    ``change_feed=True`` additionally classifies and materializes this
    merge's change rows (update_preimage / update_postimage / insert /
    delete) to ``changes/`` at commit time — Delta CDF's write-side
    approach: one bounds-pruned parent read per merge, and
    ``read_changes`` then serves the version from stored files with
    zero reconstruction per consumer. COST CAVEAT (measured,
    SCALE_PROBE_r11): the pre-image read prunes by the source keys'
    bounds, so with KEY-LOCAL sources (the CDC hot-tail shape) the
    extra cost is flat (~1 s/merge over a 500k-row table, independent
    of merge count); with SCATTERED keys the bounds span the table
    and, on a bounds-only table, every merge pays a full merge-on-read
    scan (3.9 → 8.7 s over 30 merges as tombstones accrete). Round 12
    closes that regime: a table set up with
    ``write_versioned(bloom_cols=...)`` prunes the pre-image read by
    per-file key-bloom MEMBERSHIP instead (O(files containing the
    keys) however scattered they are — SCALE_PROBE_r12 ``bloom_cdf``);
    that probe is one aggregate over the tombstone (at most 2 jobs),
    with the needed bloom words read and tested on the driver. Every
    internal read of the commit's own dirs plans from footer schemas
    read on the driver (:func:`_read_store_parquet`), so none pays a
    schema-inference job: a 3-row change-feed merge on a bloom table
    runs 9 jobs. For scattered-key feeds on a bloomless table, leave
    this off and let consumers reconstruct via batch ``read_changes`` —
    read-side cost is paid per consumer interval, not per commit — or
    schedule ``maintain_versioned`` to keep the scan bounded.

    Reference parity: upload/main.py's load loop deletes re-sent keys
    then re-inserts (two visible steps on the serving index); this is
    the same intent with snapshot isolation."""
    existing = table_versions(table_path)
    if not existing:
        raise FileNotFoundError(f"no committed versions under {table_path}")
    token = uuid.uuid4().hex[:8]
    new_v = existing[-1] + 1
    delete_dir = f"delete-{new_v}-{token}"
    commit_dir = f"commit-{new_v}-{token}"
    upserts = (
        source.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
        if delete_col is not None
        else source
    )

    def _write_tombstone():
        source.select(*keys).write.mode("overwrite").parquet(
            os.path.join(table_path, "deletes", delete_dir)
        )
        # bounds from the WRITTEN tombstone (tiny), not the source
        # lineage — footer metadata when the key dtypes allow,
        # read-back scan otherwise
        return _tombstone_bounds_dir(
            source.sparkSession, os.path.join(table_path, "deletes", delete_dir)
        )

    def _write_upserts():
        upserts.write.mode("overwrite").parquet(
            os.path.join(table_path, "data", commit_dir)
        )

    # the tombstone and data commits are independent outputs of the same
    # source micro-batch: overlap their tiny jobs (guide §2.6) instead
    # of paying two serial schedule/plan round trips per merge
    key_bounds, _ = _run_concurrently(_write_tombstone, _write_upserts)
    warn_v = branch_head(table_path, branch)
    if warn_v is None and branch != "main":
        warn_v = branch_head(table_path, "main")
    if warn_v is not None:
        _warn_scattered_bounds(
            table_path, _load_manifest(table_path, warn_v), key_bounds, change_feed
        )
    probe_v = branch_head(table_path, branch)
    if probe_v is None and branch != "main":
        probe_v = branch_head(table_path, "main")
    probe_manifest = (
        _load_manifest(table_path, probe_v) if probe_v is not None else {}
    )
    cols = stats_cols
    if cols is None:
        # inherit the parent's tracked stats columns so merge-heavy
        # tables never silently stop recording pruning bounds
        pstats = probe_manifest.get("stats", {})
        tracked = sorted(
            {c for files in pstats.values() for b in files.values() for c in b}
        )
        cols = [c for c in tracked if c in upserts.columns]
    # inherit the table's bloom convention (same discipline as stats):
    # a MERGE-maintained table keeps membership pruning on every commit.
    # Stats (footer metadata or a scan fallback) and the bloom build
    # (one aggregate over the just-written commit) are independent —
    # overlap them (guide §2.6)
    bloom_cfg = _bloom_cfg(probe_manifest, None, upserts)
    commit_stats, bloom_built = _run_concurrently(
        lambda: _collect_commit_stats(
            source.sparkSession, os.path.join(table_path, "data", commit_dir), cols
        )
        if cols
        else None,
        lambda: bool(bloom_cfg)
        and _build_commit_bloom(
            source.sparkSession, table_path, commit_dir, bloom_cfg
        ),
    )
    while True:
        parent_v = branch_head(table_path, branch)
        if parent_v is None and branch != "main":
            parent_v = branch_head(table_path, "main")
        if parent_v is None:
            raise FileNotFoundError(
                f"branch {branch!r} has no commits under {table_path}"
            )
        parent = _load_manifest(table_path, parent_v)
        d_entry = {"dir": delete_dir, "upto": len(parent["commits"])}
        if key_bounds:
            d_entry["bounds"] = key_bounds
        manifest = {
            "version": new_v,
            "mode": "merge",
            "commits": parent["commits"] + [commit_dir],
            "deletes": parent.get("deletes", []) + [d_entry],
        }
        if branch != "main":
            manifest["branch"] = branch
        stats = dict(parent.get("stats", {}))
        if commit_stats is not None:
            stats[commit_dir] = commit_stats
        if stats:
            manifest["stats"] = stats
        if parent.get("specs"):
            manifest["specs"] = parent["specs"]
        if parent.get("zorder"):
            manifest["zorder"] = parent["zorder"]
        if meta:
            manifest["meta"] = meta
        parent_bloom = parent.get("bloom")
        if bloom_cfg is not None and (
            parent_bloom is None
            or _bloom_convention(parent_bloom) == _bloom_convention(bloom_cfg)
        ):
            base = {**bloom_cfg, "dirs": (parent_bloom or {}).get("dirs", [])}
            manifest["bloom"] = _bloom_manifest_entry(
                base, manifest["commits"], [commit_dir] if bloom_built else []
            )
        elif parent_bloom is not None:
            manifest["bloom"] = _bloom_manifest_entry(
                parent_bloom, manifest["commits"], []
            )
        if change_feed:
            changes_dir = commit_dir.replace("commit-", "change-", 1)
            _write_change_files(
                source.sparkSession, table_path, parent_v, "merge",
                delete_dir, key_bounds, changes_dir,
                commit_dir=commit_dir, keys=keys,
            )
            manifest["changes"] = changes_dir
        if _publish_manifest(table_path, new_v, manifest):
            return new_v
        existing = table_versions(table_path)
        next_v = existing[-1] + 1
        for sub, old in (("deletes", delete_dir), ("data", commit_dir)):
            renamed = old.replace(f"-{new_v}-", f"-{next_v}-", 1)
            os.rename(
                os.path.join(table_path, sub, old),
                os.path.join(table_path, sub, renamed),
            )
        if bloom_built:
            os.rename(
                _commit_bloom_path(table_path, commit_dir),
                _commit_bloom_path(
                    table_path, commit_dir.replace(f"-{new_v}-", f"-{next_v}-", 1)
                ),
            )
        delete_dir = delete_dir.replace(f"-{new_v}-", f"-{next_v}-", 1)
        commit_dir = commit_dir.replace(f"-{new_v}-", f"-{next_v}-", 1)
        new_v = next_v


def purge_deletes(spark: SparkSession, table_path: str) -> int:
    """Physically apply the latest version's tombstones — the
    maintenance rewrite that turns merge-on-read deletes back into
    clean scans. Only commits actually covered by a tombstone are
    rewritten (anti-joined and written to fresh ``commit-Np<i>``
    dirs); uncovered commits are referenced as-is, so the cost is
    O(covered data + tombstones), not O(table). Commits a new version
    with NO delete entries; after it, ``vacuum_versions`` can reclaim
    the superseded commit dirs and the tombstones themselves. Readers
    of the purged version and the pre-purge version see identical
    rows — purging is a layout change, never a data change. Each
    covered commit costs one anti-join rewrite; its tombstones are read
    as written (duplicate keys on an anti join's build side change
    nothing, so no dedup shuffle) and every scan plans from footer
    schemas read on the driver.

    Concurrency: the rewrite is derived from the parent snapshot, so a
    collision (another writer committed first) invalidates the WHOLE
    rewrite — unlike append/delete there is no cheap manifest
    recompute. On collision the function redoes the purge against the
    new head (bounded attempts); abandoned rewrite dirs are
    unreferenced and reclaimed by ``vacuum_versions``."""
    for _attempt in range(5):
        versions = table_versions(table_path)
        if not versions:
            raise FileNotFoundError(f"no committed versions under {table_path}")
        read_v = branch_head(table_path, "main")
        if read_v is None:
            raise FileNotFoundError(f"main has no commits under {table_path}")
        manifest = _load_manifest(table_path, read_v)
        deletes = manifest.get("deletes", [])
        if not deletes:
            return read_v
        new_v = versions[-1] + 1
        token = uuid.uuid4().hex[:8]
        new_commits = []
        old_stats = manifest.get("stats", {})
        old_specs = manifest.get("specs", {})
        old_zorder = manifest.get("zorder", {})
        new_stats = {}
        new_specs = {}
        new_zorder = {}
        for i, c in enumerate(manifest["commits"]):
            applicable = [d["dir"] for d in deletes if d["upto"] > i]
            if not applicable:
                new_commits.append(c)
                if c in old_stats:
                    new_stats[c] = old_stats[c]
                if c in old_specs:
                    new_specs[c] = old_specs[c]
                if c in old_zorder:
                    new_zorder[c] = old_zorder[c]
                continue
            # single-dir read: partition discovery materializes a
            # spec'd commit's partition columns, so the purged rewrite
            # keeps them as data columns (its spec entry is dropped) —
            # read through the manifest-spec cast (inference OFF) so
            # the rewrite persists the pinned dtypes and exact values,
            # never discovery-inferred ones ('007' must not become 7)
            cdir = os.path.join(table_path, "data", c)
            spec_c = old_specs.get(c)
            if isinstance(spec_c, dict):
                df = _read_spec_commit(spark, [cdir], spec_c, base_path=cdir)
            else:
                df = _read_store_parquet(spark, cdir)
            tomb = _read_store_parquet(
                spark, *[os.path.join(table_path, "deletes", d) for d in applicable]
            )
            cond = None
            for k in tomb.columns:
                eq = df[k].eqNullSafe(tomb[k])
                cond = eq if cond is None else cond & eq
            purged_dir = f"commit-{new_v}p{i}-{token}"
            df.join(tomb, cond, "left_anti").write.mode("overwrite").parquet(
                os.path.join(table_path, "data", purged_dir)
            )
            new_commits.append(purged_dir)
            if c in old_stats:
                # re-derive bounds for the rewritten files (same columns)
                cols = sorted({k for b in old_stats[c].values() for k in b})
                new_stats[purged_dir] = _collect_commit_stats(
                    spark, os.path.join(table_path, "data", purged_dir), cols
                )
        new_manifest = {"version": new_v, "mode": "purge", "commits": new_commits}
        bcfg = manifest.get("bloom")
        if bcfg:
            # uncovered commits keep their dirs as-is; only the
            # tombstone-covered rewrites rebuild (their surviving rows
            # changed) — purge stays O(covered data), never a full
            # coverage backfill
            rewritten = [
                c for c in new_commits if c not in set(manifest["commits"])
            ]
            built = [
                c
                for c in rewritten
                if _build_commit_bloom(spark, table_path, c, bcfg)
            ]
            new_manifest["bloom"] = _bloom_manifest_entry(
                bcfg, new_commits, built
            )
        if new_stats:
            new_manifest["stats"] = new_stats
        if new_specs:
            new_manifest["specs"] = new_specs
        if new_zorder:
            new_manifest["zorder"] = new_zorder
        if _publish_manifest(table_path, new_v, new_manifest):
            return new_v
    raise RuntimeError(
        f"purge_deletes: lost the commit race 5 times under {table_path}"
    )


def compact_versioned(
    spark: SparkSession, table_path: str, stats_cols: list[str] | None = None
) -> int:
    """Commit-log compaction: a streaming sink accretes one commit per
    micro-batch, so after N batches every read unions N directories —
    the listing/planning cost grows with history even when the data
    doesn't. This rewrites the CURRENT visible rows (tombstones
    applied) as one fresh commit and commits it as a new version, so
    reads resolve to a single directory again. History stays readable
    (older versions still reference their commits until
    ``vacuum_versions``), the streaming replay guard is unaffected
    (``last_committed_batch_id`` scans ALL manifests), and
    ``stats_cols`` re-records file bounds for the compacted layout.
    Returns the new version number. Cost: O(live rows) — schedule it
    like any maintenance rewrite.

    Concurrency: the compacted rows are a snapshot of the version that
    was READ, so the commit must land at exactly ``read_version + 1`` —
    blind-committing at whatever the head is by then would silently
    drop a concurrent append. On collision the compaction redoes
    itself against the new head (bounded attempts); abandoned rewrite
    dirs are unreferenced and reclaimed by ``vacuum_versions``."""
    for _attempt in range(5):
        versions = table_versions(table_path)
        if not versions:
            raise FileNotFoundError(f"no committed versions under {table_path}")
        read_v = branch_head(table_path, "main")
        if read_v is None:
            raise FileNotFoundError(f"main has no commits under {table_path}")
        new_v = versions[-1] + 1
        token = uuid.uuid4().hex[:8]
        commit_dir = f"commit-{new_v}-{token}"
        current = read_versioned(spark, table_path, version=read_v)
        current.write.mode("overwrite").parquet(
            os.path.join(table_path, "data", commit_dir)
        )
        manifest = {"version": new_v, "mode": "overwrite", "commits": [commit_dir]}
        if stats_cols:
            manifest["stats"] = {
                commit_dir: _collect_commit_stats(
                    spark, os.path.join(table_path, "data", commit_dir), stats_cols
                )
            }
        bcfg = _load_manifest(table_path, read_v).get("bloom")
        if bcfg:
            # a full rewrite changes rows-per-file by orders of
            # magnitude (many small commits -> few packed files); the
            # single-commit result manifest can re-derive the bit size
            # for the NEW density — an inherited small filter would
            # saturate and prune nothing while still costing probes
            bcfg = {
                **bcfg,
                "bits": _auto_bloom_bits(
                    spark, os.path.join(table_path, "data", commit_dir)
                ),
            }
            built = _build_commit_bloom(spark, table_path, commit_dir, bcfg)
            manifest["bloom"] = _bloom_manifest_entry(
                bcfg, [commit_dir], [commit_dir] if built else []
            )
        if _publish_manifest(table_path, new_v, manifest):
            return new_v
    raise RuntimeError(
        f"compact_versioned: lost the commit race 5 times under {table_path}"
    )


def _dir_bytes(root: str) -> int:
    total = 0
    for dp, _dirs, fs in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(dp, f)) for f in fs if f.endswith(".parquet")
        )
    return total


def optimize_versioned(
    spark: SparkSession,
    table_path: str,
    zorder_cols: list[str],
    stats_cols: list[str] | None = None,
    target_file_bytes: int = 128 << 20,
    zorder_scaling: str = "minmax",
    incremental: bool = False,
) -> int:
    """OPTIMIZE ZORDER for the versioned store (the Delta
    ``OPTIMIZE ... ZORDER BY`` maintenance op): rewrite visible rows
    z-order-clustered and publish as a new version, recording per-file
    stats for ``stats_cols`` (default: the z-order columns) so
    ``read_versioned(prune=...)`` skips on TIGHT multi-column bounds
    afterwards. History, time travel, and the streaming replay guard
    are untouched (same contract as :func:`compact_versioned`); old
    commits stay readable until ``vacuum_versions``.

    ``incremental=True`` makes the rewrite O(delta), the only
    schedulable shape at 100 TB: commits already produced by an
    optimize with the SAME cluster columns (tracked in the manifest's
    ``zorder`` map) are kept as-is, and only the commits appended
    since — with their applicable tombstones applied — are rewritten
    into one new clustered commit. Already-optimized commits always
    form a PREFIX of the commit list (appends extend the tail, the
    rewrite replaces it), so surviving delete entries just clamp their
    ``upto`` to that prefix; with nothing pending the call is a no-op
    returning the current head. Optimized delta commits accumulate
    until a periodic full OPTIMIZE (incremental=False) collapses the
    table to one directory.

    Concurrency: like compaction, the rewrite snapshots the version it
    READ — on a collision the whole rewrite redoes against the new
    head, so a concurrent append is never dropped. Abandoned rewrite
    dirs are unreferenced and reclaimed by vacuum. Cost: O(live rows)
    full / O(rows since last optimize) incremental, one range shuffle."""
    stats_cols = stats_cols if stats_cols is not None else list(zorder_cols)
    for _attempt in range(5):
        versions = table_versions(table_path)
        if not versions:
            raise FileNotFoundError(f"no committed versions under {table_path}")
        read_v = branch_head(table_path, "main")
        if read_v is None:
            raise FileNotFoundError(f"main has no commits under {table_path}")
        new_v = versions[-1] + 1
        token = uuid.uuid4().hex[:8]
        commit_dir = f"commit-{new_v}z-{token}"
        commit_path = os.path.join(table_path, "data", commit_dir)
        manifest_read = _load_manifest(table_path, read_v)
        zmap = dict(manifest_read.get("zorder", {}))

        if incremental:
            commits = manifest_read["commits"]
            kept = 0
            while kept < len(commits) and zmap.get(commits[kept]) == list(zorder_cols):
                kept += 1
            pending = commits[kept:]
            if not pending:
                return read_v  # fully clustered already: no-op
            deletes = manifest_read.get("deletes", [])
            old_stats = manifest_read.get("stats", {})
            old_specs = manifest_read.get("specs", {})
            # pending rows with their applicable tombstones applied —
            # the same per-commit scoping (and manifest-spec cast, so a
            # spec'd pending commit's partition columns keep their
            # pinned dtype in the clustered rewrite) read_versioned uses
            parts = []
            for i in range(kept, len(commits)):
                c = commits[i]
                cdir = os.path.join(table_path, "data", c)
                spec_c = old_specs.get(c)
                if isinstance(spec_c, dict):
                    df = _read_spec_commit(spark, [cdir], spec_c, base_path=cdir)
                else:
                    df = _read_store_parquet(spark, cdir)
                applicable = [d["dir"] for d in deletes if d["upto"] > i]
                if applicable:
                    tomb = _read_store_parquet(
                        spark,
                        *[os.path.join(table_path, "deletes", d) for d in applicable],
                    )
                    cond = None
                    for k in tomb.columns:
                        eq = df[k].eqNullSafe(tomb[k])
                        cond = eq if cond is None else cond & eq
                    df = df.join(tomb, cond, "left_anti")
                parts.append(df)
            current = parts[0]
            for p in parts[1:]:
                current = current.unionByName(p, allowMissingColumns=False)
            est_bytes = sum(
                _dir_bytes(os.path.join(table_path, "data", c)) for c in pending
            )
            n_files = max(1, -(-est_bytes // target_file_bytes))
            write_zordered(
                current,
                commit_path,
                zorder_cols,
                num_files=n_files,
                scaling=zorder_scaling,
            )
            new_commits = commits[:kept] + [commit_dir]
            # tombstone coverage of the kept prefix survives; coverage
            # of pending commits is baked into the rewrite
            new_deletes = []
            for d in deletes:
                upto = min(d["upto"], kept)
                if upto > 0:
                    new_deletes.append({"dir": d["dir"], "upto": upto})
            manifest = {
                "version": new_v,
                "mode": "optimize-incr",
                "commits": new_commits,
            }
            if new_deletes:
                manifest["deletes"] = new_deletes
            stats = {c: old_stats[c] for c in commits[:kept] if c in old_stats}
            if stats_cols:
                stats[commit_dir] = _collect_commit_stats(
                    spark, commit_path, stats_cols
                )
            if stats:
                manifest["stats"] = stats
            specs = {c: old_specs[c] for c in commits[:kept] if c in old_specs}
            if specs:
                manifest["specs"] = specs
            zmap = {c: zmap[c] for c in commits[:kept] if c in zmap}
            zmap[commit_dir] = list(zorder_cols)
            manifest["zorder"] = zmap
            bcfg = manifest_read.get("bloom")
            if bcfg:
                built = _build_commit_bloom(spark, table_path, commit_dir, bcfg)
                manifest["bloom"] = _bloom_manifest_entry(
                    bcfg, new_commits, [commit_dir] if built else []
                )
            if _publish_manifest(table_path, new_v, manifest):
                return new_v
            continue

        current = read_versioned(spark, table_path, version=read_v)
        # size the output from the snapshot's on-disk bytes (driver-side
        # listing of the manifest's commit dirs — metadata, not rows)
        est_bytes = sum(
            _dir_bytes(os.path.join(table_path, "data", c))
            for c in manifest_read["commits"]
        )
        n_files = max(1, -(-est_bytes // target_file_bytes))
        write_zordered(
            current, commit_path, zorder_cols, num_files=n_files, scaling=zorder_scaling
        )
        manifest = {
            "version": new_v,
            "mode": "optimize",
            "commits": [commit_dir],
            "zorder": {commit_dir: list(zorder_cols)},
        }
        if stats_cols:
            manifest["stats"] = {
                commit_dir: _collect_commit_stats(spark, commit_path, stats_cols)
            }
        bcfg = manifest_read.get("bloom")
        if bcfg:
            # single-commit full OPTIMIZE: re-derive bits for the
            # clustered density (see compact_versioned); the
            # incremental path above must NOT — its kept prefix holds
            # blooms built under the existing convention, and one
            # manifest cannot mix bit layouts
            bcfg = {**bcfg, "bits": _auto_bloom_bits(spark, commit_path)}
            built = _build_commit_bloom(spark, table_path, commit_dir, bcfg)
            manifest["bloom"] = _bloom_manifest_entry(
                bcfg, [commit_dir], [commit_dir] if built else []
            )
        if _publish_manifest(table_path, new_v, manifest):
            return new_v
    raise RuntimeError(
        f"optimize_versioned: lost the commit race 5 times under {table_path}"
    )


def last_committed_batch_id(table_path: str) -> int | None:
    """Max ``meta["batch_id"]`` across ALL version manifests — the
    streaming replay guard. Reading only the LATEST version's meta is
    not enough: a meta-less commit (manual append, a maintenance job)
    landing between a batch's commit and its crash-replay would hide
    the recorded id and the batch would append twice (ADVICE r6).
    Manifests are driver-side metadata — one small JSON per commit —
    so the full scan is O(commits), never O(rows). Also folds in
    ``_manifests/stream_state.json``, where ``vacuum_versions``
    preserves the high-water id of any manifests it drops (ADVICE r7:
    without it, vacuuming the recording manifests between a batch's
    commit and its crash-replay would re-append the batch).

    A minutely stream calls this once per micro-batch, so the walk is
    the store's hottest metadata path; ``batch_watermark.json`` caches
    the prefix maximum — only manifests NEWER than its ``scanned_upto``
    are read, then the watermark advances. max() over a growing prefix
    is monotone, so a stale watermark can only cause extra reads,
    never a wrong answer; it is written exclusively from completed
    scans (trusted store metadata, like stream_state.json — not the
    validated-advisory refs.json pattern, because validating it would
    be the very walk it exists to avoid). Corrupt/missing → full walk."""
    import json

    ids = []
    state_path = os.path.join(_versions_dir(table_path), "stream_state.json")
    if os.path.exists(state_path):
        with open(state_path) as f:
            hw = json.load(f).get("last_batch_id")
        if hw is not None:
            ids.append(int(hw))
    wm_path = os.path.join(_versions_dir(table_path), "batch_watermark.json")
    scanned_upto = -1
    try:
        with open(wm_path) as f:
            wm = json.load(f)
        scanned_upto = int(wm["scanned_upto"])
        if wm.get("max_batch_id") is not None:
            ids.append(int(wm["max_batch_id"]))
    except (OSError, ValueError, KeyError, TypeError):
        scanned_upto = -1
    versions = table_versions(table_path)
    manifest_ids = []
    for v in versions:
        if v <= scanned_upto:
            continue
        bid = _load_manifest(table_path, v).get("meta", {}).get("batch_id")
        if bid is not None:
            manifest_ids.append(int(bid))
    ids.extend(manifest_ids)
    if versions and versions[-1] > scanned_upto:
        try:
            new_wm = {
                "scanned_upto": versions[-1],
                "max_batch_id": max(ids) if ids else None,
            }
            tmp = f"{wm_path}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                json.dump(new_wm, f)
            os.replace(tmp, wm_path)
        except OSError:
            pass  # cache write failure never fails the guard
    return max(ids) if ids else None


_SQL_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<str>'(?:[^']|'')*')
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><>|!=|>=|<=|==|=|<|>)
    | (?P<punct>[(),])
    | (?P<arith>[%*/+\-.])
    )""",
    re.X,
)


def _sql_tokens(s: str) -> list | None:
    """Tokenize an ANSI boolean predicate into (kind, value) pairs;
    None when anything unrecognized appears (the caller then derives
    no prune and relies on the residual filter alone)."""
    out, pos = [], 0
    while pos < len(s):
        m = _SQL_TOKEN_RE.match(s, pos)
        if m is None:
            return None if s[pos:].strip() else out
        pos = m.end()
        for kind in ("str", "num", "ident", "op", "punct", "arith"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


def _split_conjuncts(toks: list) -> list[list]:
    """Split a token list on top-level ``AND`` — parenthesized groups
    stay whole, and the ``AND`` inside a top-level ``BETWEEN .. AND ..``
    belongs to the BETWEEN, not the conjunction."""
    out, cur, depth, between_pending = [], [], 0, 0
    for t in toks:
        kind, v = t
        if kind == "punct" and v == "(":
            depth += 1
        elif kind == "punct" and v == ")":
            depth -= 1
        elif kind == "ident" and depth == 0:
            u = v.upper()
            if u == "BETWEEN":
                between_pending += 1
            elif u == "AND":
                if between_pending:
                    between_pending -= 1
                else:
                    out.append(cur)
                    cur = []
                    continue
        cur.append(t)
    out.append(cur)
    return out


def _sql_literal(toks: list):
    """Parse a leading literal; returns (python value, tokens consumed)
    or None. ``DATE '...'`` / ``TIMESTAMP '...'`` yield the ISO string,
    which orders lexicographically like the recorded stats do."""
    if not toks:
        return None
    kind, v = toks[0]
    if kind == "num":
        f = float(v)
        return (int(v) if f.is_integer() and "." not in v and "e" not in v.lower() else f, 1)
    if kind == "str":
        return (v[1:-1].replace("''", "'"), 1)
    if (
        kind == "ident"
        and v.upper() in ("DATE", "TIMESTAMP")
        and len(toks) > 1
        and toks[1][0] == "str"
    ):
        return (toks[1][1][1:-1].replace("''", "'"), 2)
    return None


def _conjunct_triples(c: list) -> list[tuple]:
    """Prune triples derivable from ONE conjunct — a simple
    single-column range/equality/BETWEEN/IN comparison against
    literals; anything else (OR, NOT, arithmetic, function calls, IS
    NULL, subqueries) derives nothing and is handled by the residual
    filter alone. Strict bounds relax to inclusive ones (file skipping
    needs only a superset of the matching files)."""
    # a fully-parenthesized group may itself be a conjunction
    while (
        len(c) >= 2
        and c[0] == ("punct", "(")
        and c[-1] == ("punct", ")")
    ):
        depth = 0
        for i, t in enumerate(c):
            if t == ("punct", "("):
                depth += 1
            elif t == ("punct", ")"):
                depth -= 1
                if depth == 0 and i < len(c) - 1:
                    break  # the leading paren closes early: not a shell
        else:
            c = c[1:-1]
            subs = _split_conjuncts(c)
            if len(subs) > 1:
                return [t for s in subs for t in _conjunct_triples(s)]
            continue
        break
    if any(
        k == "ident" and v.upper() in ("OR", "NOT", "IS", "LIKE", "RLIKE")
        for k, v in c
    ):
        return []
    # col op literal
    if len(c) >= 3 and c[0][0] == "ident" and c[1][0] == "op":
        lit = _sql_literal(c[2:])
        if lit is not None and 2 + lit[1] == len(c):
            col, op, v = c[0][1], c[1][1], lit[0]
            if op in ("=", "=="):
                return [(col, v, v)]
            if op in (">=", ">"):
                return [(col, v, None)]
            if op in ("<=", "<"):
                return [(col, None, v)]
            return []
    # literal op col (flipped)
    lit = _sql_literal(c)
    if (
        lit is not None
        and len(c) == lit[1] + 2
        and c[lit[1]][0] == "op"
        and c[lit[1] + 1][0] == "ident"
    ):
        v, op, col = lit[0], c[lit[1]][1], c[lit[1] + 1][1]
        if op in ("=", "=="):
            return [(col, v, v)]
        if op in (">=", ">"):
            return [(col, None, v)]
        if op in ("<=", "<"):
            return [(col, v, None)]
        return []
    # col BETWEEN lit AND lit
    if (
        len(c) >= 5
        and c[0][0] == "ident"
        and c[1][0] == "ident"
        and c[1][1].upper() == "BETWEEN"
    ):
        lo = _sql_literal(c[2:])
        if lo is not None:
            i = 2 + lo[1]
            if i < len(c) and c[i][0] == "ident" and c[i][1].upper() == "AND":
                hi = _sql_literal(c[i + 1 :])
                if hi is not None and i + 1 + hi[1] == len(c):
                    return [(c[0][1], lo[0], hi[0])]
        return []
    # col IN (lit, lit, ...)
    if (
        len(c) >= 5
        and c[0][0] == "ident"
        and c[1][0] == "ident"
        and c[1][1].upper() == "IN"
        and c[2] == ("punct", "(")
        and c[-1] == ("punct", ")")
    ):
        vals, i = [], 3
        while i < len(c) - 1:
            lit = _sql_literal(c[i:])
            if lit is None:
                return []
            vals.append(lit[0])
            i += lit[1]
            if i < len(c) - 1:
                if c[i] != ("punct", ","):
                    return []
                i += 1
        kinds = {type(v) in (int, float) for v in vals}
        if vals and len(kinds) == 1:
            try:
                return [(c[0][1], min(vals), max(vals))]
            except TypeError:
                return []
    return []


def _derive_in_values(where: str) -> dict[str, list]:
    """The exact value lists of top-level ``col IN (lit, ...)``
    conjuncts — the membership complement of ``_conjunct_triples``'
    [min, max] collapse: a bloom probe wants the listed values
    themselves (P9 ids-in probes), not their envelope. Same
    conservative contract: a conjunct that doesn't match the shape
    contributes nothing, and consumers only ever use the result to
    SHRINK the files opened under the full residual filter."""
    out: dict[str, list] = {}
    for c in _split_conjuncts(_sql_tokens(where) or []):
        if not (
            len(c) >= 5
            and c[0][0] == "ident"
            and c[1][0] == "ident"
            and c[1][1].upper() == "IN"
            and c[2] == ("punct", "(")
            and c[-1] == ("punct", ")")
        ):
            continue
        vals, i = [], 3
        while i < len(c) - 1:
            lit = _sql_literal(c[i:])
            if lit is None:
                vals = None
                break
            vals.append(lit[0])
            i += lit[1]
            if i < len(c) - 1:
                if c[i] != ("punct", ","):
                    vals = None
                    break
                i += 1
        if vals:
            col = c[0][1]
            if col not in out or len(vals) < len(out[col]):
                out[col] = vals
    return out


def _derive_prune_triples(where: str) -> list[tuple]:
    """Derive manifest-stats prune ranges from a SQL predicate's
    top-level conjuncts — the ergonomic path to file skipping: callers
    state the query's own filter once (``read_versioned(...,
    where=...)``) instead of hand-computing ``prune`` triples. Purely
    advisory: every derived range is a SUPERSET condition of its
    conjunct, the full predicate is always re-applied as a residual
    filter, and a conjunct this parser does not understand simply
    derives nothing — so the answer can never depend on what was
    derived, only the set of files opened can."""
    toks = _sql_tokens(where)
    if not toks:
        return []
    return [t for c in _split_conjuncts(toks) for t in _conjunct_triples(c)]


def read_versioned(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    merge_schema: bool = False,
    prune: tuple | list | None = None,
    branch: str = "main",
    as_of: float | None = None,
    where: str | None = None,
    _keep_files: dict | None = None,
    _eq_probe: dict | None = None,
) -> DataFrame:
    """Read a versioned table at ``version`` (default: latest) — time
    travel is just resolving that version's manifest to its commit
    directories and scanning exactly those files.

    ``merge_schema=True`` unions the per-commit parquet schemas (the
    lakehouse schema-evolution read: commits written before a column
    existed surface it as NULL). Off by default because schema merging
    reads every commit's footer at planning time — at 100 TB you opt
    into that only on tables that actually evolved.

    Read cost: every scan plans from the schema in its files' footers,
    read on the driver (:func:`_read_store_parquet`; a merging read
    infers), so building the frame launches no Spark job. Tombstones
    are anti-joined as written, with no dedup: duplicate keys on an
    anti join's build side cannot change its result, and a dedup would
    add a shuffle stage per tombstone read.

    ``prune=(col, lo, hi)`` — or a LIST of such triples, ANDed: file
    skipping from the manifest's recorded stats
    (``write_versioned(stats_cols=...)``) — commits with bounds for a
    pruned column resolve to ONLY the files whose [min, max] overlaps
    [lo, hi] on EVERY triple (either bound may be None for one-sided
    ranges); commits without stats read fully; the range predicates
    stay as residual filters so pruning can never change the answer,
    only the files opened. Multi-column pruning is what multi-column
    Z-order stats exist for: a 2-d probe of a table clustered on
    (x, y) skips on both dimensions. The decision runs on manifest
    metadata — no footer is touched for a skipped file.

    ``branch``: resolve the head of that branch instead of main when no
    explicit ``version`` is given. The default reader NEVER sees
    un-published branch commits — that isolation is the point of
    Write-Audit-Publish.

    ``as_of``: timestamp time travel (epoch seconds) — resolve the
    latest version on ``branch`` committed at or before the instant
    (:func:`version_at_timestamp`); an explicit ``version`` wins over
    ``as_of``.

    Commits written with ``partition_by`` (a per-commit partition spec,
    ``manifest["specs"]``) are planned with their commit dir as
    ``basePath`` so the hive partition columns survive file-level
    pruning, and Spark's own partition pruning applies to any residual
    or caller filter on the spec columns — partition-spec evolution
    without rewriting history (each commit keeps the layout it was
    written under).

    ``where``: an ANSI boolean predicate applied as a filter AND mined
    for prune ranges (:func:`_derive_prune_triples`) — simple
    range/equality/BETWEEN/IN conjuncts on stats-tracked columns skip
    files exactly as explicit ``prune`` triples do, without the caller
    computing them. The full predicate always re-applies on the scan
    (answer-invariance by construction: derivation only widens the set
    of files opened, never the rows returned); non-derivable conjuncts
    (OR, expressions, functions) just don't prune. The ergonomic path
    to manifest file skipping at 100 TB: state the query's filter once.

    ``_keep_files`` (PRIVATE — tombstone pre-image recovery only):
    ``{commit_dir: {relative file, ...}}`` restricting listed commits
    to exactly those files (intersected with stats pruning); unlisted
    commits read fully. Unlike ``prune``/``where`` this has NO residual
    filter, so it is only sound when the CALLER re-applies a row-level
    membership predicate — :func:`_tombstone_preimages`' key semi-join
    over a no-false-negative bloom keep-set.

    ``_eq_probe`` (PRIVATE — set by the ``where`` branch only):
    ``{col: literal}`` equality conjuncts mined from ``where``. When
    the table maintains a key bloom over a subset of these columns,
    the POINT LOOKUP consults it and opens only the files that can
    contain the probed key — S9-style existence probes become O(files
    containing the key) on a scattered table where the min/max
    envelope skips nothing. Sound for the same reason ``where``
    derivation is: the full predicate re-applies as the residual, and
    blooms have no false negatives under the recorded convention. The
    probe launches no Spark job: the literal keys' positions fold over
    a local relation and the needed bloom words are read and tested
    on the driver (:func:`_bloom_keep_files`)."""
    import json

    if where is not None:
        derived = _derive_prune_triples(where)
        if derived:
            base = (
                [tuple(p) for p in prune]
                if isinstance(prune, list)
                else [tuple(prune)] if prune is not None else []
            )
            prune = base + derived
        eqs = {
            c: [lo]
            for c, lo, hi in (derived or [])
            if lo is not None and lo == hi
        }
        for col, vals in _derive_in_values(where).items():
            # a plain equality (1 value) always beats an IN list on
            # the same column; both are sound supersets of the rows
            eqs.setdefault(col, vals)
        inner = read_versioned(
            spark,
            table_path,
            version=version,
            merge_schema=merge_schema,
            prune=prune,
            branch=branch,
            as_of=as_of,
            _keep_files=_keep_files,
            _eq_probe=eqs or None,
        )
        return inner.filter(F.expr(where))

    versions = table_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table_path}")
    if version is not None:
        v = version
    elif as_of is not None:
        va = version_at_timestamp(table_path, as_of, branch)
        if va is None:
            raise ValueError(
                f"no version on branch {branch!r} committed at or before "
                f"{as_of} under {table_path}"
            )
        v = va
    else:
        bh = branch_head(table_path, branch)
        if bh is None:
            raise FileNotFoundError(
                f"branch {branch!r} has no commits under {table_path}"
            )
        v = bh
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_versions_dir(table_path), f"v{v}.json")) as f:
        manifest = json.load(f)

    if _eq_probe and _keep_files is None:
        bcfg = manifest.get("bloom")
        if bcfg and set(bcfg["cols"]) <= set(_eq_probe):
            import itertools

            # the cross product across the key columns' value lists is
            # a SUPERSET of the keys the predicate can match — sound,
            # and small by construction (equality lists are length 1,
            # IN lists are human-written); a blown cap degrades to the
            # unpruned read
            rows = list(
                itertools.islice(
                    itertools.product(
                        *[_eq_probe[c] for c in bcfg["cols"]]
                    ),
                    257,
                )
            )
            if 0 < len(rows) <= 256:
                try:
                    _keep_files = _bloom_keep_files(
                        spark, table_path, manifest, rows
                    )
                except Exception:
                    # a literal the declared dtype can't represent (or
                    # any probe-side surprise) must degrade to an
                    # unpruned read, never a failed one — the caller's
                    # predicate still filters rows either way
                    _keep_files = None

    stats = manifest.get("stats", {})
    specs = manifest.get("specs", {})

    # one (col, lo, hi) triple, or a LIST of triples ANDed together —
    # multi-column pruning is what multi-column Z-order stats are FOR
    # (a 2-d range probe on a z-ordered table should skip on both
    # dimensions, not the first alone)
    prunes = None
    if prune is not None:
        prunes = (
            [tuple(p) for p in prune]
            if isinstance(prune, list)
            else [tuple(prune)]
        )

    def commit_paths(c: str) -> list[str]:
        d = os.path.join(table_path, "data", c)
        bloom_keep = None if _keep_files is None else _keep_files.get(c)
        st = stats.get(c) if prunes is not None else None
        if st is None:
            if bloom_keep is None:
                return [d]
            # membership keep-set alone: the bloom probe covered every
            # file of this commit, so the set is authoritative
            return [os.path.join(d, rel) for rel in sorted(bloom_keep)]
        keep = []
        for rel, bounds in st.items():
            if bloom_keep is not None and rel not in bloom_keep:
                continue
            ok = True
            for col, lo, hi in prunes:
                b = bounds.get(col)
                if b is None:
                    continue  # no bounds for this column: cannot skip on it
                mn, mx = b
                if mn is None or mx is None:
                    ok = False  # all-NULL file: a range never matches
                    break
                if _is_nan(mn) or _is_nan(mx) or _is_nan(lo) or _is_nan(hi):
                    continue  # NaN compares False both ways: cannot skip
                try:
                    if not (
                        (hi is None or mn <= hi) and (lo is None or mx >= lo)
                    ):
                        ok = False
                        break
                except TypeError:
                    # probe/stat types incomparable (e.g. a numeric
                    # probe against legacy str()-serialized bounds):
                    # keep the file — pruning may only drop files
                    # PROVABLY disjoint
                    continue
            if ok:
                keep.append(os.path.join(d, rel))
        return keep

    def residual(df: DataFrame) -> DataFrame:
        if prunes is None:
            return df
        cond = F.lit(True)
        for col, lo, hi in prunes:
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        return df.filter(cond)

    def scan_commits(cs: list[tuple[str, list[str]]]) -> DataFrame | None:
        """One DataFrame over a set of (commit, kept-paths): flat
        commits batch into a single multi-path scan; each spec'd commit
        scans under its own basePath so its partition columns survive
        even when stats pruning narrowed the read to specific files.
        Partition columns are read with type inference OFF and cast to
        the dtype recorded at write time (:func:`_read_spec_commit`) —
        hive discovery would re-infer types from directory names
        (string "0" → int, "007" → 7 with value loss)."""
        frames = []
        flat = [p for c, ps in cs if c not in specs for p in ps]
        if flat:
            frames.append(
                _read_store_parquet(spark, *flat, merge_schema=merge_schema)
            )
        for c, ps in cs:
            if c in specs and ps:
                d = os.path.join(table_path, "data", c)
                spec = specs[c]
                if isinstance(spec, dict):  # pre-dtype manifests hold a list
                    fr = _read_spec_commit(
                        spark, ps, spec, base_path=d, merge_schema=merge_schema
                    )
                else:
                    fr = _read_store_parquet(
                        spark, *ps, merge_schema=merge_schema, base_path=d
                    )
                frames.append(fr)
        if not frames:
            return None
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr, allowMissingColumns=merge_schema)
        return out

    deletes = manifest.get("deletes", [])
    if not deletes and prune is None and not specs and _keep_files is None:
        return _read_store_parquet(
            spark,
            *[os.path.join(table_path, "data", c) for c in manifest["commits"]],
            merge_schema=merge_schema,
        )

    # Merge-on-read: a tombstone applies only to commits that existed
    # when the delete ran (commit index < upto). Group commits by their
    # applicable tombstone set — one scan + one anti-join per group,
    # groups <= n_deletes + 1 (deletes are rare; appends don't grow
    # this). Null-safe equality so NULL keys tombstone too.
    groups: dict[tuple, list] = {}
    group_rep: dict[tuple, int] = {}
    for i, c in enumerate(manifest["commits"]):
        applicable = tuple(d["dir"] for d in deletes if d["upto"] > i)
        paths = commit_paths(c)
        if paths:
            groups.setdefault(applicable, []).append((c, paths))
            group_rep.setdefault(applicable, i)
    if not groups:
        # all files pruned: the empty frame must still carry the SAME
        # schema a non-empty read would — so build it through
        # scan_commits (basePath + manifest-spec cast), not a raw read
        # whose partition dtypes would be discovery-inferred
        c0 = manifest["commits"][0]
        base = scan_commits([(c0, [os.path.join(table_path, "data", c0)])])
        return residual(base.filter(F.lit(False)))
    # only tombstones that cover a SURVIVING group matter: a pruned
    # read that resolves to recent commits (e.g. the latest merge's key
    # range) must not pay for the table's whole delete history
    live_dirs = {dname for applicable in groups for dname in applicable}
    live_deletes = [d for d in deletes if d["dir"] in live_dirs]
    if len(live_deletes) > _TOMBSTONE_JOIN_THRESHOLD:
        # Indexed merge-on-read for tombstone-heavy tables (the MERGE
        # steady state: one tombstone per micro-batch). The per-group
        # formulation below re-reads every applicable tombstone dir in
        # every group — with m merges that is O(m²) tombstone-dir scans
        # and m anti-joins. Here ALL flat commits land in ONE
        # multi-path scan whose commit index is derived from
        # ``_metadata.file_path`` (a literal dir→index map, evaluated
        # scan-side), every tombstone dir is read ONCE tagged with its
        # ``upto``, and ONE anti-join on (keys, upto > idx) applies
        # every tombstone: O(m) scans + one join. The single scan is
        # deliberate — a union here would invite Catalyst's
        # PushdownLeftSemiOrAntiJoin to split the anti-join per child
        # and re-read the tombstone union once per child (measured:
        # that variant was no better than the per-group plan). Spec'd
        # commits (rare in a merge steady state) keep their per-commit
        # basePath scans and accept the pushdown. Identical semantics;
        # below the threshold the original plan is kept byte-for-byte
        # (small-delete plans are pinned by gates).
        commit_idx = {c: i for i, c in enumerate(manifest["commits"])}
        flat_paths, map_args = [], []
        spec_frames = []
        for applicable, cs in groups.items():
            for c, ps in cs:
                if c in specs:
                    spec_frames.append(
                        scan_commits([(c, ps)]).withColumn(
                            "__cidx", F.lit(commit_idx[c])
                        )
                    )
                else:
                    flat_paths.extend(ps)
                    map_args.extend([F.lit(c), F.lit(commit_idx[c])])
        frames = list(spec_frames)
        if flat_paths:
            dir_map = F.create_map(*map_args)
            # greedy ^.* anchors on the LAST /data/ segment — a table
            # stored under a path that itself contains /data/ (e.g.
            # /data/warehouse/t) must not match the path prefix. A
            # mis-parse must FAIL LOUDLY, never silently skip
            # tombstones: try_element_at is NULL on a missing key in
            # both ANSI modes, and the coalesce'd raise_error turns
            # that NULL into an explicit error instead of letting the
            # anti-join resurrect deleted rows (ADVICE r10).
            fr = _read_store_parquet(
                spark, *flat_paths, merge_schema=merge_schema
            ).withColumn(
                "__cidx",
                F.coalesce(
                    F.try_element_at(
                        dir_map,
                        F.regexp_extract(
                            F.col("_metadata.file_path"), r"^.*/data/([^/]+)/", 1
                        ),
                    ),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "versioned read: commit dir not derivable "
                                "from file path "
                            ),
                            F.col("_metadata.file_path"),
                        )
                    ).cast("int"),
                ),
            )
            frames.append(fr)
        data = frames[0]
        for p in frames[1:]:
            data = data.unionByName(p, allowMissingColumns=merge_schema)
        tomb_parts = [
            _read_store_parquet(
                spark, os.path.join(table_path, "deletes", d["dir"])
            ).withColumn("__upto", F.lit(d["upto"]))
            for d in live_deletes
        ]
        tomb = tomb_parts[0]
        for p in tomb_parts[1:]:
            tomb = tomb.unionByName(p)
        cond = tomb["__upto"] > data["__cidx"]
        for k in tomb.columns:
            if k == "__upto":
                continue
            cond = cond & data[k].eqNullSafe(tomb[k])
        return residual(data.join(tomb, cond, "left_anti").drop("__cidx"))
    parts = []
    for applicable, cs in groups.items():
        df = scan_commits(cs)
        if applicable:
            tomb = _read_store_parquet(
                spark, *[os.path.join(table_path, "deletes", d) for d in applicable]
            )
            cond = None
            for k in tomb.columns:
                c = df[k].eqNullSafe(tomb[k])
                cond = c if cond is None else cond & c
            df = df.join(tomb, cond, "left_anti")
        parts.append(residual(df))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=merge_schema)
    return out


def maintain_versioned(
    spark: SparkSession,
    table_path: str,
    max_delete_entries: int = 8,
    max_commits: int = 32,
    zorder_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Threshold-driven maintenance for merge/append-heavy tables —
    the scheduling policy the store's cost model assumes, as one call
    (Delta's auto-compaction idea): a CDC steady state accretes one
    commit + one tombstone per micro-batch; reads stay O(commits +
    live tombstones), so SOMETHING must periodically fold history.

    - more than ``max_delete_entries`` delete entries → ``purge_deletes``
      (rewrites only covered commits, O(covered data));
    - more than ``max_commits`` visible commits → collapse to one
      clustered commit (``optimize_versioned`` when ``zorder_cols``,
      else ``compact_versioned``), O(live rows) — amortized O(1/\
      max_commits) extra writes per row per epoch.

    No-op (and no new version) when below both thresholds, so calling
    it after every batch is safe and cheap: one manifest read. Returns
    a report of what ran. History stays time-travelable until
    ``vacuum_versions``. ``stats_cols=None`` inherits the column set
    the table's stats already track (the merge_versioned default), so
    a scheduled collapse never silently drops file-pruning bounds."""
    head = branch_head(table_path, "main")
    report: dict = {"purged": None, "collapsed": None, "head": head}
    if head is None:
        return report
    m = _load_manifest(table_path, head)
    report["deletes_before"] = len(m.get("deletes", []))
    report["commits_before"] = len(m.get("commits", []))
    if stats_cols is None:
        stats_cols = sorted(
            {
                c
                for files in m.get("stats", {}).values()
                for b in files.values()
                for c in b
            }
        ) or None
    if report["deletes_before"] > max_delete_entries:
        report["purged"] = purge_deletes(spark, table_path)
        m = _load_manifest(table_path, report["purged"])
    if len(m.get("commits", [])) > max_commits:
        if zorder_cols:
            report["collapsed"] = optimize_versioned(
                spark, table_path, zorder_cols, stats_cols=stats_cols
            )
        else:
            report["collapsed"] = compact_versioned(
                spark, table_path, stats_cols=stats_cols
            )
    return report


def _bounds_prune(bounds: dict | None) -> list | None:
    """``read_versioned(prune=...)`` triples from a delete entry's
    recorded key bounds — ALL null-free key columns, ANDed by the
    reader, so one selective column prunes the pre-image scan even
    when another spans the whole table. Only sound for null-free
    columns (a BETWEEN residual would drop null-key rows)."""
    triples = [
        (c, b[0], b[1])
        for c, b in (bounds or {}).items()
        if b[2] == 0 and b[0] is not None
    ]
    return triples or None


def _tombstone_preimages(
    spark: SparkSession,
    table_path: str,
    parent_v: int,
    tomb: DataFrame,
    bounds: dict | None,
) -> DataFrame:
    """The full rows a tombstone removed from version ``parent_v`` —
    the parent snapshot (pruned to the files overlapping the
    tombstone's recorded key bounds, AND — on a bloom-maintained table
    — to the files whose key bloom says a tombstoned key MIGHT be
    present) semi-joined against the tombstone keys. O(files
    overlapping the changed keys) on a stats-maintained table; on a
    bloom-maintained table O(files actually containing changed keys)
    even when the keys are SCATTERED and every file's min/max envelope
    spans the whole domain (the regime where bounds pruning degrades
    to a full prior-snapshot scan); O(parent) with neither. The semi-
    join is the row-level residual that makes both prunes sound."""
    manifest = _load_manifest(table_path, parent_v)
    keep = _bloom_keep_files(
        spark,
        table_path,
        manifest,
        tomb,
        candidate_dirs=_bounds_candidate_dirs(manifest, bounds),
    )
    pre = read_versioned(
        spark,
        table_path,
        version=parent_v,
        prune=_bounds_prune(bounds),
        _keep_files=keep,
    )
    return pre.join(
        tomb,
        [pre[k].eqNullSafe(tomb[k]) for k in tomb.columns],
        "left_semi",
    )


def _classify_merge_changes(
    removed: DataFrame, ins: DataFrame, keys: list[str]
) -> DataFrame:
    """Classify a merge version's changes in ONE pass and ONE shuffle:
    pre-image rows (``removed``) and the merge's insert commit
    (``ins``) are side-tagged, unioned, and grouped PER KEY into two
    arrays — so duplicate keys on either side (appends never enforce
    key uniqueness) can NOT fan anything out; a naive row-level
    full-outer join with 2 pre-image rows × 1 insert would emit 2
    postimages where only 1 row was written (ADVICE r11). Each key
    then explodes into its change events: matched keys yield every
    pre-image row as ``update_preimage`` plus every inserted row as
    ``update_postimage``, pre-image-only keys are matched deletes,
    insert-only keys plain inserts — exactly the multiplicities the
    per-class semi/anti formulation produced, at 1 exchange instead of
    that formulation's 4 scans of the overlapping files (groupBy puts
    NULL keys in one group, matching the old eqNullSafe join).
    Columns are reconciled ``unionByName(allowMissingColumns=True)``-
    style before grouping: a schema-evolving merge commit's NEW
    columns survive into its insert/postimage rows (pre-images
    surface them as NULL), and a commit missing a parent column
    surfaces NULLs instead of raising. Returns the union of both
    sides' columns plus ``_change_type``.

    Memory posture: the per-key arrays hold the key's OWN rows only, so
    buffer size is bounded by rows-per-key — the same boundedness MERGE
    last-writer-wins semantics already assumes of its source; a table
    whose single key holds millions of duplicate appended rows would
    need the per-class semi/anti formulation back (never materializes
    a key's rows together), at 4× the scan cost."""
    r_fields = {f.name: f.dataType for f in removed.schema.fields}
    i_fields = {f.name: f.dataType for f in ins.schema.fields}
    cols = list(removed.columns) + [
        c for c in ins.columns if c not in r_fields
    ]
    removed = removed.select(
        *[
            F.col(c) if c in r_fields else F.lit(None).cast(i_fields[c]).alias(c)
            for c in cols
        ],
        F.lit(True).alias("__pre"),
    )
    ins = ins.select(
        *[
            F.col(c) if c in i_fields else F.lit(None).cast(r_fields[c]).alias(c)
            for c in cols
        ],
        F.lit(False).alias("__pre"),
    )
    row = F.struct(*cols)
    # collect_list drops NULL entries, so both sides' arrays come off
    # the SAME single groupBy shuffle
    g = removed.unionByName(ins).groupBy(*keys).agg(
        F.collect_list(F.when(F.col("__pre"), row)).alias("__rs"),
        F.collect_list(F.when(~F.col("__pre"), row)).alias("__is"),
    )

    def tagged(arr: Column, t: str) -> Column:
        return F.transform(
            arr, lambda p: F.struct(F.lit(t).alias("t"), p.alias("p"))
        )

    events = (
        F.when(
            (F.size("__rs") > 0) & (F.size("__is") > 0),
            F.concat(
                tagged(F.col("__rs"), "update_preimage"),
                tagged(F.col("__is"), "update_postimage"),
            ),
        )
        .when(F.size("__rs") > 0, tagged(F.col("__rs"), "delete"))
        .otherwise(tagged(F.col("__is"), "insert"))
    )
    return g.select(F.explode(events).alias("__e")).select(
        "__e.p.*", F.col("__e.t").alias("_change_type")
    )


def _write_change_files(
    spark: SparkSession,
    table_path: str,
    parent_v: int,
    mode: str,
    delete_dir: str,
    bounds: dict | None,
    changes_dir: str,
    commit_dir: str | None = None,
    keys: list[str] | None = None,
) -> None:
    """Materialize a version's change rows at COMMIT time (Delta CDF's
    approach): pre-images recovered against the parent version (bounds-
    pruned), merges classified one-pass, written to
    ``changes/<changes_dir>/`` with ``_change_type``. ``read_changes``
    then serves the version from the stored files — zero reconstruction
    work per consumer — and falls back to reconstruction for versions
    committed without change files. Runs inside the optimistic-commit
    retry loop (pre-images depend on the parent), so a lost race
    recomputes; orphaned dirs are vacuum-swept. The tombstone is read
    as written: it only feeds the bloom probe's key grouping and the
    pre-image semi join, neither of which duplicate keys can change."""
    tomb = _read_store_parquet(spark, os.path.join(table_path, "deletes", delete_dir))
    removed = _tombstone_preimages(spark, table_path, parent_v, tomb, bounds)
    if mode == "delete":
        ch = removed.withColumn("_change_type", F.lit("delete"))
    else:
        ins = _read_store_parquet(spark, os.path.join(table_path, "data", commit_dir))
        ch = _classify_merge_changes(removed, ins, keys)
    ch.write.mode("overwrite").parquet(
        os.path.join(table_path, "changes", changes_dir)
    )


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
    skip_layout_versions: bool = False,
) -> DataFrame:
    """Change Data Feed over the versioned store — the rows that
    changed in ``(from_version, to_version]``, Delta CDF shaped: the
    table's columns plus ``_change_type`` (``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage``) and
    ``_commit_version``. The incremental-downstream contract: a
    consumer that processed version F reads exactly what happened
    since, instead of re-diffing snapshots (m_snapshot_diff's query
    shape) or re-scanning the table.

    Per-version semantics (main-branch versions only):

    - ``append`` (and ``publish-*`` fast-forwards): the new commits'
      rows as ``insert``;
    - ``delete``: the tombstoned keys' full PRE-IMAGE rows as
      ``delete`` (recovered by a semi-join of the prior version's
      visible rows against the tombstone — the store keeps key
      tombstones, not pre-images). The prior-snapshot scan is PRUNED
      by the key bounds the delete/merge commit recorded in its delete
      entry (``bounds``, written at commit time) against the table's
      per-file stats: on a stats-maintained table the recovery cost is
      O(files overlapping the changed keys), not O(prior version) —
      the manifest-level analogue of Delta writing CDF files at commit
      time. Entries without bounds (pre-r11 tables, null-containing or
      non-atomic keys) fall back to the full prior-snapshot semi-join;
    - ``merge``: matched keys split into ``update_preimage`` /
      ``update_postimage``, unmatched inserts as ``insert``, matched
      deletes (``delete_col``) as ``delete`` — classification is two
      key joins between the merge's tombstone scope and its insert
      commit;
    - layout-only versions (``optimize*``, ``purge``, compaction
      ``overwrite``, ``restore-*``) change no logical row, but a USER
      overwrite shares the ``overwrite`` mode string, so by default
      any such version raises; ``skip_layout_versions=True`` asserts
      the caller schedules only layout maintenance there and skips
      them.

    Time travel makes the feed replayable: the same interval always
    yields the same changes (manifests and commit dirs are immutable
    until vacuum)."""
    versions = table_versions(table_path)
    if from_version not in versions:
        raise ValueError(f"from_version {from_version} not in {versions}")
    hi = to_version if to_version is not None else versions[-1]
    frames: list[DataFrame] = []
    prev_main = from_version
    prev_commits = set(_load_manifest(table_path, from_version).get("commits", []))
    for v in versions:
        if v <= from_version or v > hi:
            continue
        m = _load_manifest(table_path, v)
        if _manifest_branch(m) != "main":
            continue
        mode = m.get("mode", "")
        specs = m.get("specs", {})

        def commit_frame(c: str) -> DataFrame:
            d = os.path.join(table_path, "data", c)
            spec = specs.get(c)
            if isinstance(spec, dict):
                return _read_spec_commit(spark, [d], spec, base_path=d)
            return _read_store_parquet(spark, d)

        def tag(df: DataFrame, kind: str) -> DataFrame:
            return df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_commit_version", F.lit(v).cast("bigint")
            )

        if mode in ("append",) or mode.startswith("publish-"):
            for c in m["commits"]:
                if c not in prev_commits:
                    frames.append(tag(commit_frame(c), "insert"))
        elif mode in ("delete", "merge"):
            ch_dir = m.get("changes")
            if ch_dir is not None:
                # the commit wrote its change files (change_feed=True):
                # serve them directly — zero reconstruction work
                frames.append(
                    _read_store_parquet(
                        spark, os.path.join(table_path, "changes", ch_dir)
                    ).withColumn("_commit_version", F.lit(v).cast("bigint"))
                )
                prev_main = v
                prev_commits = set(m.get("commits", []))
                continue
            d_entry = m["deletes"][-1]
            tomb = _read_store_parquet(
                spark, os.path.join(table_path, "deletes", d_entry["dir"])
            )
            keys = tomb.columns
            # reconstruct: pre-image scan pruned with the tombstone's
            # key bounds recorded at commit time (null-free keys only —
            # a BETWEEN residual would drop null-key rows)
            removed = _tombstone_preimages(
                spark, table_path, prev_main, tomb, d_entry.get("bounds")
            )
            if mode == "delete":
                frames.append(tag(removed, "delete"))
            else:
                ins = commit_frame(m["commits"][-1])
                frames.append(
                    _classify_merge_changes(removed, ins, keys).withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    )
                )
        elif skip_layout_versions:
            pass
        else:
            raise ValueError(
                f"read_changes: version {v} (mode={mode!r}) is not an "
                "append/merge/delete; pass skip_layout_versions=True if it "
                "is layout-only maintenance (OPTIMIZE/purge/compaction)"
            )
        prev_main = v
        prev_commits = set(m.get("commits", []))
    if not frames:
        base = read_versioned(spark, table_path, version=from_version)
        return (
            base.withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0).cast("bigint"))
            .filter(F.lit(False))
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=True)
    return out


def restore_version(table_path: str, version: int) -> int:
    """Roll a versioned table back by COMMITTING a new version whose
    manifest equals the old one — history stays intact (the rollback
    itself is auditable and reversible), no data files move. The
    restored manifest is independent of the current head, so the
    optimistic-concurrency retry is just a version-number bump."""
    old = _load_manifest(table_path, version)
    while True:
        versions = table_versions(table_path)
        new_v = versions[-1] + 1
        manifest = {
            "version": new_v,
            "mode": f"restore-{version}",
            "commits": old["commits"],
        }
        if old.get("deletes"):
            manifest["deletes"] = old["deletes"]
        if old.get("stats"):
            manifest["stats"] = old["stats"]
        if old.get("specs"):
            manifest["specs"] = old["specs"]
        if old.get("zorder"):
            manifest["zorder"] = old["zorder"]
        if old.get("bloom"):
            # dirs whose bloom files were vacuumed since probe absent
            # at read time (_bloom_keep_files re-checks on disk)
            manifest["bloom"] = old["bloom"]
        if _publish_manifest(table_path, new_v, manifest):
            return new_v


def vacuum_versions(
    table_path: str,
    keep_from: int,
    min_age_s: float = 0.0,
    keep_branch_heads: bool = True,
) -> list[str]:
    """Delete commit directories unreachable from every version >=
    ``keep_from`` (and drop the older manifests). Returns the removed
    commit dirs. The explicit retention bound is the safety contract:
    time travel works until YOU declare history disposable.

    Before dropping a manifest, its ``meta.batch_id`` (the streaming
    replay guard) is folded into ``_manifests/stream_state.json`` —
    otherwise vacuuming the manifests that recorded the high-water
    batch id between a batch's commit and its crash-replay would let
    the batch re-append and duplicate rows (ADVICE r7).

    ``min_age_s``: skip unreachable dirs younger than this — an
    IN-FLIGHT writer's commit dir exists before its manifest does, and
    a concurrent vacuum must not reclaim it (the Delta retention-window
    idea). The default 0 is only safe when no writer is running.

    ``keep_branch_heads``: protect every branch's HEAD manifest (and
    its data) even when it falls below ``keep_from`` — otherwise a
    retention sweep taken mid-audit would silently delete an
    un-published WAP branch out from under its pipeline (Iceberg keeps
    refs alive through snapshot expiry for the same reason). Pass False
    to declare abandoned branches disposable too."""
    import json
    import time

    versions = table_versions(table_path)
    keep = [v for v in versions if v >= keep_from]
    if not keep:
        raise ValueError(f"keep_from={keep_from} would delete every version")
    protected: set[int] = set()
    if keep_branch_heads:
        heads: dict[str, int] = {}
        for v in versions:
            heads[_manifest_branch(_load_manifest(table_path, v))] = v
        protected = {v for v in heads.values() if v < keep_from}
        keep = sorted(set(keep) | protected)
    reachable: set[str] = set()
    live_deletes: set[str] = set()
    live_changes: set[str] = set()
    for v in keep:
        m = _load_manifest(table_path, v)
        reachable.update(m["commits"])
        live_deletes.update(d["dir"] for d in m.get("deletes", []))
        if m.get("changes"):
            live_changes.add(m["changes"])

    dropped_bids = []
    for v in versions:
        if v < keep_from and v not in protected:
            bid = _load_manifest(table_path, v).get("meta", {}).get("batch_id")
            if bid is not None:
                dropped_bids.append(int(bid))
    if dropped_bids:
        state_path = os.path.join(_versions_dir(table_path), "stream_state.json")
        prev = None
        if os.path.exists(state_path):
            with open(state_path) as f:
                prev = json.load(f).get("last_batch_id")
        hw = max(dropped_bids + ([int(prev)] if prev is not None else []))
        tmp = f"{state_path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump({"last_batch_id": hw}, f)
        os.rename(tmp, state_path)

    now = time.time()

    def _old_enough(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= min_age_s
        except OSError:
            return False

    removed = []
    data_dir = os.path.join(table_path, "data")
    for c in sorted(os.listdir(data_dir)):
        p = os.path.join(data_dir, c)
        if c.startswith("commit-") and c not in reachable and _old_enough(p):
            shutil.rmtree(p)
            removed.append(c)
    deletes_dir = os.path.join(table_path, "deletes")
    if os.path.isdir(deletes_dir):
        for c in sorted(os.listdir(deletes_dir)):
            p = os.path.join(deletes_dir, c)
            if c.startswith("delete-") and c not in live_deletes and _old_enough(p):
                shutil.rmtree(p)
                removed.append(c)
    changes_dir = os.path.join(table_path, "changes")
    if os.path.isdir(changes_dir):
        for c in sorted(os.listdir(changes_dir)):
            p = os.path.join(changes_dir, c)
            if c.startswith("change-") and c not in live_changes and _old_enough(p):
                shutil.rmtree(p)
                removed.append(c)
    # bloom dirs parallel commit dirs 1:1 by name — a bloom whose
    # commit became unreachable is dead weight (probes re-check disk
    # presence, so sweeping never breaks a reader)
    blooms_dir = os.path.join(table_path, "blooms")
    if os.path.isdir(blooms_dir):
        for c in sorted(os.listdir(blooms_dir)):
            p = os.path.join(blooms_dir, c)
            if c.startswith("commit-") and c not in reachable and _old_enough(p):
                shutil.rmtree(p)
                removed.append(os.path.join("blooms", c))
    for v in versions:
        if v < keep_from and v not in protected:
            os.remove(os.path.join(_versions_dir(table_path), f"v{v}.json"))
    # sweep staged-manifest debris from crashed publishes (the commit
    # itself is the os.link, so a leftover .tmp is never a version)
    vdir = _versions_dir(table_path)
    for n in os.listdir(vdir):
        p = os.path.join(vdir, n)
        if n.endswith(".json.tmp") and _old_enough(p):
            os.remove(p)
    return removed
