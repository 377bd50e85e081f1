"""Executor-loss / task-retry resilience for the iterative tier
(VERDICT r5 #7, carried to r8): ``plans/lineage.py`` upgrades lineage
truncation to reliable ``checkpoint()`` whenever the session has a
checkpoint dir, precisely so that losing a task mid-iteration is
recoverable — but until now no test actually LOST one.

The test runs connected components twice in a subprocess whose Spark
master is ``local[4, 3]`` (3 task attempts — the local-mode analogue of
``spark.task.maxFailures``): once clean, once with a fault injector
wrapped around the edge frame that makes partition 0's FIRST attempt of
every stage raise (``TaskContext.attemptNumber() == 0``), under a
configured checkpoint dir so the reliable path is the one exercised.
The two label assignments must hash identically — retries may repeat
work, never change answers.

A subprocess is required because task retries need the ``local[N, F]``
master form, and a JVM's master is fixed at context creation — the
suite's shared session can't be reconfigured.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

# the subprocess imports the checkout this test file belongs to
_REPO_ROOT = repr(str(Path(__file__).resolve().parents[1]))

_SCRIPT = r"""
import sys

sys.path.insert(0, REPO_ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[4, 3]")  # 3 task attempts
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("fault-tolerance")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(sys.argv[1])  # reliable-checkpoint path

from data_spark.graph.algorithms import connected_components
from data_spark.io import read_table

orders = read_table(spark, "/root/testdata/sf0.01", "orders")
edges = orders.select(
    F.col("o_custkey").alias("src"),
    (F.col("o_orderkey") % 500).alias("dst"),
).dropDuplicates()


def inject(df):
    # pass-through that fails partition 0's first attempt of EVERY
    # stage that recomputes this frame — a rolling injected task loss
    def flaky(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure (attempt 0)")
        yield from batches

    return df.mapInPandas(flaky, schema=df.schema)


def fingerprint(df):
    return df.agg(
        # decimal accumulator: SUM(BIGINT) overflows under ANSI here
        F.sum(F.xxhash64("id", "component").cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()


clean = fingerprint(connected_components(edges))
faulty = fingerprint(connected_components(inject(edges)))
assert clean.n == faulty.n and clean.n > 0, (clean, faulty)
assert clean.h == faulty.h, (clean, faulty)
print(f"OK n={clean.n} h={clean.h}")
"""


@pytest.mark.slow
def test_iterative_op_survives_injected_task_failures(tmp_path):
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SCRIPT.replace("REPO_ROOT", _REPO_ROOT),
            str(tmp_path / "ckpt"),
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OK n=" in proc.stdout, proc.stdout
    # the injector really fired: Spark logged the raised RuntimeError
    assert "injected task failure" in (proc.stderr + proc.stdout)


# ----------------------------- probe/compactor swap race (ADVICE r8)


def _part_fixture(tmp_path):
    import os

    root = str(tmp_path / "ds")
    part = os.path.join(root, "cell=1")
    os.makedirs(part)
    with open(os.path.join(part, "old.parquet"), "w") as f:
        f.write("old")
    from data_spark.io import partition_staging_dir

    staging = partition_staging_dir(part)
    os.makedirs(staging)
    with open(os.path.join(staging, "new.parquet"), "w") as f:
        f.write("new")
    return root, part, staging


def test_swap_retries_when_probe_restores_mid_window(tmp_path, monkeypatch):
    """A read-side probe that restores the backup inside the swap's
    two-rename window makes the live rename hit ENOTEMPTY; the swap
    must re-park the restored copy and finish, not crash."""
    import os

    from data_spark import io as dio

    root, part, staging = _part_fixture(tmp_path)
    real_rename = os.rename
    state = {"injected": False}

    def racing_rename(src, dst, *a, **kw):
        if not state["injected"] and src == staging:
            state["injected"] = True
            # the interleaved probe: live slot is empty, backup present
            dio.recover_partitioned_root(root, restore_only=True)
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", racing_rename)
    dio.swap_partition_dir(part, staging)
    monkeypatch.undo()

    assert sorted(os.listdir(part)) == ["new.parquet"]
    assert state["injected"]
    # the backup slot was cleaned up after the successful retry
    _, bak_root = dio._part_maintenance_roots(root)
    assert not os.path.exists(os.path.join(bak_root, "cell=1"))


def test_probe_restore_is_best_effort(tmp_path, monkeypatch):
    """The probe side of the same race: its restore rename can lose to
    the compactor's completing rename (ENOTEMPTY) or its sweep
    (ENOENT). restore_only=True must skip, never crash; the
    maintenance-time sweep must still raise."""
    import os

    import pytest as _pytest

    from data_spark import io as dio

    root, part, staging = _part_fixture(tmp_path)
    _, bak_root = dio._part_maintenance_roots(root)
    os.makedirs(bak_root)
    os.rename(part, os.path.join(bak_root, "cell=1"))  # crashed swap state

    real_rename = os.rename

    def losing_rename(src, dst, *a, **kw):
        if src == os.path.join(bak_root, "cell=1"):
            raise OSError(39, "Directory not empty")  # ENOTEMPTY
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", losing_rename)
    dio.recover_partitioned_root(root, restore_only=True)  # must not raise
    with _pytest.raises(OSError):
        dio.recover_partitioned_root(root)  # maintenance mode stays strict
    monkeypatch.undo()
    # nothing was swept while the restore was failing
    assert os.path.isdir(os.path.join(bak_root, "cell=1"))
