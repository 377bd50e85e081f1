"""SCALE_PROBE_r13 (VERDICT r12 #6): prove the composed pipelines
parallelize once data dominates per-job scheduling — the 8-vs-32-core
ratios ≈ 1 recorded at sf0.1 must open up (> 2) when the same operators
run on ~4× the data; if they stayed ≈ 1 the operators would be serial,
which is the claim this probe tests.

Modes (each prints one JSON line; drive with SPARK_GRAFT_CPUS=8|32):

  gen <mult> <out_dir>   replicate sf0.1's documents+orders tables
                         mult x with disjoint key ranges (deterministic
                         key offsets, no RNG) into out_dir
  incr <sf_dir>          run the pipe_incremental_e2e REGISTRY gate on
                         sf_dir (its volume = |documents|, so the synth
                         dir scales it directly)
  cdf <sf_dir> <key_hi>  the pipe_stream_cdf_e2e fold SHAPE (upstream
                         commits -> change stream -> foreachBatch
                         merge_versioned fold) over orders keys
                         <= key_hi — the declared gate pins key_hi=4800;
                         the probe widens it so change volume scales

The declared gates themselves are untouched; this is measurement
tooling only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_spark.session import get_spark, local_cpus  # noqa: E402

SF_BASE = "/root/testdata/sf0.1"


def gen(mult: int, out_dir: str) -> None:
    spark = get_spark("scale_gen")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(f"{SF_BASE}/documents.parquet")
    # doc_id must stay < 10M/mult so the gate's +10M/+20M variant
    # offsets stay disjoint
    n_docs = docs.count()
    parts = [docs]
    for i in range(1, mult):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * (n_docs + 10))).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" r{i}")).alias("text"),
                "lang",
                "source",
                *[c for c in docs.columns if c not in ("doc_id", "text", "lang", "source")],
            ).select(*docs.columns)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    orders = spark.read.parquet(f"{SF_BASE}/orders.parquet")
    omax = orders.agg(F.max("o_orderkey")).first()[0]
    oparts = [orders]
    for i in range(1, mult):
        oparts.append(
            orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(i * (omax + 10))
            )
        )
    oout = oparts[0]
    for p in oparts[1:]:
        oout = oout.unionByName(p)
    oout.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    for t in ("region", "nation", "customer", "supplier", "part", "lineitem",
              "events", "embeddings"):
        src = f"{SF_BASE}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            shutil.copytree(src, dst) if os.path.isdir(src) else shutil.copy(src, dst)
    print(json.dumps({"probe": "gen", "mult": mult, "out": out_dir}))


def incr(sf_dir: str) -> None:
    from data_spark.queries import QUERIES

    spark = get_spark("scale_incr")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()  # warm JVM
    t0 = time.perf_counter()
    QUERIES["pipe_incremental_e2e"](spark, sf_dir).count()
    wall = time.perf_counter() - t0
    print(json.dumps({
        "probe": "incr", "sf_dir": sf_dir,
        "cpus": local_cpus(),
        "wall_s": round(wall, 2),
    }))


def cdf(sf_dir: str, key_hi: int) -> None:
    from data_spark.io import (
        delete_versioned,
        merge_versioned,
        read_versioned,
        write_versioned,
    )
    from data_spark.sources.versioned_datasource import register
    from data_spark.streaming.jobs import stream_state_scope

    spark = get_spark("scale_cdf")
    spark.sparkContext.setLogLevel("ERROR")
    work = f"/tmp/scale_cdf_{uuid.uuid4().hex[:8]}"
    up, down, ckpt = f"{work}/up", f"{work}/down", f"{work}/ckpt"
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") <= key_hi)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    k = F.col("o_orderkey")
    o.count()  # warm the scan
    t0 = time.perf_counter()
    v0 = write_versioned(o.filter(k % 3 == 0), up, mode="overwrite",
                         stats_cols=["o_orderkey"])
    write_versioned(o.filter(k % 3 == 1), up, mode="append",
                    stats_cols=["o_orderkey"])
    src = (
        o.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("is_del", k % 11 == 0)
    )
    merge_versioned(src, up, keys=["o_orderkey"], delete_col="is_del",
                    stats_cols=["o_orderkey"], change_feed=True)
    delete_versioned(o.filter(k % 7 == 0).select("o_orderkey"), up,
                     change_feed=True)
    write_versioned(o.limit(0), down, mode="overwrite")

    def fold(batch_df, _bid):
        batch_df = batch_df.localCheckpoint(eager=False)
        pairs = batch_df.select("_commit_version", "_change_type").distinct().collect()
        for v in sorted({r["_commit_version"] for r in pairs}):
            b = batch_df.filter(F.col("_commit_version") == v)
            ups = b.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).withColumn("is_del", F.lit(False))
            dels = b.filter(F.col("_change_type") == "delete").withColumn(
                "is_del", F.lit(True)
            )
            merge_versioned(
                ups.unionByName(dels).drop("_change_type", "_commit_version"),
                down, keys=["o_orderkey"], delete_col="is_del",
            )

    register(spark)
    with stream_state_scope(spark, key_hi):
        q = (
            spark.readStream.format("versioned_table")
            .option("path", up).option("read_changes", "true")
            .option("starting_version", str(v0)).load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(1200)
    n = read_versioned(spark, down).count()
    wall = time.perf_counter() - t0
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "probe": "cdf", "key_hi": key_hi, "rows_down": n,
        "cpus": local_cpus(),
        "wall_s": round(wall, 2),
    }))


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "gen":
        gen(int(sys.argv[2]), sys.argv[3])
    elif mode == "incr":
        incr(sys.argv[2])
    elif mode == "cdf":
        cdf(sys.argv[2], int(sys.argv[3]))
    else:
        raise SystemExit(f"unknown mode {mode}")
