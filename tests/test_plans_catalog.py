"""SQL catalog surface, plan reporting, skew helpers, and partitioned
write/pruning."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_spark.io import read_table
from data_spark.operators.skew import add_salt, explode_salt, salted_agg
from data_spark.plans import plan_report, register_fec_views, register_testdata_views, sql
from tests.fec_fixtures import write_fixtures


def test_sql_surface_matches_dataframe(spark, sf_small):
    register_testdata_views(spark, sf_small)
    got = sql(
        spark,
        """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag
        """,
    ).collect()
    li = read_table(spark, sf_small, "lineitem")
    want = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count().collect()
    assert {(r["l_returnflag"], r["n"]) for r in got} == {
        (r["l_returnflag"], r["count"]) for r in want
    }


def test_fec_view_cascade_via_sql(spark, tmp_path):
    paths = write_fixtures(str(tmp_path))
    t = {n: spark.read.parquet(p) for n, p in paths.items()}
    names = register_fec_views(spark, t["oth"], t["indiv"], t["cn"], t["cm"])
    assert "contributions_elastic" in names
    counts = sql(
        spark,
        "SELECT classification, COUNT(*) AS n FROM contributions_elastic GROUP BY 1",
    ).collect()
    assert {r["classification"] for r in counts} >= {"individual", "committee"}
    # view-on-view predicate still answers correctly
    one = sql(
        spark,
        "SELECT COUNT(*) AS n FROM contributions_from_committees WHERE source LIKE 'C%'",
    ).collect()[0]["n"]
    assert one > 0


def test_plan_report_fields(spark, sf_small):
    li = read_table(spark, sf_small, "lineitem").filter(F.col("l_quantity") > 10)
    o = read_table(spark, sf_small, "orders")
    joined = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    rep = plan_report(joined)
    assert rep["broadcast_hash_joins"] == 1
    assert rep["nested_loop_joins"] == 0
    assert any("l_quantity" in p for p in rep["pushed_filters"])
    assert rep["wholestage_codegen_spans"] >= 1


def test_salted_agg_equals_plain(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    got = {
        r["k"]: (round(r["total"], 6), r["n"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "total": (F.sum("v"), F.sum("total")),
                "n": (F.count(F.lit(1)), F.sum("n")),
            },
        ).collect()
    }
    want = {
        r["k"]: (round(r["total"], 6), r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_salted_agg_spreads_hot_key_in_single_partition(spark):
    """Adversarial input layout: the entire hot key arrives in ONE input
    partition (one upstream file per key). A partition-id salt gives
    zero spread there; the per-row salt must still produce
    ``salt_buckets`` distinct partial groups — and the final result must
    stay oracle-equal (r2 verdict #6)."""
    from data_spark.operators.skew import row_salt

    buckets = 8
    hot = (
        spark.range(0, 4_000)
        .select(F.lit("HOT").alias("k"), (F.col("id") % 5).cast("double").alias("v"))
        .coalesce(1)  # whole key in one input partition
    )
    assert hot.rdd.getNumPartitions() == 1
    n_partial = (
        hot.withColumn("__salt", row_salt(buckets))
        .select("k", "__salt")
        .distinct()
        .count()
    )
    assert n_partial == buckets
    got = salted_agg(
        hot,
        ["k"],
        {"total": (F.sum("v"), F.sum("total")), "n": (F.count(F.lit(1)), F.sum("n"))},
        salt_buckets=buckets,
    ).collect()
    assert len(got) == 1
    assert (got[0]["total"], got[0]["n"]) == (8000.0, 4000)


def test_salted_join_equals_plain(spark):
    big = spark.range(0, 5_000).select((F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (3, "d")], ["k", "name"])
    plain = big.join(small, "k").count()
    salted = add_salt(big, 8).join(explode_salt(small, 8), ["k", "__salt"]).count()
    assert plain == salted


def test_partitioned_write_prunes(spark, sf_small, tmp_path):
    ev = read_table(spark, sf_small, "events")
    out = str(tmp_path / "events_parted")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    rep = plan_report(back)
    assert rep["partition_filters"] is True
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_zorder_write_tightens_file_stats(spark, sf_small, tmp_path):
    """Z-order clustering must make per-file min/max ranges tight on
    BOTH cluster keys (footer-stat data skipping), where a
    single-column sort only tightens one. Measured directly from the
    parquet footers via pyarrow."""
    import pyarrow.parquet as pq

    from data_spark.io import write_zordered

    ev = read_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    zpath = str(tmp_path / "ev_z")
    write_zordered(ev, zpath, ["user_id", "value"], num_files=8)

    def avg_span(path, col):
        import os

        stats = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        stats.append((c.statistics.min, c.statistics.max))
        lo = min(s[0] for s in stats)
        hi = max(s[1] for s in stats)
        full = (hi - lo) or 1
        return sum((s[1] - s[0]) / full for s in stats) / len(stats)

    # same data written unclustered (single sort on event_id: unrelated key)
    upath = str(tmp_path / "ev_u")
    ev.repartitionByRange(8, "event_id").write.parquet(upath)

    for col in ("user_id", "value"):
        z_span = avg_span(zpath, col)
        u_span = avg_span(upath, col)
        assert z_span < 0.55, f"{col}: z-ordered files span {z_span:.2f} of range"
        assert z_span < u_span * 0.7, (col, z_span, u_span)

    # the rows themselves are untouched
    assert spark.read.parquet(zpath).count() == ev.count()


def test_bucketed_join_avoids_shuffle(spark, sf_small):
    from data_spark.io import write_bucketed
    from data_spark.plans.report import explain_text

    o = read_table(spark, sf_small, "orders")
    l = read_table(spark, sf_small, "lineitem")
    write_bucketed(o, "orders_b", ["o_orderkey"], num_buckets=8)
    write_bucketed(l, "lineitem_b", ["l_orderkey"], num_buckets=8)
    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        plan = explain_text(joined, "simple")
        # co-located bucketed join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == l.join(o, l.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
