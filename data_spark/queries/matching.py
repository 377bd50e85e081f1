"""Storage-layout / entity-resolution / CDC gate queries added late in
round 4: a bucketed sort-merge join whose join stage runs with ZERO
exchanges (the co-located-join story from SURVEY §2, hash-verified end
to end through the bucketed sink), multi-pass blocked edit-distance
matching (the classic entity-resolution shape), fixed-iteration k-core
peeling (a second hash-verified member of the iterative-graph tier
next to g_bfs_levels/g_components), a weighted median, a per-document
duplicated-passage ratio (the "duplicate content" quality signal of
training-data pipelines), and an ordered CDC changelog apply with
deletes (the reference's amendments delete-then-replace semantics,
SURVEY §2.9, as a batch gate query), plus — appended later in the
round — an incremental-aggregate-maintenance query proving the
state-fold law against a direct full aggregate.

All queries here carry exact DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_spark.io import write_bucketed
from data_spark.operators.dedup import _words, ngrams_from_words
from data_spark.plans.lineage import truncate_lineage
from data_spark.queries.common import SQL_DSUM, dsum, run_scratch_dir, t, table_rows

QUERIES = {}
ORACLE = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Bucketed sort-merge join: both fact tables are first written through
# the bucketed sink (io.write_bucketed) bucketed on the join key with
# the same bucket count, then joined — the join stage itself needs NO
# exchange on either side (plan-asserted in tests/test_plan_budget.py).
# This is the 100 TB co-location story: pay the shuffle once at write
# time, then every downstream join on that key is shuffle-free.
# ---------------------------------------------------------------------------

_SMB_BUCKETS = 8


def bucketed_orders_lineitem(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write orders+lineitem as external parquet tables bucketed on the
    order key (8 buckets, sorted within buckets) and read them back.
    Table names and paths carry a per-run component (run_scratch_dir)
    so different scale factors in one session never collide AND two
    concurrent processes over the same SF never overwrite each other's
    live bucket files."""
    base = run_scratch_dir("smb", sf_dir)
    run_id = os.path.basename(base).removeprefix("run-")
    out = []
    # Project to the columns the join/aggregate and tests consume before
    # the bucketed shuffle+sort+write (guide §2.2: shuffle fewer bytes) —
    # lineitem is 16 columns, the co-location story needs 3. The gate
    # contract is unchanged: every ROW still round-trips the bucketed
    # write and the join must equal the raw-table join.
    for name, df, key in (
        (
            "orders",
            t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            "o_orderkey",
        ),
        (
            "lineitem",
            t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            "l_orderkey",
        ),
    ):
        tbl = f"smb_{name}_{run_id}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        write_bucketed(
            df,
            tbl,
            bucket_by=[key],
            num_buckets=_SMB_BUCKETS,
            sort_by=[key],
            path=os.path.join(base, name),
        )
        out.append(spark.table(tbl))
    return out[0], out[1]


@_q(
    "j_bucketed_smb",
    f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {SQL_DSUM.format(expr='l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j_bucketed_smb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink → co-located join: orders⋈lineitem through 8-bucket tables
    bucketed on the order key. The oracle joins the raw parquet — so
    the hash check verifies the bucketed WRITE path (io.write_bucketed)
    preserved every row AND the bucketed-scan join returned the exact
    raw-table join. The join stage has zero Exchange operators (bucket
    counts match, bucket key == join key); the only shuffle in the
    whole query is the final 5-group aggregate."""
    o, li = bucketed_orders_lineitem(spark, sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(disc).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked edit-distance matching (entity resolution). Levenshtein over
# all pairs is O(n²·len²) and never survives scale; the standard answer
# is multi-pass blocking: cheap keys (here: first-3-words and
# last-3-words of the normalized text) gate an equi-join, and the
# expensive distance runs only inside blocks. Two passes catch
# mutations at either end of a document.
# ---------------------------------------------------------------------------

_EDIT_MAX = 30


@_q(
    "d_edit_distance_block",
    rf"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g')) AS nt
      FROM documents
    ), keyed AS (
      SELECT doc_id, nt, str_split_regex(nt, '\s+') AS words FROM norm
    ), blocks AS (
      SELECT doc_id, nt,
             'H:' || array_to_string(words[1:3], ' ') AS blk
      FROM keyed WHERE len(words) >= 3
      UNION
      SELECT doc_id, nt,
             'T:' || array_to_string(list_slice(words, -3, -1), ' ')
      FROM keyed WHERE len(words) >= 3
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.nt AS na, b.nt AS nb
      FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(na, nb) <= {_EDIT_MAX}
    """,
)
def d_edit_distance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact edit distance (≤30) under two-pass
    blocking (operators/dedup.blocked_edit_pairs). The head-key and
    tail-key passes each produce an equi-join on a short string;
    candidates are deduped and materialized before the threshold-banded
    levenshtein runs, so the expensive comparison count is bounded by
    block occupancy — never all-pairs. Both engines compute
    byte-identical normalized text, 3-word keys, and unit-cost edit
    distance, so the pair set AND distances hash-match (the oracle's
    full-matrix levenshtein equals the banded one on every pair the
    threshold keeps)."""
    from data_spark.operators.dedup import blocked_edit_pairs  # noqa: PLC0415

    return blocked_edit_pairs(
        t(spark, sf_dir, "documents"), max_dist=_EDIT_MAX, key_words=3
    )


# ---------------------------------------------------------------------------
# Fixed-iteration k-core peeling over the undirected supplier↔customer
# graph (same edge set as g_degree_distribution). Iteration count is
# FIXED (3 peels) so both engines compute the identical intermediate
# graphs and the result is hash-checkable — the same trick that made
# g_bfs_levels/g_components oracle-able. A fixpoint loop would
# converge to the true 3-core; three peels is the deterministic prefix.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_PEELS = 3


def _kcore_oracle() -> str:
    parts = [
        """
        edges AS (
          SELECT DISTINCT 's' || l.l_suppkey AS src, 'c' || o.o_custkey AS dst
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        sym0 AS (
          SELECT src AS a, dst AS b FROM edges
          UNION ALL SELECT dst, src FROM edges
        )
        """
    ]
    for i in range(_KCORE_PEELS):
        parts.append(
            f"""
            , alive{i} AS (
              SELECT a FROM sym{i} GROUP BY a HAVING COUNT(*) >= {_KCORE_K}
            ), sym{i + 1} AS (
              SELECT s.a, s.b FROM sym{i} s
              JOIN alive{i} x ON s.a = x.a
              JOIN alive{i} y ON s.b = y.a
            )
            """
        )
    return (
        "WITH "
        + "".join(parts)
        + f"""
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym{_KCORE_PEELS} GROUP BY a
        """
    )


@_q("g_kcore_peel", _kcore_oracle())
def g_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 rounds of k-core peeling (k=3): repeatedly drop nodes of
    degree <3 with their incident edges, then report each survivor's
    degree in the peeled subgraph. Each round is one map-side-
    combinable degree count plus two semi-joins of the (shrinking)
    edge list against the (small) survivor set — AQE turns the
    survivor side into a broadcast as soon as it fits, and the edge
    frame only ever shrinks. No fixpoint test ⇒ no driver round-trip;
    the iteration depth is a compile-time constant."""
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        # materialized once, then re-materialized per peel: sym feeds
        # both the degree count and the two semi-joins each round, so
        # without truncation the plan tree (and its Exchange count)
        # grows 3× per iteration — same discipline as g_bfs_levels
        .transform(truncate_lineage)
    )
    for _ in range(_KCORE_PEELS):
        alive = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("a")
        )
        sym = (
            sym.join(alive, "a", "semi")
            .join(alive.withColumnRenamed("a", "b"), "b", "semi")
            .transform(truncate_lineage)
        )
    return (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("a").alias("node"), "degree")
    )


# ---------------------------------------------------------------------------
# Weighted median: smallest price whose running weight (peer-inclusive
# RANGE frame, so ties are deterministic) reaches half the group's
# total weight. Weights accumulate as DECIMAL(38,6) — exact and
# associative — and the half-total comparison is 2·cum ≥ total in
# decimal, so no engine ever divides.
# ---------------------------------------------------------------------------


@_q(
    "a_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             CAST(l_quantity AS DECIMAL(38,6)) AS wt
      FROM lineitem
    ), cum AS (
      SELECT flag, price,
             SUM(wt) OVER (PARTITION BY flag ORDER BY price
                           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY flag) AS tw
      FROM w
    )
    SELECT flag, MIN(price) AS wmedian
    FROM cum WHERE 2 * cw >= tw GROUP BY flag
    """,
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag. The RANGE frame
    makes tied prices share one cumulative value (peer rows included),
    so the selected median is engine-independent even though the sort
    is not total; decimal accumulation keeps the running sums exact.
    One shuffle on the 3-value flag key serves both window passes and
    the final MIN."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("decimal(38,6)").alias("wt"),
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag")
    cum = li.select(
        "flag",
        "price",
        F.sum("wt").over(wcum).alias("cw"),
        F.sum("wt").over(wtot).alias("tw"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(F.min("price").alias("wmedian"))
    )


# ---------------------------------------------------------------------------
# Duplicated-passage ratio: the share of a document's distinct 8-word
# shingles that also occur in at least one OTHER document — the
# "duplicate content" quality signal large-corpus pipelines cut on
# (high ratio ⇒ boilerplate / near-copy). Shingle→doc-count is one
# hash aggregation; no pairwise comparison anywhere.
# ---------------------------------------------------------------------------

_PASSAGE_N = 8


@_q(
    "d_dup_passages",
    rf"""
    WITH toks AS (
      SELECT doc_id,
             str_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g')),
                             '\s+') AS words
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(words[i:i+{_PASSAGE_N - 1}], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(words) - {_PASSAGE_N - 1}, 0) + 1)) AS r(i)
      WHERE len(words) >= {_PASSAGE_N}
    ), df AS (
      SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio
    FROM sh s JOIN df d ON s.shingle = d.shingle
    GROUP BY s.doc_id
    """,
)
def d_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage ratio over distinct 8-word
    shingles. Plan: explode→distinct (doc, shingle), count docs per
    shingle (map-side combinable; the shingle table is the corpus'
    inverted passage index), join the count back on the shingle key,
    and aggregate per doc. Ratio = exact int / exact int in double —
    bit-equal across engines before the 6-dp round."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", _words(F.col("text")).alias("words")).filter(
        F.size("words") >= _PASSAGE_N
    )
    sh = toks.select(
        "doc_id",
        F.explode(ngrams_from_words(F.col("words"), _PASSAGE_N)).alias("shingle"),
    ).distinct()
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered CDC apply: a synthetic changelog (derived deterministically
# from orders so both engines see the same stream) replayed into final
# state with last-writer-wins and hard deletes — the batch shape of
# the reference's amendments delete-then-replace semantics
# (operators/merge.py applies the same rule incrementally).
# ---------------------------------------------------------------------------


@_q(
    "m_cdc_apply",
    """
    WITH log AS (
      SELECT o_custkey AS key, o_totalprice AS payload,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                  WHEN o_orderkey % 2 = 0 THEN 'U' ELSE 'I' END AS op,
             o_orderdate AS seq_ts, o_orderkey AS seq_id
      FROM orders
    ), latest AS (
      SELECT key, payload, op,
             ROW_NUMBER() OVER (PARTITION BY key
                                ORDER BY seq_ts DESC, seq_id DESC) AS rk
      FROM log
    )
    SELECT key, payload AS final_price, op AS last_op
    FROM latest WHERE rk = 1 AND op <> 'D'
    """,
)
def m_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an I/U/D changelog in order: per key keep the newest
    operation (timestamp with a unique id tiebreak) and drop keys whose
    final op is a delete. One shuffle on the key; the keep-newest
    window is the same W3/W4 ordered-control-selection shape as
    m_upsert_latest, extended with tombstones."""
    o = t(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("payload"),
        F.when(F.col("o_orderkey") % 11 == 0, "D")
        .when(F.col("o_orderkey") % 2 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq_ts"), F.desc("seq_id"))
    return (
        log.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") == 1) & (F.col("op") != "D"))
        .select("key", F.col("payload").alias("final_price"), F.col("op").alias("last_op"))
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance, hash-verified: the state built
# from the OLD half of orders plus one delta fold of the NEW half must
# equal the oracle's direct aggregate over ALL orders — the
# materialized-view maintenance law as a driver gate.
# ---------------------------------------------------------------------------

_IAM_SPLIT = "1997-01-01"


@_q(
    "m_incr_agg_maintain",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def m_incr_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-priority aggregate state incrementally: build
    state from pre-1997 orders, fold the rest in as a delta with
    ONE pass over the delta plus a state-row merge
    (operators/incremental_agg.py — union + groupBy, no join, nothing
    rescans history), and the result must hash-equal the oracle's
    direct aggregate over the full table. Decimal sums make the fold
    exact, so the maintenance law holds to the last bit."""
    from data_spark.operators.incremental_agg import (  # noqa: PLC0415
        aggregate_state,
        maintain_aggregate,
    )

    o = t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < _IAM_SPLIT)
    new = o.filter(F.col("o_orderdate") >= _IAM_SPLIT)
    state = aggregate_state(
        old,
        ["o_orderpriority"],
        sum_cols=["o_totalprice"],
        min_cols=["o_totalprice"],
        max_cols=["o_totalprice"],
    )
    merged = maintain_aggregate(
        state,
        new,
        ["o_orderpriority"],
        sum_cols=["o_totalprice"],
        min_cols=["o_totalprice"],
        max_cols=["o_totalprice"],
    )
    return merged.select(
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").cast("double").alias("sum_price"),
        F.col("min_o_totalprice").alias("min_price"),
        F.col("max_o_totalprice").alias("max_price"),
    )


@_q(
    "m_snapshot_diff",
    """
    WITH c AS (
      SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderdate < DATE '1995-01-01') AS n_old,
        (SELECT COUNT(*) FROM orders WHERE o_orderdate >= DATE '1995-01-01') AS n_new,
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS n_f,
        (SELECT COUNT(*) FROM orders WHERE o_orderstatus <> 'F') AS n_nonf
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS version, n_old AS n_rows,
             n_old AS n_added, CAST(0 AS BIGINT) AS n_removed FROM c
      UNION ALL
      SELECT 1, n_old + n_new, n_new, 0 FROM c
      UNION ALL
      SELECT 2, n_f, 0, n_nonf FROM c
      UNION ALL
      SELECT 3, n_old + n_new, n_nonf, 0 FROM c
    )
    """,
)
def m_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-snapshot lifecycle, hash-verified end to end: commit
    orders as v0 (pre-1995 overwrite) → v1 (append the rest) → v2
    (overwrite with only status-F rows — a destructive rewrite) → v3
    (restore v1 — the auditable rollback), then report each version's
    row count plus added/removed keys vs its parent via LEFT ANTI
    joins over the TIME-TRAVEL reads. The oracle recomputes every
    count from the raw table, so a hash match proves the commit-log
    store (io.write_versioned / read_versioned / restore_version)
    preserved and resolved exactly the right rows at every version.

    Scale shape: a version diff is two anti-joins on the key — shuffle
    on o_orderkey, no full-row comparison; the manifests resolve on
    the driver as metadata."""
    import shutil  # noqa: PLC0415

    from data_spark.io import (  # noqa: PLC0415
        read_versioned,
        restore_version,
        write_versioned,
    )

    base = run_scratch_dir("vdiff", sf_dir)

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    cutoff = F.lit("1995-01-01").cast("date")
    write_versioned(o.filter(F.col("o_orderdate") < cutoff), base, "overwrite")
    write_versioned(o.filter(F.col("o_orderdate") >= cutoff), base, "append")
    write_versioned(o.filter(F.col("o_orderstatus") == "F"), base, "overwrite")
    restore_version(base, 1)

    rows = []
    prev = None
    for v in (0, 1, 2, 3):
        cur = read_versioned(spark, base, v).select("o_orderkey")
        if prev is None:
            n = cur.count()
            added, removed = n, 0
        else:
            # ONE full-outer aggregate per version pair instead of a
            # count + two anti-join counts (3 jobs → 1, guide §1.2):
            # keys are unique per snapshot, so count-if-only-on-one-side
            # equals the anti-join counts exactly
            r = (
                cur.withColumn("__c", F.lit(1))
                .join(
                    prev.withColumn("__p", F.lit(1)),
                    "o_orderkey",
                    "full_outer",
                )
                .agg(
                    F.count("__c").alias("n"),
                    F.count(F.when(F.col("__p").isNull(), 1)).alias("added"),
                    F.count(F.when(F.col("__c").isNull(), 1)).alias("removed"),
                )
                .first()
            )
            n, added, removed = r["n"], r["added"], r["removed"]
        rows.append((v, n, added, removed))
        prev = cur
    return spark.createDataFrame(
        rows, "version bigint, n_rows bigint, n_added bigint, n_removed bigint"
    )


@_q(
    "pipe_incremental_e2e",
    """
    WITH n AS (SELECT COUNT(*) AS c FROM documents)
    SELECT * FROM (
      SELECT 1 AS batch, c AS delta_rows, CAST(0 AS BIGINT) AS near_dups_dropped,
             c AS merged_rows, c AS store_rows_total FROM n
      UNION ALL
      SELECT 2, c, c, 0, c FROM n
      UNION ALL
      SELECT 3, c, 0, c, 2 * c FROM n
      UNION ALL
      SELECT 4, 0, 0, 0, 2 * c FROM n
    )
    """,
)
def pipe_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed incremental pipeline (VERDICT r4 #5), hash-verified
    end to end: pipelines/incremental_e2e runs scan→near-dup-gate→
    bucketed-MERGE over a source built so every batch's outcome is
    exactly derivable from the raw documents table —

    - batch 1: the N originals — nothing in the index yet, all merged;
    - batch 2: N near-dup variants (text + ' v2 dup' suffix, char-
      shingle Jaccard ≈ 0.95) — the persistent MinHash index must drop
      ALL of them against history (est-Jaccard is deterministic for a
      fixed corpus; threshold 0.5 sits ~8 true-Jaccard sigmas below
      0.95, verified at sf0.001/0.01/0.1);
    - batch 3: N genuinely-new docs (hex-digest word soup, shingle
      space disjoint from the corpus) — zero dropped, all merged;
    - batch 4: drained log, the idempotent no-op.

    A hash match therefore proves the processed-log anti-join batched
    exactly by key order, the index answered the online near-dup
    question correctly in both directions, and the bucketed MERGE
    accreted exactly the surviving rows (``store_rows_total`` is summed
    from the store's parquet footers, so it counts what was written).
    The O(delta) cost side — touched-bucket reads ≪ store — is pinned
    by test_incremental_e2e (those counts depend on the engine's
    xxhash64 bucket layout, deliberately not part of the cross-engine
    contract).

    Reference parity: this is the reference's entire load loop in one
    artifact — hash-log anti-join batching, dedup before write,
    idempotent bulk upsert (SURVEY §2.1 S6/S10, §2.9)."""
    import shutil  # noqa: PLC0415

    from data_spark.pipelines.incremental_e2e import run_demo  # noqa: PLC0415

    work = run_scratch_dir("incr_e2e", sf_dir)

    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    n = table_rows(spark, sf_dir, "documents")  # footer metadata, no count job
    variants = d.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2 dup")).alias("text"),
        "lang",
        "source",
    )
    fresh = d.select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.sha2(F.col("doc_id").cast("string"), 256),
            F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit("b")), 256),
        ).alias("text"),
        "lang",
        "source",
    )
    source = d.unionByName(variants).unionByName(fresh)
    # threshold 0.5 (not run_batch's 0.7 default) so the gate really
    # carries the documented ~8-sigma margin below the variants' 0.95
    # and above the fresh docs' 0.0 (ADVICE r5)
    return run_demo(
        spark, source, work, batch_limit=n, n_batches=4, near_dup_threshold=0.5
    )
