"""Join operators beyond vanilla equi-joins (SURVEY §2.3).

``suffix_containment_join`` is the engine-level rewrite SURVEY §4 calls
for: the reference matches Domain nodes to Sources where
``host = domain OR host ENDS WITH '.'+domain``
(news_sources_compute_merge_domains/cypher.py:13-20). Naively that is a
nested-loop theta join — O(hosts × domains). The rewrite explodes each
host into its dot-suffix chain (``a.b.c`` → [``a.b.c``, ``b.c``, ``c``])
and equi-joins on the suffix, which Spark executes as a hash join:
linear, shuffle-partitioned, broadcast-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_suffixes(host: Column) -> Column:
    """All dot-suffixes of a hostname, including itself."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )


def suffix_containment_join(
    hosts: DataFrame,
    domains: DataFrame,
    host_col: str = "host",
    domain_col: str = "domain",
    how: str = "inner",
) -> DataFrame:
    """Join hosts to domains on exact-or-subdomain match via
    suffix-explosion equi-join. Output keeps all host columns plus the
    matched ``domain_col``."""
    exploded = hosts.withColumn("__suffix", F.explode(dot_suffixes(F.col(host_col))))
    joined = exploded.join(
        domains, exploded["__suffix"] == domains[domain_col], how
    ).drop("__suffix")
    return joined


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    tolerance_us: int | None = None,
) -> DataFrame:
    """As-of join: each left row picks the LATEST right row with the same
    ``on`` key whose ``right_ts`` <= ``left_ts`` (inclusive); left rows
    with no prior right row are dropped (inner as-of). ``tolerance_us``
    bounds the match's staleness (pandas ``merge_asof(tolerance=...)``
    semantics): a best match older than the bound is no match at all,
    and the row drops like any other unmatched left row.

    Scale shape: instead of a time-range theta join (which explodes into
    a nested loop or an interval cross product), both sides are unioned
    and a single window pass over (key, time) carries the most recent
    right payload forward — one shuffle on the key, linear in
    |left|+|right|. Right rows sort before left rows at equal
    timestamps, which is what makes the match inclusive.
    """
    from pyspark.sql.window import Window

    right_cols = right_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(
                F.struct(
                    F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
                ).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("__r"),
        F.lit(1).alias("__side"),
    )
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(None).cast(l.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(
            F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
        ).alias("__r"),
        F.lit(0).alias("__side"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__t"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).withColumn(
        "__match", F.last("__r", ignorenulls=True).over(w)
    )
    out = carried.filter((F.col("__side") == 1) & F.col("__match").isNotNull())
    if tolerance_us is not None:
        out = out.filter(
            F.unix_micros(F.col("__t")) - F.unix_micros(F.col("__match.__rts"))
            <= F.lit(tolerance_us)
        )
    return out.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        F.col("__match.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
