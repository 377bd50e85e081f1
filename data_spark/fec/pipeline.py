"""FEC end-to-end pipeline runner (SURVEY §3.1 restated as one DAG).

What the reference runs as 6+ cloud functions over 3 datastores —
download/unzip → per-schema BigQuery loads → master builds → view layer
→ batched elastic doc loads (anti-join log) → graph merges — is here:

  raw files → schema'd reads → masters (validated write) → classified
  view → document assembly → incremental keyed sink → graph tables

``run_bulk_import`` reads the landed pipe-delimited ``.txt`` and headed
``.csv`` files with explicit schemas and validated-overwrites each table
(S3+S4: count-checked swap, rollback on shrink). ``run_derivations``
builds masters/views/docs/graph and writes them partitioned.
``run_incremental_docs`` drains the doc sink through the processed log
exactly once per key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_spark.fec import schemas
from data_spark.fec.docs import (
    candidate_documents,
    committee_documents,
    contribution_documents,
    expenditure_documents,
    linkage_documents,
)
from data_spark.fec.master import (
    build_contributions_master,
    build_expenditures_master,
    build_pas_master,
)
from data_spark.fec.views import contributions_elastic, pas_elastic
from data_spark.graph.fec import contribution_graph
from data_spark.io import read_headed_csv, read_pipe_delimited, validated_overwrite
from data_spark.streaming.incremental import ProcessedLog, incremental_batches


def run_bulk_import(spark: SparkSession, landing_dir: str, out_dir: str) -> dict[str, int]:
    """Load every landed ``<prefix>.csv`` (header row, quoted) or
    ``<prefix>.txt`` (pipe-delimited, unquoted) with its declared schema
    and validated-overwrite it to ``out_dir/<prefix>`` parquet. Returns
    per-table row counts. Missing files are skipped (the reference
    enqueues whichever of the 13 files arrived)."""
    counts = {}
    for prefix, schema in schemas.BY_PREFIX.items():
        csv_path = os.path.join(landing_dir, f"{prefix}.csv")
        txt_path = os.path.join(landing_dir, f"{prefix}.txt")
        if os.path.exists(csv_path):
            df = read_headed_csv(spark, csv_path, schema)
        elif os.path.exists(txt_path):
            df = read_pipe_delimited(spark, txt_path, schema)
        else:
            continue
        counts[prefix] = validated_overwrite(df, os.path.join(out_dir, prefix))
    return counts


def _read(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, name))


def run_derivations(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Masters → elastic view → documents → linkages → graph, each
    written under ``out_dir``. Contributions master partitions by
    file_num bucket (the reference's fact-partitioning discipline,
    SURVEY §4) via a derived low-cardinality column."""
    oth = _read(spark, out_dir, "oth")
    indiv = _read(spark, out_dir, "indiv")
    cn = _read(spark, out_dir, "cn")
    cm = _read(spark, out_dir, "cm")

    master = build_contributions_master(oth, indiv)
    counts = {"contributions_master": validated_overwrite(master, os.path.join(out_dir, "contributions_master"))}
    master = _read(spark, out_dir, "contributions_master")

    if os.path.exists(os.path.join(out_dir, "oppexp")):
        exp = build_expenditures_master(
            _read(spark, out_dir, "oppexp"),
            _read(spark, out_dir, "independent_expenditure"),
            cm,
            cn,
        )
        counts["expenditures_master"] = validated_overwrite(
            exp, os.path.join(out_dir, "expenditures_master")
        )

    elastic = contributions_elastic(master, cn, cm)
    counts["contributions_elastic"] = validated_overwrite(
        elastic, os.path.join(out_dir, "contributions_elastic")
    )

    if os.path.exists(os.path.join(out_dir, "pas")):
        pas_master = build_pas_master(_read(spark, out_dir, "pas"))
        counts["pas_master"] = validated_overwrite(
            pas_master, os.path.join(out_dir, "pas_master")
        )
        counts["pas_elastic"] = validated_overwrite(
            pas_elastic(_read(spark, out_dir, "pas_master"), cn, cm),
            os.path.join(out_dir, "pas_elastic"),
        )

    if os.path.exists(os.path.join(out_dir, "ccl")):
        linkages = linkage_documents(_read(spark, out_dir, "ccl"))
        counts["linkages"] = validated_overwrite(linkages, os.path.join(out_dir, "linkages"))

    # candidate/committee envelopes are full loads each run (the
    # reference reindexes cn22/cm22 wholesale; only contributions and
    # expenditures drain through loaded_* logs)
    counts["candidate_docs"] = validated_overwrite(
        candidate_documents(cn), os.path.join(out_dir, "candidate_docs")
    )
    counts["committee_docs"] = validated_overwrite(
        committee_documents(cm), os.path.join(out_dir, "committee_docs")
    )

    g = contribution_graph(_read(spark, out_dir, "contributions_elastic"))
    counts["graph_nodes"] = validated_overwrite(g.nodes, os.path.join(out_dir, "graph_nodes"))
    counts["graph_edges"] = validated_overwrite(g.edges, os.path.join(out_dir, "graph_edges"))
    return counts


def run_incremental_docs(
    spark: SparkSession, out_dir: str, batch_size: int = 1000, max_batches: int | None = None
) -> int:
    """Drain the classified view through the document sink exactly once
    per sub_id (the reference's loaded_* anti-join loop, S6/J3): each
    batch is assembled into nested docs and appended to the doc store."""
    elastic = _read(spark, out_dir, "contributions_elastic")
    log = ProcessedLog(spark, os.path.join(out_dir, "loaded_contributions"), key="sub_id")
    docs_path = os.path.join(out_dir, "contribution_docs")

    def process(batch: DataFrame) -> None:
        docs = contribution_documents(batch).withColumn(
            "context",
            F.struct(F.current_timestamp().alias("last_indexed")),
        )
        docs.write.mode("append").parquet(docs_path)

    total = 0
    for n in incremental_batches(elastic, log, process, batch_size, max_batches):
        total += n
    return total


def run_incremental_expenditure_docs(
    spark: SparkSession, out_dir: str, batch_size: int = 1000, max_batches: int | None = None
) -> int:
    """Drain the expenditures master through the expenditure-envelope
    sink exactly once per id (the reference's loaded_expenditures22
    anti-join loop, load_elastic_expenditures/main.py:73-80)."""
    master = _read(spark, out_dir, "expenditures_master")
    log = ProcessedLog(spark, os.path.join(out_dir, "loaded_expenditures"), key="id")
    docs_path = os.path.join(out_dir, "expenditure_docs")

    def process(batch: DataFrame) -> None:
        docs = expenditure_documents(batch).withColumn(
            "context",
            F.struct(F.current_timestamp().alias("last_indexed")),
        )
        docs.write.mode("append").parquet(docs_path)

    total = 0
    for n in incremental_batches(master, log, process, batch_size, max_batches):
        total += n
    return total
