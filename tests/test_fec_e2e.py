"""End-to-end FEC pipeline: landed pipe-delimited files → schema'd
import with validation/rollback → derivations → exactly-once doc drain."""

from __future__ import annotations

import csv
import os

import pytest

from data_spark.fec.pipeline import (
    run_bulk_import,
    run_derivations,
    run_incremental_docs,
    run_incremental_expenditure_docs,
)
from data_spark.io import validated_overwrite
from tests.fec_fixtures import fixtures


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    for name, df in fixtures().items():
        df.to_csv(
            d / f"{name}.txt",
            sep="|",
            header=False,
            index=False,
            na_rep="",
            quoting=csv.QUOTE_NONE,
        )
    return str(d)


@pytest.mark.slow
def test_fec_end_to_end(spark, landing, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fec_out"))
    counts = run_bulk_import(spark, landing, out)
    fx = fixtures()
    # every one of the reference's 13 bulk prefixes lands with its schema
    assert set(counts) == set(fx) and len(counts) == 13
    for name in fx:
        assert counts[name] == len(fx[name]), name

    derived = run_derivations(spark, out)
    assert derived["contributions_master"] > 0
    assert derived["contributions_elastic"] > 0
    # pas arm: master drops memo_cd rows + dedups; view keeps only rows
    # with both edge keys
    pas = fx["pas"]
    assert derived["pas_master"] == len(
        pas[pas.memo_cd.isna()].drop_duplicates()
    )
    assert 0 < derived["pas_elastic"] <= derived["pas_master"]
    assert derived["expenditures_master"] == len(fx["oppexp"]) - len(
        fx["oppexp"][fx["oppexp"].memo_cd.notna()]
    ) + len(fx["independent_expenditure"])
    assert derived["graph_nodes"] > 0 and derived["graph_edges"] > 0

    # incremental doc drain: exactly once per sub_id, resumable
    total = derived["contributions_elastic"]
    n1 = run_incremental_docs(spark, out, batch_size=30, max_batches=1)
    assert n1 == min(30, total)
    n2 = run_incremental_docs(spark, out, batch_size=30)  # resume to completion
    assert n1 + n2 == total
    docs = spark.read.parquet(os.path.join(out, "contribution_docs"))
    assert docs.count() == derived["contributions_elastic"]
    assert docs.select("_id").distinct().count() == docs.count()
    # re-run: nothing left
    assert run_incremental_docs(spark, out, batch_size=30) == 0

    # candidate/committee envelopes are full loads
    assert derived["candidate_docs"] == len(fx["cn"])
    assert derived["committee_docs"] == len(fx["cm"])

    # expenditure envelope drain: exactly once per id, resumable
    exp_total = derived["expenditures_master"]
    e1 = run_incremental_expenditure_docs(spark, out, batch_size=10, max_batches=1)
    assert e1 == min(10, exp_total)
    e2 = run_incremental_expenditure_docs(spark, out, batch_size=10)
    assert e1 + e2 == exp_total
    edocs = spark.read.parquet(os.path.join(out, "expenditure_docs"))
    assert edocs.count() == exp_total
    assert edocs.select("_id").distinct().count() == exp_total
    assert run_incremental_expenditure_docs(spark, out, batch_size=10) == 0


def test_bulk_import_reads_headed_csv_with_quoting(spark, tmp_path):
    """A landed ``<prefix>.csv`` is read with its header row and standard
    quoting: a quoted comma stays inside its field, a doubled quote is
    one literal quote, and an empty field is NULL."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "ElectioneeringComm.csv").write_text(
        "candidate_id,candidate_name,candidate_office,candidate_state,"
        "candidate_office_district,committee_id,committee_name,sb_image_num,"
        "payee_name,payee_street,payee_city,payee_state,disbursement_description,"
        "disbursement_date,communication_date,public_distribution_date,"
        "reported_disbursement_amount,number_of_candidates,"
        "calculated_candidate_share\n"
        'H001,"SMITH, JANE",H,CA,01,C001,"FRIENDS OF ""JANE""",SB1,'
        '"ACME MEDIA, INC.",1 MAIN ST,CITY,CA,TV ADS,1/2/2022,1/3/2022,,'
        "10000.5,2,5000.25\n"
        "S002,DOE JOHN,S,NY,,C002,PLAIN PAC,SB2,PAYEE,2 ELM ST,TOWN,NY,"
        "RADIO,2/3/2022,2/4/2022,2/5/2022,300,1,300\n"
    )
    out = str(tmp_path / "out")
    assert run_bulk_import(spark, str(landing), out) == {"ElectioneeringComm": 2}
    rows = {
        r["candidate_id"]: r.asDict()
        for r in spark.read.parquet(os.path.join(out, "ElectioneeringComm")).collect()
    }
    first = rows["H001"]
    assert first["candidate_name"] == "SMITH, JANE"
    assert first["committee_name"] == 'FRIENDS OF "JANE"'
    assert first["payee_name"] == "ACME MEDIA, INC."
    assert first["public_distribution_date"] is None
    assert first["reported_disbursement_amount"] == 10000.5
    assert first["number_of_candidates"] == 2
    assert first["calculated_candidate_share"] == 5000.25
    second = rows["S002"]
    assert second["candidate_name"] == "DOE JOHN"
    assert second["candidate_office_district"] is None
    assert second["public_distribution_date"] == "2/5/2022"
    assert second["reported_disbursement_amount"] == 300.0


def test_validated_overwrite_rolls_back(spark, tmp_path):
    big = spark.range(0, 100)
    path = str(tmp_path / "tbl")
    assert validated_overwrite(big, path) == 100
    small = spark.range(0, 10)
    with pytest.raises(ValueError, match="rollback"):
        validated_overwrite(small, path)
    # original data intact after refused shrink
    assert spark.read.parquet(path).count() == 100
    # explicit shrink allowed when opted in
    assert validated_overwrite(small, path, allow_shrink=True) == 10
