"""Round-4 query families: temporal joins (as-of, interval overlap,
sliding windows, OHLC) and analytics/exact-minhash. The driver gate
hash-checks these against DuckDB; the tests here pin the semantic
invariants a hash can't explain when it breaks."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from data_spark.queries.analytics import (
    _spark_signatures,
    a_mode_per_group,
    d_minhash_band_pairs,
)
from data_spark.queries.temporal import (
    e_sliding_1h_15m,
    j_asof_click_attrib,
    j_interval_overlap,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )


def test_asof_picks_latest_click_at_or_before(spark, monkeypatch):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "click", 1.0),
        (2, t0 + dt.timedelta(minutes=5), 7, "click", 1.0),
        (3, t0 + dt.timedelta(minutes=5), 7, "purchase", 9.0),  # same-ts click counts
        (4, t0 + dt.timedelta(minutes=9), 7, "purchase", 9.0),
        (5, t0 - dt.timedelta(minutes=1), 8, "purchase", 9.0),  # no prior click
    ]
    import data_spark.queries.temporal as tmod

    monkeypatch.setattr(tmod, "t", lambda s, d, n: _ev(spark, rows))
    got = {
        r["purchase_id"]: (r["click_id"], r["gap_us"])
        for r in j_asof_click_attrib(spark, "ignored").collect()
    }
    assert got[3] == (2, 0)  # at-or-before includes the same-ts click
    assert got[4] == (2, 4 * 60 * 1_000_000)
    assert got[5] == (None, None)


def test_interval_overlap_banding_matches_naive_join(spark, sf_small):
    from data_spark.queries.common import t as read

    banded = {
        (r["l_partkey"], r["n_pairs"])
        for r in j_interval_overlap(spark, sf_small).collect()
    }
    li = read(spark, sf_small, "lineitem").select(
        F.col("l_partkey").alias("p"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            + F.col("l_quantity").cast("int") * F.lit(86_400_000_000)
        ).alias("e"),
    )
    a, b = li.alias("a"), li.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .groupBy(F.col("a.p"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert banded == {(r["p"], r["n"]) for r in naive.collect()}


def test_sliding_window_counts_each_event_four_times(spark, sf_small):
    from data_spark.queries.common import t as read

    n_events = read(spark, sf_small, "events").count()
    total = (
        e_sliding_1h_15m(spark, sf_small)
        .agg(F.sum("n_events").alias("s"))
        .collect()[0]["s"]
    )
    assert total == 4 * n_events  # 1h window / 15m slide ⇒ 4 windows per event


def test_mode_tiebreak_is_lexicographic(spark, monkeypatch):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 0.0),
        (2, t0, 1, "click", 0.0),  # 1-1 tie → 'click' < 'view'
        (3, t0, 2, "view", 0.0),
    ]
    import data_spark.queries.analytics as amod

    monkeypatch.setattr(amod, "t", lambda s, d, n: _ev(spark, rows))
    got = {r["user_id"]: r["mode_type"] for r in a_mode_per_group(spark, "x").collect()}
    assert got == {1: "click", 2: "view"}


def test_minhash_identical_docs_collide_all_bands(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words describing spark shuffles here")],
        "doc_id bigint, text string",
    )
    sigs = {r["doc_id"]: [r[f"sig_{i}"] for i in range(8)] for r in _spark_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_band_pairs_are_high_jaccard(spark, sf_small):
    """Every banded candidate must share at least one 2-row band ⇒ the
    pair agrees on ≥2 of 8 minhashes; sanity-check that the returned
    pairs genuinely have overlapping shingle sets."""
    from data_spark.operators.dedup import ngrams_from_words, _words
    from data_spark.queries.common import t as read

    pairs = d_minhash_band_pairs(spark, sf_small).collect()
    assert pairs, "synthetic corpus has templated near-dups; expected candidates"
    docs = read(spark, sf_small, "documents")
    grams = {
        r["doc_id"]: set(r["g"])
        for r in docs.select(
            "doc_id", ngrams_from_words(_words(F.col("text")), 3).alias("g")
        ).collect()
    }
    for r in pairs[:20]:
        a, b = grams[r["doc_a"]], grams[r["doc_b"]]
        assert a & b, f"banded pair {r} shares no shingle at all"


def test_int8_quantized_topk_tracks_float_cosine(spark, sf_small):
    """Quantization to int8 is lossy but must preserve most of the
    float-cosine neighborhood: recall@5 against the exact float top-5
    stays high on the synthetic embeddings."""
    from data_spark.queries.vectors import v_cosine_topk, v_int8_cosine_topk

    exact = {}
    for r in v_cosine_topk(spark, sf_small).collect():
        exact.setdefault(r["qid"], set()).add(r["neighbor_id"])
    quant = {}
    for r in v_int8_cosine_topk(spark, sf_small).collect():
        quant.setdefault(r["qid"], set()).add(r["neighbor_id"])
    assert set(quant) == set(exact)
    hits = sum(len(exact[q] & quant[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.8, f"int8 recall@5 collapsed: {hits}/{total}"


def test_hll_exact_rollup_estimates_within_tolerance(spark, monkeypatch):
    """Accuracy: 5000 distinct users (raw-harmonic path, well above the
    2.5m linear-counting cutover at m=256) must estimate within ~3
    standard errors (1.04/sqrt(256) ≈ 6.5% each)."""
    import datetime as dt

    import data_spark.queries.analytics as amod
    from data_spark.queries.analytics import a_hll_exact_rollup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(days=i % 7), i, "click", 1.0)
        for i in range(5000)
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    monkeypatch.setattr(amod, "t", lambda s, d, n: ev)
    [r] = a_hll_exact_rollup(spark, "x").collect()
    assert r["n_days"] == 7
    assert abs(r["est_distinct"] - 5000) / 5000 < 0.20
    # mergeability is in-query: day-split registers merged by MAX must
    # agree with a single global build over the same rows
    one_day = spark.createDataFrame(
        [(i, t0, i, "click", 1.0) for i in range(5000)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    monkeypatch.setattr(amod, "t", lambda s, d, n: one_day)
    [g] = a_hll_exact_rollup(spark, "x").collect()
    assert g["est_distinct"] == r["est_distinct"]
    assert g["denom_scaled"] == r["denom_scaled"]


def test_hll_small_range_uses_linear_counting(spark, sf_small):
    """At sf0.001 the true per-type distinct-user count is small, so
    the linear-counting correction must land near-exact (its error at
    n << m is a few percent, far tighter than raw HLL's small-range
    bias)."""
    from data_spark.queries.analytics import a_hll_exact_rollup
    from data_spark.queries.common import t as read

    import pyspark.sql.functions as F

    truth = {
        r["event_type"]: r["n"]
        for r in read(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in a_hll_exact_rollup(spark, sf_small).collect():
        assert abs(r["est_distinct"] - truth[r["event_type"]]) / truth[r["event_type"]] < 0.1


def test_autocorr_lag1_matches_numpy(spark, sf_small):
    """The decimal-moments closed form must agree with numpy's
    corrcoef over the same lagged daily series."""
    import numpy as np
    import pyspark.sql.functions as F

    from data_spark.queries.analytics import a_autocorr_lag1
    from data_spark.queries.common import t as read

    daily = (
        read(spark, sf_small, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum("value").alias("x"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in sorted(daily, key=lambda r: (r["event_type"], r["day"])):
        series.setdefault(r["event_type"], []).append(r["x"])
    got = {r["event_type"]: r["acf1"] for r in a_autocorr_lag1(spark, sf_small).collect()}
    for etype, xs in series.items():
        expect = float(np.corrcoef(xs[1:], xs[:-1])[0, 1])
        assert got[etype] == pytest.approx(expect, abs=1e-4)


def test_linreg_trend_matches_numpy(spark, sf_small):
    import numpy as np

    from data_spark.queries.analytics import a_linreg_trend
    from data_spark.queries.common import t as read

    rows = read(spark, sf_small, "events").select(
        "event_type", F.to_date("ts").alias("d"), "value"
    ).collect()
    pts: dict[str, list] = {}
    epoch = dt.date(1970, 1, 1)
    for r in rows:
        pts.setdefault(r["event_type"], []).append(
            ((r["d"] - epoch).days, r["value"])
        )
    got = {
        r["event_type"]: (r["slope"], r["intercept"])
        for r in a_linreg_trend(spark, sf_small).collect()
    }
    for etype, xy in pts.items():
        xs = np.array([p[0] for p in xy], dtype=float)
        ys = np.array([p[1] for p in xy], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert got[etype][0] == pytest.approx(slope, abs=1e-4)
        assert got[etype][1] == pytest.approx(intercept, abs=1e-2)


def test_mad_outliers_manual_case(spark, monkeypatch):
    import data_spark.queries.analytics as amod
    from data_spark.queries.analytics import a_mad_outliers

    # values 1..9 plus an outlier 100: lower median = 5 (n=10 → rn 5),
    # deviations sorted: 0,1,1,2,2,3,3,4,4,95 → lower median (rn 5) = 2,
    # outliers: ad > 6 → only 100 (ad 95)
    rows = [("A", float(v)) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]]
    ev = spark.createDataFrame(rows, "event_type string, value double")
    monkeypatch.setattr(amod, "t", lambda s, d, n: ev)
    [r] = a_mad_outliers(spark, "x").collect()
    assert (r["med"], r["mad"], r["n_outliers"]) == (5.0, 2.0, 1)


def test_pattern_seq_ordering_and_deadline(spark, monkeypatch):
    import data_spark.queries.events as emod
    from data_spark.queries.events import e_pattern_seq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, minutes, uid, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, etype, 1.0)

    rows = [
        # user 1: complete path inside the 1-day deadline
        ev(1, 0, 1, "view"), ev(2, 10, 1, "click"), ev(3, 20, 1, "purchase"),
        # user 2: right order, but purchase past the deadline
        ev(4, 0, 2, "view"), ev(5, 10, 2, "click"), ev(6, 60 * 25, 2, "purchase"),
        # user 3: wrong order (click before view)
        ev(7, 0, 3, "click"), ev(8, 10, 3, "view"), ev(9, 20, 3, "purchase"),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    monkeypatch.setattr(emod, "t", lambda s, d, n: e)
    got = {r["user_id"]: r["n_paths"] for r in e_pattern_seq(spark, "x").collect()}
    assert got == {1: 1}


def test_transition_matrix_is_row_stochastic(spark, sf_small):
    from data_spark.queries.events import e_transition_matrix

    rows = e_transition_matrix(spark, sf_small).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["p"]
    assert by_from and all(abs(v - 1.0) < 1e-4 for v in by_from.values())
