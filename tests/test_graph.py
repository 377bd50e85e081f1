"""Graph-layer tests: MERGE-semantics upserts (last-write-wins props,
ON-CREATE-only columns, composite node keys), anti-pattern scans, and
FEC contribution-graph extraction."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_spark.fec.master import build_contributions_master
from data_spark.fec.views import contributions_elastic
from data_spark.graph import contribution_graph, upsert_nodes
from data_spark.graph.tables import anti_pattern_scan
from tests.fec_fixtures import write_fixtures


def test_upsert_nodes_last_write_wins(spark):
    existing = spark.createDataFrame(
        [("Committee", "C001", "OLD NAME", "u-1")], ["label", "key", "name", "uuid"]
    )
    updates = spark.createDataFrame(
        [("Committee", "C001", "NEW NAME", "u-2"), ("Committee", "C002", "OTHER", "u-3")],
        ["label", "key", "name", "uuid"],
    )
    got = {
        r["key"]: (r["name"], r["uuid"])
        for r in upsert_nodes(existing, updates, ["label", "key"], on_create_only=["uuid"]).collect()
    }
    assert got["C001"] == ("NEW NAME", "u-1")  # props updated, uuid kept
    assert got["C002"] == ("OTHER", "u-3")


def test_upsert_nodes_composite_key(spark):
    a = spark.createDataFrame(
        [("Donor", "SMITH", "94105", 1), ("Donor", "SMITH", "10001", 2)],
        ["label", "name", "zip", "v"],
    )
    b = spark.createDataFrame([("Donor", "SMITH", "94105", 9)], ["label", "name", "zip", "v"])
    got = {(r["name"], r["zip"]): r["v"] for r in upsert_nodes(a, b, ["label", "name", "zip"]).collect()}
    assert got == {("SMITH", "94105"): 9, ("SMITH", "10001"): 2}


def test_anti_pattern_scan(spark):
    nodes = spark.createDataFrame(
        [("Link", "a.com/1"), ("Link", "b.com/2"), ("Domain", "a.com")], ["label", "key"]
    )
    edges = spark.createDataFrame(
        [("Link", "a.com/1", "ASSOCIATED_WITH", "Domain", "a.com")],
        ["src_label", "src_key", "rel", "dst_label", "dst_key"],
    )
    got = [r["key"] for r in anti_pattern_scan(nodes, edges, "Link", "ASSOCIATED_WITH").collect()]
    assert got == ["b.com/2"]


def test_contribution_graph(spark, tmp_path):
    paths = write_fixtures(str(tmp_path))
    t = {n: spark.read.parquet(p) for n, p in paths.items()}
    master = build_contributions_master(t["oth"], t["indiv"])
    elastic = contributions_elastic(master, t["cn"], t["cm"])
    g = contribution_graph(elastic)
    labels = {r["label"] for r in g.nodes.select("label").distinct().collect()}
    assert labels >= {"Committee", "Donor", "Contribution", "Day"}
    # node keys unique
    assert g.nodes.count() == g.nodes.select("label", "key").distinct().count()
    # every contribution node key appears in an edge to its target committee
    contrib_edges = g.edges.filter(
        (F.col("src_label") == "Contribution") & (F.col("rel") == "CONTRIBUTED_TO")
    )
    assert contrib_edges.count() > 0
    # dated rows produce HAPPENED_ON edges to Day nodes; undated don't
    n_dated = elastic.filter(
        F.col("transaction_dt").try_cast("date").isNotNull()
    ).count()
    happened = g.edges.filter(F.col("rel") == "HAPPENED_ON")
    assert happened.select("src_key").distinct().count() <= n_dated
    assert happened.count() > 0
    # donor composite key joins name and cleaned zip
    donor_keys = [r["key"] for r in g.nodes.filter(F.col("label") == "Donor").collect()]
    assert any("|" in k for k in donor_keys)


def test_candidate_graph_race_5tuple(spark, tmp_path):
    from data_spark.graph.fec import candidate_graph

    paths = write_fixtures(str(tmp_path))
    t = {n: spark.read.parquet(p) for n, p in paths.items()}
    g = candidate_graph(t["cn"], t["ccl"])
    nodes = {(r["label"], r["key"]) for r in g.nodes.collect()}
    # Race composite NODE KEY: (type, election_yr, office_st, office,
    # district) flattened in fixed order — H001 is CA/H/01 in 2022
    assert ("Race", "federal|2022|CA|H|01") in nodes
    assert ("Candidate", "H001") in nodes
    assert ("State", "CA") in nodes and ("Party", "DEM") in nodes
    assert g.nodes.count() == g.nodes.select("label", "key").distinct().count()

    edges = g.edges.collect()
    running_for = {
        (e["src_key"], e["dst_key"]) for e in edges if e["rel"] == "RUNNING_FOR"
    }
    assert ("H001", "federal|2022|CA|H|01") in running_for
    # race → state association
    assert any(
        e["src_label"] == "Race" and e["dst_label"] == "State" for e in edges
    )
    # ccl linkage edges keyed by linkage_id: duplicate linkage 1003
    # collapses, distinct linkages between same endpoints both survive
    link = [
        e for e in edges
        if e["rel"] == "ASSOCIATED_WITH" and e["dst_label"] == "Candidate"
    ]
    h001 = sorted(e["linkage_id"] for e in link if e["dst_key"] == "H001")
    assert h001 == ["1001", "1002"]
    h002 = [e["linkage_id"] for e in link if e["dst_key"] == "H002"]
    assert h002 == ["1003"]


def test_committee_graph_build(spark, tmp_path):
    from data_spark.graph.fec import committee_graph

    paths = write_fixtures(str(tmp_path))
    t = {n: spark.read.parquet(p) for n, p in paths.items()}
    g = committee_graph(t["cm"], t["ccl"])
    labels = {r["label"] for r in g.nodes.select("label").distinct().collect()}
    assert labels == {"Committee", "Party", "Employer"}
    # committee props carried via SET
    c1 = g.nodes.filter((F.col("label") == "Committee") & (F.col("key") == "C001")).collect()[0]
    assert c1["props"]["cmte_nm"] == "COMMITTEE 1"
    rels = {
        (e["src_label"], e["dst_label"])
        for e in g.edges.filter(F.col("rel") == "ASSOCIATED_WITH").collect()
    }
    assert ("Committee", "Party") in rels
    assert ("Committee", "Employer") in rels
    assert ("Committee", "Candidate") in rels  # ccl linkages


def test_expenditure_graph_amendment_detach_delete(spark, tmp_path):
    from data_spark.fec.master import build_expenditures_master
    from data_spark.graph.fec import expenditure_graph

    paths = write_fixtures(str(tmp_path))
    t = {n: spark.read.parquet(p) for n, p in paths.items()}
    master = build_expenditures_master(
        t["oppexp"], t["independent_expenditure"], t["cm"], t["cn"]
    )
    # split: originals first, amendments (prev_file_num set) second
    originals = master.filter(F.col("prev_file_num").isNull())
    amendments = master.filter(F.col("prev_file_num").isNotNull())
    assert amendments.count() > 0

    g1 = expenditure_graph(originals)
    keys1 = {
        r["key"] for r in g1.nodes.filter(F.col("label") == "Expenditure").collect()
    }
    # composite key (type, file_num, tran_id)
    assert all(k.startswith("independent|") and k.count("|") == 2 for k in keys1)

    g2 = expenditure_graph(amendments, existing=g1)
    keys2 = {
        r["key"] for r in g2.nodes.filter(F.col("label") == "Expenditure").collect()
    }
    # only amendments the build ingests (both edge endpoints present)
    prev_keys = {
        f"independent|{r['prev_file_num']}|{r['tran_id']}"
        for r in amendments.collect()
        if r["cand_id"] is not None and r["cmte_id"] is not None
    }
    amended_present = prev_keys & keys1
    assert amended_present  # fixture chains reference real predecessors
    # DETACH DELETE: predecessors gone from nodes AND edges
    assert not (keys2 & prev_keys)
    for k in amended_present:
        assert g2.edges.filter(
            (F.col("src_key") == k) | (F.col("dst_key") == k)
        ).count() == 0
    # amendment nodes merged in
    new_keys = {
        f"independent|{r['file_num']}|{r['tran_id']}"
        for r in amendments.collect()
        if r["cand_id"] is not None and r["cmte_id"] is not None
    }
    assert new_keys and new_keys <= keys2


def test_connected_components_raises_when_capped(spark):
    import pytest

    from data_spark.graph.algorithms import connected_components

    # a path graph of diameter 6 cannot converge in 2 iterations
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)
    # and converges fine with the default cap
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}


def test_pagerank_matches_reference_iteration(spark):
    from data_spark.graph.algorithms import pagerank

    # 4-node graph: 0→1, 0→2, 1→2, 2→0, 3→2 (no dangling nodes except 3's
    # target chain; every node has out-degree ≥ 1 here except none)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)], ["src", "dst"]
    )
    got = {r["id"]: r["rank"] for r in pagerank(edges, iterations=8).collect()}

    # plain-python mirror of the same simplified recurrence
    out_deg = {0: 2, 1: 1, 2: 1, 3: 1}
    links = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    ranks = {v: 0.25 for v in range(4)}
    for _ in range(8):
        inflow = {v: 0.0 for v in range(4)}
        for s, d in links:
            inflow[d] += ranks[s] / out_deg[s]
        ranks = {v: 0.15 / 4 + 0.85 * inflow[v] for v in range(4)}
    for v in range(4):
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])
    # sink-heavy node 2 must outrank everything
    assert got[2] == max(got.values())


def test_connected_components_two_islands(spark):
    from data_spark.graph.algorithms import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], ["src", "dst"]
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert {got[1], got[2], got[3], got[4]} == {1}
    assert {got[10], got[11], got[12]} == {10}


def test_triangle_count_known_graphs(spark):
    from data_spark.graph.algorithms import triangle_count

    # K4 has 4 triangles; edges given in mixed directions with a dup
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3), (2, 1)], ["src", "dst"]
    )
    assert triangle_count(k4).collect()[0]["triangles"] == 4

    # triangle + pendant edge + disconnected edge = exactly 1
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)], ["src", "dst"]
    )
    assert triangle_count(g).collect()[0]["triangles"] == 1

    # a star (hub with 5 leaves) has none — degree orientation points
    # every edge at the hub, so the wedge join is provably empty
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    assert triangle_count(star).collect()[0]["triangles"] == 0


def test_local_clustering_known_graph(spark):
    from data_spark.graph.algorithms import local_clustering

    # triangle 1-2-3 plus pendant 3-4: coeffs 1, 1, 1/3, 0
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    got = {r["id"]: r for r in local_clustering(g).collect()}
    assert got[1]["n_triangles"] == 1 and got[1]["coeff"] == 1.0
    assert got[2]["n_triangles"] == 1 and got[2]["coeff"] == 1.0
    assert got[3]["n_triangles"] == 1 and abs(got[3]["coeff"] - 1 / 3) < 1e-12
    assert got[4]["n_triangles"] == 0 and got[4]["coeff"] == 0.0
    assert got[3]["degree"] == 3 and got[4]["degree"] == 1


def test_hits_rejects_nonpositive_iterations(spark):
    """iterations < 1 leaves auth undefined; the operator must fail
    loudly (ADVICE r4) instead of crashing in the final outer join."""
    import pytest as _pytest

    from data_spark.graph.algorithms import hits

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with _pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


def test_hits_matches_reference_iteration(spark):
    from data_spark.graph.algorithms import hits

    edges = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("c", "y"), ("c", "z")],
        ["src", "dst"],
    )
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(edges, iterations=3).collect()
    }

    # plain-python mirror of the same L1-normalized half-steps
    verts = ["a", "b", "c", "x", "y", "z"]
    links = [("a", "x"), ("a", "y"), ("b", "y"), ("c", "y"), ("c", "z")]
    hub = {v: 1.0 for v in verts}
    for _ in range(3):
        auth = {v: 0.0 for v in verts}
        for s, d in links:
            auth[d] += hub[s]
        n = sum(auth.values())
        auth = {v: a / n for v, a in auth.items()}
        hub = {v: 0.0 for v in verts}
        for s, d in links:
            hub[s] += auth[d]
        n = sum(hub.values())
        hub = {v: h / n for v, h in hub.items()}
    for v in verts:
        assert abs(got[v][0] - hub[v]) < 1e-9, (v, got[v][0], hub[v])
        assert abs(got[v][1] - auth[v]) < 1e-9, (v, got[v][1], auth[v])
    # y has the most in-links from the best hubs: top authority
    assert got["y"][1] == max(a for _, a in got.values())
    # pure sources have zero authority, pure sinks zero hub
    assert got["a"][1] == 0.0 and got["y"][0] == 0.0


def test_e8_snap_is_ulp_stable(spark, sf_small):
    """The e8-grid oracle contract for g_pagerank / g_hits /
    g_ppr_personalized is round-half, FLOOR(x·1e8 + 0.5), precisely so
    that cross-engine ulp drift cannot flip a snapped value (VERDICT
    r5 #5: plain FLOOR put its decision boundary ON the grid, where
    structural values like the teleport floor (1−d)/n sit). Pin the
    claim: perturb every emitted raw score by ±1 ulp and require the
    snapped integer unchanged — no score at this SF lives within an
    ulp of a half-grid boundary."""
    import math

    from data_spark.graph.algorithms import hits, pagerank
    from data_spark.queries.graphq import (
        _HITS_ITERATIONS,
        _PR_DAMPING,
        _PR_ITERATIONS,
        _supplier_customer_edges,
    )
    from data_spark.queries.mining import _PPR_DAMPING, _PPR_ITERATIONS, _PPR_SOURCE

    def snap(x: float) -> int:
        return math.floor(x * 1e8 + 0.5)

    edges = _supplier_customer_edges(spark, sf_small)
    vals = [
        r["rank"]
        for r in pagerank(edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING).collect()
    ]
    vals += [
        x
        for r in hits(edges, iterations=_HITS_ITERATIONS).collect()
        for x in (r["hub"], r["auth"])
    ]
    vals += [
        r["rank"]
        for r in pagerank(
            edges,
            iterations=_PPR_ITERATIONS,
            damping=_PPR_DAMPING,
            source=_PPR_SOURCE,
        ).collect()
    ]
    assert len(vals) > 100
    unstable = [
        v
        for v in vals
        if snap(math.nextafter(v, math.inf)) != snap(v)
        or snap(math.nextafter(v, -math.inf)) != snap(v)
    ]
    assert unstable == [], f"{len(unstable)} scores within 1 ulp of a half-grid boundary: {unstable[:5]}"


def test_mis_luby_laws_and_python_mirror(spark, tmp_path):
    """Derandomized Luby MIS: statuses partition the vertex set, the
    'mis' set is INDEPENDENT (no edge inside), every 'out' vertex lost
    to an adjacent 'mis' vertex chosen no later than its own removal
    round, and the whole run equals a from-scratch python mirror of the
    hash-priority rounds."""
    import hashlib
    import os

    from data_spark.queries.graphq import _MIS_ROUNDS, g_mis_luby

    # small bipartite fixture written as (lineitem, orders) so the gate
    # query's own edge derivation runs
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    pairs = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 3), (3, 4), (4, 1), (4, 4), (5, 5)]
    spark.createDataFrame(
        [(ok, s) for ok, (s, _) in enumerate(pairs)],
        "l_orderkey bigint, l_suppkey bigint",
    ).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        [(ok, c) for ok, (_, c) in enumerate(pairs)],
        "o_orderkey bigint, o_custkey bigint",
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    got = {r.id: (r.status, r.rnd) for r in g_mis_luby(spark, sf).collect()}

    edges = {(f"s{s}", f"c{c}") for s, c in pairs}
    sym = edges | {(b, a) for a, b in edges}
    verts = {a for a, _ in sym}
    assert set(got) == verts  # statuses partition the vertex set

    def pri(v):
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        return f"{h:019d}|{v}"

    # python mirror of the fixed rounds
    active, want = set(verts), {}
    for k in range(1, _MIS_ROUNDS + 1):
        cand = {
            v
            for v in active
            if all(pri(v) < pri(u) for u in verts if (v, u) in sym and u in active)
        }
        rem = {u for v in cand for (a, u) in sym if a == v} & active
        for v in cand:
            want[v] = ("mis", k)
        for v in rem - cand:
            want[v] = ("out", k)
        active -= cand | rem
    for v in active:
        want[v] = ("undecided", 0)
    assert got == want

    mis = {v for v, (s, _) in got.items() if s == "mis"}
    assert all(not (a in mis and b in mis) for a, b in sym)  # independence
    for v, (s, k) in got.items():
        if s == "out":  # lost to an adjacent winner, no later than round k
            assert any(
                u in mis and got[u][1] <= k for (a, u) in sym if a == v
            ), v
