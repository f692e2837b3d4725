"""Round-4 operator breadth: graph metrics (modularity, assortativity,
reciprocity), traversal (multi-source BFS, deterministic random walks),
the quotient-graph collapse, and the LPA packed-argmax superstep A/B."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


def edges_df(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


EDGES = [
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"),
    ("g", "a"), ("a", "g"), ("h", "h"),  # self-loop must drop
    ("b", "c"),  # duplicate must dedup
]


def _nx_graphs():
    import networkx as nx

    gd = nx.DiGraph()
    gd.add_edges_from((s, d) for s, d in EDGES if s != d)
    gu = nx.Graph(gd)
    return gd, gu


# --------------------------------------------------------------------------
# modularity
# --------------------------------------------------------------------------

def test_modularity_matches_networkx(spark):
    import networkx as nx
    from pagerank_project_spark.operators.graphmetrics import modularity

    e = edges_df(spark, EDGES)
    part = {"a": "x", "b": "x", "c": "x", "g": "x", "d": "y", "e": "y", "f": "y", "h": "z"}
    labels = spark.createDataFrame(list(part.items()), "id string, label string")
    row = modularity(spark, e, labels).first()

    _, gu = _nx_graphs()
    comms = [{v for v, c in part.items() if c == k and v in gu} for k in ("x", "y")]
    want = nx.algorithms.community.modularity(gu, comms)
    assert row["n_edges_und"] == gu.number_of_edges()
    assert row["n_communities"] == 2  # 'z' is the isolated self-loop vertex
    assert row["modularity"] == pytest.approx(want, abs=2e-6)


def test_modularity_coverage_guard_raises(spark):
    from pagerank_project_spark.operators.graphmetrics import modularity

    e = edges_df(spark, [("a", "b"), ("b", "c")])
    labels = spark.createDataFrame([("a", "x"), ("b", "x")], "id string, label string")
    with pytest.raises(Exception, match="cover"):
        modularity(spark, e, labels).collect()


# --------------------------------------------------------------------------
# mixing profile (assortativity + reciprocity)
# --------------------------------------------------------------------------

def test_mixing_profile_matches_networkx(spark):
    import networkx as nx
    from pagerank_project_spark.operators.graphmetrics import mixing_profile

    e = edges_df(spark, EDGES)
    row = mixing_profile(spark, e).first()

    gd, gu = _nx_graphs()
    assert row["n_edges_und"] == gu.number_of_edges()
    assert row["assortativity"] == pytest.approx(
        nx.degree_assortativity_coefficient(gu), abs=1e-5
    )
    ed = set(gd.edges())
    recip = sum(1 for (s, d) in ed if (d, s) in ed) / len(ed)
    assert row["n_edges_directed"] == len(ed)
    assert row["reciprocity"] == pytest.approx(recip, abs=1e-6)


def test_mixing_profile_degenerate_assortativity_null(spark):
    """A degree-regular graph has zero degree variance — NULL, not NaN/raise."""
    from pagerank_project_spark.operators.graphmetrics import mixing_profile

    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])  # 3-cycle, all deg 2
    row = mixing_profile(spark, e).first()
    assert row["assortativity"] is None
    assert row["reciprocity"] == 0.0


# --------------------------------------------------------------------------
# BFS distances
# --------------------------------------------------------------------------

def test_bfs_distances_matches_networkx(spark):
    import networkx as nx
    from pagerank_project_spark.operators.traversal import bfs_distances

    e = edges_df(spark, EDGES)
    seeds = spark.createDataFrame([("a",), ("e",)], "id string")
    got = {r["id"]: r["dist"] for r in bfs_distances(spark, e, seeds, max_iterations=10).collect()}

    gd, _ = _nx_graphs()
    want = {}
    for s in ("a", "e"):
        for v, d in nx.single_source_shortest_path_length(gd, s).items():
            want[v] = min(want.get(v, 10**9), d)
    assert got == want


def test_bfs_distance_cap(spark):
    from pagerank_project_spark.operators.traversal import bfs_distances

    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    seeds = spark.createDataFrame([("a",)], "id string")
    got = {r["id"]: r["dist"] for r in bfs_distances(spark, e, seeds, max_iterations=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d is beyond the cap


# --------------------------------------------------------------------------
# random walks
# --------------------------------------------------------------------------

def _walk_replica(edges, start, steps):
    adj: dict[str, list[str]] = {}
    for s, d in set(edges):
        if s != d:
            adj.setdefault(s, []).append(d)
    out, cur = [(start, 0, start)], start
    for t in range(1, steps + 1):
        if cur not in adj:
            break
        cur = min(
            adj[cur],
            key=lambda d: (hashlib.md5(f"{start}|{t}|{d}".encode()).hexdigest(), d),
        )
        out.append((start, t, cur))
    return out


def test_random_walks_match_python_replica(spark):
    from pagerank_project_spark.operators.traversal import random_walks

    e = edges_df(spark, EDGES)
    starts = spark.createDataFrame([("a",), ("d",)], "id string")
    got = sorted(
        (r["walk_id"], r["step"], r["id"])
        for r in random_walks(spark, e, starts, steps=4).collect()
    )
    want = sorted(_walk_replica(EDGES, "a", 4) + _walk_replica(EDGES, "d", 4))
    assert got == want


def test_random_walk_stops_at_sink(spark):
    from pagerank_project_spark.operators.traversal import random_walks

    e = edges_df(spark, [("a", "b"), ("b", "c")])  # c is a sink
    starts = spark.createDataFrame([("a",)], "id string")
    rows = random_walks(spark, e, starts, steps=5).collect()
    assert sorted((r["step"], r["id"]) for r in rows) == [(0, "a"), (1, "b"), (2, "c")]


# --------------------------------------------------------------------------
# quotient graph
# --------------------------------------------------------------------------

def test_quotient_graph_collapse(spark):
    from pagerank_project_spark.operators.traversal import quotient_graph

    e = edges_df(
        spark,
        [
            ("r:m0/f0", "r:m1/f0"), ("r:m0/f1", "r:m1/f1"), ("r:m0/f0", "r:m0/f1"),
            ("r:m1/f0", "r:m2/f0"),
        ],
    )
    got = {
        (r["src_group"], r["dst_group"]): r["weight"]
        for r in quotient_graph(e, "regexp_replace({v}, '/[^/]+$', '')").collect()
    }
    # m0→m1 aggregates two file edges; the intra-m0 edge drops
    assert got == {("r:m0", "r:m1"): 2, ("r:m1", "r:m2"): 1}


# --------------------------------------------------------------------------
# LPA winner pick compiles to a map-side-limited window (the reason the
# row_number path is kept over a packed-argmax aggregate — see labelprop.py)
# --------------------------------------------------------------------------

def test_lpa_winner_plan_has_partial_window_group_limit(spark):
    """Spark 4 turns row_number + (rn = 1) into WindowGroupLimit with a
    Partial stage before the exchange, so only the per-partition top-1
    candidate per vid is shuffled; this pins the optimization the LPA
    superstep relies on (a measured packed-max rewrite was slower)."""
    from pyspark.sql.window import Window

    freq = spark.createDataFrame([(1, 2, 3)], "vid long, lbl long, cnt long")
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("lbl"))
    out = (
        freq.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vid", "lbl")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


# --------------------------------------------------------------------------
# TrustRank / spam mass
# --------------------------------------------------------------------------

def test_spam_mass_all_trusted_is_zero(spark):
    """Trusting every vertex makes the teleport vector uniform, so
    TrustRank ≡ PageRank and every spam mass collapses to 0."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.trust import spam_mass

    e = edges_df(spark, EDGES)
    cfg = PageRankConfig(mode="standard", max_iterations=5, epsilon=1e-300)
    rows = spam_mass(spark, e, trusted_expr=F.lit(True), cfg=cfg).collect()
    assert rows and all(abs(r["spam_mass"]) < 1e-12 for r in rows)


def test_spam_mass_flags_link_farm(spark):
    """A page pumped only by a link farm unreachable from the trusted
    seed carries near-total spam mass; the seed's own neighborhood
    carries little."""
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.trust import spam_mass

    farm = [(f"s{i}", "spam") for i in range(6)] + [("spam", "s0")]
    good = [("t", "a"), ("a", "t"), ("a", "b"), ("b", "t")]
    e = edges_df(spark, good + farm)
    cfg = PageRankConfig(mode="standard", max_iterations=20, epsilon=1e-300)
    res = {
        r["id"]: r
        for r in spam_mass(
            spark, e, trusted_expr=F.col("id") == "t", cfg=cfg
        ).collect()
    }
    assert res["spam"]["spam_mass"] > 0.9
    assert res["a"]["spam_mass"] < 0.3
    # every rank positive, trust concentrated on the seed side
    assert all(r["rank"] > 0 for r in res.values())
    assert res["t"]["trust"] > res["spam"]["trust"]


def test_trust_rank_requires_seeds(spark):
    from pagerank_project_spark.operators.trust import trust_rank

    with pytest.raises(ValueError, match="seed"):
        trust_rank(spark, edges_df(spark, EDGES))


# --------------------------------------------------------------------------
# bowtie decomposition
# --------------------------------------------------------------------------

def test_bowtie_regions_exact(spark):
    """Hand graph around seed s: c↔s (core), a→s only (in), s→b only
    (out), d isolated (disc), plus a 2-hop tendril x→a (in)."""
    from pagerank_project_spark.operators.traversal import bowtie_membership

    e = edges_df(
        spark,
        [("c", "s"), ("s", "c"), ("a", "s"), ("s", "b"), ("x", "a")],
    )
    verts = spark.createDataFrame(
        [("s",), ("a",), ("b",), ("c",), ("d",), ("x",)], "id string"
    )
    seeds = spark.createDataFrame([("s",)], "id string")
    got = {
        r["id"]: r["region"]
        for r in bowtie_membership(spark, e, seeds, vertices=verts).collect()
    }
    assert got == {"s": "core", "c": "core", "a": "in", "x": "in", "b": "out", "d": "disc"}


def test_bowtie_hop_cap_limits_regions(spark):
    """With max_iterations=1 the 2-hop tendril x is no longer 'in'."""
    from pagerank_project_spark.operators.traversal import bowtie_membership

    e = edges_df(spark, [("x", "a"), ("a", "s"), ("s", "b")])
    seeds = spark.createDataFrame([("s",)], "id string")
    got = {
        r["id"]: r["region"]
        for r in bowtie_membership(spark, e, seeds, max_iterations=1).collect()
    }
    assert got == {"s": "core", "a": "in", "x": "disc", "b": "out"}


# --------------------------------------------------------------------------
# CLI surface for the round-4 algorithms
# --------------------------------------------------------------------------

def test_cli_bowtie_and_spam_small_graph(capsys, small_csv):
    """--algorithm bowtie/spam over the reference edge list with seed url
    '1'; bowtie prints region counts, spam prints ranked mass lines, and
    both refuse to run without --seeds_like."""
    from pagerank_project_spark.cli import main

    rc = main(["--data", small_csv,
               "--algorithm", "bowtie", "--seeds_like", "1", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert any(ln.startswith("region=") for ln in out.splitlines())

    rc = main(["--data", small_csv,
               "--algorithm", "spam", "--seeds_like", "1",
               "--max_iterations", "5", "--max_results", "3", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert sum(ln.startswith("mass=") for ln in out.splitlines()) == 3

    rc = main(["--data", small_csv,
               "--algorithm", "bfs", "--cores", "4"])
    assert rc == 2  # missing --seeds_like


def test_random_walks_num_walks_independent_streams(spark):
    """num_walks=3 yields 3 walks per start with distinct walk_ids; each
    replica's hops follow its own md5 stream (so replicas from a branching
    vertex are not all identical), and every step-0 row is the start."""
    from pagerank_project_spark.operators.traversal import random_walks

    e = edges_df(spark, EDGES)
    starts = spark.createDataFrame([("a",), ("b",)], "id string")
    out = random_walks(spark, e, starts, steps=4, num_walks=3).collect()
    ids = {r["walk_id"] for r in out}
    assert ids == {f"{s}#{i}" for s in ("a", "b") for i in range(3)}
    for r in out:
        if r["step"] == 0:
            assert r["id"] == r["walk_id"].split("#")[0]
    # determinism: same call → identical corpus
    again = random_walks(spark, e, starts, steps=4, num_walks=3).collect()
    key = lambda r: (r["walk_id"], r["step"])
    assert sorted((r["walk_id"], r["step"], r["id"]) for r in out) == \
           sorted((r["walk_id"], r["step"], r["id"]) for r in again)
