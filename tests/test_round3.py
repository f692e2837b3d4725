"""Round-3 additions: hub-skew-safe star-CC rounds (window ↔ groupBy+
broadcast-hub hybrid), driver-side tail finish, synonym-table collect
guard, shared vmap across graph ops, LPA actual-iteration reporting."""

from __future__ import annotations

import random

import networkx as nx
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark.operators.components import (
    _large_star,
    _large_star_safe,
    _skew_estimate,
    _small_star,
    _small_star_safe,
    connected_components,
)


def edges_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))


def _nx_labels(nodes, rows):
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(rows)
    exp = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            exp[v] = m
    return exp


def _hub_graph(spark, n_leaves):
    """One ≥n_leaves-degree hub + a path + a disconnected clique-ish blob —
    the skew fixture the round-2 verdict asked for."""
    hub = spark.range(n_leaves).select(
        F.lit("hub0").alias("src"), F.format_string("leaf%07d", "id").alias("dst")
    )
    path = spark.range(40).select(
        F.format_string("p%03d", "id").alias("src"),
        F.format_string("p%03d", F.col("id") + 1).alias("dst"),
    )
    blob = spark.range(30).select(
        F.format_string("q%03d", F.pmod(F.col("id") * 7, F.lit(30))).alias("src"),
        F.format_string("q%03d", F.pmod(F.col("id") * 11 + 3, F.lit(30))).alias("dst"),
    )
    return hub.unionByName(path).unionByName(blob)


# --- hub-skew-safe star rounds ----------------------------------------------


def test_star_cc_hub_fixture_exact_labels(spark):
    """≥100k-degree hub, DEFAULT skew_threshold (so the safe path triggers
    exactly as it would in production), fully-distributed rounds: labels
    must match networkx and the propagation oracle exactly."""
    n_leaves = 120_000
    e = _hub_graph(spark, n_leaves)
    rows = [(r["src"], r["dst"]) for r in e.collect()]
    nodes = sorted({s for s, _ in rows} | {t for _, t in rows})
    exp = _nx_labels(nodes, rows)

    res = connected_components(spark, e, driver_finish_edges=0)
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert got == exp
    assert res.converged

    res_p = connected_components(spark, e, algorithm="propagation")
    got_p = {r["id"]: r["component"] for r in res_p.labels.collect()}
    assert got_p == exp


def test_safe_round_paths_equal_windowed(spark):
    """Windowed and skew-safe star ops produce identical edge multisets/
    sets on random graphs (broadcast-hub AND salted variants)."""
    rng = random.Random(23)
    rows = list({(f"v{rng.randrange(120):03d}", f"v{rng.randrange(120):03d}") for _ in range(260)})
    rows = [(s, t) for s, t in rows if s != t]
    e = edges_df(spark, rows).filter(F.col("src") > F.col("dst"))

    ls_w = sorted(map(tuple, _large_star(e).collect()))
    for salted in (False, True):
        out, mins = _large_star_safe(e, 5, spark, salted=salted)
        assert sorted(map(tuple, out.collect())) == ls_w
        mins.unpersist()

    ss_w = sorted(map(tuple, _small_star(e).collect()))
    for salted in (False, True):
        out, mins = _small_star_safe(e, 5, spark, salted=salted)
        assert sorted(map(tuple, out.collect())) == ss_w
        mins.unpersist()


def test_safe_path_plan_has_no_window_and_broadcasts_hubs(spark):
    """The skew-safe round must not contain a Window operator anywhere
    (the windowed per-center min is exactly the hub-buffering the safe
    path exists to avoid) and must route hub keys through a broadcast
    join; the windowed round keeps its Window (the low-skew fast path)."""
    rows = [("h0", f"l{i:04d}") for i in range(2000)] + [("a1", "b2"), ("b2", "c3")]
    e = edges_df(spark, rows).select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    out, mins = _large_star_safe(e, 100, spark, salted=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    mins.unpersist()

    out2, mins2 = _small_star_safe(e, 100, spark, salted=False)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan2
    mins2.unpersist()

    assert "Window" in _large_star(e)._jdf.queryExecution().executedPlan().toString()


def test_safe_path_bounds_shuffled_rows_per_task(spark):
    """The task-skew assertion: hash-partitioning the symmetrized hub graph
    by center (what the window path shuffles) puts the hub's whole
    neighborhood in ONE partition; the safe path's residual shuffle (hub
    keys already resolved map-side via broadcast) stays balanced."""
    n_leaves = 50_000
    sym_src = _hub_graph(spark, n_leaves)
    sym = sym_src.unionByName(
        sym_src.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def max_med(df):
        sizes = sorted(
            r["n"]
            for r in df.repartition(8, "src")
            .withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        return sizes[-1], sizes[len(sizes) // 2]

    mx_window, med_window = max_med(sym)
    assert mx_window >= n_leaves  # the hub partition — the curse of the last reducer

    mins = sym.groupBy("src").agg(F.min("dst").alias("mv"), F.count("*").alias("deg")).persist()
    hub = mins.filter(F.col("deg") > 1000).select(F.col("src").alias("_hk"), F.col("mv").alias("_hmv"))
    resid = sym.join(F.broadcast(hub), F.col("src") == F.col("_hk"), "left").filter(
        F.col("_hmv").isNull()
    )
    mx_safe, med_safe = max_med(resid.select("src", "dst"))
    mins.unpersist()
    assert mx_safe < n_leaves / 4  # hub rows never shuffle on the center key
    assert mx_safe <= 4 * max(med_safe, 1)  # balanced residual


def test_skew_estimate_exact_at_small_scale(spark):
    e = _hub_graph(spark, 5000)
    n = e.count()
    est_max, est_hubs, est_big = _skew_estimate(e, n, skew_threshold=1000)
    assert est_max == 5000  # exact: sample rate 1 below the target
    assert est_hubs == 1
    # oriented (max-side) degree: "hub0" < "leaf*" lexicographically, so each
    # edge's greatest side is a distinct leaf — the hub is NOT a small-star
    # hub (the blob's repeated max-side keys give a count of 2)
    assert est_big <= 4


def test_skew_estimate_separates_sym_and_oriented(spark):
    """A star whose root sorts ABOVE its children is a max-side (small-star)
    hub; one whose root sorts BELOW is only a symmetric (large-star) hub —
    the per-op estimates must tell them apart."""
    root_high = spark.range(400).select(
        F.lit("zzz_root").alias("src"), F.format_string("a%04d", "id").alias("dst")
    )
    n = root_high.count()
    sym, _, big = _skew_estimate(root_high, n, skew_threshold=100)
    assert sym == 400 and big == 400  # root is greatest side of every edge

    root_low = spark.range(400).select(
        F.lit("aaa_root").alias("src"), F.format_string("z%04d", "id").alias("dst")
    )
    sym2, _, big2 = _skew_estimate(root_low, n, skew_threshold=100)
    assert sym2 == 400
    assert big2 == 1  # every edge's greatest side is a distinct child


# --- driver-side tail finish -------------------------------------------------


def test_driver_finish_equals_distributed(spark):
    rng = random.Random(31)
    nodes = [f"n{i:04d}" for i in range(500)]
    rows = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(600)]
    rows = [(s, t) for s, t in rows if s != t]
    verts = spark.createDataFrame([(v,) for v in nodes], "id string")
    e = edges_df(spark, rows)

    full = connected_components(spark, e, vertices=verts, driver_finish_edges=0)
    tail = connected_components(spark, e, vertices=verts, driver_finish_edges=10**9)
    a = {r["id"]: r["component"] for r in full.labels.collect()}
    b = {r["id"]: r["component"] for r in tail.labels.collect()}
    assert a == b == _nx_labels(nodes, rows)
    assert tail.converged and tail.iterations == 1  # one driver-finish step


def test_driver_finish_numpy_kernel_path_graph(spark):
    """Direct _driver_finish unit check on the vectorized numpy kernel's
    worst case — one long path (maximum chain depth for the pointer
    jumps) plus disjoint cycles and isolated-pair noise."""
    from pagerank_project_spark.operators.components import _driver_finish

    rows = [(i + 1, i) for i in range(1, 4000)]  # path 1..4000 (canonical max->min)
    rows += [(9000 + (i + 1) % 50, 9000 + i) for i in range(50)]  # a 50-cycle
    rows += [(7001, 7000), (7003, 7002)]
    e = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    got = {(r["src"], r["dst"]) for r in _driver_finish(spark, e).collect()}
    exp = {(v, 1) for v in range(2, 4001)}
    exp |= {(9000 + i, 9000) for i in range(1, 50)}
    exp |= {(7001, 7000), (7003, 7002)}
    assert got == exp


def test_driver_finish_mid_run_threshold(spark, tmp_path):
    """Threshold between initial and contracted size: a couple of real
    rounds run, then the tail is finished driver-side — labels identical
    to the fully-distributed run. (A dense-ish graph: star contraction
    shrinks the edge count toward |support| − #components, so the edge
    count only falls when there are cycles/redundant edges to contract —
    a tree would stay at n−1 edges every round.)"""
    rng = random.Random(41)
    nodes = [f"m{i:04d}" for i in range(400)]
    rows = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(2600)})
    rows = [(s, t) for s, t in rows if s != t]
    e = edges_df(spark, rows)
    full = connected_components(spark, e, driver_finish_edges=0)
    from pagerank_project_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path), "cc_mid")
    mid = connected_components(spark, e, driver_finish_edges=900, checkpoint_store=store)
    a = {r["id"]: r["component"] for r in full.labels.collect()}
    b = {r["id"]: r["component"] for r in mid.labels.collect()}
    assert a == b
    final = store.metrics()[store.latest_iteration()]
    assert final.get("driver_finish") is True  # the tail really was cut short
    assert mid.iterations > 1  # …but only after at least one real round


# --- stalled-contraction leaf peeling ----------------------------------------


def test_peel_every_round_labels_exact(spark, monkeypatch):
    """PEEL_STALL_RATIO=0 forces a peel after EVERY non-converged round —
    the maximal-stress schedule for the settled forest (multi-peel chains:
    a vertex settled in peel k can point at a parent settled in peel k+j,
    exercising the pointer-jumping resolution). Fully-distributed rounds
    (driver_finish_edges=0) so resolution, not the driver union-find, is
    what's under test. Labels must match networkx exactly."""
    import pagerank_project_spark.operators.components as C

    monkeypatch.setattr(C, "PEEL_STALL_RATIO", 0.0)
    rng = random.Random(57)
    # long path (endpoints peel every round, chains build) + giant star with
    # appendage paths (star children peel en masse) + random blob + isolated
    nodes = [f"n{i:04d}" for i in range(300)]
    rows = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(120)]
    rows += [("hub", f"s{i:04d}") for i in range(200)]
    rows += [(f"s{i:04d}", f"t{i:04d}") for i in range(0, 200, 7)]
    rows += list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)})
    rows = [(s, t) for s, t in rows if s != t]
    verts = spark.createDataFrame(
        [(v,) for v in sorted({x for r in rows for x in r} | {"iso_a", "iso_b"})], "id string"
    )
    exp = _nx_labels([r["id"] for r in verts.collect()], rows)

    res = connected_components(spark, edges_df(spark, rows), vertices=verts, driver_finish_edges=0)
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert got == exp
    assert res.converged


def test_peel_shrinks_stalled_active_set_and_finishes_early(spark):
    """The measured stall fixture: a giant star forms in ~2 rounds, after
    which the default contraction would rescan the settled children every
    round. With default PEEL_STALL_RATIO the peel must strip the settled
    star children so the active remainder falls under driver_finish_edges
    and the run ends in far fewer rounds — with exact labels."""
    n_children = 30_000
    e = spark.range(n_children).select(
        F.format_string("c%06d", "id").alias("src"), F.lit("a_root").alias("dst")
    )
    # appendages keep a trickle of active edges so contraction "stalls"
    # (edge count barely moves) instead of converging instantly
    app = spark.range(0, n_children, 100).select(
        F.format_string("x%06d", "id").alias("src"), F.format_string("c%06d", "id").alias("dst")
    )
    e = e.unionByName(app)
    res = connected_components(spark, e, driver_finish_edges=2000)
    assert res.converged
    assert res.iterations <= 5  # star forms + peel collapses + driver finish
    labels = {r["id"]: r["component"] for r in res.labels.collect()}
    assert set(labels.values()) == {"a_root"}
    assert len(labels) == n_children + n_children // 100 + 1


def test_peel_with_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Checkpoint state written after a peel is self-contained (active ∪
    settled): resuming from iteration k reproduces the uninterrupted run's
    labels exactly even though the resumed run re-derives its own forest."""
    import pagerank_project_spark.operators.components as C
    from pagerank_project_spark.plans.checkpoint import CheckpointStore

    monkeypatch.setattr(C, "PEEL_STALL_RATIO", 0.0)
    rng = random.Random(71)
    rows = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(80)]
    rows += list({(f"v{rng.randrange(150):03d}", f"v{rng.randrange(150):03d}") for _ in range(200)})
    rows = [(s, t) for s, t in rows if s != t]
    e = edges_df(spark, rows)

    full = connected_components(spark, e, driver_finish_edges=0)
    a = {r["id"]: r["component"] for r in full.labels.collect()}

    store = CheckpointStore(str(tmp_path), "cc_peel")
    connected_components(spark, e, max_iterations=2, driver_finish_edges=0, checkpoint_store=store)
    assert not store.metrics()[store.latest_iteration()].get("converged")
    res = connected_components(spark, e, driver_finish_edges=0, checkpoint_store=store)
    b = {r["id"]: r["component"] for r in res.labels.collect()}
    assert a == b == _nx_labels(sorted({x for r in rows for x in r}), rows)


# --- synonym-table guard -----------------------------------------------------


def test_table_synonyms_over_cap_raises(spark):
    from pagerank_project_spark.functions.synonyms import TableSynonyms

    big = spark.range(60).select(
        F.format_string("w%03d", "id").alias("word"),
        F.format_string("n%03d", "id").alias("neighbor"),
        F.lit(0.5).alias("sim"),
    )
    with pytest.raises(ValueError, match="collect budget"):
        TableSynonyms(big, max_vocab=10)  # cap = 50 < 60 rows
    # under budget still works
    t = TableSynonyms(big.limit(40), max_vocab=10)
    assert t.most_similar("w001", 3) == [("n001", 0.5)]


def test_cc_hash_path_vertices_guard(spark):
    """The hash-vid star path has no encode join to drop rows, but endpoints
    missing from a supplied vertex table would silently vanish from the
    label output. The guard is FUSED into the decode join (free when the
    input is valid) and trips at the caller's first action — for BOTH the
    missing-child case and the subtler missing-ROOT case (the component's
    min-hash vertex never appears as an active src)."""
    ids = ["a", "b", "c"]
    hashes = {
        r["id"]: r["h"]
        for r in spark.createDataFrame([(i,) for i in ids], "id string")
        .select("id", F.xxhash64("id").alias("h"))
        .collect()
    }
    root = min(ids, key=lambda i: hashes[i])  # the component min in hash space
    child = next(i for i in ids if i != root)
    e = edges_df(spark, [("a", "b"), ("b", "c")])

    for missing in (child, root):  # exercises raise sites (a) and (b)
        verts = spark.createDataFrame([(v,) for v in ids if v != missing], "id string")
        res = connected_components(spark, e, vertices=verts)
        with pytest.raises(Exception, match="not in the supplied vertices"):
            res.labels.collect()
        # the raise must also survive COLUMN PRUNING: a bare count() reads
        # no projection, so the raise sites ride the checkpoint barrier
        # (missing child) and the decode join key (missing root)
        res2 = connected_components(spark, e, vertices=verts)
        with pytest.raises(Exception, match="not in the supplied vertices"):
            res2.labels.count()

    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    res = connected_components(spark, e, vertices=verts, validate_vertices=False)
    assert res.converged  # opt-out keeps the documented-unsafe behavior


# --- shared vmap across graph ops -------------------------------------------


def test_shared_vmap_matches_per_op_encode(spark, small_rows):
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.operators.pagerank import build_vertices
    from pagerank_project_spark.operators.vids import string_sorted_vids

    e = edges_df(spark, small_rows)
    verts = build_vertices(e, None)
    vmap = string_sorted_vids(verts, "id", 8)

    cc_a = connected_components(spark, e, driver_finish_edges=0)
    cc_b = connected_components(spark, e, driver_finish_edges=0, vmap=vmap)
    assert sorted(map(tuple, cc_a.labels.collect())) == sorted(map(tuple, cc_b.labels.collect()))

    lpa_a = label_propagation(spark, e, iterations=3)
    lpa_b = label_propagation(spark, e, iterations=3, vmap=vmap)
    assert sorted(map(tuple, lpa_a.labels.collect())) == sorted(map(tuple, lpa_b.labels.collect()))
    vmap.unpersist()


# --- bucketed streaming-degree MERGE ----------------------------------------


def _deg_batch(spark, rows):
    pdf = pd.DataFrame(
        [(s, d, "import", pd.Timestamp("2024-01-01")) for s, d in rows],
        columns=["src", "dst", "kind", "event_ts"],
    )
    return spark.createDataFrame(pdf)


def test_degree_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Bytes rewritten scale with the delta, not the state: a second batch
    touching one src must leave every other bucket's snapshot untouched
    on disk (same version dir, same files)."""
    import os

    from pagerank_project_spark.streaming.edge_stream import (
        _merge_degree_batch,
        read_degree_state,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    rows = [(f"s{i:03d}", "t") for i in range(200)]
    _merge_degree_batch(_deg_batch(spark, rows), 0, state, "lineageA")

    def snapshot(d):
        out = {}
        for b in sorted(os.listdir(d)):
            if b.startswith("bucket="):
                bdir = os.path.join(d, b)
                with open(os.path.join(bdir, "CURRENT")) as f:
                    v = f.read()
                files = sorted(os.listdir(os.path.join(bdir, v)))
                out[b] = (v, files)
        return out

    before = snapshot(state)
    assert len(before) > 4  # the 200 keys hash across many buckets

    _merge_degree_batch(_deg_batch(spark, [("s000", "x"), ("s000", "y")]), 1, state, "lineageA")
    after = snapshot(state)
    changed = [b for b in before if after[b] != before[b]]
    assert len(changed) == 1  # only s000's bucket was rewritten
    got = {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()}
    assert got["s000"] == 3 and got["s001"] == 1 and len(got) == 200


def test_degree_merge_per_bucket_replay_idempotent(spark, tmp_path):
    """A replayed epoch (crash between bucket pointer swap and streaming
    commit) must skip exactly the buckets it already updated."""
    import os

    from pagerank_project_spark.streaming.edge_stream import (
        _merge_degree_batch,
        read_degree_state,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    batch = _deg_batch(spark, [("a", "x"), ("a", "y"), ("b", "x")])
    _merge_degree_batch(batch, 0, state, "L")
    # crash-replay: same epoch re-applied (meta says applied → whole skip);
    # also simulate a lost meta (worst case) — per-bucket versions still skip
    _merge_degree_batch(batch, 0, state, "L")
    os.remove(os.path.join(state, "_meta.json"))
    _merge_degree_batch(batch, 0, state, "L")
    got = {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()}
    assert got == {"a": 2, "b": 1}


def test_degree_merge_lineage_reset(spark, tmp_path):
    import os

    from pagerank_project_spark.streaming.edge_stream import (
        _merge_degree_batch,
        read_degree_state,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    _merge_degree_batch(_deg_batch(spark, [("a", "x")]), 0, state, "L1")
    _merge_degree_batch(_deg_batch(spark, [("a", "y")]), 1, state, "L1")
    assert {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()} == {"a": 2}
    # fresh lineage re-delivers everything from epoch 0: rebuild, not skip
    _merge_degree_batch(_deg_batch(spark, [("a", "x"), ("a", "y")]), 0, state, "L2")
    assert {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()} == {"a": 2}


def test_lpa_reports_actual_iterations(spark, small_rows, tmp_path):
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.checkpoint import CheckpointStore

    e = edges_df(spark, small_rows)
    assert label_propagation(spark, e, iterations=3).iterations == 3

    store = CheckpointStore(str(tmp_path), "lpa")
    label_propagation(spark, e, iterations=2, checkpoint_store=store)
    # resume target already reached: no superstep runs; report where we are
    assert label_propagation(spark, e, iterations=2, checkpoint_store=store).iterations == 2
    assert label_propagation(spark, e, iterations=4, checkpoint_store=store).iterations == 4


# --- embedding-cosine near-dup ----------------------------------------------

def _planted_corpus(np, n_base=300, n_dups=40, d=24, seed=11):
    """Random base vectors + planted near-duplicates (small perturbation →
    cosine ≥ ~0.97). Returns (pdf, expected near-dup id pairs at 0.9)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, d))
    src = rng.choice(n_base, size=n_dups, replace=False)
    dups = base[src] + 0.08 * rng.standard_normal((n_dups, d))
    mat = np.vstack([base, dups]).astype(float)
    pdf = pd.DataFrame(
        {"vec_id": range(n_base + n_dups), "embedding": list(mat)}
    )
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = np.round(unit @ unit.T, 6)
    ii, jj = np.nonzero(np.triu(sims >= 0.9, k=1))
    return pdf, {(int(i), int(j)) for i, j in zip(ii, jj)}, sims


def test_cosine_near_pairs_exact_matches_numpy(spark):
    import numpy as np

    from pagerank_project_spark.operators.similarity import cosine_near_pairs_exact

    pdf, expected, sims = _planted_corpus(np)
    vecs = spark.createDataFrame(pdf).repartition(8)
    got = cosine_near_pairs_exact(spark, vecs, threshold=0.9).toPandas()
    assert {(int(r.a), int(r.b)) for r in got.itertuples()} == expected
    for r in got.itertuples():
        assert r.cosine == pytest.approx(sims[int(r.a), int(r.b)], abs=1e-9)


def test_cosine_near_pairs_lsh_subset_and_recall(spark):
    """LSH candidates after exact rerank ⊆ exact pairs; recall on planted
    near-dups (cosine ≥ 0.9 — the operator's actual regime) ≥ 0.9."""
    import numpy as np

    from pagerank_project_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_exact,
    )

    pdf, expected, _ = _planted_corpus(np)
    vecs = spark.createDataFrame(pdf).repartition(8)
    exact = {
        (int(r.a), int(r.b))
        for r in cosine_near_pairs_exact(spark, vecs, threshold=0.9).toPandas().itertuples()
    }
    got = {
        (int(r.a), int(r.b))
        for r in cosine_near_pairs(spark, vecs, threshold=0.9, bands=16, rows_per_band=2)
        .toPandas()
        .itertuples()
    }
    assert got <= exact  # rerank is exact: no false positives, ever
    assert expected and len(got & expected) / len(expected) >= 0.9


def test_cosine_near_pairs_exact_budget_guard(spark, monkeypatch):
    import pagerank_project_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "QUERY_BROADCAST_LIMIT", 3)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2, 3, 4], "embedding": [[1.0, 0.0]] * 5})
    )
    with pytest.raises(ValueError, match="broadcast budget"):
        sim.cosine_near_pairs_exact(spark, df, threshold=0.5)


def test_media_audio_profile_matches_numpy(spark, tmp_path):
    """The oracle-checked multimodal contract query: blobs derived from
    document text via chained md5 must produce exactly the numpy kernel's
    int16-PCM features (the DuckDB SQL oracle mirrors the same closed
    forms; this pins the Spark side against an independent replica)."""
    import hashlib

    import numpy as np

    from __spark_entry__ import q_media_audio_profile

    docs = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["alpha beta", "gamma", "delta epsilon zeta"]}
    )
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(docs).write.parquet(str(sf_dir / "documents.parquet"))

    got = {
        r["doc_id"]: (r["duration_sec"], r["rms"], r["zcr"])
        for r in q_media_audio_profile(spark, str(sf_dir)).collect()
    }
    assert len(got) == 3
    for _, row in docs.iterrows():
        blob = b"".join(
            hashlib.md5((row["text"] + sfx).encode()).digest() for sfx in ("", "1", "2", "3")
        )
        s = np.frombuffer(blob, dtype="<i2").astype(np.float64)
        x = s / 32768.0
        exp = (
            round(len(s) / 8000.0, 6),
            round(float(np.sqrt((x * x).mean())), 6),
            round(float((np.diff(np.signbit(x)) != 0).mean()), 6),
        )
        assert got[row["doc_id"]] == pytest.approx(exp, abs=1e-9)


def test_cli_hits_and_kcore_small_graph(capsys, small_csv):
    """--algorithm hits/kcore over the reference edge list: hits prints
    top-auth lines, kcore converges with the expected core values."""
    from pagerank_project_spark.cli import main

    rc = main(["--data", small_csv,
               "--algorithm", "hits", "--power", "3", "--max_results", "3", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert sum(ln.startswith("auth=") for ln in out.splitlines()) == 3

    rc = main(["--data", small_csv,
               "--algorithm", "kcore", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    assert '"converged": true' in out
