"""Round-2 additions: distributed vid assignment, star-contraction CC,
LPA resume, streamed brute-force top-k, epoch-idempotent streaming state,
corpus-derived synonyms, CLI end-to-end."""

from __future__ import annotations

import os
import random

import networkx as nx
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pagerank_project_spark.operators.components import connected_components
from pagerank_project_spark.operators.vids import string_sorted_vids


def edges_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))


# --- vids -------------------------------------------------------------------

def test_string_sorted_vids_dense_and_ordered(spark):
    rng = random.Random(7)
    ids = list({f"v{rng.randrange(10**8)}" for _ in range(3000)})
    vm = string_sorted_vids(spark.createDataFrame([(i,) for i in ids], "id string"), "id", 8)
    got = {r["id"]: r["vid"] for r in vm.collect()}
    assert got == {s: i + 1 for i, s in enumerate(sorted(ids))}
    vm.unpersist()


# --- star CC ----------------------------------------------------------------

def test_star_cc_path_graph_logarithmic_rounds(spark):
    """A 200-vertex path: diameter 199. Plain propagation needs ~199
    supersteps; star contraction must finish in O(log n) rounds."""
    n = 200
    rows = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(n - 1)]
    # driver_finish_edges=0 forces fully-distributed rounds — this test pins
    # the O(log n) contraction behavior, not the driver tail shortcut
    res = connected_components(spark, edges_df(spark, rows), driver_finish_edges=0)
    assert res.converged
    assert res.iterations <= 12, f"star contraction took {res.iterations} rounds"
    labs = {r["id"]: r["component"] for r in res.labels.collect()}
    assert set(labs.values()) == {"p000"} and len(labs) == n


def test_star_cc_matches_networkx_random_graph(spark):
    rng = random.Random(11)
    nodes = [f"n{i:04d}" for i in range(400)]
    rows = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(500)]
    rows = [(s, t) for s, t in rows if s != t]
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(rows)
    exp = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            exp[v] = m
    verts = spark.createDataFrame([(v,) for v in nodes], "id string")
    res = connected_components(spark, edges_df(spark, rows), vertices=verts)
    got = {r["id"]: r["component"] for r in res.labels.collect()}
    assert got == exp
    # and propagation (the oracle mode) agrees at convergence
    res_p = connected_components(spark, edges_df(spark, rows), vertices=verts, algorithm="propagation")
    got_p = {r["id"]: r["component"] for r in res_p.labels.collect()}
    assert got_p == exp


# --- LPA resume -------------------------------------------------------------

def test_lpa_checkpoint_resume(spark, small_rows, tmp_path):
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.checkpoint import CheckpointStore

    full = {
        r["id"]: r["label"]
        for r in label_propagation(spark, edges_df(spark, small_rows), iterations=4).labels.collect()
    }
    store = CheckpointStore(str(tmp_path), "lpa")
    label_propagation(spark, edges_df(spark, small_rows), iterations=2, checkpoint_store=store)
    assert store.latest_iteration() == 2
    res = label_propagation(spark, edges_df(spark, small_rows), iterations=4, checkpoint_store=store)
    resumed = {r["id"]: r["label"] for r in res.labels.collect()}
    assert resumed == full
    assert store.latest_iteration() == 4  # continued, never replayed 1-2


# --- streamed brute-force top-k ---------------------------------------------

def test_brute_force_topk_large_corpus(spark):
    """Corpus ≫ queries: the corpus streams through executors (never
    collected); results must equal the numpy exact oracle."""
    import numpy as np

    from pagerank_project_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(3)
    nc, d, k = 4000, 16, 5
    mat = rng.standard_normal((nc, d))
    pdf = pd.DataFrame({"vec_id": np.arange(nc, dtype=np.int64), "embedding": list(mat.astype(float))})
    corpus = spark.createDataFrame(pdf).repartition(8)
    queries = corpus.filter(F.col("vec_id") < 12)
    got = brute_force_topk(spark, queries, corpus, k=k).toPandas()

    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = np.round(unit[:12] @ unit.T, 6)
    for q in range(12):
        s = sims[q].copy()
        s[q] = -np.inf
        order = np.lexsort((np.arange(nc), -s))[:k]
        sub = got[got.vec_id == q].sort_values(["cosine", "neighbor"], ascending=[False, True])
        assert sub.neighbor.tolist() == order.tolist()
        assert sub.cosine.tolist() == pytest.approx(s[order].tolist(), abs=1e-9)


def test_brute_force_topk_query_budget_guard(spark, monkeypatch):
    import pagerank_project_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "QUERY_BROADCAST_LIMIT", 3)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2, 3, 4], "embedding": [[1.0, 0.0]] * 5})
    )
    with pytest.raises(ValueError, match="broadcast budget"):
        sim.brute_force_topk(spark, df, df, k=2)


# --- streaming epoch idempotency --------------------------------------------

def test_incremental_degrees_replay_is_idempotent(spark, tmp_path):
    from pagerank_project_spark.streaming.edge_stream import incremental_degrees

    in_dir = str(tmp_path / "edges_in")
    state = str(tmp_path / "state")
    pdf = pd.DataFrame(
        [("a", "b", "import", pd.Timestamp("2024-01-01")), ("a", "c", "import", pd.Timestamp("2024-01-01"))],
        columns=["src", "dst", "kind", "event_ts"],
    )
    spark.createDataFrame(pdf).write.mode("append").parquet(in_dir)
    q = incremental_degrees(spark, in_dir, state, str(tmp_path / "ckpt1"))
    q.awaitTermination()
    from pagerank_project_spark.streaming.edge_stream import read_degree_state

    first = {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()}
    assert first == {"a": 2}

    # full restart with a FRESH streaming checkpoint: epoch ids reset to 0
    # and the file source re-reads everything — the lineage marker makes the
    # merge rebuild from scratch rather than mis-comparing epochs across
    # lineages (double-count and silent-drop both impossible)
    q2 = incremental_degrees(spark, in_dir, state, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    again = {r["src"]: r["outdeg"] for r in read_degree_state(spark, state).collect()}
    assert again == first


# --- synonyms end-to-end -----------------------------------------------------

def test_corpus_synonyms_expand_search(spark):
    """Distributional synonyms learned from a toy corpus change the
    expanded-search result set, reproducing the reference's GloVe
    expansion path (op-20) with a non-hand-seeded provider."""
    from pagerank_project_spark.functions.query import search, url_satisfies_query
    from pagerank_project_spark.functions.synonyms import TableSynonyms, build_synonym_table

    # 'cat' and 'feline' share contexts; 'rocket' never co-occurs with them
    docs = [
        (i, f"the {w} sat on the mat with a {c}")
        for i, (w, c) in enumerate(
            [("cat", "dog"), ("feline", "dog"), ("cat", "bird"), ("feline", "bird"),
             ("cat", "dog"), ("feline", "hamster"), ("rocket", "engine"), ("rocket", "fuel")] * 3
        )
    ]
    ddf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    syn = TableSynonyms(build_synonym_table(ddf, min_count=2, topn=5))
    assert any(w == "feline" for w, _ in syn.most_similar("cat", 5))

    ranks = spark.createDataFrame(
        pd.DataFrame({"id": ["page/cat", "page/feline", "page/rocket"], "rank": [0.2, 0.3, 0.5]})
    )
    plain = {r["id"] for r in search(ranks, "cat", max_results=10).collect()}
    expanded = {r["id"] for r in search(ranks, "cat", max_results=10, synonyms=syn).collect()}
    assert plain == {"page/cat"}
    assert "page/feline" in expanded and "page/rocket" not in expanded
    # predicate-level parity: expansion widens url_satisfies_query
    hits = ranks.filter(url_satisfies_query(F.col("id"), "cat", syn)).count()
    assert hits == 2


# --- CLI end-to-end ----------------------------------------------------------

def test_cli_end_to_end_small_graph(capsys, small_csv):
    """cli.main on the reference's small.csv.gz: committed-code semantics —
    README.md:137-142 goldens (+ the search() sum_weight boost) in l2l2
    mode, 6 results in the pinned order."""
    from pagerank_project_spark.cli import main

    rc = main(["--data", small_csv, "--mode", "l2l2", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [ln for ln in out.splitlines() if ln.startswith("rank=")]
    assert [ln.rsplit("url=", 1)[1] for ln in lines] == ["4", "6", "5", "2", "3", "1"]
    # README golden magnitudes + 0.03 boost (committed search() semantics)
    goldens = [0.66270, 0.52179, 0.41434, 0.23175, 0.18590, 0.16917]
    got = [float(ln.split("pagerank=")[1].split()[0]) for ln in lines]
    assert got == pytest.approx([g + 0.03 for g in goldens], abs=5e-4)


# --- vertices containment guard ---------------------------------------------

def test_pagerank_vertices_guard(spark):
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    edges = edges_df(spark, [("a", "b"), ("b", "c")])
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    with pytest.raises(ValueError, match="not in the supplied vertices"):
        pagerank(spark, edges, vertices=verts, cfg=PageRankConfig(max_iterations=2))
    # opt-out preserves the old (documented-unsafe) behavior
    res = pagerank(
        spark, edges, vertices=verts,
        cfg=PageRankConfig(max_iterations=2, validate_vertices=False),
    )
    assert res.n_vertices == 2
