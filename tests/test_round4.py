"""Round-4 additions: endpoint-coverage guards on hits/kcore, the CLI
prepared-graph filter_ratio guard, prepared-table location verification,
near_dup_clusters id-type guard, the link-prediction wedge budget, and the
fused one-job-per-superstep k-core convergence loop."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F


def edges_df(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


# --------------------------------------------------------------------------
# endpoint-coverage guards (ADVICE r3: hits/kcore lacked pagerank's guard)
# --------------------------------------------------------------------------

def test_hits_endpoint_guard_raises(spark):
    from pagerank_project_spark.operators.hits import hits

    e = edges_df(spark, [("a", "b"), ("b", "c")])
    verts = spark.createDataFrame([("a",), ("b",)], "id string")  # c missing
    with pytest.raises(ValueError, match="endpoint"):
        hits(spark, e, vertices=verts, iterations=2)
    # uncovered endpoints allowed only with an explicit opt-out
    res = hits(spark, e, vertices=verts, iterations=2, validate_vertices=False)
    assert res.scores.count() == 2


def test_kcore_endpoint_guard_raises(spark):
    from pagerank_project_spark.operators.kcore import kcore

    e = edges_df(spark, [("a", "b"), ("b", "c")])
    verts = spark.createDataFrame([("a",), ("b",)], "id string")
    with pytest.raises(ValueError, match="endpoint"):
        kcore(spark, e, vertices=verts)


# --------------------------------------------------------------------------
# CLI: --filter_ratio with --prepared_dir, or with --prepare --algorithm lpa,
# must error, not silently no-op
# --------------------------------------------------------------------------

def test_cli_prepared_with_filter_ratio_errors(spark, capsys, small_csv, tmp_path):
    from pagerank_project_spark.cli import main

    rc = main(["--prepared_dir", "/nonexistent", "--filter_ratio", "0.3"])
    assert rc == 2
    assert "baked into the prepared graph" in capsys.readouterr().err

    pdir = tmp_path / "pu"
    rc = main(["--data", small_csv, "--algorithm", "lpa", "--prepare",
               "--prepared_dir", str(pdir), "--filter_ratio", "0.3"])
    assert rc == 2
    assert "--prepare --algorithm lpa" in capsys.readouterr().err
    assert not pdir.exists()


# --------------------------------------------------------------------------
# prepared graph: catalog entry is verified against the dir being loaded
# --------------------------------------------------------------------------

def test_load_prepared_moved_dir_reregisters(spark, tmp_path):
    """A prepared dir copied elsewhere carries a manifest naming the
    ORIGINAL path's catalog table; loading the copy while the original's
    table is registered must not serve the original's files. Likewise an
    entry whose column type differs from the manifest's is re-created."""
    from pagerank_project_spark.plans.prepared_graph import (
        _catalog_entry_matches,
        load_prepared,
        load_prepared_undirected,
        prepare_graph,
        prepare_undirected,
    )

    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    pg_a = prepare_graph(spark, e, a_dir)  # registers table located at a/edges
    shutil.copytree(a_dir, b_dir)

    pg_b = load_prepared(spark, b_dir)
    import json

    tbl = json.load(open(f"{b_dir}/manifest.json"))["table"]
    assert _catalog_entry_matches(spark, tbl, b_dir, pg_b.buckets, "BIGINT")
    assert pg_b.edges.count() == pg_a.m
    # and loading the original back re-points the entry at the original
    pg_a2 = load_prepared(spark, a_dir)
    assert _catalog_entry_matches(spark, tbl, a_dir, pg_a2.buckets, "BIGINT")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # a catalog entry at the SAME location and bucket count but with bigint
    # columns (left by an earlier wide artifact) must not serve an int32
    # artifact's files: the entry is dropped and re-created as INT
    pdir = str(tmp_path / "und")
    pg = prepare_undirected(spark, e, pdir, buckets=4)
    manifest = json.load(open(f"{pdir}/manifest.json"))
    assert manifest["dtype"] == "int"
    tbl = manifest["table"]
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT) USING PARQUET "
        f"CLUSTERED BY (src) SORTED BY (src, dst) INTO {pg.buckets} BUCKETS "
        f"LOCATION '{pdir}/edges'"
    )
    assert not _catalog_entry_matches(spark, tbl, pdir, pg.buckets, "INT")

    pg2 = load_prepared_undirected(spark, pdir)
    assert _catalog_entry_matches(spark, tbl, pdir, pg2.buckets, "INT")
    assert pg2.und.schema["src"].dataType.simpleString() == "int"
    assert pg2.und.count() == pg.m_und
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# --------------------------------------------------------------------------
# near_dup_clusters: non-integer ids must fail loudly, not NULL silently
# --------------------------------------------------------------------------

def test_near_dup_clusters_string_ids_raise(spark):
    from pagerank_project_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([("doc-1", "doc-2")], "a string, b string")
    with pytest.raises(ValueError, match="integer ids"):
        near_dup_clusters(spark, pairs)


# --------------------------------------------------------------------------
# link prediction: wedge budget refuses uncapped hubs unless exact=True
# --------------------------------------------------------------------------

def _hub_edges(spark, n_leaves=40):
    return edges_df(spark, [("hub", f"l{i}") for i in range(n_leaves)])


def test_linkpred_wedge_budget_guard(spark):
    from pagerank_project_spark.operators.linkpred import link_prediction_topk

    e = _hub_edges(spark)
    with pytest.raises(ValueError, match="wedge_budget"):
        link_prediction_topk(spark, e, k=5, wedge_budget=100)
    # explicit opt-outs both run: exact quadratic, or a hub cap
    assert link_prediction_topk(spark, e, k=5, wedge_budget=100, exact=True).count() > 0
    assert link_prediction_topk(spark, e, k=5, wedge_budget=100, max_apex_degree=3).count() == 0


def test_linkpred_default_budget_unchanged_results(spark):
    """Under the budget the guard must not change the exact results."""
    from pagerank_project_spark.operators.linkpred import link_prediction_topk

    e = edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("b", "d")])
    got = link_prediction_topk(spark, e, k=10).collect()
    want = link_prediction_topk(spark, e, k=10, exact=True).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --------------------------------------------------------------------------
# k-core convergence loop: ONE Spark job per h-index superstep
# --------------------------------------------------------------------------

def test_kcore_convergence_matches_networkx(spark):
    import networkx as nx

    from pagerank_project_spark.operators.kcore import kcore

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
            ("e", "f"), ("f", "d"), ("a", "d"), ("g", "a")]
    res = kcore(spark, edges_df(spark, rows))
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    assert res.converged
    assert got == nx.core_number(nx.Graph(rows))


def test_kcore_convergence_one_job_per_superstep(spark):
    """The fused loop (changed-count folded into the materializing agg) must
    cost exactly ONE Spark job per h-index superstep. Job counts outside the
    loop (AQE multi-job queries in setup/decode) are identical across runs,
    so two unconverged runs differing by one superstep must differ by one
    job."""
    from pagerank_project_spark.operators.kcore import kcore

    # a path graph's h-index fixpoint converges inward — 12 nodes need >3
    # supersteps, so both runs below stop on max_iterations, not convergence
    rows = [(f"v{i}", f"v{i + 1}") for i in range(12)]
    e = edges_df(spark, rows)
    sc = spark.sparkContext

    counts = {}
    for mi in (2, 3):
        grp = f"kcore-jobcount-{mi}"
        sc.setJobGroup(grp, "round-4 fused-loop assertion")
        try:
            res = kcore(spark, e, max_iterations=mi)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not res.converged and res.iterations == mi
        counts[mi] = len(sc.statusTracker().getJobIdsForGroup(grp))

    assert counts[3] - counts[2] == 1


# --------------------------------------------------------------------------
# repetition signals (hand-built fixtures with known exact ratios)
# --------------------------------------------------------------------------

def test_repetition_profile_known_values(spark):
    from pagerank_project_spark.operators.textstats import repetition_profile

    docs = spark.createDataFrame(
        [
            # 4 lines, "dup dup" repeated once; paragraphs: ["a b\ndup dup\ndup dup", "c d"]
            (1, "a b\ndup dup\ndup dup\n\nc d"),
            # no duplicates at all; single paragraph
            (2, "one two\nthree four"),
            # dominant bigram: "x y" appears 3 times of 5 bigrams
            (3, "x y x y x y"),
            # empty-ish doc
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_profile(docs).collect()}

    r1 = got[1]
    assert r1["n_lines"] == 4 and r1["n_paras"] == 2
    assert r1["dup_line_frac"] == 0.25  # 1 repeat of 4 lines
    # chars: a b(3) + dup dup(7)*2 + c d(3) = 20; dup chars = 7
    assert r1["dup_line_char_frac"] == 0.35
    assert r1["dup_para_frac"] == 0.0

    r2 = got[2]
    assert r2["dup_line_frac"] == 0.0 and r2["dup_para_frac"] == 0.0
    assert r2["top_bigram_frac"] == 0.333333  # 3 distinct bigrams, each once

    r3 = got[3]
    # bigrams: x y, y x, x y, y x, x y → top "x y" 3 of 5
    assert r3["top_bigram_frac"] == 0.6

    r4 = got[4]
    assert r4["n_lines"] == 0 and r4["dup_line_frac"] == 0.0
    assert r4["top_bigram_frac"] == 0.0


def test_quality_filter_repetition_prefilter(spark):
    from pagerank_project_spark.operators.textstats import quality_filter_per_lang

    boiler = "the menu\nthe menu\nthe menu\nthe menu"  # dup_line_frac = 0.75
    clean = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(i, clean + f" variant {i}") for i in range(4)] + [(99, boiler)],
        "doc_id long, text string",
    )
    kept_all = {r["doc_id"] for r in quality_filter_per_lang(docs, keep_frac=1.0).collect()}
    kept_rep = {
        r["doc_id"]
        for r in quality_filter_per_lang(docs, keep_frac=1.0, max_dup_line_frac=0.5).collect()
    }
    assert 99 in kept_all
    assert kept_rep == kept_all - {99}


# --------------------------------------------------------------------------
# PII scrub (hand-built fixture with known counts)
# --------------------------------------------------------------------------

def test_pii_scrub_known_counts(spark):
    from pagerank_project_spark.operators.pii import pii_scrub

    key = "A" * 40
    docs = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org and b@x.io now"),
            (2, "server 192.168.0.1 and 10.0.0.255 up"),
            (3, "call +1 555 0142 4242 or +44 201 7946 0958."),
            (4, f"token {key}= end"),
            (5, "nothing to redact here 123 456"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(docs).collect()}

    assert got[1]["n_email"] == 2 and got[1]["redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert got[2]["n_ipv4"] == 2 and got[2]["redacted"] == "server <IPV4> and <IPV4> up"
    assert got[3]["n_phone"] == 2
    assert got[3]["redacted"] == "call <PHONE> or <PHONE>."
    assert got[4]["n_key"] == 1 and got[4]["redacted"] == "token <KEY> end"
    r5 = got[5]
    assert (r5["n_email"], r5["n_key"], r5["n_ipv4"], r5["n_phone"]) == (0, 0, 0, 0)
    assert r5["redacted"] == "nothing to redact here 123 456"


# --------------------------------------------------------------------------
# weighted-transition PageRank
# --------------------------------------------------------------------------

def test_weighted_pagerank_unit_weights_equal_unweighted(spark):
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    rows = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0), ("a", "c", 1.0)]
    ew = spark.createDataFrame(rows, "src string, dst string, wt double")
    cfg = PageRankConfig(mode="standard", epsilon=1e-300, max_iterations=4)
    got_w = {r["id"]: r["rank"] for r in pagerank(spark, ew, cfg=cfg, weight_col="wt").ranks.collect()}
    got_u = {r["id"]: r["rank"] for r in pagerank(spark, ew.select("src", "dst"), cfg=cfg).ranks.collect()}
    assert got_w == got_u  # bitwise: unit weights are exactly 1/outdeg


def test_weighted_pagerank_matches_numpy(spark):
    import numpy as np

    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    rows = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0), ("c", "a", 5.0), ("d", "a", 4.0)]
    ew = spark.createDataFrame(rows, "src string, dst string, wt double")
    cfg = PageRankConfig(mode="standard", alpha=0.85, epsilon=1e-300, max_iterations=6)
    got = {r["id"]: r["rank"] for r in pagerank(spark, ew, cfg=cfg, weight_col="wt").ranks.collect()}

    ids = sorted({x for r in rows for x in r[:2]} | {"e"} - {"e"})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    P = np.zeros((n, n))
    for s, d, w in rows:
        P[idx[d], idx[s]] += w
    col = P.sum(axis=0)
    dang = col == 0
    P[:, ~dang] /= col[~dang]
    v = np.ones(n) / n
    x = np.ones(n) / np.sqrt(n)
    for _ in range(6):
        nx = 0.85 * P @ x + (0.85 * x[dang].sum() + 0.15) * v
        x = nx / np.abs(nx).sum()
    for vtx, i in idx.items():
        assert abs(got[vtx] - x[i]) < 1e-12


def test_weighted_pagerank_nonpositive_weight_raises(spark):
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank

    ew = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 0.0)], "src string, dst string, wt double"
    )
    cfg = PageRankConfig(mode="standard", epsilon=1e-300, max_iterations=2)
    with pytest.raises(Exception, match="strictly positive"):
        pagerank(spark, ew, cfg=cfg, weight_col="wt").ranks.collect()


def test_weighted_prepared_query_time_weight_raises(spark, tmp_path):
    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.plans.prepared_graph import prepare_graph

    e = edges_df(spark, [("a", "b"), ("b", "a")])
    pg = prepare_graph(spark, e, str(tmp_path / "pg"))
    with pytest.raises(ValueError, match="baked into the prepared graph"):
        pagerank(spark, cfg=PageRankConfig(max_iterations=1), prepared=pg, weight_col="wt")


# --------------------------------------------------------------------------
# LM surprisal
# --------------------------------------------------------------------------

def test_lm_surprisal_matches_python_replica(spark):
    import math
    from collections import Counter

    from pagerank_project_spark.operators.textstats import lm_surprisal

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "a dog sat",
        4: "single",  # 1 token → no bigrams → absent from output
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_surprisal"]) for r in lm_surprisal(docs).collect()}

    bgs = {d: list(zip(t.split(), t.split()[1:])) for d, t in texts.items()}
    c = Counter(b for lst in bgs.values() for b in lst)
    ctx = Counter()
    for (w1, _), k in c.items():
        ctx[w1] += k
    for d, lst in bgs.items():
        if not lst:
            assert d not in got
            continue
        want = sum(-math.log(c[b] / ctx[b[0]]) for b in lst) / len(lst)
        n, avg = got[d]
        assert n == len(lst)
        assert abs(avg - round(want, 6)) <= 1e-6
