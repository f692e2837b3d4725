"""Round-5 regression tests: ADVICE items (SCC endpoint coverage,
neighbor-sample string-id contract) + the SCC assigned-parts union fold +
md5-deterministic LSH/ANN reformulations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pagerank_project_spark.operators.scc import strongly_connected_components


def test_scc_rejects_vertices_missing_endpoints(spark):
    """ADVICE r4 (medium): a caller-supplied vertex table missing edge
    endpoints must raise loudly (labelprop/CC contract) instead of
    silently dropping labels in the hashed path."""
    e = spark.createDataFrame([("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",)], "id string")  # missing c
    with pytest.raises(ValueError, match="endpoint"):
        strongly_connected_components(spark, e, vertices=verts)


def test_scc_deep_graph_fold_keeps_labels_exact(spark):
    """VERDICT r4 #6: many trim/settle parts (one path graph, 1 trim pass
    per round) exercise the running checkpointed fold of assigned_parts;
    labels must still be all-singletons and the run must fit max_rounds=50
    without building an O(parts)-branch union plan."""
    n = 20
    edges = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)]
    e = spark.createDataFrame(edges, "src string, dst string")
    res = strongly_connected_components(spark, e, max_rounds=50, trim_passes=1)
    got = {r.id: r.scc for r in res.labels.collect()}
    assert got == {f"v{i:02d}": f"v{i:02d}" for i in range(n)}
    # the folded union keeps the FINAL plan's union fan-in bounded even
    # though ~2 parts were appended per round
    n_unions = res.labels._jdf.queryExecution().analyzed().toString().count("Union")
    assert n_unions <= 12


def test_sample_adjacency_rejects_non_string_ids(spark):
    """ADVICE r4 (low): md5 sample order is defined on rendered text —
    numeric ids would render differently per engine, so they are refused."""
    from pagerank_project_spark.operators.neighbors import sample_adjacency

    e = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    with pytest.raises(TypeError, match="string"):
        sample_adjacency(e, k=1)


def test_minhash_signature_matches_duckdb(spark):
    """The md5 double-hash minhash is cross-engine EXACT: the same
    signature values come out of DuckDB running the mirrored SQL."""
    import duckdb

    from pagerank_project_spark.operators.dedup import minhash_signatures

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(docs, num_perm=8).collect()}

    p = 2147483647
    con = duckdb.connect()
    for doc_id, text in texts:
        toks = text.split(" ")
        shs = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        mins = ", ".join(f"MIN((h1 + {i} * h2) % {p})" for i in range(8))
        sql = f"""
          WITH sh AS (SELECT unnest({shs!r}) AS sh),
          hs AS (SELECT ('0x' || substr(md5(sh), 1, 12))::BIGINT % {p} AS h1,
                        ('0x' || substr(md5(sh), 13, 12))::BIGINT % {p} AS h2 FROM sh)
          SELECT {mins} FROM hs
        """
        assert list(con.sql(sql).fetchall()[0]) == got[doc_id]


def test_simhash_fingerprint_matches_duckdb(spark):
    """60-bit md5-token SimHash fingerprints are bit-equal across engines."""
    import duckdb

    from pagerank_project_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_fingerprints,
    )

    texts = [(0, "alpha beta gamma delta"), (1, "alpha beta beta gamma x y z")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}

    con = duckdb.connect()
    terms = " + ".join(
        f"(CASE WHEN 2 * SUM((h >> {j}) & 1) > COUNT(*) THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    for doc_id, text in texts:
        toks = sorted(set(text.split(" ")))
        sql = f"""
          WITH th AS (SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
                      FROM (SELECT unnest({toks!r}) AS t))
          SELECT ({terms})::BIGINT FROM th
        """
        assert con.sql(sql).fetchall()[0][0] == got[doc_id]
        assert 0 <= got[doc_id] < (1 << SIMHASH_BITS)


def test_ivf_det_centroids_recall_floor(spark):
    """The deterministic (data-independent) quantizer used by the
    oracle-checked contract query still finds most true neighbors on the
    synthetic embeddings."""
    import numpy as np

    from pagerank_project_spark.operators.similarity import (
        brute_force_topk,
        det_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((120, 16)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r["vec_id"], r["neighbor"])
        for r in brute_force_topk(spark, emb, emb, k=3).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor"])
        for r in ivf_topk(
            spark, emb, k=3, n_centroids=8, nprobe=4, centroids=det_centroids(8, 16)
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_lpa_int_vid_narrowing_bitwise_and_schema(spark, tmp_path, monkeypatch):
    """Dense sorted vids < INT_VID_LIMIT narrow the symmetric cache and the
    loop state to int32 (operators/labelprop.py, plans/prepared_graph.py v2).
    The cast is order-preserving, so labels must be BITWISE the wide-long
    path's on direct, prepared, and cross (int direct vs long direct) runs."""
    import random

    import pagerank_project_spark.operators.vids as vids_mod
    from pagerank_project_spark.operators.labelprop import label_propagation
    from pagerank_project_spark.plans.prepared_graph import (
        load_prepared_undirected,
        prepare_undirected,
    )

    rng = random.Random(29)
    edges = spark.createDataFrame(
        list({(f"v{rng.randrange(70)}", f"v{rng.randrange(70)}") for _ in range(250)}),
        "src string, dst string",
    )
    narrow = label_propagation(spark, edges, iterations=5)

    pdir = str(tmp_path / "pund_int")
    pg = prepare_undirected(spark, edges, pdir, buckets=4)
    assert pg.und.schema["src"].dataType.simpleString() == "int"
    assert pg.und.schema["dst"].dataType.simpleString() == "int"
    prepped = label_propagation(spark, iterations=5, prepared_und=pg)

    # force the wide path (limit 0 -> nothing fits int32)
    monkeypatch.setattr(vids_mod, "INT_VID_LIMIT", 0)
    wide = label_propagation(spark, edges, iterations=5)
    pdir_w = str(tmp_path / "pund_long")
    pg_w = prepare_undirected(spark, edges, pdir_w, buckets=4)
    assert pg_w.und.schema["src"].dataType.simpleString() == "bigint"
    prepped_w = label_propagation(spark, iterations=5, prepared_und=pg_w)

    want = {(r.id, r.label) for r in wide.labels.collect()}
    for res in (narrow, prepped, prepped_w):
        assert {(r.id, r.label) for r in res.labels.collect()} == want
    # decode always widens back to the string ids' long vmap
    assert dict(narrow.labels.dtypes) == {"id": "string", "label": "string"}


def test_cli_lpa_prepare_and_run_from_artifact(spark, tmp_path, capsys, small_csv):
    """Round-5 CLI surface: --algorithm lpa --prepare bakes the undirected
    artifact (slots-bucketing deployment rule), and --prepared_dir runs the
    loop from it producing labels identical to the direct --data run."""
    import json as _json

    from pagerank_project_spark.cli import main

    data = small_csv
    pdir = str(tmp_path / "pu")
    rc = main(["--data", data, "--algorithm", "lpa", "--prepare",
               "--prepared_dir", pdir, "--num_partitions", "4", "--cores", "4"])
    out = capsys.readouterr().out
    assert rc == 0
    meta = _json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])
    assert meta["kind"] == "undirected" and meta["buckets"] == 4

    o_prep, o_direct = str(tmp_path / "o1"), str(tmp_path / "o2")
    assert main(["--prepared_dir", pdir, "--algorithm", "lpa", "--lpa_iterations", "4",
                 "--output", o_prep, "--cores", "4"]) == 0
    assert main(["--data", data, "--algorithm", "lpa", "--lpa_iterations", "4",
                 "--output", o_direct, "--cores", "4"]) == 0
    got = sorted(map(tuple, spark.read.parquet(o_prep).collect()))
    want = sorted(map(tuple, spark.read.parquet(o_direct).collect()))
    assert got == want and len(got) == 6
