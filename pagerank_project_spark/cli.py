"""CLI surface — mirrors the reference's argparse knobs (reference:
pagerank.py:261-285: --data --personalization_vector_query --search_query
--filter_ratio --alpha --max_iterations --epsilon --max_results --verbose
--power --sum_weight) plus the Spark-side knobs the reference has no
concept of (strategy, partitions, salting, checkpointing, normalization
mode, algorithm selection).

Run locally:     python -m pagerank_project_spark.cli --data <edges.csv[.gz]|fixture_dir> ...
Run on cluster:  spark-submit --py-files pagerank_project_spark.zip \
                     -m ...cli equivalent (tools/submit.sh wraps this)
"""

from __future__ import annotations

import argparse
import json
import logging
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pagerank_project_spark")
    # reference-parity knobs
    p.add_argument("--data", default=None, help="edge-list CSV(.gz) path, or a fixture dir with source_table/")
    p.add_argument("--personalization_vector_query", default=None)
    p.add_argument("--search_query", default="")
    p.add_argument("--filter_ratio", type=float, default=None)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--max_iterations", type=int, default=1000)
    p.add_argument("--epsilon", type=float, default=1e-6)
    p.add_argument("--max_results", type=int, default=10)
    p.add_argument("--power", type=int, default=30)
    p.add_argument("--sum_weight", type=float, default=0.03)
    p.add_argument("--verbose", action="store_true")
    # engine knobs
    p.add_argument(
        "--algorithm",
        default="pagerank",
        choices=["pagerank", "cc", "lpa", "triangles", "hits", "kcore", "clustering",
                 "linkpred", "bfs", "walks", "bowtie", "spam", "modularity", "ppr",
                 "sample", "scc"],
    )
    p.add_argument("--seeds_like", default=None,
                   help="SQL LIKE pattern over vertex ids selecting the seed set for "
                        "--algorithm bfs/walks/bowtie (frontier sources), spam "
                        "(TrustRank trusted set), ppr (personalization seeds) and "
                        "sample (k-hop roots)")
    p.add_argument("--walk_steps", type=int, default=5)
    p.add_argument("--fanouts", default="10,5",
                   help="comma-separated per-hop fan-out caps for --algorithm sample")
    p.add_argument("--ppr_iterations", type=int, default=3,
                   help="fixed superstep count for --algorithm ppr (walk length)")
    p.add_argument("--prune_below", type=float, default=None,
                   help="--algorithm ppr: drop state entries under this rank after "
                        "each superstep (forward-push-style cap; default exact)")
    p.add_argument("--lpa_frontier", action="store_true",
                   help="LPA: count the labels each superstep changes and stop "
                        "at the first superstep that changes none (labels equal "
                        "the full --lpa_iterations run; prints frontier_sizes)")
    p.add_argument("--scc_chain_contract", action="store_true",
                   help="SCC: collapse in/out-degree-1 chains up front (pointer "
                        "doubling) — the depth lever for path-shaped graphs; "
                        "labels identical either way")
    p.add_argument("--mode", default="reference", choices=["reference", "l2l2", "standard", "l2l1"])
    p.add_argument("--strategy", default="relational", choices=["relational", "csr"])
    p.add_argument("--num_partitions", type=int, default=None)
    p.add_argument("--salt_buckets", type=int, default=8)
    p.add_argument("--checkpoint_dir", default=None)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--lpa_iterations", type=int, default=10)
    p.add_argument("--cc_algorithm", default="star", choices=["star", "propagation"])
    p.add_argument("--output", default=None, help="write result parquet here instead of printing top-k")
    p.add_argument("--prepared_dir", default=None,
                   help="prepared-graph dir (plans.prepared_graph): with --prepare, build it "
                        "from --data; without, run --algorithm pagerank (directed artifact) or "
                        "lpa (undirected artifact) straight from it (no --data needed)")
    p.add_argument("--prepare", action="store_true",
                   help="build the prepared graph at --prepared_dir from --data and exit "
                        "(--algorithm lpa prepares the UNDIRECTED artifact; size "
                        "--num_partitions at the target cluster's task slots — the "
                        "slots-bucketing deployment rule, BENCH/BASELINE.md)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(level=logging.INFO if args.verbose else logging.WARNING)

    from pyspark.sql import functions as F

    from pagerank_project_spark.config import PageRankConfig
    from pagerank_project_spark.functions.query import search, url_satisfies_query
    from pagerank_project_spark.operators.pagerank import pagerank
    from pagerank_project_spark.plans.checkpoint import CheckpointStore
    from pagerank_project_spark.session import get_spark

    spark = get_spark(app_name="pagerank_project_spark", cores=args.cores)

    use_prepared = args.prepared_dir and not args.prepare
    if use_prepared and args.algorithm not in ("pagerank", "lpa"):
        print("--prepared_dir currently serves --algorithm pagerank and lpa", file=sys.stderr)
        return 2
    if use_prepared and args.filter_ratio is not None:
        # never mask the engine's own guard: the spam filter is baked into
        # the prepared graph at prepare time, so an explicit --filter_ratio
        # here would silently NOT be applied
        print("--filter_ratio is baked into the prepared graph at --prepare time; "
              "re-prepare with the desired ratio instead of passing it at query time",
              file=sys.stderr)
        return 2
    if args.prepare and args.algorithm == "lpa" and args.filter_ratio is not None:
        # the undirected artifact bakes no spam filter: an explicit
        # --filter_ratio here would silently NOT be applied
        print("--filter_ratio is not supported by --prepare --algorithm lpa: the undirected "
              "artifact bakes no spam filter", file=sys.stderr)
        return 2
    if not args.data and not use_prepared:
        print("--data is required (or pass --prepared_dir to run from a prepared graph)",
              file=sys.stderr)
        return 2

    edges = vertices = None
    if args.data and args.data.endswith((".csv", ".csv.gz", ".gz")):
        from pagerank_project_spark.sources.csv_edgelist import read_edgelist_csv

        edges, vertices = read_edgelist_csv(spark, args.data), None
    elif args.data:
        from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files

        files = spark.read.parquet(f"{args.data}/source_table/data")
        edges, vertices = extract_edges(files), vertices_from_files(files)

    if args.prepare:
        if not args.prepared_dir:
            print("--prepare needs --prepared_dir", file=sys.stderr)
            return 2
        if args.algorithm == "lpa":
            from pagerank_project_spark.plans.prepared_graph import prepare_undirected

            pu = prepare_undirected(spark, edges, args.prepared_dir, vertices=vertices,
                                    buckets=args.num_partitions)
            print(json.dumps({"prepared": args.prepared_dir, "kind": "undirected",
                              "n_vertices": pu.n, "m_und": pu.m_und, "buckets": pu.buckets}))
            return 0
        from pagerank_project_spark.plans.prepared_graph import prepare_graph

        pg = prepare_graph(spark, edges, args.prepared_dir, vertices=vertices,
                           buckets=args.num_partitions, filter_ratio=args.filter_ratio)
        print(json.dumps({"prepared": args.prepared_dir, "n_vertices": pg.n,
                          "n_edges": pg.m, "buckets": pg.buckets}))
        return 0

    store = CheckpointStore(args.checkpoint_dir) if args.checkpoint_dir else None

    if args.algorithm == "pagerank":
        cfg = PageRankConfig(
            alpha=args.alpha,
            max_iterations=args.max_iterations,
            epsilon=args.epsilon,
            filter_ratio=args.filter_ratio,  # guaranteed None when use_prepared (guard above)
            mode=args.mode,
            strategy=args.strategy,
            num_partitions=args.num_partitions,
            salt_buckets=args.salt_buckets,
        )
        v_expr = (
            url_satisfies_query(F.col("id"), args.personalization_vector_query)
            if args.personalization_vector_query
            else None
        )
        if use_prepared:
            from pagerank_project_spark.plans.prepared_graph import load_prepared

            res = pagerank(spark, cfg=cfg, v_expr=v_expr, checkpoint_store=store,
                           prepared=load_prepared(spark, args.prepared_dir))
        else:
            res = pagerank(spark, edges, vertices=vertices, cfg=cfg, v_expr=v_expr,
                           checkpoint_store=store)
        out = res.ranks
        print(json.dumps({"iterations": res.iterations, "converged": res.converged,
                          "n_vertices": res.n_vertices, "n_edges": res.n_edges}))
        if args.search_query or not args.output:
            top = search(out, args.search_query, max_results=args.max_results,
                         sum_weight=args.sum_weight, power=args.power)
            for i, r in enumerate(top.collect()):
                print(f"rank={i} pagerank={r['score']:.4e} url={r['id']}")
    elif args.algorithm == "cc":
        from pagerank_project_spark.operators.components import connected_components

        res = connected_components(spark, edges, vertices=vertices,
                                   max_iterations=args.max_iterations, checkpoint_store=store,
                                   algorithm=args.cc_algorithm)
        out = res.labels
        print(json.dumps({"iterations": res.iterations, "converged": res.converged}))
    elif args.algorithm == "lpa":
        from pagerank_project_spark.operators.labelprop import label_propagation

        if use_prepared:
            from pagerank_project_spark.plans.prepared_graph import load_prepared_undirected

            res = label_propagation(spark, iterations=args.lpa_iterations,
                                    checkpoint_store=store, frontier=args.lpa_frontier,
                                    prepared_und=load_prepared_undirected(spark, args.prepared_dir),
                                    num_partitions=args.num_partitions)
        else:
            res = label_propagation(spark, edges, vertices=vertices,
                                    iterations=args.lpa_iterations, checkpoint_store=store,
                                    frontier=args.lpa_frontier)
        out = res.labels
        if args.lpa_frontier:
            print(json.dumps({"iterations": res.iterations,
                              "frontier_sizes": res.frontier_sizes}))
    elif args.algorithm == "hits":
        from pagerank_project_spark.operators.hits import hits

        res = hits(spark, edges, vertices=vertices, iterations=args.power)
        out = res.scores
        if not args.output:
            for r in out.orderBy(F.desc("auth"), F.asc("id")).limit(args.max_results).collect():
                print(f"auth={r['auth']:.4e} hub={r['hub']:.4e} url={r['id']}")
    elif args.algorithm == "kcore":
        from pagerank_project_spark.operators.kcore import kcore

        res = kcore(spark, edges, vertices=vertices, max_iterations=args.max_iterations)
        out = res.cores
        print(json.dumps({"iterations": res.iterations, "converged": res.converged}))
    elif args.algorithm == "clustering":
        from pagerank_project_spark.operators.triangles import clustering_coefficient

        out = clustering_coefficient(spark, edges)
    elif args.algorithm == "linkpred":
        from pagerank_project_spark.operators.linkpred import link_prediction_topk

        out = link_prediction_topk(spark, edges, k=args.max_results)
        if not args.output:
            for r in out.collect():
                print(
                    f"aa={r['adamic_adar']:.6f} jaccard={r['jaccard']:.6f} "
                    f"common={r['common']} pair={r['src']}~{r['dst']}"
                )
    elif args.algorithm in ("bfs", "walks", "bowtie", "spam", "ppr", "sample"):
        if not args.seeds_like:
            print(f"--algorithm {args.algorithm} requires --seeds_like", file=sys.stderr)
            return 2
        from pagerank_project_spark.operators.pagerank import build_vertices

        verts = build_vertices(edges, vertices)
        seeds = verts.filter(F.col("id").like(args.seeds_like))
        if args.algorithm == "bfs":
            from pagerank_project_spark.operators.traversal import bfs_distances

            out = bfs_distances(spark, edges, seeds, max_iterations=args.max_iterations)
        elif args.algorithm == "walks":
            from pagerank_project_spark.operators.traversal import random_walks

            out = random_walks(spark, edges, seeds, steps=args.walk_steps)
        elif args.algorithm == "bowtie":
            from pagerank_project_spark.operators.traversal import bowtie_membership

            out = bowtie_membership(spark, edges, seeds, vertices=vertices,
                                    max_iterations=args.max_iterations)
            if not args.output:
                for r in out.groupBy("region").count().orderBy("region").collect():
                    print(f"region={r['region']} n={r['count']}")
        elif args.algorithm == "ppr":
            from pagerank_project_spark.operators.ppr import ppr_topk

            out = ppr_topk(spark, edges, seeds, k=args.max_results,
                           alpha=args.alpha, iterations=args.ppr_iterations,
                           prune_below=args.prune_below)
            if not args.output:
                for r in out.orderBy("seed", "rnk").limit(3 * args.max_results).collect():
                    print(f"seed={r['seed']} rnk={r['rnk']} rank={r['rank']:.6f} url={r['id']}")
        elif args.algorithm == "sample":
            from pagerank_project_spark.operators.neighbors import khop_neighborhood

            fanouts = [int(x) for x in args.fanouts.split(",") if x]
            out = khop_neighborhood(edges, seeds, fanouts)
            if not args.output:
                for r in out.groupBy("hop").count().orderBy("hop").collect():
                    print(f"hop={r['hop']} n_edges={r['count']}")
        else:  # spam
            from pagerank_project_spark.operators.trust import spam_mass

            sm_cfg = PageRankConfig(
                alpha=args.alpha, max_iterations=args.max_iterations,
                epsilon=args.epsilon, filter_ratio=args.filter_ratio,
                mode=args.mode,
                strategy=args.strategy, num_partitions=args.num_partitions,
                salt_buckets=args.salt_buckets,
            )
            out = spam_mass(spark, edges,
                            trusted_expr=F.col("id").like(args.seeds_like),
                            vertices=vertices, cfg=sm_cfg)
            if not args.output:
                for r in out.orderBy(F.desc("spam_mass"), F.asc("id")).limit(
                        args.max_results).collect():
                    print(f"mass={r['spam_mass']:.6f} rank={r['rank']:.4e} url={r['id']}")
    elif args.algorithm == "scc":
        from pagerank_project_spark.operators.scc import strongly_connected_components

        res = strongly_connected_components(spark, edges, vertices=vertices,
                                            max_rounds=args.max_iterations,
                                            chain_contract=args.scc_chain_contract)
        out = res.labels
        if not args.output:
            for r in (out.groupBy("scc").count().orderBy(F.desc("count"), F.asc("scc"))
                      .limit(args.max_results).collect()):
                print(f"scc={r['scc']} size={r['count']}")
    elif args.algorithm == "modularity":
        from pagerank_project_spark.operators.graphmetrics import modularity
        from pagerank_project_spark.operators.labelprop import label_propagation

        lpa = label_propagation(spark, edges, vertices=vertices,
                                iterations=args.lpa_iterations)
        out = modularity(spark, edges, lpa.labels)
        r = out.first()
        print(json.dumps({"n_edges_und": r["n_edges_und"],
                          "n_communities": r["n_communities"],
                          "modularity": r["modularity"]}))
    else:
        from pagerank_project_spark.operators.triangles import triangle_count

        res = triangle_count(spark, edges)
        print(json.dumps({"n_triangles": res.total}))
        out = res.per_vertex

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    return 0


if __name__ == "__main__":
    sys.exit(main())
