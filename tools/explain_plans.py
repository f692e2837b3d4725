"""Physical-plan evidence: captures `.explain("formatted")` for the hot
paths and writes docs/PLANS.md, annotated with what to look for. Run after
plan-affecting changes; the committed output is the reviewable artifact.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window, functions as F  # noqa: E402


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    from pagerank_project_spark.datagen import ensure_fixture
    from pagerank_project_spark.session import get_spark

    spark = get_spark(app_name="plans", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sections: list[tuple[str, str, str]] = []

    # --- 1. PageRank superstep, shuffle regime (|V| > broadcast limit) -----
    N = 200_000
    ew = (
        spark.range(0, 4 * N)
        .select((F.col("id") % N).alias("src"), ((F.col("id") * 7) % N).alias("dst"), (F.lit(1.0) / 4).alias("w"))
        .repartition(8, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    ew.count()
    cur = (
        spark.range(0, N)
        .select(F.col("id"), F.lit(1.0 / N).alias("rank"), F.lit(1.0 / N).alias("v"), F.lit(0.0).alias("dang"))
        .repartition(8, "id")
        .localCheckpoint(eager=False)
    )
    cur.count()
    rank_side = cur.select(F.col("id").alias("_src"), "rank").hint("shuffle_hash")
    part = ew.join(rank_side, ew.src == F.col("_src"), "inner").select(
        F.col("dst").alias("id"), (F.lit(0.85) * F.col("w") * F.col("rank")).alias("c")
    )
    base = cur.select("id", (F.lit(0.15) * F.col("v")).alias("c"), F.col("rank").alias("old"))
    joined = (
        part.select("id", "c", F.lit(0.0).alias("old"))
        .unionByName(base)
        .groupBy("id")
        .agg(F.sum("c").alias("nx"), F.max("old").alias("old"))
    )
    sections.append((
        "PageRank superstep (shuffle regime, |V| > broadcast limit)",
        """What to verify:
- `ShuffledHashJoin` with the RANK side as build — NOT `BroadcastHashJoin`
  (Catalyst's estimate of the checkpointed state would auto-broadcast a
  multi-million-row build every superstep; the `shuffle_hash` hint forbids
  it) and NOT `SortMergeJoin` (no per-iteration sort of either side).
- NO `Exchange` above the edge-cache `InMemoryTableScan`: the persisted
  hash layout satisfies the join's distribution; only the |V|-row rank
  side moves.
- exactly ONE `Exchange` for the union+groupBy scatter, with a partial
  `HashAggregate` below it (map-side combine).""",
        fmt(joined),
    ))

    # --- 2. parquet pushdown / pruning -------------------------------------
    fix = ensure_fixture(0.01)
    files = spark.read.parquet(f"{fix}/source_table/data")
    q = files.filter(F.col("lang") == "python").select("repo", "path")
    sections.append((
        "Parquet scan: filter pushdown + column pruning",
        """What to verify: `PushedFilters: [IsNotNull(lang), EqualTo(lang,python)]`
and `ReadSchema` containing ONLY repo/path/lang — the content column (the
bulk of the bytes) is never read for metadata-only queries.""",
        fmt(q),
    ))

    # --- 3. star-contraction CC round --------------------------------------
    from pagerank_project_spark.operators.components import _large_star, _small_star

    e = (
        spark.range(0, 50_000)
        .select((F.col("id") % 10_000).alias("src"), ((F.col("id") * 13) % 10_000).alias("dst"))
        .filter(F.col("src") > F.col("dst"))
        .repartition(8, "src")
        .localCheckpoint(eager=False)
    )
    e.count()
    round_df = _small_star(_large_star(e))
    sections.append((
        "Connected-components star round (large-star ∘ small-star)",
        """What to verify: two min-`HashAggregate` pairs (each partial+final =
map-side combined), ONE `Exchange` for the trailing distinct, and NO
extra repartition exchange (removed in round 2 — the next round re-keys
by its own groupBy anyway). Large-star emits un-dedup'd (min-aggs ignore
duplicates), saving one full shuffle per round.""",
        fmt(round_df),
    ))

    # --- 4. prepared-graph superstep: bucketed edge scan, zero exchange ----
    import shutil
    import tempfile

    from pagerank_project_spark.plans.prepared_graph import prepare_graph

    pdir = tempfile.mkdtemp(prefix="plans-prepared-")
    try:
        small = (
            spark.range(0, 5_000)
            .select(
                F.concat(F.lit("u"), (F.col("id") % 1_000).cast("string")).alias("src"),
                F.concat(F.lit("u"), ((F.col("id") * 13) % 1_000).cast("string")).alias("dst"),
            )
        )
        pg = prepare_graph(spark, small, pdir, buckets=8)
        prank = (
            pg.edges.groupBy("src").agg(F.sum("w").alias("s"))  # src-keyed consumer
        )
        sections.append((
            "Prepared graph: src-keyed operator over the bucketed edge table",
            """What to verify: NO `Exchange` anywhere — the bucketed
`FileScan`'s `SelectedBucketsCount` / `Bucketed: true` partitioning
(HashPartitioning(src, 8), written one file per bucket) satisfies the
aggregation's distribution directly. In-run setup pays a full
repartition shuffle for the same property; the prepared table pays it
once at prepare time, for every later query and session.""",
            fmt(prank),
        ))
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("prepared_edges_"):
                spark.sql(f"DROP TABLE {t.name}")
        shutil.rmtree(pdir, ignore_errors=True)

    # --- 5. k-core h-index superstep (skew-safe histogram H) ---------------
    from pagerank_project_spark.operators.kcore import _h_step

    und = (
        spark.range(0, 40_000)
        .select(
            F.concat(F.lit("v"), (F.col("id") % 5_000).cast("string")).alias("src"),
            F.concat(F.lit("v"), ((F.col("id") * 11) % 5_000).cast("string")).alias("dst"),
        )
        .repartition(8, "dst")  # as kcore() caches it: gather-key partitioned
        .persist()
    )
    und.count()
    c0 = und.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("core")).localCheckpoint(eager=False)
    c0.count()
    sections.append((
        "k-core h-index superstep (skew-safe histogram H)",
        """What to verify: the gather join is a `ShuffledHashJoin` (hint —
no sort of the edge multiset) and the edge side has NO `Exchange` above
its `InMemoryTableScan` — the cache is pre-partitioned on the gather key
once, outside the loop; the (v, value) histogram groupBy shows a
partial `HashAggregate` BELOW its `Exchange` (map-side combined — a hub
emits at most one partial row per task per distinct value, never its
neighbor multiset); the `Window` runs after one hash exchange on v over
histogram rows (≤ degeneracy per vertex), not over raw edges.""",
        fmt(_h_step(und, c0)),
    ))

    # --- 6. link-prediction wedge top-k -------------------------------------
    from pagerank_project_spark.operators.linkpred import link_prediction_topk

    lp_edges = (
        spark.range(0, 20_000)
        .select(
            F.concat(F.lit("c"), (F.col("id") % 2_000).cast("string")).alias("src"),
            F.concat(F.lit("s"), ((F.col("id") * 3) % 200).cast("string")).alias("dst"),
        )
    )
    sections.append((
        "Link prediction: wedge join → per-pair agg → anti-join → top-k",
        """What to verify: the per-(u, v) aggregation has a partial
`HashAggregate` below its `Exchange`; existing edges fall out via a
(broadcast- or shuffled-)hash LEFT ANTI join, and the global top-k is
`TakeOrderedAndProject` — bounded per-partition heaps, never a
single-task full sort of the candidate set.""",
        fmt(link_prediction_topk(spark, lp_edges, k=50)),
    ))

    # --- 7. repetition profile (round 4) ------------------------------------
    from pagerank_project_spark.operators.textstats import repetition_profile

    docs = spark.read.parquet(f"{fix.rstrip('/')}/source_table/data").select(
        F.xxhash64("path").alias("doc_id"), F.col("content").alias("text")
    )
    sections.append((
        "Repetition profile: row-local line metrics + doc-keyed bigram mode",
        """What to verify: the line/paragraph duplicate fractions live in a
plain `Project` inside `WholeStageCodegen` directly over the scan —
split/trim/array_distinct/aggregate are row-local expressions, NO
Exchange and NO Python. Only the top-bigram mode shuffles: two
`HashAggregate` pairs (partial below each `Exchange`, map-side
combined) keyed by (doc_id, bigram) then doc_id, and one join back on
doc_id. A document never leaves its row except as bounded
per-(doc, bigram) partial counts.""",
        fmt(repetition_profile(docs)),
    ))

    # --- 8. PII scrub (round 4) ---------------------------------------------
    from pagerank_project_spark.operators.pii import pii_scrub

    sections.append((
        "PII scrub: one codegen'd projection, zero shuffle",
        """What to verify: the whole operator is ONE `Project` in a single
`WholeStageCodegen` span over the scan — regexp_replace chains and
per-class regexp_extract_all counts ride the same pass; no Exchange, no
UDF, nothing Python. At 100 TB this is scan-bandwidth-bound by
construction.""",
        fmt(pii_scrub(docs)),
    ))

    # --- 9. neighbor sampling: Partial WindowGroupLimit (round 4) -----------
    from pagerank_project_spark.operators.neighbors import sample_adjacency

    big_e = spark.range(0, 100_000).select(
        (F.col("id") % 1_000).cast("string").alias("src"),
        (F.col("id") * 7 % 50_000).cast("string").alias("dst"),
    )
    sections.append((
        "Neighbor sampling: per-src top-K via Partial WindowGroupLimit",
        """What to verify: a `WindowGroupLimit` with mode `Partial` BELOW the
exchange and `Final` above it — at most K candidate rows per src per map
partition are shuffled, so a 10^7-out-degree hub ships K x partitions
rows, not its whole adjacency. The ordering expression is
md5(src|dst|salt): deterministic, partition/retry-invariant, replayed
verbatim by the DuckDB oracle.""",
        fmt(sample_adjacency(big_e, 10)),
    ))

    # --- 10. batched-PPR superstep (round 4) --------------------------------
    # one superstep built inline (ppr_batch localCheckpoints per iteration,
    # which truncates the explain to a Scan ExistingRDD — same reason the
    # PageRank section above is inlined)
    ppr_w = (
        spark.range(0, 20_000)
        .select(
            (F.col("id") % 2_000).cast("string").alias("src"),
            (F.col("id") * 11 % 2_000).cast("string").alias("dst"),
            F.lit(0.1).alias("w"),
        )
        .repartition(8, "src")
        .persist()
    )
    ppr_w.count()
    ppr_spine = spark.range(0, 50).select(F.col("id").cast("string").alias("seed"))
    ppr_state = (
        ppr_spine.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
        .repartition(8, "seed", "id")
        .localCheckpoint(eager=False)
    )
    ppr_state.count()
    ppr_contrib = ppr_w.join(
        ppr_state.select(F.col("id").alias("src"), "seed", "rank").hint("shuffle_hash"), "src"
    ).select("seed", F.col("dst").alias("id"), (F.lit(0.85) * F.col("w") * F.col("rank")).alias("x"))
    ppr_dang = (
        ppr_state.join(
            ppr_w.select("src").hint("shuffle_hash"), ppr_state["id"] == ppr_w["src"], "left_anti"
        )
        .groupBy("seed")
        .agg(F.sum("rank").alias("dm"))
    )
    ppr_seed_term = ppr_spine.join(ppr_dang, "seed", "left").select(
        "seed", F.col("seed").alias("id"),
        (F.lit(0.85) * F.coalesce("dm", F.lit(0.0)) + F.lit(0.15)).alias("x"),
    )
    ppr_small = (
        ppr_contrib.unionByName(ppr_seed_term).groupBy("seed", "id").agg(F.sum("x").alias("rank"))
    )
    sections.append((
        "Batched-PPR superstep ((seed, id)-keyed state)",
        """What to verify: the state-x-transition join is a
`ShuffledHashJoin` (hinted — never a broadcast of graph-sized state, no
sort); the scatter is ONE union feeding ONE `HashAggregate` pair
(partial+final = map-side combined) keyed (seed, id); the dangling term
enters through the |seeds|-row spine, not a graph-sized side. Same
discipline as the PageRank superstep with a composite key.""",
        fmt(ppr_small),
    ))

    # --- 11. SCC forward-coloring superstep (round 4) ------------------------
    # LONG vids, as the operator encodes internally (xxhash64): min over
    # strings would compile to a SortAggregate — this section's original
    # capture exposed exactly that, which drove the encode
    scc_active = (
        spark.range(0, 50_000)
        .select((F.col("id") % 10_000).alias("src"), ((F.col("id") * 17) % 10_000).alias("dst"))
        .distinct()
        .repartition(8, "src")
        .persist()
    )
    scc_active.count()
    scc_color = (
        scc_active.select(F.col("src").alias("id"))
        .unionByName(scc_active.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("color"))
        .repartition(8, "id")
        .localCheckpoint(eager=False)
    )
    scc_color.count()
    scc_pushed = scc_active.join(
        scc_color.select(F.col("id").alias("src"), "color").hint("shuffle_hash"), "src"
    ).select(F.col("dst").alias("id"), "color")
    scc_step = (
        scc_color.unionByName(scc_pushed).groupBy("id").agg(F.min("color").alias("color"))
    )
    sections.append((
        "SCC forward-coloring superstep (min-vid propagation)",
        """What to verify: the color state joins the persisted active-edge
cache as a `ShuffledHashJoin` (hinted; the cache streams without an
Exchange above its InMemoryTableScan), and the min-relaxation is ONE
union feeding ONE `HashAggregate` pair (partial+final = map-side
combined min) — which requires the LONG xxhash64 vids the operator
encodes internally: the original capture over raw STRING ids compiled
to a per-superstep SortAggregate (the memory-bandwidth-bound shape the
engine avoids everywhere else), and that evidence drove the encode.
Labels relabel to min-STRING member id once at decode. The backward
BFS uses a per-round dst-partitioned reversed cache so its joins also
avoid re-exchanging the edges.

Round 5: the fixpoint is pointer-jumped — each sync alternates the
edge-push below with a color→color self-join (compose reach through the
current labeling) of the SAME physical shape: hinted ShuffledHashJoin
into the one union + map-side-combined min HashAggregate. Because the
jump joins the iterate with ITSELF, each iterate is persisted and
materialized by the convergence count BEFORE localCheckpoint — Spark 4
carries the origin plan's estimated sizeInBytes onto the checkpointed
LogicalRDD, and a self-join chain otherwise SQUARES that estimate per
superstep until driver-side stats calls multiply million-digit
BigIntegers (see BENCH/BASELINE.md "SCC (round 5)"). Sub-steps chain
lazily 4-per-sync, so the plan below appears nested up to 4 deep per
materialized job; the per-join shape is unchanged.""",
        fmt(scc_step),
    ))

    # --- 12. corpus line dedup: hash-in-projection + anti join (round 4) ----
    from pagerank_project_spark.operators.textstats import corpus_line_dedup

    ld_docs = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("shared header\nbody "), F.col("id").cast("string")).alias("text"),
    )
    sections.append((
        "Corpus line dedup: md5-in-projection, anti-join removal",
        """What to verify: the exploded line stream carries `md5(l)` in the
SAME `Project` as the explode (32-byte digests shuffle, never line
text); the boilerplate set is a distinct + partial/final `HashAggregate`
count; the removal is a shuffle `LeftAnti` hash join on the digest (not
a broadcast — web-scale boilerplate vocabulary); reassembly's
`array_sort` runs inside the per-doc aggregate, so no global sort
exists anywhere in the plan.""",
        fmt(corpus_line_dedup(ld_docs)),
    ))

    # --- LPA full-gather superstep (int32 vids, WindowGroupLimit argmax) ---
    NL = 100_000
    und = (
        spark.range(0, 6 * NL)
        .select(
            (F.col("id") % NL).cast("int").alias("src"),
            ((F.col("id") * 11 + 3) % NL).cast("int").alias("dst"),
        )
        .repartition(8, "src")
        .persist()
    )
    und.count()
    lp_labels = (
        spark.range(0, NL)
        .select(F.col("id").cast("int").alias("vid"), F.col("id").cast("int").alias("lbl"))
        .repartition(8, "vid")
        .localCheckpoint(eager=False)
    )
    lp_labels.count()
    lp_w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("lbl"))
    lp_nbr = (
        und.join(
            lp_labels.select(F.col("vid").alias("_sv"), "lbl").hint("shuffle_hash"),
            und.src == F.col("_sv"),
        )
        .select(F.col("dst").alias("vid"), "lbl", F.lit(1).alias("c"))
    )
    lp_keeper = lp_labels.select("vid", "lbl", F.lit(0).alias("c"))
    lp_freq = lp_nbr.unionByName(lp_keeper).groupBy("vid", "lbl").agg(F.sum("c").alias("cnt"))
    lp_winner = (
        lp_freq.withColumn("_rn", F.row_number().over(lp_w))
        .filter(F.col("_rn") == 1)
        .select("vid", "lbl")
    )
    sections.append((
        "LPA full-gather superstep (int32 vids, partial WindowGroupLimit argmax)",
        """What to verify:
- `ShuffledHashJoin` with the LABEL side as build — un-hinted, Catalyst
  either auto-broadcasts the checkpointed |V|-row label vector
  (driver-serial build per superstep, the round-1 pagerank bug) or falls
  to an SMJ that re-sorts the cached symmetric edge multiset every
  superstep.
- NO `Exchange` above the symmetric-cache `InMemoryTableScan` — the
  persisted src-hash layout satisfies the join; only label rows move.
- ONE `Exchange` for the union+`groupBy(vid,lbl).sum` with a partial
  `HashAggregate` below it (map-side combine).
- `WindowGroupLimit ... Partial` BELOW the window's exchange: Spark 4
  compiles `row_number + (rn = 1)` so at most ONE candidate row per
  (vid, map-partition) crosses the wire (the packed-bigint HashAggregate
  rewrite was A/B-measured slower — see BENCH/BASELINE.md).
- `vid`/`lbl` columns are `int` end-to-end (the dense sorted vids fit
  int32, so the cache stream and every shuffle carry 4-byte keys; long
  above the limit).""",
        fmt(lp_winner),
    ))

    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write(
            "# Physical plans of the hot paths (generated by tools/explain_plans.py)\n\n"
            "Captured on local[8], AQE off (loop configuration). Regenerate after\n"
            "any plan-affecting change; diffs here are review evidence.\n"
        )
        for title, notes, plan in sections:
            f.write(f"\n## {title}\n\n{notes}\n\n```\n{plan}\n```\n")
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
