"""Label-propagation community detection (synchronous, deterministic).

BASELINE.json north_star: "label propagation community detection" with
labels matching the oracle EXACTLY. Classic async LPA is order-dependent;
this is the SYNCHRONOUS variant with a total tie-break order, so the
result is invariant to partition count and edge order (SURVEY.md §7 hard
part 3):

    per iteration, every vertex adopts the most frequent label among its
    undirected neighbor set; ties → smallest label; isolated vertices
    keep their label; fixed iteration count K (sync LPA need not converge
    — it can 2-cycle on bipartite structures).

Physical design (same substrate as PageRank/CC):
- ids AND labels are dictionary-encoded in the loop, with vids assigned
  in STRING-sorted order (operators/vids.string_sorted_vids — a range
  exchange + parallel per-partition sort + broadcast offsets; NO
  single-task global sort) so long-vid comparisons ARE string-order
  comparisons — the min-label tie-break stays oracle-exact while the
  loop shuffles only 8-byte keys.
- when the dense sorted vids fit int32 (n < vids.INT_VID_LIMIT) the
  symmetric cache and the whole loop state narrow to 4-byte vids — an
  order-preserving cast (labels bitwise unchanged, pinned by test) that
  halves the cache's DRAM stream and every loop shuffle's key bytes; the
  cache stream is the measured late-superstep bandwidth cap at sf16
  (BENCH/BASELINE.md). Above the limit everything stays long.
- per superstep: neighbor-label rows ∪ own-label keeper rows (count 0,
  so isolated vertices keep their label and occupied vertices never beat
  a real neighbor count) → groupBy(vid, lbl).sum → argmax via one Window
  partitionBy(vid) ordered by (count desc, lbl asc). Two shuffles.
- per-iteration lazy localCheckpoint truncates lineage; one action each.
- resumable: with a checkpoint_store, the latest written iteration is
  re-encoded and the loop continues from latest+1 (symmetric with
  connected_components) — a restarted run never replays or duplicates
  iterations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


from pagerank_project_spark.operators.vids import string_sorted_vids


@dataclass
class LPAResult:
    labels: DataFrame  # (id: string, label: string)
    iterations: int  # actual final superstep index (resume: includes checkpointed supersteps)
    iter_secs: list[float] | None = None  # wall per superstep
    phase_secs: dict | None = None  # one-time tails: validate/encode/cache_fill
    frontier_sizes: list[int] | None = None  # frontier=True: |changed| per superstep


def label_propagation(
    spark: SparkSession,
    edges: DataFrame | None = None,
    vertices: DataFrame | None = None,
    iterations: int = 10,
    num_partitions: int | None = None,
    checkpoint_store=None,
    validate_vertices: bool = True,
    vmap: DataFrame | None = None,
    frontier: bool = False,
    prepared_und=None,
) -> LPAResult:
    """``prepared_und``: a plans.prepared_graph.PreparedUndirected — the
    prepare-once artifact holding the STRING-SORTED vid map and the baked
    canonical symmetric edge table (bucketed by src, so the per-superstep
    cache persists with ZERO shuffle). Mutually exclusive with ``edges``/
    ``vmap``; labels are bitwise the direct path's (pinned by test and by
    the shared SQL oracle). This removes exactly the one-time tails —
    validate, encode, symmetrize+distinct, cache repartition — that the
    sf16 scaling analysis measured as the whole-run cap
    (BENCH/BASELINE.md).

    ``vmap``: optional pre-built (id, vid) map from
    ``vids.string_sorted_vids`` over the same vertex universe, so callers
    running CC + LPA on one graph pay the encode jobs once. Vids are
    always STRING-sorted: the min-label tie-break is then exactly
    min-STRING, which the SQL oracle pins. (CC's xxhash64 vids measured
    ~20% slower LPA supersteps at sf16 — random vids do not
    delta-compress in the long-lived symmetric cache; BENCH/BASELINE.md
    round 4.)

    ``frontier``: exact early stop for run-toward-convergence jobs. Each
    superstep also joins the new labels to the previous ones and counts
    the vertices whose label changed (``frontier_sizes``); when a
    superstep changes nothing the run stops, because every further
    superstep is provably identity — the labels still equal the full-K
    run and ``iterations`` reports the superstep that hit the fixpoint.
    Every superstep still gathers over the whole edge cache (a filtered
    changed-neighbor gather measured 7-9x slower per superstep at sf1,
    BENCH/lpa_frontier_sf1.json). Default off: the extra join and count
    buy nothing on short fixed-k runs."""
    from pagerank_project_spark.operators.pagerank import build_vertices
    from pagerank_project_spark.operators.vids import assert_endpoints_covered

    if (edges is None) == (prepared_und is None):
        raise ValueError("pass exactly one of edges / prepared_und")
    if prepared_und is not None and vmap is not None:
        raise ValueError("prepared_und bakes the sorted vid map; vmap cannot be combined with it")
    import time as _time

    phases: dict = {}

    if prepared_und is not None:
        # prepare-once path: encode/symmetrize/repartition are baked; the
        # bucketed scan's HashPartitioning(src, buckets) means the persist
        # below is a straight read — no shuffle anywhere before superstep 1
        nparts = num_partitions or prepared_und.buckets
        vmap = prepared_und.vmap
        t_ph = _time.time()
        und = prepared_und.und
        if nparts != prepared_und.buckets:
            # the deployment rule from the prepared-PageRank A/B
            # (BENCH/BASELINE.md): a cluster smaller than the bucket count
            # repartitions at load — ONE shuffle buys a slots-matched loop
            # (the fixed-bucket task count measured 0.55 N→4N for the LPA
            # loop; slots-matched recovers direct superstep speed)
            und = und.repartition(nparts, "src")
        und = und.persist()
        und.count()
        phases["cache_fill"] = round(_time.time() - t_ph, 3)
        return _run_loop(spark, und, vmap, nparts, iterations, checkpoint_store, frontier, phases)

    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    verts = build_vertices(edges, vertices)
    if vertices is not None and validate_vertices:
        t_ph = _time.time()
        assert_endpoints_covered(edges, verts)
        phases["validate"] = round(_time.time() - t_ph, 3)
    t_ph = _time.time()

    # one-time encoding with vids in STRING-sorted order so long-vid
    # tie-breaks ≡ min-string tie-breaks (distributed; no global sort).
    if vmap is None:
        vmap = string_sorted_vids(verts, "id", nparts)
    enc = (
        edges.select("src", "dst")
        .join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s")), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
        .select(F.col("_s").alias("src"), F.col("_t").alias("dst"))
    )
    # dense sorted vids are ranks 1..n — when n fits int32, narrow the
    # edge pairs BEFORE the symmetrize: the distinct shuffle, the
    # long-lived symmetric cache (the engine's largest per-superstep
    # DRAM stream — the measured late-superstep bandwidth cap,
    # BENCH/BASELINE.md) and the whole loop state then carry 4-byte
    # vids. Order-preserving cast → labels bitwise equal (pinned by test).
    from pagerank_project_spark.operators.vids import INT_VID_LIMIT

    if (vmap.agg(F.max("vid")).first()[0] or 0) < INT_VID_LIMIT:
        enc = enc.select(F.col("src").cast("int").alias("src"),
                         F.col("dst").cast("int").alias("dst"))
    # Symmetrize AFTER the encode, canonically, on LONG pairs (the CC
    # round-3 lesson): the old string-side undirected_edges() shuffled the
    # symmetrized multiset (2× the rows at ~5× the bytes) through its
    # distinct BEFORE the vids existed — measured as the dominant
    # cache_fill term at sf16. canon is distinct and self-loop-free, so
    # canon ∪ reverse(canon) IS the symmetric distinct edge set.
    canon = (
        enc.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    und = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    phases["encode"] = round(_time.time() - t_ph, 3)
    t_ph = _time.time()
    und = und.repartition(nparts, "src").persist()
    und.count()
    phases["cache_fill"] = round(_time.time() - t_ph, 3)
    return _run_loop(spark, und, vmap, nparts, iterations, checkpoint_store, frontier, phases)


def _run_loop(
    spark: SparkSession,
    und: DataFrame,
    vmap: DataFrame,
    nparts: int,
    iterations: int,
    checkpoint_store,
    frontier: bool,
    phases: dict,
) -> LPAResult:
    # the label state carries the CACHE's vid dtype (int when the dense
    # sorted vids were narrowed, long otherwise) so every loop join/shuffle
    # stays narrow and exchange-compatible with the cache's partitioning
    vid_t = und.schema["src"].dataType.simpleString()
    start_iter = 0
    if checkpoint_store is not None and checkpoint_store.latest_iteration() is not None:
        # resume: re-encode the checkpointed (id, label) strings → (vid, lbl)
        start_iter = checkpoint_store.latest_iteration()
        st = checkpoint_store.read_state(spark, start_iter)
        labels = (
            st.join(vmap.select("id", "vid"), "id")
            .join(vmap.select(F.col("id").alias("label"), F.col("vid").alias("lbl")), "label")
            .select(F.col("vid").cast(vid_t).alias("vid"), F.col("lbl").cast(vid_t).alias("lbl"))
        )
    else:
        labels = vmap.select(
            F.col("vid").cast(vid_t).alias("vid"), F.col("vid").cast(vid_t).alias("lbl")
        )
    labels = labels.repartition(nparts, "vid").localCheckpoint(eager=False)

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    it = start_iter
    iter_secs: list[float] = []
    frontier_sizes: list[int] = []
    try:
        import time

        w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("lbl"))
        for it in range(start_iter + 1, iterations + 1):
            t_it = time.time()
            # shuffle_hash on the LABEL side (pagerank.py's superstep rule):
            # un-hinted, Catalyst either auto-broadcasts the checkpointed
            # |V|-row label vector (driver-serial HashedRelation build per
            # superstep — the round-1 pagerank non-scaling bug) or falls to
            # an SMJ that re-SORTS the cached symmetric edge multiset every
            # superstep. The hash join streams the pre-partitioned cache
            # and shuffles only the label rows.
            nbr = (
                und.join(
                    labels.select(F.col("vid").alias("_sv"), "lbl").hint("shuffle_hash"),
                    und.src == F.col("_sv"),
                )
                .select(F.col("dst").alias("vid"), "lbl", F.lit(1).alias("c"))
            )
            keeper = labels.select("vid", "lbl", F.lit(0).alias("c"))  # isolated keep own
            freq = nbr.unionByName(keeper).groupBy("vid", "lbl").agg(F.sum("c").alias("cnt"))
            # winner pick stays the row_number Window ON PURPOSE: Spark 4
            # compiles row_number + (rn = 1) into WindowGroupLimit with a
            # PARTIAL stage before the exchange — ≤1 candidate row per vid
            # per map partition crosses the wire already. A packed-bigint
            # max(cnt<<32 | ~lbl) HashAggregate rewrite was built and
            # A/B-measured at sf16 1x4/4x4 and was SLOWER at both legs
            # (sec/iter 71.7->76.5 @1x4, 22.7->40.1 @4x4): it re-buys the
            # reduction WindowGroupLimit provides and pays an extra hash
            # table over the full freq table for it (BENCH/BASELINE.md).
            winner = (
                freq.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("vid", "lbl")
            )
            if frontier:
                # both sides leave vid-partitioned operators → zero-exchange
                # hash join; the changed count drives the early stop
                labels = winner.join(
                    labels.select("vid", F.col("lbl").alias("_old")).hint("shuffle_hash"),
                    "vid",
                ).select(
                    "vid", "lbl", (F.col("lbl") != F.col("_old")).alias("chg")
                ).localCheckpoint(eager=False)
                changed_count = labels.filter("chg").count()  # materializes
                labels = labels.select("vid", "lbl")
                frontier_sizes.append(changed_count)
            else:
                labels = winner.localCheckpoint(eager=False)
                labels.count()  # materialize + truncate each superstep
            iter_secs.append(round(time.time() - t_it, 3))
            if checkpoint_store is not None:
                checkpoint_store.write_iteration(_decode(labels, vmap), iteration=it, metrics={})
            if frontier and changed_count == 0:
                break  # fixpoint: every further superstep is identity
    finally:
        # restore even when a superstep raises — AQE must not stay disabled
        # for the caller's whole session
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    out = _decode(labels, vmap)
    und.unpersist()
    return LPAResult(
        labels=out,
        iterations=it,
        iter_secs=iter_secs,
        phase_secs=phases,
        frontier_sizes=frontier_sizes or None,
    )


def _decode(labels: DataFrame, vmap: DataFrame) -> DataFrame:
    # shuffle_hash: an SMJ here would sort both |V|-sized sides twice —
    # hash joins keep the decode sort-free (the LPA whole-run tail).
    # Widen narrowed int vids back to the vmap's long explicitly (the join
    # would coerce anyway; explicit keeps the shuffle keys unambiguous).
    labels = labels.select(
        F.col("vid").cast("long").alias("vid"), F.col("lbl").cast("long").alias("lbl")
    )
    out = (
        labels.join(vmap.select("vid", "id").hint("shuffle_hash"), "vid")
        .join(
            vmap.select(F.col("vid").alias("lbl"), F.col("id").alias("label")).hint("shuffle_hash"),
            "lbl",
        )
        .select("id", "label")
    )
    return out
