"""Damped, personalized PageRank by power iteration — Spark-first.

Semantics replicate the reference's ``power_method`` + ``WebGraph``
(reference: pagerank.py:100-139, :18-68 — see SURVEY.md §2.1/§2.2), with
the normalization mode parameterized (SURVEY.md §5.2): per-iteration
``x``-norm ∈ {l1, l2} and one-shot ``v``-norm ∈ {l1, l2}. ``reference``
mode = (l1, l2), the committed-code semantics.

Architecture (SURVEY.md §3.3): the driver composes one DataFrame DAG per
superstep; Catalyst/AQE pick the physical plan. Per iteration:

  d  = Σ rank_i over dangling i                  (folded into prev stats)
  q_i = (α·d + (1−α)) · v_i                      (expression)
  x' = α · Pᵀx + q                               (join + groupBy-sum,
                                                  zero-row preservation via
                                                  left join + coalesce)
  x' /= ‖x'‖                                     (scalar from stats action)
  stop when ‖x'−x‖₂ < ε                          (decomposed: one agg row)

Exactly ONE action per iteration in the hot loop: the residual
``‖x'/s − x‖₂`` is decomposed as ``√(Σx'²/s² − 2Σx'x/s + Σx²)`` so norms,
residual components, and the NEXT iteration's dangling mass all come back
in a single aggregated row. L1 delta + active-vertex count (checkpoint
metrics per BASELINE.json) come from a second agg over the same cached
DataFrame only when checkpointing is enabled.

Scale notes (100 TB / 1000-executor design):
- the edge table is the sparse matrix (COO ≡ relational triple); it is
  hash-repartitioned by ``src`` ONCE and persisted — iterations reuse the
  partitioning, only the (|V|-sized) rank vector moves.
- rank-vector join side: broadcast when |V| small enough (driver knows n),
  else shuffle join co-partitioned with the persisted edges.
- the groupBy(dst) scatter is shuffle-reduced (map-side partial agg), so a
  high in-degree hub contributes one partial row per partition — skew-safe
  without salting; AQE skew-join handles the join side (see
  operators/superstep_csr.py for the explicitly salted CSR path).
- lineage is truncated via localCheckpoint every superstep
  (iterative-plan-growth failure mode, SURVEY.md §4).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pagerank_project_spark.config import PageRankConfig

# broadcast dimension/rank tables only when |V| is below this bound.
# Measured at 4M vertices (sf4): building the broadcast HashedRelation is
# SERIAL (~1M rows/s) and repeats every iteration → 4-6 s/superstep and
# negative core-scaling, while the co-partitioned shuffle join (state is
# already hash-partitioned on the join key) runs in ~1 s and scales.
# Broadcast only pays off for genuinely small graphs.
BROADCAST_VERTEX_LIMIT = 100_000


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: string, rank: double)
    iterations: int
    residuals: list[float]
    converged: bool
    n_vertices: int
    n_edges: int
    setup_sec: float = 0.0  # one-time graph build (encode/weight/partition)
    iter_secs: list[float] = None  # wall per superstep (first 1-2 incl. codegen warmup)


def build_vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Vertex universe: provided table (id) or distinct src ∪ dst."""
    if vertices is not None:
        return vertices.select("id").distinct()
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def apply_filter_ratio(edges: DataFrame, n_vertices: int, ratio: float) -> DataFrame:
    """In-link-ratio spam filter (reference: pagerank.py:42-47).

    Keep edge iff indeg(dst) < ratio·n, n = TOTAL vertex count (not the
    post-filter count — reference computes it from the final dict size,
    pagerank.py:45). Vertex set is unchanged (filtered nodes stay as
    isolated vertices and still receive teleport mass).
    Physical: broadcast the (≤|V|-row, 2-col) in-degree table when |V|
    permits, else a shuffle join (the filter and the groupBy share the dst
    partitioning, so only one extra shuffle).
    """
    indeg = edges.groupBy("dst").agg(F.count("*").alias("_indeg"))
    if n_vertices <= BROADCAST_VERTEX_LIMIT:
        indeg = F.broadcast(indeg)
    return (
        edges.join(indeg, "dst", "inner")
        .filter(F.col("_indeg") < F.lit(float(ratio) * n_vertices))
        .drop("_indeg")
    )


def weighted_edges(
    edges: DataFrame, n_vertices: int | None = None, weight_col: str | None = None
) -> DataFrame:
    """Transition weights per edge (pagerank.py:50-61).

    Default (reference semantics): w = 1/outdeg(src); parallel edges each
    carry 1/outdeg — their additive coalescing (torch COO semantics,
    pagerank.py:63-67) falls out of the Σ in the superstep.

    ``weight_col`` (engine extension beyond the reference's uniform
    column-stochastic P): w_ij = weight_ij / Σ_j weight_ij — a weighted
    link graph (click counts, anchor multiplicities) row-normalized the
    same way. Weights must be strictly positive: a zero/negative weight
    would silently corrupt the stochasticity of P, so it raises at the
    first action (raise_error riding the projection). A src whose edges
    exist only with weight 0 can't occur under that guard, so dangling
    detection (no surviving out-edge) is unchanged.

    Physical shape is identical either way: one map-side-combined groupBy
    on src for the normalizer, then a join that broadcasts only when |V|
    permits.
    """
    if weight_col is None:
        outdeg = edges.groupBy("src").agg(F.count("*").alias("_outdeg"))
        e = edges
    else:
        wt = F.when(
            F.col(weight_col) > 0, F.col(weight_col).cast("double")
        ).otherwise(F.raise_error(F.format_string(
            "weighted pagerank requires strictly positive weights; got %s", F.col(weight_col)
        )))
        e = edges.select("src", "dst", wt.alias("_wt"))
        outdeg = e.groupBy("src").agg(F.sum("_wt").alias("_outdeg"))
    if n_vertices is None or n_vertices <= BROADCAST_VERTEX_LIMIT:
        outdeg = F.broadcast(outdeg)
    if weight_col is None:
        return (
            e.join(outdeg, "src", "inner")
            .select("src", "dst", (F.lit(1.0) / F.col("_outdeg")).alias("w"))
        )
    return (
        e.join(outdeg, "src", "inner")
        .select("src", "dst", (F.col("_wt") / F.col("_outdeg")).alias("w"))
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame | None = None,
    vertices: DataFrame | None = None,
    cfg: PageRankConfig | None = None,
    v_expr: Column | None = None,
    checkpoint_store=None,
    prepared=None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run PageRank over an edge table (src: string, dst: string).

    v_expr: optional personalization indicator over the vertex ``id``
    column (1.0/0.0), reference make_personalization_vector semantics
    (pagerank.py:81-97). None → uniform.
    weight_col: optional strictly-positive edge-weight column —
    P becomes the row-normalized WEIGHTED transition matrix
    (see ``weighted_edges``); None keeps reference 1/outdeg semantics.
    checkpoint_store: optional plans.checkpoint.CheckpointStore — iteration
    state + metrics written per superstep; pass a store with a populated
    latest iteration to RESUME mid-run.
    prepared: optional plans.prepared_graph.PreparedGraph — the
    query-independent build (vid encode, weights, dangling flags, bucketed
    sorted edges) loaded from disk instead of recomputed; mutually
    exclusive with ``edges``. Personalization stays query-time. The spam
    filter is baked at prepare time, so cfg.filter_ratio must be unset.
    """
    cfg = cfg or PageRankConfig()
    sc = spark.sparkContext
    t_start = time.time()

    if (edges is None) == (prepared is None):
        raise ValueError("pass exactly one of edges / prepared")
    if prepared is not None and cfg.filter_ratio is not None:
        raise ValueError("filter_ratio is baked into the prepared graph at prepare time; "
                         "pass it to prepare_graph, not the query")
    if prepared is not None and weight_col is not None:
        raise ValueError("edge weights are baked into the prepared graph at prepare time; "
                         "pass weight_col to prepare_graph, not the query")

    nparts = cfg.num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if prepared is not None:
        n = prepared.n
        if n == 0:
            raise ValueError("empty graph")
        state = prepared.base.select("id", "vid", F.col("dang").cast("double").alias("dang"))
    else:
        verts = build_vertices(edges, vertices)
        n = verts.count()
        if n == 0:
            raise ValueError("empty graph")

        if vertices is not None and cfg.validate_vertices:
            # Endpoints missing from a user-supplied vertex table would be
            # silently dropped by the encode join below — but 1/outdeg weights
            # are computed BEFORE that drop, leaving sub-stochastic rows and
            # unmarked danglers (silently wrong ranks). One setup-time guard.
            from pagerank_project_spark.operators.vids import assert_endpoints_covered

            assert_endpoints_covered(edges, verts)

        e = (
            edges.select("src", "dst")
            if weight_col is None
            else edges.select("src", "dst", weight_col)
        )
        if cfg.filter_ratio is not None:
            e = apply_filter_ratio(e, n, cfg.filter_ratio)

        ew_str = weighted_edges(e, n, weight_col=weight_col)

        # dangling indicator: vertices with no surviving out-edge (pagerank.py:104-107)
        dang = verts.join(ew_str.select("src").distinct(), verts.id == F.col("src"), "left_anti")
        state = verts.join(dang.select(F.col("id").alias("_d")), verts.id == F.col("_d"), "left").select(
            "id", F.when(F.col("_d").isNotNull(), 1.0).otherwise(0.0).alias("dang")
        )

    # personalization vector v (pagerank.py:81-97): L1-normalized indicator,
    # then re-normalized by norm_v inside power_method (pagerank.py:93-95,:113)
    if v_expr is not None:
        state = state.withColumn("v_raw", F.when(v_expr, 1.0).otherwise(0.0).cast("double"))
    else:
        state = state.withColumn("v_raw", F.lit(1.0))
    v_sums = state.agg(
        F.sum("v_raw").alias("l1"), F.sqrt(F.sum(F.pow("v_raw", 2))).alias("l2")
    ).first()
    if not v_sums["l1"] or v_sums["l1"] <= 0:
        raise AssertionError("personalization vector is all-zero (pagerank.py:94)")
    v_l1 = v_sums["l1"]
    # reference: v /= sum(v) (L1, :95) then v /= torch.norm(v) (L2, :113).
    # norm_v selects the final normalization; composition: v_raw/l1 then /‖·‖.
    v_after_l1_l2 = v_sums["l2"] / v_l1  # L2 norm of (v_raw / l1)
    v_scale = 1.0 / (v_l1 * (v_after_l1_l2 if cfg.norm_v == "l2" else 1.0))

    if prepared is not None:
        # encode already on disk: (id, vid, dang) + v_raw from the v block —
        # zero joins, zero shuffles beyond the one id-repartition
        vmap = state.select("id", "vid", "dang", "v_raw").repartition(nparts, "id").persist()
        ew_enc = prepared.edges
        hubs = None
        if cfg.strategy == "csr":
            from pagerank_project_spark.operators.superstep_csr import prepare_salted_edges

            ew, hubs = prepare_salted_edges(ew_enc, nparts, cfg.salt_buckets, cfg.hub_degree_threshold)
            ew = ew.persist()
            hubs = hubs.persist()
            hubs.count()
        elif prepared.buckets == nparts:
            # the bucketed scan already reports HashPartitioning(src, nparts)
            # and per-bucket sorted output — the in-run repartition+sort
            # setup shuffle vanishes entirely
            ew = ew_enc.persist()
        else:
            ew = ew_enc.repartition(nparts, "src").sortWithinPartitions("src").persist()
        m = ew.count()
        return _run_loop(
            spark, cfg, vmap, ew, hubs, n, m, nparts, t_start,
            checkpoint_store, v_scale,
        )

    # --- internal dictionary encoding: string id → long vid ----------------
    # Long join keys halve shuffle bytes and double measured superstep speed
    # (4.0 → 2.0 s/iter at 1M vertices / 4M edges, local[8]). vid =
    # xxhash64(id): DETERMINISTIC under partition loss/recompute —
    # monotonically_increasing_id is not, and a recomputed cache partition
    # with reshuffled row order silently corrupts every already-encoded
    # edge (observed as garbage convergence after an executor OOM in
    # local-cluster testing). Collisions are checked (birthday bound ~2e-7
    # at 4M vertices) and fall back to a sorted row_number; at 10^12
    # vertices swap the fallback for a range-partitioned rank. String ids
    # reappear only at the API and checkpoint boundaries.
    vmap = (
        state.withColumn("vid", F.xxhash64("id"))
        .select("id", "vid", "dang", "v_raw")
        .repartition(nparts, "id")
        .persist()
    )
    counts = vmap.agg(F.count("*").alias("n"), F.count_distinct("vid").alias("nv")).first()
    if counts["nv"] != counts["n"]:  # hash collision → deterministic fallback
        # distributed string-sorted rank (range exchange + per-partition
        # sort + offsets — no single-task global sort even at 10^12 ids)
        from pagerank_project_spark.operators.vids import string_sorted_vids

        vmap.unpersist()
        sorted_map = string_sorted_vids(state.select("id"), "id", nparts)
        vmap = (
            state.join(sorted_map, "id")
            .select("id", "vid", "dang", "v_raw")
            .repartition(nparts, "id")
            .persist()
        )
        vmap.count()
        sorted_map.unpersist()
    ew_enc = (
        ew_str.join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s")), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
        .select(F.col("_s").alias("src"), F.col("_t").alias("dst"), "w")
    )
    hubs = None
    if cfg.strategy == "csr":
        from pagerank_project_spark.operators.superstep_csr import prepare_salted_edges

        ew, hubs = prepare_salted_edges(ew_enc, nparts, cfg.salt_buckets, cfg.hub_degree_threshold)
        ew = ew.persist()
        hubs = hubs.persist()
        hubs.count()
    else:
        # sortWithinPartitions: the cached InMemoryRelation then reports an
        # outputOrdering on the join key, so the per-iteration sort-merge
        # join sorts ONLY the (|V|-row) rank side — the edges are sorted
        # once here, never again (measured: edge-side per-iteration sort is
        # the single largest superstep cost at sf≥1 without this).
        ew = ew_enc.repartition(nparts, "src").sortWithinPartitions("src").persist()
    m = ew.count()  # materialize the partitioned, weighted, encoded edges once
    return _run_loop(
        spark, cfg, vmap, ew, hubs, n, m, nparts, t_start, checkpoint_store, v_scale,
    )


def _run_loop(
    spark, cfg, vmap, ew, hubs, n, m, nparts, t_start, checkpoint_store, v_scale,
) -> PageRankResult:
    """Init/resume the iteration state from a built (vmap, ew) pair and run
    the hot loop — shared by the build-in-run and prepared-graph paths."""
    start_iter = 0
    resumed = False
    if checkpoint_store is not None:
        latest = checkpoint_store.latest_iteration()
        if latest is not None:
            # checkpointed state carries STRING ids → re-encode via vmap
            st = checkpoint_store.read_state(spark, latest).select("id", "rank", "v", "dang")
            cur = st.join(vmap.select("id", "vid"), "id").select(
                F.col("vid").alias("id"), "rank", "v", "dang"
            )
            start_iter = latest + 1
            resumed = True
    if not resumed:
        # x0 = 1/√n, already L2-unit (pagerank.py:116-118)
        cur = vmap.select(
            F.col("vid").alias("id"),
            F.lit(1.0 / math.sqrt(n)).alias("rank"),
            (F.col("v_raw") * F.lit(v_scale)).alias("v"),
            "dang",
        )
    cur = cur.repartition(nparts, "id").localCheckpoint(eager=False)

    # initial dangling mass d = x·a (pagerank.py:125); the agg also
    # materializes the lazily-checkpointed initial state
    d = cur.agg(F.sum(F.col("rank") * F.col("dang"))).first()[0] or 0.0

    alpha = cfg.alpha
    residuals: list[float] = []
    converged = False
    it = start_iter
    setup_sec = time.time() - t_start
    iter_secs: list[float] = []

    # AQE's per-stage re-planning costs ~30% per superstep (measured at sf1)
    # and buys nothing in a loop whose shape/partitioning is fixed — disable
    # it for the hot loop only, restore the caller's setting after.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    try:
        converged, it, cur = _iterate(
            spark, cfg, cur, ew, hubs, n, d, alpha, start_iter, residuals, iter_secs,
            checkpoint_store, vmap,
        )
    finally:
        # restore even when a superstep raises (job failure, non-finite
        # stats) — AQE must not stay disabled for the caller's session
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    # decode back to string vertex ids (op-9, pagerank.py:68,77-78)
    result = (
        cur.withColumnRenamed("id", "_vid")
        .join(vmap.select(F.col("vid").alias("_vid"), "id"), "_vid")
        .select("id", "rank")
    )
    ew.unpersist()
    if hubs is not None:
        hubs.unpersist()
    return PageRankResult(
        ranks=result,
        setup_sec=round(setup_sec, 3),
        iter_secs=[round(x, 3) for x in iter_secs],
        iterations=it - start_iter,
        residuals=residuals,
        converged=converged,
        n_vertices=n,
        n_edges=m,
    )


def _iterate(
    spark, cfg, cur, ew, hubs, n, d, alpha, start_iter, residuals, iter_secs,
    checkpoint_store, vmap,
):
    """The hot loop. Exactly ONE Spark job per superstep on the fused path;
    returns (converged, next_iteration, final_state)."""
    converged = False
    it = start_iter
    for it in range(start_iter, start_iter + cfg.max_iterations):
        t_it = time.time()
        # SpMV gather-scatter: α·Pᵀx (pagerank.py:126-132)
        rank_side = cur.select(F.col("id").alias("_src"), "rank")
        broadcast_rank = n <= BROADCAST_VERTEX_LIMIT
        if broadcast_rank and cfg.strategy != "csr":
            rank_side = F.broadcast(rank_side)
        elif not broadcast_rank:
            # Above the limit the broadcast must be explicitly FORBIDDEN,
            # not merely un-hinted: Catalyst's size estimate of the
            # checkpointed state can fall under autoBroadcastJoinThreshold,
            # and a driver-serial 10⁶⁺-row HashedRelation build per
            # superstep is pure non-scaling cost (measured: this, not the
            # job floor, dominated the round-1 N→4N efficiency miss). The
            # SHUFFLE_HASH hint forces a shuffled hash join whose build
            # side is the per-partition rank slice; the sorted, persisted
            # edge cache streams through unsorted and unshuffled.
            rank_side = rank_side.hint("shuffle_hash")
        if cfg.strategy == "csr":
            from pagerank_project_spark.operators.superstep_csr import csr_partials

            part = csr_partials(ew, rank_side, hubs, cfg.salt_buckets, broadcast_rank).select(
                F.col("dst").alias("id"), (F.lit(alpha) * F.col("c")).alias("c")
            )
        else:
            part = ew.join(rank_side, ew.src == F.col("_src"), "inner").select(
                F.col("dst").alias("id"),
                (F.lit(alpha) * F.col("w") * F.col("rank")).alias("c"),
            )
        tele = F.lit(alpha * d + (1.0 - alpha)) * F.col("v")  # q (pagerank.py:125)
        # x' = α·Pᵀx + q as a UNION + single groupBy: per-edge partials and
        # one teleport-base row per vertex reduce in ONE map-side-combined
        # shuffle (vs groupBy + |V|-row left join = two shuffles). The base
        # row smuggles old rank / v / dang through max() (partial rows carry
        # 0 and ranks are non-negative), so zero-in-degree vertices fall out
        # with x' = q (zero-row preservation, pagerank.py:126-133).
        base = cur.select(
            "id", tele.alias("c"), F.col("rank").alias("old"), F.col("v"), F.col("dang")
        )
        part_full = part.select(
            "id", "c", F.lit(0.0).alias("old"), F.lit(0.0).alias("v"), F.lit(0.0).alias("dang")
        )
        # LAZY localCheckpoint EVERY iteration: the stats agg below is the
        # single action that (a) materializes the superstep, (b) truncates
        # lineage (plan references the previous state several times →
        # exponential plan growth without truncation; measured 2 GB plan
        # strings by iteration ~30), and (c) returns all driver scalars.
        # ONE Spark job, ONE shuffle per iteration in the hot loop.
        joined = (
            part_full.unionByName(base)
            .groupBy("id")
            .agg(
                F.sum("c").alias("nx"),
                F.max("old").alias("old"),
                F.max("v").alias("v"),
                F.max("dang").alias("dang"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE action: norms + residual components + next dangling mass +
        # the un-normalized L1 difference (fused L1-delta path, see below)
        s_row = joined.agg(
            F.sum(F.abs(F.col("nx"))).alias("l1"),
            F.sum(F.pow(F.col("nx"), 2)).alias("nx2"),
            F.sum(F.col("nx") * F.col("old")).alias("nxold"),
            F.sum(F.pow(F.col("old"), 2)).alias("old2"),
            F.sum(F.col("nx") * F.col("dang")).alias("dmass"),
            F.sum(F.abs(F.col("nx") - F.col("old"))).alias("l1diff"),
        ).first()
        s = s_row["l1"] if cfg.norm_x == "l1" else math.sqrt(s_row["nx2"])
        raw = s_row["nx2"] / (s * s) - 2.0 * s_row["nxold"] / s + s_row["old2"]
        if math.isnan(raw):  # never mistake a NaN for convergence
            raise ArithmeticError(f"non-finite superstep stats at iteration {it}: {s_row}")
        # the decomposition can go slightly negative at the fp noise floor
        # once ‖x'−x‖ ≲ 1e-10·‖x‖ — clamp to 0 (genuine convergence)
        resid = math.sqrt(max(0.0, raw))
        d = s_row["dmass"] / s
        residuals.append(resid)

        l1_delta = None
        if cfg.convergence == "l1_delta" or checkpoint_store is not None:
            # Σ|x'/s − x| needs s; it is NOT decomposable into s-free sums.
            # FUSED path: in L1 mode (standard/bench semantics) the mass is
            # conserved analytically — s = α(Σx−d) + αd + (1−α)·‖v‖₁ = 1 up
            # to fp summation error — so when |s−1| ≤ 1e-9 the un-normalized
            # Σ|x'−x| from the SAME single action differs from the exact
            # value by ≤ Σ|x'|·|1/s−1| ≤ |1−s| ≤ 1e-9 ≪ ε: use it directly
            # (ONE Spark job per superstep, the north_rule scaling path).
            # Outside that regime (reference mode's L2-normalized v, or the
            # x0=1/√n first iteration) fall back to the exact cache-scan agg.
            if abs(s - 1.0) <= 1e-9:
                l1_delta = s_row["l1diff"]
            else:
                l1_delta = joined.agg(
                    F.sum(F.abs(F.col("nx") / F.lit(s) - F.col("old")))
                ).first()[0]

        # cheap projection over the checkpointed superstep — no extra job
        new_state = joined.select("id", (F.col("nx") / F.lit(s)).alias("rank"), "v", "dang")

        if checkpoint_store is not None and (it % cfg.checkpoint_every == 0):
            active = joined.agg(
                F.sum(
                    (F.abs(F.col("nx") / F.lit(s) - F.col("old")) > F.lit(cfg.epsilon)).cast("long")
                ).alias("active")
            ).first()["active"]
            # decode to string ids so the checkpoint is portable across runs
            ckpt_state = new_state.withColumnRenamed("id", "_vid").join(
                vmap.select(F.col("vid").alias("_vid"), "id"), "_vid"
            ).select("id", "rank", "v", "dang")
            checkpoint_store.write_iteration(
                ckpt_state,
                iteration=it,
                metrics={
                    "residual_l2": resid,
                    "l1_delta": float(l1_delta),
                    "active_vertices": int(active),
                    "dangling_mass": d,
                    "norm": s,
                },
            )

        cur = new_state
        iter_secs.append(time.time() - t_it)

        # old checkpoint RDDs are freed by ContextCleaner once the Python
        # references die — nudge the collector periodically so long runs
        # don't accumulate stale cached state
        if (it + 1) % 8 == 0:
            import gc

            gc.collect()

        # stop rule: reference = L2 residual (pagerank.py:136-137);
        # 'l1_delta' = BASELINE.json bench criterion (L1 delta < ε)
        crit = resid if cfg.convergence == "l2_residual" else l1_delta
        if crit is not None and crit < cfg.epsilon:
            converged = True
            it += 1
            break
    else:
        it += 1

    return converged, it, cur
