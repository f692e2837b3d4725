"""Prepared persistent graph — pay the one-time graph build ONCE per corpus.

The measured setup cost of a PageRank run at sf16+ (vid-encode joins,
out-degree weights, repartition + per-partition sort) is hundreds of
seconds at 1×4 executors — and it is identical for every query over the
same corpus. A production deployment runs MANY queries (personalized
vectors, different modes, CC, LPA) over one slowly-changing graph, so the
build belongs in a prepare step whose output is a persistent table:

- ``{path}/vertices``: parquet ``(id string, vid long, dang double)`` —
  the dictionary encoding (xxhash64 with the collision fallback of
  ``vids.encode_or_fallback``) plus the dangling indicator.
- ``{path}/edges``: a BUCKETED, per-bucket-SORTED parquet table
  ``(src long, dst long, w double)``, ``CLUSTERED BY (src) … INTO n
  BUCKETS``. A bucketed scan reports ``HashPartitioning(src, n)`` (Spark's
  table-bucket hash is the same Murmur3 the shuffle uses), so the
  per-superstep join and every ``groupBy(src)`` consume it with ZERO
  exchange on the edge side — the property the in-run
  ``repartition + sortWithinPartitions`` setup step otherwise buys with a
  full shuffle per run. Written with ``repartition(n, src)`` first so each
  bucket is exactly one file (multi-file buckets lose the scan's
  sorted-output guarantee).
- ``{path}/manifest.json``: counts, bucket count, table name.

Bucket metadata lives in the session catalog, which the default in-memory
catalog forgets across sessions — ``load_prepared`` re-registers the
external table via DDL when absent, so prepared graphs survive restarts.

Personalization is NOT baked: ``v_raw`` is query-time (it depends on
``v_expr``), computed over the loaded vertex table exactly as the unprepared
path computes it. The in-link-ratio spam filter IS baked (it is a property
of the corpus snapshot): pass ``filter_ratio`` here, not to the query.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

PREPARED_VERSION = 1


@dataclass
class PreparedGraph:
    base: DataFrame  # (id string, vid long, dang double)
    edges: DataFrame  # (src long, dst long, w double), bucketed by src
    n: int  # vertices
    m: int  # weighted encoded edges
    buckets: int


def _edges_table_name(path: str) -> str:
    return "prepared_edges_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]


def prepare_graph(
    spark: SparkSession,
    edges: DataFrame,
    path: str,
    vertices: DataFrame | None = None,
    buckets: int | None = None,
    filter_ratio: float | None = None,
    weight_col: str | None = None,
) -> PreparedGraph:
    """Build and persist the query-independent graph state; returns the
    loaded PreparedGraph (reading back what was written, so callers hold
    the exact artifact later sessions will see)."""
    from pagerank_project_spark.operators.pagerank import (
        apply_filter_ratio,
        build_vertices,
        weighted_edges,
    )
    from pagerank_project_spark.operators.vids import assert_endpoints_covered, encode_or_fallback

    buckets = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    verts = build_vertices(edges, vertices)
    n = verts.count()
    if n == 0:
        raise ValueError("empty graph")
    if vertices is not None:
        assert_endpoints_covered(edges, verts)

    e = edges.select("src", "dst") if weight_col is None else edges.select("src", "dst", weight_col)
    if filter_ratio is not None:
        e = apply_filter_ratio(e, n, filter_ratio)
    ew_str = weighted_edges(e, n, weight_col=weight_col)

    vmap = encode_or_fallback(verts, "id", buckets)
    dang = verts.join(ew_str.select("src").distinct(), verts.id == F.col("src"), "left_anti")
    base = (
        vmap.join(dang.select(F.col("id").alias("_d")), vmap.id == F.col("_d"), "left")
        .select("id", "vid", F.when(F.col("_d").isNotNull(), 1.0).otherwise(0.0).alias("dang"))
    )
    ew_enc = (
        ew_str.join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s")), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
        .select(F.col("_s").alias("src"), F.col("_t").alias("dst"), "w")
    )

    os.makedirs(path, exist_ok=True)
    base.repartition(buckets, "id").write.mode("overwrite").parquet(f"{path}/vertices")

    tbl = _edges_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        ew_enc.repartition(buckets, "src")  # same hash as the bucket spec → ONE file per bucket
        .write.format("parquet")
        .bucketBy(buckets, "src")
        .sortBy("src")
        .option("path", f"{path}/edges")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    m = spark.table(tbl).count()
    manifest = {"version": PREPARED_VERSION, "n": n, "m": m, "buckets": buckets, "table": tbl}
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{path}/manifest.json")  # manifest-last: partial writes are invisible
    vmap.unpersist()
    return load_prepared(spark, path)


def _catalog_entry_matches(
    spark: SparkSession, tbl: str, path: str, buckets: int, vid_type: str
) -> bool:
    """True iff the registered table's LOCATION resolves to {path}/edges and
    its bucket count and src/dst column type (SQL name, e.g. ``BIGINT``)
    match the manifest being loaded."""
    rows = spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
    meta = {r["col_name"].strip(): (r["data_type"] or "").strip() for r in rows}
    loc = meta.get("Location", "")
    want = os.path.abspath(f"{path}/edges")
    got = os.path.abspath(loc.removeprefix("file:"))
    n_buckets = meta.get("Num Buckets", "")
    types_ok = all(meta.get(c, "").lower() == vid_type.lower() for c in ("src", "dst"))
    return got == want and n_buckets == str(buckets) and types_ok


def load_prepared(spark: SparkSession, path: str) -> PreparedGraph:
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    if manifest.get("version") != PREPARED_VERSION:
        raise ValueError(f"prepared graph at {path} has version {manifest.get('version')}, "
                         f"this engine reads {PREPARED_VERSION}")
    tbl, buckets = manifest["table"], manifest["buckets"]
    if spark.catalog.tableExists(tbl) and not _catalog_entry_matches(
        spark, tbl, path, buckets, "BIGINT"
    ):
        # the catalog holds a table with this name but a DIFFERENT location,
        # bucket spec or column type (a prepared dir was moved/copied and its
        # original path re-prepared in the same session) — serving it would
        # silently read the other dir's edge files with this manifest's n/m
        # counts
        spark.sql(f"DROP TABLE {tbl}")
    if not spark.catalog.tableExists(tbl):
        # fresh session: the in-memory catalog forgot the bucket spec —
        # re-register the external table over the existing files
        spark.sql(
            f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT, w DOUBLE) USING PARQUET "
            f"CLUSTERED BY (src) SORTED BY (src) INTO {buckets} BUCKETS "
            f"LOCATION '{path}/edges'"
        )
    return PreparedGraph(
        base=spark.read.parquet(f"{path}/vertices"),
        edges=spark.table(tbl),
        n=manifest["n"],
        m=manifest["m"],
        buckets=buckets,
    )


# --------------------------------------------------------------------------
# Prepared UNDIRECTED graph (LPA / propagation-mode consumers)
# --------------------------------------------------------------------------

UND_VERSION = 2


@dataclass
class PreparedUndirected:
    vmap: DataFrame  # (id string, vid long) — STRING-SORTED vids
    und: DataFrame  # (src, dst) symmetric distinct, bucketed by src; int when n < INT_VID_LIMIT else long
    n: int
    m_und: int  # symmetric row count (2x the canonical pair count)
    buckets: int


def _und_table_name(path: str) -> str:
    return "prepared_und_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]


def prepare_undirected(
    spark: SparkSession,
    edges: DataFrame,
    path: str,
    vertices: DataFrame | None = None,
    buckets: int | None = None,
) -> PreparedUndirected:
    """Bake LPA's one-time graph build — the phases the sf16 scaling
    analysis measured as the whole-run cap (BENCH/BASELINE.md): the
    STRING-SORTED vid encode (so min-label tie-breaks stay min-STRING and
    prepared runs are bitwise the direct path), the canonical long-pair
    symmetrize + distinct, and the repartition the per-superstep cache
    otherwise pays per run. The symmetric edge set lands in a bucketed,
    per-bucket-sorted table whose scan reports HashPartitioning(src, n) —
    a querying session persists it with ZERO shuffle and starts
    superstepping."""
    from pagerank_project_spark.operators.pagerank import build_vertices
    from pagerank_project_spark.operators.vids import assert_endpoints_covered, string_sorted_vids

    buckets = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    verts = build_vertices(edges, vertices)
    n = verts.count()
    if n == 0:
        raise ValueError("empty graph")
    if vertices is not None:
        assert_endpoints_covered(edges, verts)
    vmap = string_sorted_vids(verts, "id", buckets)
    enc = (
        edges.select("src", "dst")
        .join(vmap.select(F.col("id").alias("src"), F.col("vid").alias("_s")), "src")
        .join(vmap.select(F.col("id").alias("dst"), F.col("vid").alias("_t")), "dst")
        .select(F.col("_s").alias("src"), F.col("_t").alias("dst"))
    )
    # narrow the vids BEFORE the canonical distinct: the symmetrize shuffle,
    # the bucketed files AND the loop's persisted cache all carry 4-byte keys
    # when the dense sorted vids fit int32 (order-preserving cast — labels
    # stay bitwise the long path's; pinned by test)
    from pagerank_project_spark.operators.vids import INT_VID_LIMIT

    # sorted vids are DENSE ranks 1..n, so whenever n fits int32 the symmetric
    # cache (and the whole LPA loop state) stores 4-byte vids — the cache is
    # the engine's largest per-superstep DRAM stream (131M rows × 12
    # supersteps at sf16; BENCH/BASELINE.md), and halving its bytes halves
    # exactly the memory-bandwidth-bound term the round-4/5 scaling analysis
    # measured as the whole-run cap. Above the limit the artifact falls back
    # to bigint — the 10^12-vertex deployment keeps working, it just pays the
    # wide keys.
    dtype = "int" if n < INT_VID_LIMIT else "bigint"
    if dtype == "int":
        enc = enc.select(F.col("src").cast("int").alias("src"),
                         F.col("dst").cast("int").alias("dst"))
    canon = (
        enc.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    und = canon.unionByName(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    os.makedirs(path, exist_ok=True)
    vmap.write.mode("overwrite").parquet(f"{path}/vertices")

    tbl = _und_table_name(path)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        und.repartition(buckets, "src")
        .write.format("parquet")
        # sort by (src, dst) — src gives the scan's sorted-output guarantee,
        # dst makes neighbor lists ascending so the in-memory columnar
        # cache's delta encoding compresses the dst column too
        .sortBy("src", "dst")
        .bucketBy(buckets, "src")
        .option("path", f"{path}/edges")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    m_und = spark.table(tbl).count()
    manifest = {
        "version": UND_VERSION, "kind": "undirected_sorted",
        "n": n, "m_und": m_und, "buckets": buckets, "table": tbl, "dtype": dtype,
    }
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{path}/manifest.json")
    vmap.unpersist()
    return load_prepared_undirected(spark, path)


def load_prepared_undirected(spark: SparkSession, path: str) -> PreparedUndirected:
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    if manifest.get("kind") != "undirected_sorted" or manifest.get("version") not in (1, UND_VERSION):
        raise ValueError(
            f"prepared dir at {path} is not an undirected_sorted v1/v{UND_VERSION} artifact"
        )
    tbl, buckets = manifest["table"], manifest["buckets"]
    # v1 artifacts predate the int32 narrowing (and are bucket-sorted by src
    # only) — they keep reading as bigint
    dtype = manifest.get("dtype", "bigint")
    sql_t = "INT" if dtype == "int" else "BIGINT"
    sort_spec = "src, dst" if manifest.get("version", 1) >= 2 else "src"
    if spark.catalog.tableExists(tbl) and not _catalog_entry_matches(
        spark, tbl, path, buckets, sql_t
    ):
        spark.sql(f"DROP TABLE {tbl}")
    if not spark.catalog.tableExists(tbl):
        spark.sql(
            f"CREATE TABLE {tbl} (src {sql_t}, dst {sql_t}) USING PARQUET "
            f"CLUSTERED BY (src) SORTED BY ({sort_spec}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}/edges'"
        )
    return PreparedUndirected(
        vmap=spark.read.parquet(f"{path}/vertices"),
        und=spark.table(tbl),
        n=manifest["n"],
        m_und=manifest["m_und"],
        buckets=buckets,
    )
