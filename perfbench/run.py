#!/usr/bin/env python3
"""Link-graph engine benchmark: three batch workloads driven through the
engine's public API, one job at a time from a single closed-loop client.

    python3 perfbench/run.py --workload pagerank-relational --seed 42 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` first makes an untraced run in a child process, then runs again
with the Spark event log on and prints the per-layer metrics. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from pagerank_project_spark import datagen  # noqa: E402
from pagerank_project_spark.config import PageRankConfig  # noqa: E402
from pagerank_project_spark.operators.components import connected_components  # noqa: E402
from pagerank_project_spark.operators.extract import extract_edges, vertices_from_files  # noqa: E402
from pagerank_project_spark.operators.labelprop import label_propagation  # noqa: E402
from pagerank_project_spark.operators.pagerank import pagerank  # noqa: E402
from pagerank_project_spark.operators.triangles import triangle_count  # noqa: E402
from pagerank_project_spark.plans.checkpoint import CheckpointStore  # noqa: E402
from pagerank_project_spark.plans.prepared_graph import load_prepared, prepare_graph  # noqa: E402
from pagerank_project_spark.session import get_spark  # noqa: E402
from pagerank_project_spark.sources.repo_table import read_source_table  # noqa: E402

import oracles  # noqa: E402
import tracing  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")  # holds the per-run temp dirs while runs last
# datagen scale: 10,000 files. Each run starts a cold JVM, so the per-job
# floor and JIT warm-up, not the graph size, set most of the wall time.
SF = 0.01
# PageRank runs a fixed number of supersteps. Converging to L1 < 1e-6 takes
# 35-57 supersteps at sf0.01 depending on the seed's graph (numpy oracle,
# seeds 1-10), which would make the wall time a property of the seed.
# Neither budget reaches 1e-6, so every superstep still runs the stop test.
EPSILON = 1e-6
RELATIONAL_SUPERSTEPS = 10
DURABLE_SUPERSTEPS = 3  # each one commits a checkpoint
LPA_ITERATIONS = 4
DRIVER_MEMORY = "2g"
CORES = min(len(os.sched_getaffinity(0)), 4)
CHILD_TIMEOUT_S = 170


# -- inputs -------------------------------------------------------------------


def fixture(tmp: str, seed: int) -> str:
    """datagen table for (SF, seed), written into the run's temp dir (under 1 s)."""
    out = os.path.join(tmp, "fixture")
    datagen.write_fixture(datagen.generate(SF, seed), out)
    return out


def oracle_graph(fixture_dir: str) -> oracles.Graph:
    files = pd.read_parquet(os.path.join(fixture_dir, "source_table", "data"), columns=["repo", "path"])
    # datagen's vertex key: repo:path-without-extension
    ids = files["repo"] + ":" + files["path"].str.replace(r"\.[a-z]+$", "", regex=True)
    return oracles.Graph(ids, pd.read_parquet(os.path.join(fixture_dir, "intended_edges")))


# -- the engine session -----------------------------------------------------------


class Session:
    """SparkSession lifecycle inside benchmark-owned temp space."""

    def __init__(self, tmp: str, event_log: str | None):
        self.tmp = tmp
        self.spark = None
        local = os.path.join(tmp, "spark-local")
        for d in (local, os.path.join(tmp, "tmp")):
            os.makedirs(d, exist_ok=True)
        # read by the JVMs and the Python workers they fork, so set before launch
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/tmp"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed heap, touched in full at start, so peak RSS does not hinge
            # on when G1 grows the heap or first reaches a region
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                # Spark 4 defaults to zstd, which the Python standard library cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log,
            })

    def start(self):
        self.spark = get_spark(
            app_name="perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=self.conf
        )
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def settle(self) -> None:
        """Collect the garbage earlier phases left, in Python and in the JVM,
        so that a timed phase does not pay for it at a random moment."""
        gc.collect()
        if SparkContext._jvm is not None:
            SparkContext._jvm.java.lang.System.gc()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kib * 1024 / 1e6

    def close(self) -> None:
        """Stop Spark and wait for the JVM process to exit; idempotent."""
        self.stop_context()
        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()


def host_fingerprint(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kib / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "commit": commit,
        "master": f"local[{CORES}]",
    }


# -- workloads ----------------------------------------------------------------------


@dataclass
class Sample:
    """One timed section: its wall, PageRank-style loop figures and checks."""

    wall: float = 0.0
    loop_wall: float = 0.0  # wall of the iterative calls
    supersteps: int = 0
    edges: int = 0
    stored_mb: float = 0.0
    checks: list[tuple[str, str | None]] = field(default_factory=list)  # (op, problem or None)


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


class Workload:
    needs_edges = True
    ops = 1  # checked operations per timed section
    setup_reps = 3  # set-ups per run, the first one JVM-cold

    def __init__(self, session: Session, tracer: tracing.Tracer, fixture_dir: str,
                 graph: oracles.Graph):
        self.session = session
        self.tracer = tracer
        self.fixture_dir = fixture_dir
        self.g = graph

    def setup(self) -> None:
        """Session start, table read and untimed preparation."""
        t = self.tracer
        with t.span("session"):
            self.spark = self.session.start()
        t.spark = self.spark
        with t.span("sources"):
            self.files = read_source_table(self.spark, self.fixture_dir, verify_rows=True)
        if self.needs_edges:
            with t.span("extract"):
                self.edges = extract_edges(self.files).persist()
                self.edges.count()
                self.verts = vertices_from_files(self.files).persist()
                self.verts.count()

    def section(self) -> Sample:
        raise NotImplementedError


class PageRankRelational(Workload):
    """Relational standard-mode PageRank over persisted edges."""

    def section(self) -> Sample:
        cfg = PageRankConfig(mode="standard", convergence="l1_delta", epsilon=EPSILON,
                             max_iterations=RELATIONAL_SUPERSTEPS)
        s = Sample()
        with self.tracer.span("pagerank") as sp:
            r = pagerank(self.spark, self.edges, self.verts, cfg)
            ranks = r.ranks.toPandas()
            sp.supersteps = r.iterations
        s.wall = s.loop_wall = sp.wall
        s.supersteps, s.edges = r.iterations, r.n_edges
        s.checks.append(("pagerank", oracles.check_ranks(
            self.g, ranks, r.iterations, EPSILON, RELATIONAL_SUPERSTEPS)))
        return s


class CommunitiesIngest(Workload):
    """From the raw table: sha-verified extraction, CC, LPA and triangles."""

    needs_edges = False
    ops = 4
    # without extraction a set-up takes about 0.4 s and varies by half from
    # run to run, so its median needs more of them
    setup_reps = 9

    def section(self) -> Sample:
        t = self.tracer
        s = Sample()
        t0 = time.perf_counter()
        with t.span("extract"):
            edges = extract_edges(self.files, verify_sha=True).persist()
            m = edges.count()
            verts = vertices_from_files(self.files)
        with t.span("components"):
            cc = connected_components(self.spark, edges, verts)
            components = cc.labels.toPandas()
        with t.span("labelprop") as lp_span:
            lp = label_propagation(self.spark, edges, verts, iterations=LPA_ITERATIONS)
            labels = lp.labels.toPandas()
            lp_span.supersteps = lp.iterations
        with t.span("triangles"):
            tri = triangle_count(self.spark, edges, verts)
        s.wall = time.perf_counter() - t0
        edges.unpersist()
        # LPA only: at this scale connected_components takes its driver-side
        # finish after one collect, so it has no superstep loop to measure
        s.loop_wall = lp_span.wall
        s.supersteps, s.edges = lp.iterations, m
        s.checks += [
            ("extract", None if m == self.g.m else f"{m} edges extracted, datagen intended {self.g.m}"),
            ("components", oracles.check_components(self.g, components)),
            ("labelprop", oracles.check_labels(self.g, labels)),
            ("triangles", oracles.check_triangles(self.g, tri.total)),
        ]
        return s


class PageRankCsrDurable(Workload):
    """prepare_graph → load_prepared → CSR PageRank committing a checkpoint
    every superstep, for a fixed number of supersteps."""

    ops = 2

    def section(self) -> Sample:
        t = self.tracer
        s = Sample()
        out = tempfile.mkdtemp(dir=self.session.tmp, prefix="durable-")
        cfg = PageRankConfig(mode="standard", convergence="l1_delta", epsilon=EPSILON,
                             max_iterations=DURABLE_SUPERSTEPS, strategy="csr")
        t0 = time.perf_counter()
        with t.span("prepared_graph"):
            prepare_graph(self.spark, self.edges, os.path.join(out, "prepared"), vertices=self.verts)
            pg = load_prepared(self.spark, os.path.join(out, "prepared"))
        store = tracing.TimedStore(CheckpointStore(os.path.join(out, "checkpoints")), t)
        with t.span("pagerank.csr") as sp:
            r = pagerank(self.spark, prepared=pg, cfg=cfg, checkpoint_store=store)
            ranks = r.ranks.toPandas()
            sp.supersteps = r.iterations
        s.wall = time.perf_counter() - t0
        s.loop_wall = sp.wall
        s.supersteps, s.edges = r.iterations, r.n_edges
        s.stored_mb = _du_mb(out)
        committed = sorted(store.metrics())
        shutil.rmtree(out)
        s.checks += [
            ("pagerank.csr", oracles.check_ranks(
                self.g, ranks, r.iterations, EPSILON, DURABLE_SUPERSTEPS)),
            ("checkpoint", oracles.check_manifest(committed, r.iterations)),
        ]
        return s


WORKLOADS = {
    "pagerank-relational": PageRankRelational,
    "communities-ingest": CommunitiesIngest,
    "pagerank-csr-durable": PageRankCsrDurable,
}


# -- one run ----------------------------------------------------------------------


def run(args, traced: bool) -> dict:
    """Set up, run timed sections for ``args.seconds`` (at least one), then
    set up ``setup_reps`` - 1 more times.
    Returns the run's figures; traced, with the per-layer ones as "layers"."""
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=WORK, prefix="run-")
    event_log = os.path.join(tmp, "eventlog") if traced else None
    session = Session(tmp, event_log)
    tracer = tracing.Tracer(enabled=traced)
    try:
        fixture_dir = fixture(tmp, args.seed)
        wl = WORKLOADS[args.workload](session, tracer, fixture_dir, oracle_graph(fixture_dir))

        def timed_setup() -> float:
            tracer.next_round()
            tracer.spark = None
            session.stop_context()  # stopping the previous session is not set-up
            session.settle()
            t0 = time.perf_counter()
            wl.setup()
            return time.perf_counter() - t0

        # The first set-up starts the JVM and feeds the timed sections; the
        # others follow the sections. Each run thus repeats one sequence and
        # every phase meets the JIT at the same point of its warm-up. Another
        # section starts only if it is expected to end within --seconds, so
        # sections longer than half of that are timed once, in a JVM as cold
        # as a spark-submit job's.
        setups = [timed_setup()]
        samples, attempted, failed = [], 0, 0
        t_start = time.perf_counter()
        while True:
            tracer.next_round()
            session.settle()
            try:
                s = wl.section()
            except Exception:
                traceback.print_exc()
                attempted += wl.ops
                failed += wl.ops
                break
            samples.append(s)
            for op, problem in s.checks:
                attempted += 1
                if problem is not None:
                    failed += 1
                    print(f"CHECK FAILED {op}: {problem}", file=sys.stderr)
            if time.perf_counter() - t_start + s.wall > args.seconds:
                break
        setups += [timed_setup() for _ in range(wl.setup_reps - 1)]

        host = host_fingerprint(wl.spark)
        figures = {
            "attempted": attempted,
            "failed": failed,
            "host": host,
            "cold_setup_s": setups[0],
            "setup_s": statistics.median(setups),
            "peak_rss_mb": session.jvm_peak_rss_mb(),
        }
        if samples:
            figures.update({
                "section_walls": [s.wall for s in samples],
                "wall_s": statistics.median(s.wall for s in samples),
                "supersteps": statistics.median(s.supersteps for s in samples),
                "superstep_edges_per_s": statistics.median(
                    s.edges * s.supersteps / s.loop_wall for s in samples),
                "stored_mb": statistics.median(s.stored_mb for s in samples),
            })
        session.close()  # the event log is complete once Spark has stopped
        if traced:
            figures["layers"] = tracing.layer_metrics(tracer, event_log)
    finally:
        session.close()  # no-op when already closed
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK)  # only when no other run still uses it
    return figures


E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "superstep_edges_per_s": "edges/s", "peak_rss_mb": "MB",
}


def per_layer_units(name: str) -> str:
    if name.endswith((".jobs", ".writes", ".supersteps")):
        return "count"
    if name.endswith(".jobs_per_superstep"):
        return "jobs/superstep"
    return "MB" if name.endswith("_mb") else "s"


def report(figures: dict, metrics: dict, units) -> None:
    """The figures for a reader, then the one-line JSON result."""
    print("host " + json.dumps(figures["host"], sort_keys=True))
    attempted = figures["attempted"]
    print(f"error_rate {figures['failed'] / attempted if attempted else 1.0} "
          f"({figures['failed']}/{attempted} checked operations)")
    for k in ("cold_setup_s", "section_walls", "supersteps", "stored_mb"):
        if k in figures:
            print(f"{k} {figures[k]}")
    for k, v in metrics.items():
        print(f"{k} {v} {units(k)}")
    print(json.dumps({
        "correct": figures["failed"] == 0,
        "attempted": figures["attempted"],
        "failed": figures["failed"],
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
    }))


def untraced_wall(args) -> float | None:
    """``wall_s`` of an untraced run of the same arguments, made just before
    the traced one in a child process with its own JVM, so that both runs
    start cold and meet the host in the same state; None if it failed."""
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=CHILD_TIMEOUT_S,
    )
    if child.returncode != 0:
        return None
    return json.loads(child.stdout.splitlines()[-1])["metrics"]["wall_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not args.trace:
        figures = run(args, traced=False)
        report(figures, {k: figures[k] for k in E2E_UNITS if k in figures}, E2E_UNITS.get)
        # a section the engine failed leaves its metrics out; the result
        # still shows the failure, and the exit code marks the run as spoilt
        return 0 if "wall_s" in figures else 1

    baseline = untraced_wall(args)
    figures = run(args, traced=True)
    layers = figures["layers"]
    if "wall_s" in figures:
        layers["stored_mb"] = figures["stored_mb"]
    if "wall_s" in figures and baseline is not None:
        layers["trace.overhead_s"] = figures["wall_s"] - baseline
    report(figures, layers, per_layer_units)
    return 0 if "wall_s" in figures else 1


if __name__ == "__main__":
    sys.exit(main())
