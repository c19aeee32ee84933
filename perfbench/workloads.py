"""The benchmark's workloads over one seeded source-code corpus.

Every workload generates its corpus with ``synth_corpus(seed=<--seed>)``,
writes it to parquet during set-up, and hands the engine only that parquet.
Each call into a package module runs inside ``tracer.span(<module>, <call>)``
(a no-op unless the run is traced), around the action that forces the call's
lazy result, so a span owns the jobs its call causes.
"""

from __future__ import annotations

from pathlib import Path
from time import perf_counter

from pyspark.sql import SparkSession

from hugegraph_computer_spark.operators.closeness import closeness_centrality
from hugegraph_computer_spark.operators.pagerank import pagerank
from hugegraph_computer_spark.operators.wcc import wcc
from hugegraph_computer_spark.sources.corpus import synth_corpus
from hugegraph_computer_spark.sources.extract import (
    assert_content_integrity,
    corpus_graph,
    derived_files,
)
from hugegraph_computer_spark.sources.outputs import table_output

from oracle import CorpusOracle, exact, mismatches, rel_1e6, rounded_6
from spans import Tracer

# Corpus size: the largest at which a run (JVM start, set-up, warm-up, one
# timed iteration, checks) stays near a minute on 4 cores — the share of the
# benchmark's time budget one run gets. Per-job scheduling is still a large
# part of each superstep at this size.
N_REPOS = 5_000
FILES_PER_REPO = 5
MEAN_IMPORTS = 4
PAGERANK_L1 = 1e-6
PAGERANK_CAP = 100  # never reached: the corpus graphs converge in ~11 supersteps
CLOSENESS_SOURCES = 32


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def cached_bytes(spark: SparkSession) -> int:
    """Memory plus disk held by every cached or checkpointed RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Workload:
    """Set-up, one timed iteration and its check, for one seed."""

    name: str
    setup_reps: int  # set-ups per run; set-up time is their median
    iteration_s: float  # nominal timed-iteration wall on 4 cores

    def __init__(self, spark: SparkSession, tracer: Tracer, work: Path, seed: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.corpus_path = str(work / "corpus")
        self.out_path = work / "out"
        self.oracle: CorpusOracle | None = None
        # per-layer figures the spans do not give, from the latest call
        self.extras: dict = {"graph.bsp.snapshot_bytes": 0}

    def generate_corpus(self) -> None:
        with self.tr.span("sources.corpus", "synth_corpus"):
            synth_corpus(
                self.spark, n_repos=N_REPOS, files_per_repo=FILES_PER_REPO,
                mean_imports=MEAN_IMPORTS, seed=self.seed,
            ).write.mode("overwrite").parquet(self.corpus_path)

    def build_oracle(self) -> None:
        self.oracle = CorpusOracle(N_REPOS, FILES_PER_REPO, MEAN_IMPORTS, self.seed)

    def read_output(self):
        return self.spark.read.parquet(str(self.out_path)).toPandas()

    def setup(self) -> None:
        raise NotImplementedError

    def iterate(self) -> dict:
        """The timed region. Returns at least ``op_s`` (wall of the headline
        BSP operator call) and ``supersteps`` (supersteps it executed)."""
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError


class CorpusWcc(Workload):
    """Ingest path: read corpus → sha256 verify → edge extraction and graph
    build → adjacency → WCC with a durable snapshot per superstep → write
    ``(repo, component)``. Set-up is only the corpus generation."""

    name = "corpus_wcc"
    setup_reps = 3
    iteration_s = 10.0

    def setup(self) -> None:
        self.generate_corpus()

    def iterate(self) -> dict:
        corpus = self.spark.read.parquet(self.corpus_path)
        with self.tr.span("sources.extract", "derived_files"):
            derived = derived_files(corpus)
        with self.tr.span("sources.extract", "assert_content_integrity"):
            verified = assert_content_integrity(corpus, derived)
        with self.tr.span("sources.extract", "corpus_graph"):
            g, ids = corpus_graph(corpus)
        with self.tr.span("graph.graph", "adjacency"):
            g.adjacency().count()
        with self.tr.span("graph.graph", "num_vertices"):
            vertices = g.num_vertices()
        self.extras["graph.graph.vertices"] = vertices
        self.extras["graph.graph.cached_mb"] = cached_bytes(self.spark) / 2**20
        ckpt = self.work / "wcc_ckpt"
        t = perf_counter()
        with self.tr.span("operators.wcc", "wcc"):
            comp = wcc(g, checkpoint_dir=str(ckpt), checkpoint_every=1)
        op_s = perf_counter() - t
        with self.tr.span("sources.outputs", "table_output"):
            table_output(
                comp.join(ids, comp["vid"] == ids["vid"]).select(
                    ids["orig"].alias("repo"), comp["component"]
                ),
                str(self.out_path),
            )
        g.unpersist()
        steps = len(list((ckpt / "wcc").glob("superstep=*")))  # all durable
        self.extras["graph.bsp.snapshot_bytes"] = dir_bytes(ckpt)
        return {"op_s": op_s, "supersteps": steps, "verified": verified,
                "vertices": vertices}

    def check(self, res: dict) -> list[str]:
        problems = []
        if res["verified"] != self.oracle.python_files():
            problems.append(
                f"verified rows {res['verified']} != python files {self.oracle.python_files()}"
            )
        if res["vertices"] != N_REPOS:
            problems.append(f"vertices {res['vertices']} != {N_REPOS}")
        out = self.read_output()
        got = dict(zip((int(r[len("repo_"):]) for r in out["repo"]), out["component"].tolist()))
        return problems + mismatches(got, self.oracle.components(), exact)


class PagerankCloseness(Workload):
    """Analytics over a cached graph: reference-exact PageRank to L1 ≤ 1e-6
    (every superstep scatters over all vertices) then closeness from the 32
    smallest vids (a shrinking frontier joined against the cached flat
    edges). Set-up generates the corpus, builds the graph and materializes
    the adjacency and flat-edge caches."""

    name = "pagerank_closeness"
    # One set-up: a repeat costs ~9 s, which the run's time budget lacks.
    setup_reps = 1
    iteration_s = 15.0

    def setup(self) -> None:
        self.generate_corpus()
        corpus = self.spark.read.parquet(self.corpus_path)
        with self.tr.span("sources.extract", "corpus_graph"):
            g, _ = corpus_graph(corpus)
        with self.tr.span("graph.graph", "adjacency"):
            g.adjacency().count()
        with self.tr.span("graph.graph", "flat_edges"):
            g.flat_edges().count()
        with self.tr.span("graph.graph", "num_vertices"):
            self.extras["graph.graph.vertices"] = g.num_vertices()
        self.extras["graph.graph.cached_mb"] = cached_bytes(self.spark) / 2**20
        self.graph = g

    def iterate(self) -> dict:
        stats: dict = {}
        t = perf_counter()
        with self.tr.span("operators.pagerank", "pagerank"):
            ranks = pagerank(
                self.graph, l1_threshold=PAGERANK_L1, max_supersteps=PAGERANK_CAP,
                stats_out=stats,
            )
        op_s = perf_counter() - t
        with self.tr.span("operators.closeness", "closeness_centrality"):
            close = closeness_centrality(self.graph, sources=CLOSENESS_SOURCES)
        return {"op_s": op_s, "supersteps": stats["supersteps"], "ranks": ranks,
                "closeness": close, "history": stats["history"]}

    def check(self, res: dict) -> list[str]:
        with self.tr.span("sources.outputs", "table_output"):
            table_output(res["ranks"].join(res["closeness"], "vid"), str(self.out_path))
        out = self.read_output()
        vids = out["vid"].tolist()
        ranks = dict(zip(vids, out["rank"].tolist()))
        close = dict(zip(vids, out["closeness"].tolist()))
        return mismatches(
            ranks, self.oracle.pagerank(res["supersteps"]), rel_1e6
        ) + mismatches(close, self.oracle.closeness(CLOSENESS_SOURCES), rounded_6)


WORKLOADS = {w.name: w for w in (CorpusWcc, PagerankCloseness)}
