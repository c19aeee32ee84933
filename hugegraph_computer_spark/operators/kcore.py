"""Coreness (k-core decomposition) — h-index fixpoint iteration.

An engine extension beyond the reference's algorithm set (the training-data
pipeline uses coreness to filter weakly-connected boilerplate/hub regions
of a link graph before sampling).

Algorithm (Lü-Chen-Ren-Zhang-Zhang-Zhou 2016): initialize h(v) = deg(v);
iterate h(v) <- H({h(u) : u in N(v)}) where H is the h-index (the largest
i such that at least i neighbors have value >= i). The fixpoint equals the
exact coreness for every vertex. The update is monotone non-increasing, so
delta/frontier messaging applies: only vertices with a changed neighbor
recompute — same vote-to-halt shape as WCC.

The H-index of a neighbor multiset is computed JVM-side:
sort desc, count positions where value >= rank — no Python in the loop.
Each superstep GATHERS every neighbor value over the cached flat edges
instead of scattering messages, so coreness hands the one superstep loop
(graph.program.run_program) its own step function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.graph.program import (
    VertexProgram,
    any_changed,
    count_changed,
    run_program,
)


def _hindex(values: Column) -> Column:
    """H-index of an array<long> column."""
    s = F.reverse(F.sort_array(values))
    return F.size(
        F.filter(
            F.arrays_zip(s.alias("v"), F.sequence(F.lit(1), F.size(s)).alias("r")),
            lambda x: x["v"] >= x["r"],
        )
    ).cast("long")


def coreness(
    graph: Graph,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    job_name: str = "coreness",
    resume: bool = False,
) -> DataFrame:
    """Returns ``(vid long, coreness long)`` (0 for isolated vertices)."""
    # self-loops neither contribute to coreness nor to the peeling degree;
    # the filter sits over the cached src-partitioned frame (partitioning
    # and sort survive it), so each round's join re-shuffles nothing
    edges = graph.flat_edges(build_hash=True).where(F.col("src") != F.col("dst"))

    def init(g: Graph) -> DataFrame:
        deg = edges.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        return g.vertices().join(deg, "vid", "left").select(
            "vid",
            F.coalesce("deg", F.lit(0)).cast("long").alias("h"),
            F.lit(True).alias("changed"),
        )

    def gather(state: DataFrame, aggs: dict) -> DataFrame:
        # vertices adjacent to a change must recompute their H-index over
        # ALL current neighbor values (not only the changed ones)
        affected = (
            state.where("changed")
            .join(edges, state["vid"] == edges["src"])
            .select(F.col("dst").alias("vid"))
            .dropDuplicates(["vid"])
        )
        nbr_h = (
            edges.join(affected, edges["dst"] == affected["vid"], "left_semi")
            .join(
                state.select(F.col("vid").alias("src"), F.col("h").alias("nh")),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(_hindex(F.collect_list("nh")).alias("cand"))
        )
        return (
            state.join(nbr_h, "vid", "left")
            .select(
                "vid",
                F.least(
                    F.col("h"), F.coalesce(F.col("cand"), F.col("h"))
                ).alias("new_h"),
                F.col("h").alias("old_h"),
            )
            .select(
                "vid",
                F.col("new_h").alias("h"),
                (F.col("new_h") < F.col("old_h")).alias("changed"),
            )
        )

    program = VertexProgram(
        name=job_name,
        init=init,
        aggregators=count_changed,
        master_continue=any_changed,
    )
    state = run_program(
        graph, program, max_supersteps, checkpoint_dir, checkpoint_every, resume,
        step=gather,
    )
    return state.select("vid", F.col("h").alias("coreness"))
