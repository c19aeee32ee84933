"""The engine's one superstep loop and its extension surface: vertex programs.

The reference runs every algorithm through one master/worker superstep
loop (MasterService.java:183-279) and exposes six pluggable classes per
job (SURVEY.md §2.10): ``worker.computation_class``
(Computation.compute0/compute, computer-api/.../worker/Computation.java:
39-102), ``master.computation_class`` (MasterComputation.compute,
master/MasterComputation.java:54), ``worker.combiner_class``
(combiner/Combiner.java), ``algorithm.message_class`` /
``algorithm.result_class`` (ComputerOptions.java:74-84) and
``algorithm.params_class`` (AlgorithmParams.java:29).

Here the same contract is ONE Python dataclass over DataFrames — every hook
is a plan fragment (pure column expressions), and ``run_program`` is the
only superstep loop: the built-ins (pagerank, personalized_pagerank, wcc,
lpa, coreness) are VertexPrograms run by it exactly like a user-defined
program — cached hash-partitioned adjacency, one materialization per
superstep with Observation-carried aggregators, checkpoint/resume,
frontier (vote-to-halt) messaging.

    VertexProgram(
        init,          # graph -> superstep-0 state DF (vid, ...) ≡ compute0
        frontier,      # state -> (vid, msg): who sends what, projected
                       #   BEFORE the adjacency join ≡ sendMessageToAllEdges
        combine,       # (dst, msg) DF -> (dst, msg) DF, one row per target
                       #   ≡ worker.combiner_class (sum/min/vote/...)
        apply,         # (state, combined msgs, previous aggregates) -> new
                       #   state ≡ beforeSuperstep + compute; may add columns
                       #   read only by the aggregators (dropped after them)
        aggregators,   # superstep -> {name: agg Column} over the new state
                       #   ≡ registerAggregator; delivered to the next
                       #   superstep's apply and to master_continue
        master_continue,  # (superstep, aggs) -> bool ≡ MasterComputation
    )
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


@dataclass
class VertexProgram:
    """A BSP vertex program as DataFrame plan fragments. ``frontier``,
    ``combine`` and ``apply`` make up the default scatter superstep; a
    program that gathers instead leaves them unset and hands
    ``run_program`` its own ``step``."""

    init: Callable[[Graph], DataFrame]
    frontier: Callable[[DataFrame], DataFrame] | None = None
    combine: Callable[[DataFrame], DataFrame] | None = None
    apply: Callable[[DataFrame, DataFrame, dict], DataFrame] | None = None
    aggregators: Callable[[int], dict[str, Column]] = field(default=lambda s: {})
    master_continue: Callable[[int, dict], bool] = field(default=lambda s, a: True)
    name: str = "vertex_program"


def run_program(
    graph: Graph,
    program: VertexProgram,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    step: Callable[[DataFrame, dict], DataFrame] | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Run ``program`` until it halts; returns the final state.

    Superstep 0 materializes ``init``. Each later superstep builds the new
    state with ``step(state, previous aggregates)`` — by default
    frontier ⋈ cached adjacency → explode → combine → apply — and
    materializes it exactly once, the aggregators riding that job via
    ``observe`` (the reference ships partial aggregators with the compute
    pass, WorkerAggrManager.java:89-141); columns the state did not have
    before are dropped after the aggregators saw them. The run halts when
    ``master_continue`` returns False (MasterService.finishedIteration
    :332-343) — asked after every superstep but 0, which only initializes
    — or after superstep ``max_supersteps - 1``.

    ``resume=True`` continues after the latest complete snapshot, applying
    the same halt rule to its aggregates. ``stats_out`` receives the final
    aggregates, ``supersteps`` (the last superstep + 1, also when a resume
    ran none) and ``history``, one metrics dict per superstep run here.
    """
    loop = SuperstepLoop(
        graph.edges.sparkSession, program.name, checkpoint_dir, max_supersteps,
        checkpoint_every, resume=resume,
    )
    if step is None:
        step = _scatter_step(graph.adjacency(), program)

    def superstep(s: int, new_state: DataFrame, cols: list[str]):
        t0 = time.time()
        aggregators = program.aggregators(s)
        if aggregators:
            obs = Observation(f"{program.name}_s{s}")
            new_state = new_state.observe(
                obs, *[c.alias(k) for k, c in aggregators.items()]
            )
        out = loop.materialize(s, new_state.select(*cols))
        aggs = dict(obs.get) if aggregators else {}
        loop.commit(s, aggs, {"sec": time.time() - t0})
        return out, aggs

    resumed = loop.resume() if resume else None
    if resumed is None:
        init = program.init(graph)
        s, (state, aggs) = 0, superstep(0, init, init.columns)
    else:
        s, state, aggs = resumed
    while s < max_supersteps - 1 and (s == 0 or program.master_continue(s, aggs)):
        s += 1
        state, aggs = superstep(s, step(state, aggs), state.columns)

    loop.cleanup()
    if stats_out is not None:
        stats_out.update(aggs)
        stats_out["supersteps"] = s + 1
        stats_out["history"] = [
            {"superstep": r.superstep, **r.metrics} for r in loop.history
        ]
    return state


def _scatter_step(adj: DataFrame, program: VertexProgram):
    """The scatter superstep: the frontier's messages travel along the
    cached, co-partitioned adjacency (no exchange on its side); explode +
    combine partial-aggregates map-side, so a hub's chunks never meet on
    one reducer before the combine."""

    def step(state: DataFrame, aggs: dict) -> DataFrame:
        msgs = adj.join(program.frontier(state), "vid").select(
            F.explode("nbrs").alias("dst"), "msg"
        )
        return program.apply(state, program.combine(msgs), aggs)

    return step


def count_changed(s: int) -> dict[str, Column]:
    """The vote-to-halt aggregator of a state that flags its ``changed``
    vertices. Superstep 0, where every vertex starts changed, needs none."""
    return {"changed": F.sum(F.col("changed").cast("long"))} if s else {}


def any_changed(s: int, aggs: dict) -> bool:
    return bool(aggs["changed"])  # None: the state has no rows


# ---------------------------------------------------------------- examples
def degree_program() -> VertexProgram:
    """Degree centrality as a single-superstep VertexProgram
    (DegreeCentrality.java:38-131: everyone scatters 1, sum, halt)."""
    return VertexProgram(
        name="degree_program",
        init=lambda g: g.vertices().select("vid", F.lit(0.0).alias("degree")),
        frontier=lambda state: state.select("vid", F.lit(1.0).alias("msg")),
        combine=lambda msgs: msgs.groupBy("dst").agg(F.sum("msg").alias("msg")),
        apply=lambda state, msgs, aggs: state.join(
            msgs, state["vid"] == msgs["dst"], "left"
        ).select(state["vid"], F.coalesce(msgs["msg"], F.lit(0.0)).alias("degree")),
        master_continue=lambda s, aggs: False,
    )

