"""Label propagation (LPA) — synchronous frequency vote, deterministic ties.

Reference semantics (Lpa.java:36-101, no message combiner — LpaParams has
none): superstep 0 every vertex labels itself with its id and sends the
label to all (symmetrized) neighbors; each later superstep a vertex that
received messages adopts the most frequent incoming label and, iff its label
changed, rebroadcasts. Vertices without messages keep their label silently.
The job runs until no messages flow or ``bsp.max_super_step`` (default 10,
ComputerOptions.java:363-369).

DOCUMENTED DEVIATION: the reference breaks frequency ties with an unseeded
``Random.nextInt`` (Lpa.java:98) — nondeterministic, and its own test
asserts nothing about values (LpaTest.java:21-26). We pin the deterministic
rule "smallest label among the most frequent", so results are reproducible
and oracle-checkable. Everything else matches, including the subtlety that
votes count only messages from vertices that *changed* last round (delta
messaging), not a live view of all neighbor labels.

One superstep of the VertexProgram (run by graph.program.run_program):

    frontier = (vid, label) where label changed last round
    msgs     = adjacency ⋈ frontier → explode → (dst, label)
    vote     = msgs.groupBy(dst, label).count()
                 .groupBy(dst).agg(max(struct(cnt, -label)))   -- argmax with
                                                               -- min-label ties,
                                                               -- no window/sort
    state    = state ⟕ vote; adopt vote where present

The two-level groupBy partial-aggregates (dst,label) pairs map-side, so a
hub's fan-in never concentrates on one reducer (label cardinality per dst
bounds the second stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.graph.program import (
    VertexProgram,
    any_changed,
    count_changed,
    run_program,
)


def _vote(msgs: DataFrame) -> DataFrame:
    """Most frequent incoming label per target, smallest on ties."""
    return (
        msgs.groupBy("dst", "msg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("dst")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("msg")).alias("neg"))).alias("best"))
        .select("dst", (-F.col("best.neg")).alias("msg"))
    )


def _adopt(state: DataFrame, vote: DataFrame, aggs: dict) -> DataFrame:
    return (
        state.join(vote, state["vid"] == vote["dst"], "left")
        .select(
            state["vid"],
            F.coalesce(vote["msg"], state["label"]).alias("new_label"),
            state["label"].alias("old_label"),
        )
        .select(
            "vid",
            F.col("new_label").alias("label"),
            (F.col("new_label") != F.col("old_label")).alias("changed"),
        )
    )


def lpa(
    graph: Graph,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    job_name: str = "lpa",
    resume: bool = False,
) -> DataFrame:
    """Run LPA; returns ``(vid long, label long)``."""
    program = VertexProgram(
        name=job_name,
        # superstep 0 (Lpa.java:52-58): label = self id, everyone sends.
        init=lambda g: g.vertices().select(
            "vid", F.col("vid").alias("label"), F.lit(True).alias("changed")
        ),
        frontier=lambda state: state.where("changed").select(
            "vid", F.col("label").alias("msg")
        ),
        combine=_vote,
        apply=_adopt,
        aggregators=count_changed,
        master_continue=any_changed,
    )
    state = run_program(
        graph, program, max_supersteps, checkpoint_dir, checkpoint_every, resume
    )
    return state.select("vid", "label")
