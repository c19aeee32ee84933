"""PageRank with the reference's exact (nonstandard) recurrence.

Reference semantics (PageRank.java:64-101, PageRank4Master.java:63-100;
SURVEY.md §2.12), reproduced formula-for-formula so per-vertex scores match
allclose 1e-6:

* superstep 0: value = 1/N for every vertex; aggregate Σvalue; a vertex with
  numEdges==0 (dangling under the symmetrized load) contributes its rank to
  the dangling aggregator, everyone else scatters value/numEdges to all
  neighbors.
* superstep s>=1, for EVERY vertex (PageRank never votes to halt):

      rank  = (dangling_prev/N + Σ incoming) * (1-alpha) + alpha/N
      rank /= cumulative_prev          # PageRank.java:87-89 — renormalize
                                       # by the PREVIOUS superstep's Σrank

  where dangling_prev / cumulative_prev are the previous superstep's global
  aggregates (delivered in beforeSuperstep, PageRank.java:119-127).
  Aggregate L1 = Σ|rank - old|, Σrank, dangling Σ; scatter rank/numEdges.
* stop when superstep > 1 and L1 <= threshold (PageRank4Master.java:96-100;
  default 1e-5, the north rule also runs 1e-6), or at max supersteps
  (bsp.max_super_step default 10, ComputerOptions.java:363-369).

Spark realization: state is ``(vid, rank, deg)``, run as a VertexProgram
on the one superstep loop (graph.program.run_program); one superstep =

    frontier = (vid, rank/deg) where deg > 0       -- projected before the join
    summed   = adjacency ⋈ frontier → explode      -- co-partitioned join
               → groupBy(dst).sum                  -- map-side partial agg
                                                   -- ≡ DoubleValueSumCombiner
                                                   -- (PageRankParams.java:40-41)
    state'   = state ⟕ summed → new rank column
    aggs     = L1, Σrank, Σdangling observed on    -- ≡ the 4 master aggregators,
               the superstep's one materialization -- superstep 0 included

Lineage is broken and state snapshotted per superstep via SuperstepLoop
(resumable mid-iteration). Skew: hub adjacency is chunked (Graph.adjacency),
so the explode+groupBy partial-aggregates per chunk — no single reducer sees
a hub's full fan-in; AQE skew-join handles the residual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.graph.program import VertexProgram, run_program

ALPHA_DEFAULT = 0.15  # page_rank.alpha, PageRank.java:36-38


def _dangling_mass() -> Column:
    return F.sum(F.when(F.col("deg") == 0, F.col("rank")).otherwise(0.0))


def _rank_frontier(state: DataFrame) -> DataFrame:
    """Every vertex with edges sends rank/numEdges to all of them."""
    return state.where(F.col("deg") > 0).select(
        "vid", (F.col("rank") / F.col("deg")).alias("msg")
    )


def _sum_messages(msgs: DataFrame) -> DataFrame:
    return msgs.groupBy("dst").agg(F.sum("msg").alias("msg"))


def pagerank(
    graph: Graph,
    alpha: float = ALPHA_DEFAULT,
    l1_threshold: float = 1e-5,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    job_name: str = "page_rank",
    resume: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """Run PageRank; returns ``(vid long, rank double)``.

    ``max_supersteps`` counts message-exchange rounds exactly like the
    reference: superstep 0 initializes+scatters, supersteps 1..max-1 update.
    Set ``l1_threshold<0`` to force a fixed number of supersteps.
    ``stats_out`` receives the executed supersteps (bench derives
    edges/sec from them, not from the cap), the final aggregates and the
    per-superstep history.
    """
    n = graph.num_vertices()
    if n == 0:
        raise ValueError("pagerank: graph has no vertices")

    def aggregators(s: int) -> dict:
        aggs = {
            "cumulative": F.sum("rank"),
            "dangling": _dangling_mass(),
            "dangling_vertices": F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)),
        }
        if s > 0:
            aggs["l1"] = F.sum(F.abs(F.col("rank") - F.col("old_rank")))
        return aggs

    def apply(state: DataFrame, msgs: DataFrame, aggs: dict) -> DataFrame:
        # beforeSuperstep (PageRank.java:119-127): the previous superstep's
        # dangling mass and Σrank
        return (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                state["vid"],
                state["rank"].alias("old_rank"),
                state["deg"],
                F.coalesce(msgs["msg"], F.lit(0.0)).alias("msg_sum"),
            )
            .withColumn(
                "rank",
                (
                    (F.lit(aggs["dangling"] / n) + F.col("msg_sum"))
                    * F.lit(1.0 - alpha)
                    + F.lit(alpha / n)
                )
                / F.lit(aggs["cumulative"]),
            )
            .select("vid", "rank", "deg", "old_rank")
        )

    program = VertexProgram(
        name=job_name,
        # compute0 (PageRank.java:64-77): rank = 1/N everywhere
        init=lambda g: g.degrees().select(
            "vid", F.lit(1.0 / n).alias("rank"), F.col("deg")
        ),
        frontier=_rank_frontier,
        combine=_sum_messages,
        apply=apply,
        aggregators=aggregators,
        # master convergence rule (PageRank4Master.java:96-100)
        master_continue=lambda s, aggs: not (s > 1 and aggs["l1"] <= l1_threshold),
    )
    state = run_program(
        graph, program, max_supersteps, checkpoint_dir, checkpoint_every, resume,
        stats_out=stats_out,
    )
    return state.select("vid", "rank")


def personalized_pagerank(
    graph: Graph,
    sources,
    alpha: float = ALPHA_DEFAULT,
    supersteps: int = 6,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    job_name: str = "ppr",
    resume: bool = False,
) -> DataFrame:
    """Personalized PageRank: ``(vid long, rank double)`` — random walk
    with restart to a SOURCE SET (the retrieval/graph-sampling primitive;
    not in the reference, whose PageRank teleports uniformly —
    PageRank.java:36-38 — this is the "beyond the reference" variant a
    training pipeline uses to harvest a seed set's neighborhood).

    Standard semantics, mass-conserving: with e_S(v) = 1/|S| on sources,

        r_0 = e_S
        r_{s+1}(v) = (Σ_{u→v} r_s(u)/deg(u) + dangling_s·e_S(v))·(1-α)
                     + α·e_S(v)

    i.e. dangling mass restarts through the personalization vector, so
    Σr ≡ 1 every superstep (no renormalization needed — unlike the
    reference recurrence above). Fixed ``supersteps`` keeps the run
    oracle-unrollable (oracles.ppr_sql).

    Same program shape as pagerank, on the same loop: one scatter
    (adj ⋈ frontier, explode, map-side partial agg) + one left join per
    superstep, the dangling aggregate (superstep 0 included) rides the
    single materialization via ``observe``, lineage broken per superstep
    (checkpoint_dir/resume).
    ``sources`` may be a Python iterable of vids or a DataFrame with a
    ``vid`` column; the flag join runs ONCE at init (broadcast — a seed
    set is small next to the graph)."""
    spark = graph.edges.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select("vid").distinct()
    else:
        vids = sorted(set(sources))
        if not vids:
            raise ValueError("personalized_pagerank: empty source set")
        src_df = spark.createDataFrame([(int(v),) for v in vids], "vid long")
    n_req = src_df.count()  # the seed frame is small by contract
    if n_req == 0:
        raise ValueError("personalized_pagerank: empty source set")
    if supersteps < 1:
        raise ValueError("personalized_pagerank: supersteps >= 1")

    def init(g: Graph) -> DataFrame:
        # restart mass is 1/|S∩V|: a ghost seed — e.g. a typo'd
        # --seed-vertices id — must NOT dilute 1/|S|, or Σr < 1 with
        # every rank silently deflated
        base = g.degrees().join(
            F.broadcast(src_df.withColumn("_s", F.lit(True))), "vid", "left"
        )
        n_src = base.where("_s").count()
        if n_src == 0:
            raise ValueError(
                "personalized_pagerank: no source vertex exists in the graph"
            )
        if n_src < n_req:
            import warnings

            warnings.warn(
                f"personalized_pagerank: dropped {n_req - n_src} seed id(s) "
                f"not present in the graph; restart mass is 1/{n_src}",
                stacklevel=4,  # the caller of personalized_pagerank
            )
        return base.select(
            "vid",
            "deg",
            F.when(F.col("_s"), F.lit(1.0 / n_src)).otherwise(0.0).alias("sflag"),
        ).withColumn("rank", F.col("sflag"))

    def apply(state: DataFrame, msgs: DataFrame, aggs: dict) -> DataFrame:
        return state.join(msgs, state["vid"] == msgs["dst"], "left").select(
            state["vid"],
            state["deg"],
            state["sflag"],
            (
                (
                    F.coalesce(msgs["msg"], F.lit(0.0))
                    + F.lit(aggs["dangling"]) * state["sflag"]
                )
                * F.lit(1.0 - alpha)
                + F.lit(alpha) * state["sflag"]
            ).alias("rank"),
        )

    program = VertexProgram(
        name=job_name,
        init=init,
        frontier=_rank_frontier,
        combine=_sum_messages,
        apply=apply,
        aggregators=lambda s: {"dangling": _dangling_mass()},
    )
    state = run_program(
        graph, program, supersteps, checkpoint_dir, checkpoint_every, resume
    )
    return state.select("vid", "rank")
