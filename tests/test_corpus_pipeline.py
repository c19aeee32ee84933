"""Corpus synthesis -> edge extraction -> sha256 invariant -> link graph.

This is the north-rule input path: a deterministic source-code table
(repo, path, commit, lang, content) at small scale, import edges extracted
by a vectorized pandas UDF, per-row content sha256 equality between source
and derived tables, order-preserving dense ids.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import dense_ids
from hugegraph_computer_spark.operators import pagerank, wcc
from hugegraph_computer_spark.plans.checks import plan_operators
from hugegraph_computer_spark.sources.corpus import synth_corpus
from hugegraph_computer_spark.sources.extract import (
    assert_content_integrity,
    corpus_graph,
    derived_files,
    extract_edges,
)


def test_corpus_deterministic_across_parallelism(spark):
    a = synth_corpus(spark, n_repos=40, files_per_repo=3, seed=7, num_partitions=2)
    b = synth_corpus(spark, n_repos=40, files_per_repo=3, seed=7, num_partitions=8)
    ha = a.agg(F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit", "lang",
                                         "content"))).alias("h")).collect()[0]["h"]
    hb = b.agg(F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit", "lang",
                                         "content"))).alias("h")).collect()[0]["h"]
    assert ha == hb
    assert a.count() == 120


def test_extraction_matches_regex_oracle(spark):
    corpus = synth_corpus(spark, n_repos=30, files_per_repo=3, seed=3)
    got = {(r["src_repo"], r["dst_repo"]) for r in extract_edges(corpus).collect()}
    exp = set()
    for row in corpus.collect():
        if row["lang"] != "python":
            continue
        for m in re.finditer(r"^import (repo_\d{6})$", row["content"], re.M):
            exp.add((row["repo"], m.group(1)))
    assert got == exp
    assert got, "fixture must actually produce edges"


def test_extract_edges_runs_extraction_udf_once(spark, tmp_path):
    """The import-regex pandas UDF runs once per file: a plain explode
    would let Spark copy it into an inferred ``size(targets) > 0`` filter.
    Files without imports must still yield no edge."""
    path = str(tmp_path / "corpus")
    synth_corpus(spark, n_repos=40, files_per_repo=3, seed=9).write.parquet(path)
    corpus = spark.read.parquet(path)
    edges = extract_edges(corpus)
    got = [(r["src_repo"], r["dst_repo"]) for r in edges.collect()]
    assert plan_operators(edges).count("ArrowEvalPythonExec") == 1
    exp, no_imports = set(), 0
    for row in corpus.where(F.col("lang") == "python").collect():
        found = re.findall(r"^import (repo_\d{6})$", row["content"], re.M)
        exp.update((row["repo"], dst) for dst in found)
        no_imports += not found
    assert sorted(got) == sorted(exp) and got
    assert no_imports, "fixture must hold import-less python files"


def test_degrees_read_cached_adjacency_not_ingest(spark, tmp_path):
    """Once the adjacency is cached, ``Graph.degrees()`` (PageRank's and
    PPR's init) reads it and never re-runs the ingest lineage: no parquet
    scan and no extraction UDF in its executed plan."""
    path = str(tmp_path / "corpus")
    synth_corpus(spark, n_repos=30, files_per_repo=2, seed=3).write.parquet(path)
    g, _ = corpus_graph(spark.read.parquet(path))
    g.adjacency().count()
    deg = g.degrees()
    assert deg.count() == g.num_vertices()
    deg.collect()
    ops = plan_operators(deg)
    assert "InMemoryTableScanExec" in ops, ops
    assert "FileSourceScanExec" not in ops and "ArrowEvalPythonExec" not in ops, ops
    g.unpersist()


def test_java_rows_excluded(spark):
    corpus = synth_corpus(spark, n_repos=40, files_per_repo=3, seed=3)
    assert corpus.where(F.col("lang") == "java").count() > 0
    e = extract_edges(corpus, lang="python")
    java_repos_only = corpus.groupBy("repo").agg(
        F.min(F.col("lang")).alias("mn"), F.max(F.col("lang")).alias("mx")
    ).where((F.col("mn") == "java") & (F.col("mx") == "java"))
    # a repo whose files are all java can still be a TARGET but never a src
    srcs = {r["src_repo"] for r in e.collect()}
    for r in java_repos_only.collect():
        assert r["repo"] not in srcs


def test_content_sha_integrity(spark):
    corpus = synth_corpus(spark, n_repos=25, files_per_repo=2, seed=11)
    derived = derived_files(corpus)
    n = assert_content_integrity(corpus, derived)
    assert n == derived.count() > 0
    # a corrupted derived row must be caught
    bad = derived.withColumn(
        "content_sha",
        F.when(F.col("repo") == "repo_000003", F.lit("deadbeef")).otherwise(
            F.col("content_sha")
        ),
    )
    with pytest.raises(AssertionError, match="sha256"):
        assert_content_integrity(corpus, bad)


def test_dense_ids_order_preserving(spark):
    df = spark.createDataFrame(
        [("repo_000009",), ("repo_000001",), ("repo_000005",), ("repo_000001",)],
        "r string",
    )
    out = {r["orig"]: r["vid"] for r in dense_ids(df, "r").collect()}
    assert out == {"repo_000001": 0, "repo_000005": 1, "repo_000009": 2}


def test_corpus_graph_end_to_end(spark):
    corpus = synth_corpus(spark, n_repos=50, files_per_repo=3, seed=5)
    g, ids = corpus_graph(corpus)
    n = g.num_vertices()
    assert n > 0 and ids.count() == n
    pr = pagerank(g, l1_threshold=1e-6, max_supersteps=10)
    total = pr.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert total == pytest.approx(1.0, abs=1e-6)
    comp = wcc(g)
    assert comp.count() == n


def test_cli_runner(spark, tmp_path):
    """python -m hugegraph_computer_spark end to end (entry point A)."""
    import subprocess, sys, json
    edges = [(0, 1), (1, 2), (2, 0), (5, 6)]
    epath = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, "src long, dst long").write.parquet(epath)
    out = str(tmp_path / "comp")
    r = subprocess.run(
        [sys.executable, "-m", "hugegraph_computer_spark",
         "--algorithm", "wcc", "--edges", epath, "--output", out,
         "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    info = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert info["rows"] == 5
    got = {row["vid"]: row["component"]
           for row in spark.read.parquet(out).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}


def test_cli_runner_corpus_path(spark, tmp_path):
    """CLI over a corpus parquet: extraction + dense ids + repo-name join."""
    import subprocess, sys
    corpus = synth_corpus(spark, n_repos=20, files_per_repo=2, seed=13)
    cpath = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(cpath)
    out = str(tmp_path / "ranks")
    r = subprocess.run(
        [sys.executable, "-m", "hugegraph_computer_spark",
         "--algorithm", "page_rank", "--corpus", cpath, "--output", out,
         "--master", "local[2]", "--max-supersteps", "5"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = spark.read.parquet(out)
    assert set(res.columns) == {"repo", "rank"}
    rows = res.collect()
    assert rows and all(row["repo"].startswith("repo_") for row in rows)
    assert abs(sum(row["rank"] for row in rows) - 1.0) < 1e-6
