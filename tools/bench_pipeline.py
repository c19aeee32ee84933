"""End-to-end corpus pipeline benchmark — the north-rule input path at scale.

Phases, each timed separately (all distributed, nothing driver-side):
  1. synth    — deterministic source-code corpus (repo, path, commit, lang,
                content), written to parquet (the stand-in for the Iceberg
                source table).
  2. extract  — lang-filtered scan (predicate pushdown) -> vectorized
                pandas-UDF import extraction -> distinct repo edges.
  3. verify   — per-row sha2(content,256) equality between source and
                derived rows (the input_hint invariant), full table.
  4. ids      — order-preserving dense encoding + symmetrized Graph build.
  5. pagerank — reference-exact, 10 supersteps.

Prints one JSON line with per-phase seconds, files/sec (synth+extract) and
edges/sec (pagerank). Usage:
    python tools/bench_pipeline.py [n_repos] [files_per_repo] [cpus]
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from hugegraph_computer_spark.graph.graph import Graph, dense_ids  # noqa: E402
from hugegraph_computer_spark.operators import pagerank  # noqa: E402
from hugegraph_computer_spark.session import get_spark  # noqa: E402
from hugegraph_computer_spark.sources.corpus import synth_corpus  # noqa: E402
from hugegraph_computer_spark.sources.extract import (  # noqa: E402
    assert_content_integrity,
    derived_files,
    extract_edges,
)

CORPUS_PATH = str(REPO / ".bench" / "pipeline_corpus.parquet")


def main() -> None:
    n_repos = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    files_per_repo = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    n_files = n_repos * files_per_repo

    spark = get_spark(master=f"local[{cpus}]", app_name="bench-pipeline",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t: dict[str, float] = {}

    t0 = time.time()
    shutil.rmtree(CORPUS_PATH, ignore_errors=True)
    synth_corpus(
        spark, n_repos=n_repos, files_per_repo=files_per_repo,
        mean_imports=8, seed=42, num_partitions=cpus * 2,
    ).write.mode("overwrite").parquet(CORPUS_PATH)
    t["synth"] = round(time.time() - t0, 1)

    corpus = spark.read.parquet(CORPUS_PATH)
    t0 = time.time()
    edges = extract_edges(corpus)
    n_edges = edges.count()
    t["extract"] = round(time.time() - t0, 1)

    t0 = time.time()
    n_verified = assert_content_integrity(corpus, derived_files(corpus))
    t["verify"] = round(time.time() - t0, 1)

    t0 = time.time()
    ids = dense_ids(
        edges.select(F.col("src_repo").alias("r")).unionByName(
            edges.select(F.col("dst_repo").alias("r"))
        ),
        "r",
    ).persist()
    src_ids = ids.select(F.col("orig").alias("src_repo"), F.col("vid").alias("src"))
    dst_ids = ids.select(F.col("orig").alias("dst_repo"), F.col("vid").alias("dst"))
    e = edges.join(src_ids, "src_repo").join(dst_ids, "dst_repo").select("src", "dst")
    g = Graph.from_edges(e, num_partitions=cpus)
    g.adjacency().count()
    sym_edges = g.edges.count()
    t["ids_and_graph"] = round(time.time() - t0, 1)

    t0 = time.time()
    pagerank(g, l1_threshold=-1.0, max_supersteps=10).count()
    t["pagerank_10ss"] = round(time.time() - t0, 1)

    spark.stop()
    print(json.dumps({
        "n_files": n_files,
        "n_directed_edges": n_edges,
        "sym_edges": sym_edges,
        "verified_rows": n_verified,
        "phases_sec": t,
        "synth_files_per_sec": round(n_files / t["synth"]),
        "extract_files_per_sec": round(n_files / t["extract"]),
        "pagerank_edges_per_sec": round(sym_edges * 10 / t["pagerank_10ss"]),
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
