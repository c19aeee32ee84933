"""Expected outputs of the benchmark's workloads, computed without Spark.

The corpus generator is a pure md5 hash of (seed, file index), so DuckDB
re-derives the exact symmetrized repo→repo edge list from the generator
parameters alone (``oracles.corpus_edges_sql``); networkx and DuckDB then
compute the reference answers on that list.
"""

from __future__ import annotations

import math

import duckdb
import networkx as nx

from hugegraph_computer_spark import oracles


class CorpusOracle:
    """Reference answers for one generated corpus."""

    def __init__(self, n_repos: int, files_per_repo: int, mean_imports: int, seed: int):
        self.params = (n_repos, files_per_repo, mean_imports, seed)
        self.n_repos = n_repos
        self.con = duckdb.connect()
        self.edges_cte = oracles.corpus_edges_sql(*self.params)
        e = self.con.execute(f"WITH {self.edges_cte} SELECT src, dst FROM e").fetchnumpy()
        self.sym_edges = len(e["src"])
        self.graph = nx.Graph()
        self.graph.add_nodes_from(range(n_repos))
        self.graph.add_edges_from(zip(e["src"].tolist(), e["dst"].tolist()))
        self._pagerank: dict[int, dict[int, float]] = {}

    def python_files(self) -> int:
        """Files the extractor keeps: the generator marks index i % 29 == 7
        as java."""
        n_files = self.n_repos * self.params[1]
        return n_files - sum(1 for i in range(7, n_files, 29))

    def components(self) -> dict[int, int]:
        """vid -> smallest vid of its connected component."""
        out = {}
        for comp in nx.connected_components(self.graph):
            label = min(comp)
            out.update(dict.fromkeys(comp, label))
        return out

    def pagerank(self, supersteps: int) -> dict[int, float]:
        """Reference PageRank unrolled for exactly ``supersteps`` supersteps."""
        if supersteps not in self._pagerank:
            sql = oracles.pagerank_sql(
                supersteps=supersteps, round_to=17,
                edges_cte=self.edges_cte, vertices_cte="",
            )
            self._pagerank[supersteps] = dict(self.con.execute(sql).fetchall())
        return self._pagerank[supersteps]

    def closeness(self, n_sources: int, round_to: int = 6) -> dict[int, float]:
        """round(Σ 1/d, round_to) over the ``n_sources`` smallest vids, by
        BFS; 0.0 for a vertex no source reaches."""
        total = dict.fromkeys(range(self.n_repos), 0.0)
        for s in range(n_sources):
            for v, d in nx.single_source_shortest_path_length(self.graph, s).items():
                if d > 0:
                    total[v] += 1.0 / d
        return {v: round(x, round_to) for v, x in total.items()}


def mismatches(got: dict, want: dict, close) -> list[str]:
    """Keys missing on either side, and values ``close`` rejects."""
    out = [f"missing {k}" for k in want.keys() - got.keys()]
    out += [f"unexpected {k}" for k in got.keys() - want.keys()]
    out += [
        f"{k}: got {got[k]!r}, want {want[k]!r}"
        for k in want.keys() & got.keys()
        if not close(got[k], want[k])
    ]
    return out


def exact(a, b) -> bool:
    return a == b


def rel_1e6(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-6, abs_tol=0.0)


def rounded_6(a: float, b: float) -> bool:
    """Equal to the 6th decimal. Spark and Python sum 1/d in different
    orders, so a sum sitting on a rounding tie may round one unit apart;
    any wrong distance moves the sum by at least 1/(d(d+1)) > 2e-3."""
    return abs(a - b) <= 1.5e-6
