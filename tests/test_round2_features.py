"""Round-2 feature tests: edge properties/labels through Graph, multi-table
LSH recall, event-stream operators, checkpoint hygiene, simhash banding
completeness, corpus vertex completeness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators import (
    degree_centrality,
    links,
    lpa,
    pagerank,
    personalized_pagerank,
    wcc,
)
from hugegraph_computer_spark.operators.dedup import simhash, simhash_near_pairs
from hugegraph_computer_spark.operators.events import sessionize, window_dedup
from hugegraph_computer_spark.operators.kcore import coreness
from hugegraph_computer_spark.operators.rings import rings_detection
from hugegraph_computer_spark.operators.similarity import (
    _plane_tables,
    embedding_near_dup_pairs,
    lsh_bucket,
)
from hugegraph_computer_spark.sources.extract import corpus_graph


# ------------------------------------------------- edge properties / labels
def test_single_per_label_edge_freq(spark):
    # duplicate (src,dst) pairs under two labels: SINGLE collapses to one
    # edge, SINGLE_PER_LABEL keeps one per label (EdgeFrequency.java:33-37)
    rows = [(1, 2, "a"), (1, 2, "a"), (1, 2, "b"), (2, 3, "a")]
    e = spark.createDataFrame(rows, "src long, dst long, label string")
    g_single = Graph.from_edges(e, label_col="label", edge_freq="single")
    g_perlab = Graph.from_edges(e, label_col="label", edge_freq="single_per_label")
    deg_s = {r["vid"]: r["degree"] for r in degree_centrality(g_single).collect()}
    deg_l = {r["vid"]: r["degree"] for r in degree_centrality(g_perlab).collect()}
    assert deg_s == {1: 1.0, 2: 2.0, 3: 1.0}
    assert deg_l == {1: 2.0, 2: 3.0, 3: 1.0}  # (1,2,a) and (1,2,b) both kept


def test_single_per_label_requires_label(spark):
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        Graph.from_edges(e, edge_freq="single_per_label")


def test_links_filters_on_edge_property(spark):
    # path 1-2-3-4 with weights; spread requires w >= 5 so the 3->4 hop
    # (w=1) is blocked: only the path reaching 3 is recorded
    rows = [(1, 2, 9.0), (2, 3, 7.0), (3, 4, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    g = Graph.from_edges(e, properties=["w"])
    out = links(
        g,
        start_cond="vid = 1",
        spread_cond="dst > src AND w >= 5",
        end_vertex_cond="vid >= 3",
    )
    got = {(r["vid"], tuple(r["path"])) for r in out.collect()}
    assert got == {(3, (1, 2, 3))}


def test_rings_spread_cond_on_property(spark):
    # triangle 1-2-3 all weight 1 except edge (1,3) weight 9; excluding
    # w >= 5 removes the closing edge -> no rings survive except 2-cycles
    rows = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 9.0)]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    g = Graph.from_edges(e, properties=["w"])
    all_rings = rings_detection(g).count()
    few_rings = rings_detection(g, spread_cond="w < 5").count()
    assert few_rings < all_rings


# ------------------------------------------------------- multi-table LSH
def test_multi_table_lsh_recall_and_bucket_bound(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 64))
    vecs, pairs = [], set()
    for i, b in enumerate(base):
        vecs.append(b)
    n = len(vecs)
    # 40 perturbed near-dups (cos >= ~0.95)
    for i, b in enumerate(base):
        v = b + 0.12 * rng.standard_normal(64)
        vecs.append(v)
        pairs.add((i, n + i))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9, exact=True).collect()
    }
    assert pairs <= exact
    multi = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, n_planes=8, n_tables=8, dim=64
        ).collect()
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, n_planes=8, n_tables=1, dim=64
        ).collect()
    }
    recall_multi = len(multi & exact) / len(exact)
    recall_single = len(single & exact) / len(exact)
    assert recall_multi >= 0.9
    assert recall_multi >= recall_single
    # bucket-size bound: with 8 planes no single bucket swallows the set
    planes = _plane_tables(64, 8, 1)[0]
    counts = (
        df.select(lsh_bucket(F.col("embedding"), planes).alias("b"))
        .groupBy("b")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert counts <= len(vecs) // 2


# --------------------------------------------------------------- events
def test_sessionize_gap_semantics(spark):
    us = 60_000_000
    rows = [
        # user 1: events at t=0, 10min, 50min (gap 40 > 30 -> new session)
        (1, 1, "1970-01-01 00:00:00", 1.0),
        (2, 1, "1970-01-01 00:10:00", 2.0),
        (3, 1, "1970-01-01 00:50:00", 4.0),
        # user 2: single event
        (4, 2, "1970-01-01 01:00:00", 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, value double"
    ).select(
        "event_id", "user_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value",
    )
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["value_sum"], r["start_us"])
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert out == {
        (1, 0): (2, 3.0, 0),
        (1, 1): (1, 4.0, 50 * us),
        (2, 0): (1, 8.0, 60 * us),
    }


def test_window_dedup_min_survivor(spark):
    rows = [
        (5, 1, "1970-01-01 00:10:00", "click"),
        (3, 1, "1970-01-01 00:20:00", "click"),   # same hour window
        (9, 1, "1970-01-01 01:20:00", "click"),   # next window
        (7, 1, "1970-01-01 00:30:00", "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string"
    ).select(
        "event_id", "user_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type",
    )
    out = {
        (r["user_id"], r["event_type"], r["win"]): (r["keep_event_id"], r["n_dups"])
        for r in window_dedup(ev, window_minutes=60).collect()
    }
    assert out == {
        (1, "click", 0): (3, 1),
        (1, "click", 1): (9, 0),
        (1, "view", 0): (7, 0),
    }


# ------------------------------------------------------ checkpoint hygiene
def _pinned(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def test_operators_release_checkpoints(spark):
    edges = [(i, i + 1) for i in range(30)] + [(30, 0), (0, 15)]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    before = _pinned(spark)
    from hugegraph_computer_spark.operators.betweenness import betweenness_centrality

    res = betweenness_centrality(g, sources=4)
    res.count()
    # the returned result frame plus the graph's SHARED flat-edges cache
    # (owned by Graph.unpersist, reused across operators) may stay
    # pinned — every per-level intermediate must be released
    assert _pinned(spark) <= before + 2
    cor = coreness(g)
    cor.count()
    # + coreness final state + the shared chunked adjacency
    assert _pinned(spark) <= before + 4
    g.unpersist()
    # graph-owned caches released; only the two result frames remain
    assert _pinned(spark) <= before + 2
    results = 2
    for op, kw in (
        (pagerank, {}),
        (personalized_pagerank, {"sources": [0, 7]}),
        (wcc, {}),
        (lpa, {}),
    ):
        out = op(g, **kw)
        out.count()
        results += 1
        # the returned state and graph-owned caches only: every earlier
        # superstep's local checkpoint is released
        assert _pinned(spark) <= before + results + len(g._adj_cache), op.__name__
    g.unpersist()
    assert _pinned(spark) <= before + results


# ------------------------------------------------- simhash banding coverage
def test_simhash_banding_complete_for_nondivisor_radius(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappax",
        "alpha beta gamma delta epsilon zeta eta thetax iotax kappax",
        "one two three four five six seven eight nine ten",
    ]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    for radius in (3, 6, 7):  # 7 bands / 8 bands don't divide 60
        expect = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= radius
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_pairs(d, max_hamming=radius).collect()
        }
        assert got == expect, f"radius={radius}"


# ------------------------------------------- corpus vertex completeness
def test_corpus_graph_keeps_isolated_repos(spark):
    rows = [
        ("repo_a", "a.py", "c1", "python", "import repo_b\n"),
        ("repo_b", "b.py", "c2", "python", "x = 1\n"),
        ("repo_c", "c.py", "c3", "python", "y = 2\n"),  # isolated
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    # relax the extractor's repo_\d{6} regex by renaming repos to the
    # canonical shape
    canon = {"repo_a": "repo_000000", "repo_b": "repo_000001", "repo_c": "repo_000002"}
    corpus = corpus.replace(canon, subset=["repo"]).withColumn(
        "content", F.regexp_replace("content", "repo_b", "repo_000001")
    )
    g, ids = corpus_graph(corpus)
    assert g.num_vertices() == 3  # isolated repo_000002 retained
    comp = {r["vid"]: r["component"] for r in wcc(g).collect()}
    assert comp[2] == 2  # singleton component
    pr = pagerank(g, l1_threshold=-1.0, max_supersteps=4)
    ranks = {r["vid"]: r["rank"] for r in pr.collect()}
    assert set(ranks) == {0, 1, 2} and ranks[2] > 0


# ----------------------------------------------------- shortlex UTF8 ids
def test_dense_ids_shortlex_vs_lex(spark):
    from hugegraph_computer_spark.graph.graph import dense_ids

    d = spark.createDataFrame([("n12",), ("n8",), ("n9",), ("n100",)], "r string")
    shortlex = {r["orig"]: r["vid"] for r in dense_ids(d, "r", order="shortlex").collect()}
    lex = {r["orig"]: r["vid"] for r in dense_ids(d, "r", order="lex").collect()}
    # shortlex: length first (BytesUtil.java:50-76) -> n8 < n9 < n12 < n100
    assert shortlex == {"n8": 0, "n9": 1, "n12": 2, "n100": 3}
    # plain lexicographic: n100 < n12 < n8 < n9 (differs!)
    assert lex == {"n100": 0, "n12": 1, "n8": 2, "n9": 3}


def test_wcc_string_ids_shortlex_component_label(spark):
    from hugegraph_computer_spark.graph.graph import dense_ids

    # one component {n8, n12, n30}: shortlex min = n8; plain lex would
    # pick n12 — the reference's BytesId UTF8 rule decides the label
    e = spark.createDataFrame(
        [("n12", "n8"), ("n8", "n30")], "src_id string, dst_id string"
    )
    ids = dense_ids(
        e.select(F.col("src_id").alias("r")).unionByName(
            e.select(F.col("dst_id").alias("r"))
        ),
        "r",
        order="shortlex",
    )
    src_ids = ids.select(F.col("orig").alias("src_id"), F.col("vid").alias("src"))
    dst_ids = ids.select(F.col("orig").alias("dst_id"), F.col("vid").alias("dst"))
    g = Graph.from_edges(e.join(src_ids, "src_id").join(dst_ids, "dst_id").select("src", "dst"))
    comp = wcc(g)
    names = ids.select("vid", F.col("orig").alias("name"))
    comp_name = {
        r["name"]
        for r in comp.join(
            ids.select(F.col("vid").alias("component"), F.col("orig").alias("cn")),
            "component",
        ).join(names, "vid").select(F.col("cn").alias("name")).collect()
    }
    assert comp_name == {"n8"}


# --------------------------------------------- HugeConverter type coercion
def test_property_type_coercion_closed_set(spark):
    from pyspark.sql.types import IntegerType
    from hugegraph_computer_spark.graph.graph import coerce_property_type

    rows = [(1, 2, 3, True, "x", [1.5])]
    e = spark.createDataFrame(
        rows, "src long, dst long, n tinyint, flag boolean, s string, arr array<double>"
    )
    g = Graph.from_edges(e, properties=["n", "flag", "s", "arr"])
    schema = {f.name: f.dataType for f in g.edges.schema.fields}
    assert isinstance(schema["n"], IntegerType)  # tinyint widened like Integer
    # closed-set columns pass through
    assert schema["flag"].simpleString() == "boolean"
    assert schema["arr"].simpleString() == "array<double>"
    # unsupported types throw like HugeConverter.convertValue
    bad = spark.createDataFrame(
        [(1, 2, {"k": "v"})], "src long, dst long, m map<string,string>"
    )
    with pytest.raises(ValueError, match="closed value type system"):
        Graph.from_edges(bad, properties=["m"])
    with pytest.raises(ValueError, match="closed value type system"):
        coerce_property_type(
            spark.createDataFrame([("2024-01-01",)], "d string")
            .select(F.col("d").cast("date"))
            .schema["d"].dataType,
            "d",
        )


# --------------------------------------- closeness spread-sampling knob
def test_closeness_sample_rate_underestimates(spark):
    from hugegraph_computer_spark.operators import closeness_centrality

    # path graph 0-1-2-...-9: full run yields exact closeness; sampled
    # forwarding can only miss/lengthen paths -> closeness <= exact, and
    # the run is deterministic (same hash gates) across invocations
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    g = Graph.from_edges(e)
    exact = {r["vid"]: r["closeness"] for r in closeness_centrality(g).collect()}
    s1 = {r["vid"]: r["closeness"]
          for r in closeness_centrality(g, sample_rate=0.5, job_name="cs_a").collect()}
    s2 = {r["vid"]: r["closeness"]
          for r in closeness_centrality(g, sample_rate=0.5, job_name="cs_b").collect()}
    assert s1 == s2  # deterministic sampling
    assert all(s1[v] <= exact[v] + 1e-9 for v in exact)
    assert any(s1[v] < exact[v] for v in exact)  # actually sampled


# ------------------------------------ multi-probe LSH + minhash bucket cap
def test_ivf_multiprobe_recall(spark):
    from hugegraph_computer_spark.operators.similarity import ivf_topk

    # corpus of 200 random vectors; 10 queries are small perturbations of
    # corpus vectors, so each query's true nearest neighbor is planted
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((200, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qrows = [
        (1000 + i, [float(x) for x in vecs[i] + 0.05 * rng.standard_normal(64)])
        for i in range(10)
    ]
    q = spark.createDataFrame(qrows, "vec_id long, embedding array<float>")

    def recall(res):
        hits = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
        return sum((1000 + i, i) in hits for i in range(10)) / 10

    rb = recall(ivf_topk(df, q, k=3, n_planes=10, n_tables=2, dim=64))
    rp = recall(
        ivf_topk(df, q, k=3, n_planes=10, n_tables=2, n_probes=2, dim=64)
    )
    # probed bucket set is a superset of the base bucket set, so recall
    # can only go up; with 10 planes the base misses some planted pairs
    # and Hamming-1 probing recovers them
    assert rp >= rb
    assert rp >= 0.8


def test_minhash_bucket_cap_drops_boilerplate(spark):
    from hugegraph_computer_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "common license header text repeated verbatim") for i in range(12)]
    pair = [(100, "a rare duplicated document body here xyz"),
            (101, "a rare duplicated document body here xyz")]
    d = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    uncapped = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(d).collect()}
    capped = {(r["doc_a"], r["doc_b"])
              for r in minhash_lsh_pairs(d, max_bucket=5).collect()}
    assert (100, 101) in uncapped and (100, 101) in capped
    # the 12-doc boilerplate bucket (66 pairs) is dropped by the cap
    assert any(a < 100 for a, _ in uncapped)
    assert not any(a < 100 for a, _ in capped)


# --------------------------------------------- near-dup clustering capstone
def test_dedup_clusters_transitive(spark):
    from hugegraph_computer_spark.operators.dedup import dedup_clusters

    y = "alpha beta gamma delta epsilon zeta eta theta"
    z = "iota kappa lambda mu nu xi omicron pi"
    docs = [
        (1, "one two three " + y),            # A ~ B via y
        (2, y + " " + z),                      # B ~ both
        (3, z + " seven eight nine ten"),      # C ~ B via z
        (9, "totally unrelated content goes here now indeed"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    # band_size=1 -> 16 single-minhash bands: candidate miss probability
    # for a Jaccard-0.35 pair is (1-J)^16 ~ 0.1% (band_size=2 would make
    # this test a coin flip at J~0.35)
    out = {r["doc_id"]: r["keep_id"]
           for r in dedup_clusters(d, threshold=0.2, band_size=1).collect()}
    # A-B and B-C verify; A-C does not — transitive closure still merges
    assert out[1] == out[2] == out[3] == 1
    assert out[9] == 9  # singleton keeps itself


def test_dedup_clusters_no_pairs(spark):
    from hugegraph_computer_spark.operators.dedup import dedup_clusters

    d = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee"), (2, "fff ggg hhh iii jjj")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["keep_id"] for r in dedup_clusters(d).collect()}
    assert out == {1: 1, 2: 2}
