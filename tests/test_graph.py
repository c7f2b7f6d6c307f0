"""Graph operators over the triple table: degrees, neighbors, two-hop, PageRank
(determinism + sanity on a hand-checkable graph), triangles, edge PMI."""

from __future__ import annotations

import pytest

from smart_pdf_md_spark.operators.graph import (
    degrees,
    neighbors,
    pagerank,
    two_hop_paths,
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        ("a", "CALLS", "b"), ("a", "CALLS", "c"), ("b", "CALLS", "c"),
        ("c", "CALLS", "d"), ("x", "IMPORTS", "y"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_degrees(tiny):
    d = {r.node: (r.out_degree, r.in_degree) for r in degrees(tiny).collect()}
    assert d["a"] == (2, 0)
    assert d["c"] == (1, 2)
    assert d["d"] == (0, 1)
    assert d["y"] == (0, 1)


def test_neighbors(tiny):
    out = {r.neighbor for r in neighbors(tiny, "a").collect()}
    assert out == {"b", "c"}
    inn = {r.neighbor for r in neighbors(tiny, "c", "in").collect()}
    assert inn == {"a", "b"}


def test_two_hop(tiny):
    paths = {(r.a, r.b, r.c) for r in two_hop_paths(tiny, "CALLS", "CALLS").collect()}
    assert paths == {("a", "b", "c"), ("a", "c", "d"), ("b", "c", "d")}


@pytest.mark.slow
def test_pagerank_sane_and_deterministic(tiny):
    r1 = {r.node: r.rank for r in pagerank(tiny, iterations=8).collect()}
    r2 = {r.node: r.rank for r in pagerank(tiny, iterations=8).collect()}
    assert r1 == r2  # deterministic
    # mass conservation: sum ≈ number of nodes
    assert abs(sum(r1.values()) - len(r1)) < 1e-3
    # sink-chain end 'd' and hub 'c' outrank sources
    assert r1["c"] > r1["a"]
    assert r1["d"] > r1["a"]


@pytest.mark.slow
def test_kg_pagerank_runs(spark, corpus_sdf):
    from smart_pdf_md_spark.plans.pipeline import build_triples
    t = build_triples(spark, corpus_sdf)["triples"]
    pr = pagerank(t, iterations=3)
    assert pr.count() > 0
    assert pr.filter("rank <= 0").count() == 0


def test_two_hop_calls_matches_oracle_and_is_nonempty(spark, corpus_sdf, corpus_pdf):
    """Symbol-space CALLS must compose: (f CALLS g)⋈(g CALLS h) over the
    corpus yields the exact path set the pandas oracle derives, and that set
    is nonempty by construction (VERDICT r1: the old file::enclosing subj
    made this join structurally vacuous)."""
    from smart_pdf_md_spark.oracle import oracle_triples
    from smart_pdf_md_spark.plans.pipeline import build_triples

    t = build_triples(spark, corpus_sdf)["triples"]
    got = {(r.a, r.b, r.c) for r in two_hop_paths(t, "CALLS", "CALLS").collect()}

    calls = oracle_triples(corpus_pdf).query("pred == 'CALLS'")
    import pandas as pd
    want_df = pd.merge(
        calls.rename(columns={"subj": "a", "obj": "b"})[["a", "b"]],
        calls.rename(columns={"subj": "b", "obj": "c"})[["b", "c"]],
        on="b")
    want = {tuple(r) for r in want_df.itertuples(index=False)}
    assert got == want
    assert len(got) > 100  # chains exist by construction (shared symbol vocab)


def test_salted_count_equals_plain_on_skewed_corpus(spark, corpus_sdf):
    """J5 on the planted mega-repo: the salted two-phase aggregate returns
    exactly the plain groupBy result (the salt only reshapes the shuffle)."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.operators.skew import salted_agg

    sized = corpus_sdf.withColumn("size", F.length("content"))
    got = {r.repo: (r.n, r.sum_value) for r in
           salted_agg(sized, "repo", "size", ["repo", "path"]).collect()}
    want = {r.repo: (r.n, r.s) for r in
            sized.groupBy("repo").agg(F.count("*").alias("n"),
                                      F.sum("size").alias("s")).collect()}
    assert got == want
    counts = [n for n, _ in want.values()]
    assert max(counts) > sum(counts) * 0.25  # skew is real


def test_triangle_count_exact_vs_bruteforce(spark):
    """Degree-ordered triangle counting == brute-force enumeration on a
    random graph (each triangle counted exactly once regardless of edge
    direction, duplicates, self-loops, or a planted hub), plus known
    closed forms: K4 has 4 triangles, a 4-cycle has 0."""
    import itertools
    import random

    from smart_pdf_md_spark.operators.graph import triangle_count

    def tri(edge_list):
        rows = [(a, "E", b) for a, b in edge_list]
        df = spark.createDataFrame(rows, ["subj", "pred", "obj"])
        return triangle_count(df).collect()[0].n_triangles

    k4 = list(itertools.combinations("abcd", 2))
    assert tri(k4) == 4
    assert tri([("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]) == 0
    # direction + duplicate edges + self-loops must not change the count
    assert tri(k4 + [(b, a) for a, b in k4] + [("a", "a")]) == 4

    rng = random.Random(13)
    nodes = [f"n{i}" for i in range(30)]
    edges = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(120)}
    edges |= {("hub", n) for n in nodes}  # planted hub (skew)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(1 for x, y, z in itertools.combinations(sorted(adj), 3)
                if y in adj[x] and z in adj[x] and z in adj[y])
    assert tri(list(edges)) == brute > 0


def test_edge_pmi_known_values_and_duckdb_parity(spark):
    """PMI edge confidence: an exclusive (s,d) habit scores above a pair
    of independently-popular endpoints; exact DuckDB parity on the
    ln-formula; the single-edge corpus hits the npmi=1 convention."""
    import duckdb
    import math
    import pandas as pd

    from smart_pdf_md_spark.operators.graph import edge_pmi

    # a<->x exclusively (4 times); hub h touches many dsts once each
    rows = ([("a", "x")] * 4 +
            [("h", f"d{i}") for i in range(4)] +
            [("b", "d0"), ("c", "d1")])
    edges_pd = pd.DataFrame(rows, columns=["src", "dst"])
    edges = spark.createDataFrame(edges_pd)

    got = {(r.src, r.dst): r for r in edge_pmi(edges).collect()}
    n_tot = len(rows)
    want_ax = math.log((4 * n_tot) / (4 * 4))
    assert got[("a", "x")].pmi == round(want_ax + 1e-9, 4)
    assert got[("a", "x")].pmi > got[("h", "d0")].pmi
    assert -1 < got[("h", "d0")].npmi < got[("a", "x")].npmi <= 1

    con = duckdb.connect()
    con.register("edges", edges_pd)
    want = con.execute("""
    WITH pair AS (SELECT src, dst, count(*) AS n FROM edges GROUP BY 1, 2),
    s AS (SELECT src, sum(n) AS n_src FROM pair GROUP BY src),
    d AS (SELECT dst, sum(n) AS n_dst FROM pair GROUP BY dst),
    t AS (SELECT sum(n) AS n_tot FROM pair)
    SELECT src, dst, n,
           round(ln((n * n_tot * 1.0) / (n_src * n_dst)) + 1e-9, 4) AS pmi,
           round(CASE WHEN n = n_tot THEN 1.0
                 ELSE ln((n * n_tot * 1.0) / (n_src * n_dst))
                      / -ln(n * 1.0 / n_tot) END + 1e-9, 4) AS npmi
    FROM pair JOIN s USING (src) JOIN d USING (dst) CROSS JOIN t
    ORDER BY src, dst
    """).df()
    got_pd = (edge_pmi(edges).toPandas()
              .sort_values(["src", "dst"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got_pd, want, check_dtype=False,
                                  check_exact=False, rtol=0, atol=1e-9)

    single = edge_pmi(spark.createDataFrame([("s", "t")], ["src", "dst"]))
    assert single.collect()[0].npmi == 1.0
