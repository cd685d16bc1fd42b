"""Connected components vs union-find, S5 store semantics, sketch bounds."""

from __future__ import annotations

import random

from scipi_spark.operators.graph import connected_components, dedup_clusters
from scipi_spark.plans import relational
from scipi_spark.sources.store import latest_publications
from tests.conftest import SF_SMOKE


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comp = {}
    for v in list(parent):
        comp[v] = find(v)
    # normalize: component label = min member
    groups = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    out = {}
    for members in groups.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def test_connected_components_random_graph(spark):
    rng = random.Random(5)
    edges = [(rng.randint(0, 80), rng.randint(0, 80)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["comp"] for r in connected_components(edf).collect()}
    want = _uf_components(edges)
    assert got == want


def test_connected_components_nonconvergence_detected(spark):
    import pytest

    # a 9-node chain has diameter 8: hash-min cannot finish in 2 rounds
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edf, max_iterations=2)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edf, max_iterations=2, strict=True)
    # and with budget it converges exactly
    got = {r["id"]: r["comp"] for r in connected_components(edf).collect()}
    assert set(got.values()) == {0}


def test_dedup_clusters_chain(spark):
    # chain 1-2-3 plus isolated pair 7-9: transitive closure matters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    got = {r["doc"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_latest_publications_lww(spark):
    rows = [
        ("d1", "t1", "a", "acm"),
        ("d1", "t1", "b", "ieee"),  # later write wins (max id)
        ("d2", "t2", "a", "acm"),
        ("d1", "t9", "a", "acm"),  # different title -> separate key
    ]
    df = spark.createDataFrame(rows, "doi string, title string, id string, publisher string")
    got = {
        (r["doi"], r["title"]): (r["id"], r["publisher"])
        for r in latest_publications(df).collect()
    }
    assert got == {
        ("d1", "t1"): ("b", "ieee"),
        ("d2", "t2"): ("a", "acm"),
        ("d1", "t9"): ("a", "acm"),
    }


def test_approx_distinct_within_bounds(spark):
    rows = {
        r["event_type"]: r
        for r in relational.events_approx_distinct(spark, SF_SMOKE).collect()
    }
    from scipi_spark.sources.tables import load_events
    import pyspark.sql.functions as F

    exact = {
        r["event_type"]: r["n"]
        for r in load_events(spark, SF_SMOKE)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k in exact:
        # the entry emits the exact count plus its own HLL bound check
        assert rows[k]["exact_users"] == exact[k]
        assert rows[k]["sketch_within_bounds"] is True


def test_triangle_counts_known_graph(spark):
    from scipi_spark.operators.graph import triangle_counts

    # K4 on {a,b,c,d} (4 triangles, each vertex in 3) plus a pendant
    # edge d-e (e in no triangle, never emitted)
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"),
    ]
    edf = spark.createDataFrame(edges, "u string, v string")
    got = {r["vertex"]: r["n_triangles"] for r in triangle_counts(edf).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_pagerank_star_graph(spark):
    from scipi_spark.operators.graph import pagerank

    # undirected star: hub h + 4 leaves. By symmetry every leaf has the
    # same rank; ranks sum to ~1 (no dangling mass on an edge graph)
    edges = [("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4")]
    edf = spark.createDataFrame(edges, "u string, v string")
    got = {r["vertex"]: r["rank"] for r in pagerank(edf, iterations=10).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    leaf_ranks = {v for k, v in got.items() if k != "h"}
    assert len(leaf_ranks) == 1          # symmetric leaves identical
    # fixed point: h = 0.15/5 + 0.85*4*leaf, leaf = 0.15/5 + 0.85*h/4
    # -> h ~ 0.421, leaf ~ 0.145 (hub ~2.9x a leaf)
    assert got["h"] > 2 * max(leaf_ranks)


def test_pivot_unpivot_round_trip(spark):
    from pyspark.sql import functions as F

    from scipi_spark.plans.relational import events_pivot_wide, events_unpivot
    from scipi_spark.sources.tables import load_events

    wide = events_pivot_wide(spark, SF_SMOKE)
    back = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in events_unpivot(wide).collect()
    }
    long = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in load_events(spark, SF_SMOKE)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert back == long  # unpivot(pivot(x)) == x


def test_star_cc_matches_unionfind_random_graphs(spark):
    """Large-star/small-star CC equals union-find ground truth on random
    graphs of several densities (incl. isolated pairs and big hubs)."""
    from scipi_spark.operators.graph import connected_components_star

    rng = random.Random(11)
    for n, m in [(40, 15), (80, 60), (60, 120)]:
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        edf = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["comp"]
            for r in connected_components_star(edf).collect()
        }
        assert got == _uf_components(edges), (n, m)


def test_star_cc_converges_where_hashmin_budget_splits(spark):
    """The deep-graph claim: on a 41-node chain (diameter 40), hash-min
    with a 7-round budget provably leaves split labels, while the star
    contraction finishes inside 7 ROUNDS (O(log n), fixpoint detection
    included — measured exactly 7 for this chain), within 3 of
    log2(depth)."""
    import math

    import pytest

    from scipi_spark.operators.graph import connected_components_star

    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edf, max_iterations=7)
    st: dict = {}
    got = {
        r["id"]: r["comp"]
        for r in connected_components_star(
            edf, max_rounds=7, stats=st
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == 41
    assert abs(st["rounds"] - math.log2(40)) <= 3, st


def _shallow_edges(spark, n: int):
    """Communities of 10 over vertex ids 0..n-1: vertex 10c is the hub
    with spokes 10c+1..10c+6 (pairs (1,2)(3,4)(5,6) ring-linked so they
    survive a k=2 peel) and a pendant chain 10c+6 - 10c+7 - 10c+8 -
    10c+9 (tendril depth 2 for the peel; diameter ~5 for hash-min CC).
    Structure — and therefore every algorithm's round count — is
    identical at every n; only the volume grows."""
    from pyspark.sql import functions as F

    v = spark.range(n).withColumn("j", F.col("id") % 10)
    spoke = v.filter(F.col("j").between(1, 6)).select(
        (F.col("id") - F.col("j")).alias("src"), F.col("id").alias("dst")
    )
    chain = v.filter(F.col("j").isin([2, 4, 6, 7, 8, 9])).select(
        (F.col("id") - 1).alias("src"), F.col("id").alias("dst")
    )
    return spoke.unionByName(chain).localCheckpoint(eager=True)


def test_graph_round_counts_track_structure_not_size(spark):
    """Rounds of the iterative graph operators track a structural
    property (diameter, log-diameter, tendril depth), never n: on the
    fixed-structure fixture they are identical at n and 2n."""
    from pyspark.sql import functions as F

    from scipi_spark.operators.graph import (
        connected_components_star,
        kcore_peel,
    )

    def rounds(n):
        edges = _shallow_edges(spark, n)
        hm: dict = {}
        connected_components(edges, stats=hm).count()
        star: dict = {}
        connected_components_star(edges, stats=star).count()
        peel = (
            kcore_peel(edges, k=2, max_rounds=12)
            .agg(F.max(F.when(~F.col("in_core"), F.col("survived_rounds"))))
            .first()[0]
        )
        edges.unpersist()
        return hm["rounds"], star["rounds"], peel

    small, large = rounds(200), rounds(400)
    assert small == large, (small, large)


def test_kcore_peel_structure(spark):
    """Triangle + pendant chain: the triangle is the 2-core; chain
    vertices peel outside-in with survived_rounds = their depth; core
    vertices carry the round cap."""
    from scipi_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {
        r["vertex"]: (r["survived_rounds"], r["in_core"])
        for r in graph.kcore_peel(edges, k=2, max_rounds=8).collect()
    }
    assert out[5] == (0, False)  # degree 1: peels immediately
    assert out[4] == (1, False)  # loses its only support next round
    for v in (1, 2, 3):
        assert out[v] == (8, True)
    # k=3: nothing survives (triangle degrees are 2)
    out3 = graph.kcore_peel(edges, k=3, max_rounds=8).collect()
    assert all(not r["in_core"] for r in out3)
    assert {r["vertex"] for r in out3} == {1, 2, 3, 4, 5}


def test_kcore_peel_cap_reports_remaining_as_core(spark):
    """A chain longer than the round cap: the unpeeled middle reports
    in_core at the cap — the documented approximation direction."""
    from scipi_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    out = graph.kcore_peel(chain, k=2, max_rounds=3).collect()
    core = {r["vertex"] for r in out if r["in_core"]}
    # 3 rounds peel 3 vertices from each end; the middle 7 hit the cap
    assert core == set(range(3, 10))


def test_kcore_peel_converged_flag(spark):
    """Round-10 (r9 advice): the constant ``converged`` column separates
    a true fixpoint from a capped peel — the capped chain reports
    converged=False while the triangle fixture reports True."""
    from scipi_spark.operators import graph

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    out = graph.kcore_peel(tri, k=2, max_rounds=8).collect()
    assert all(r["converged"] for r in out)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    capped = graph.kcore_peel(chain, k=2, max_rounds=3).collect()
    assert all(not r["converged"] for r in capped)
