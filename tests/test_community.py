"""Community module tests (C1-C16): extraction semantics (incl. the
last-author quirk), and the LPA loop vs a pure-Python replication of
Flink's CommunityDetection on a planted-partition co-authorship graph."""

from __future__ import annotations

import itertools
import random
import re
from collections import defaultdict

from pyspark.sql import functions as F

from scipi_spark.operators import community as comm
from tests.oracle import executed_plan, formatted_plan

PUB_SCHEMA = (
    "title string, publisher string, venue string, authors array<string>, "
    "keywords array<string>, fos array<string>"
)


def _pubs(spark):
    rows = [
        ("p1", "acm", "kdd", ["a1", "a2", "a3"], ["graph"], ["cs"]),
        ("p2", None, "kdd", ["a2"], ["ml"], ["cs"]),
        ("p3", "acm", None, ["a4", "a5"], ["db"], ["bio"]),
    ]
    return spark.createDataFrame(rows, PUB_SCHEMA)


def test_relevance_filter(spark):
    pubs = _pubs(spark)
    assert comm.relevance_filter(pubs, keywords=["graph"]).count() == 1
    assert comm.relevance_filter(pubs, domains=["cs"]).count() == 2
    assert comm.relevance_filter(pubs, keywords=["db"], domains=["cs"]).count() == 3
    assert comm.relevance_filter(pubs).count() == 3


def test_extract_vertices(spark):
    got = {
        (r["id"], r["vtype"]) for r in comm.extract_vertices(_pubs(spark)).collect()
    }
    assert ("p1", "PAPER") in got
    assert ("acm", "PUBLISHER") in got
    assert ("kdd", "VENUE") in got
    assert ("a1", "AUTHOR") in got
    assert len(got) == 3 + 1 + 1 + 5  # papers + acm + kdd + authors


def test_extract_edges_last_author_quirk(spark):
    edges = [
        (r["src"], r["dst"]) for r in comm.extract_edges(_pubs(spark)).collect()
    ]
    # paper->publisher/venue
    assert ("p1", "acm") in edges and ("p1", "kdd") in edges
    assert ("p2", "kdd") in edges
    # author->paper: a1,a2 yes; a3 (last of 3) NO
    assert ("a1", "p1") in edges and ("a2", "p1") in edges
    assert ("a3", "p1") not in edges
    # single author gets the edge
    assert ("a2", "p2") in edges
    # two authors: first yes, last no
    assert ("a4", "p3") in edges and ("a5", "p3") not in edges
    # all co-author pairs i<j
    assert ("a1", "a2") in edges and ("a1", "a3") in edges and ("a2", "a3") in edges
    assert ("a4", "a5") in edges


# ---------------------------------------------------------------------------
# pure-Python replication of Flink CommunityDetection (scatter-gather)
# ---------------------------------------------------------------------------

def _lpa_py(init_labels, edges, iterations, delta):
    """init_labels: {id: int}; edges: multiset of (src, dst, weight)."""
    out_neighbors = defaultdict(list)
    for s, d, w in edges:
        out_neighbors[s].append((d, w))
        out_neighbors[d].append((s, w))
    label = dict(init_labels)
    score = {v: 1.0 for v in init_labels}
    for step in range(1, iterations + 1):
        sums = defaultdict(float)
        maxs = {}
        for v in init_labels:
            for (nbr, w) in out_neighbors[v]:
                m = score[v] * w
                sums[(nbr, label[v])] += m
                key = (nbr, label[v])
                if key not in maxs or m > maxs[key]:
                    maxs[key] = m
        new_label, new_score = {}, {}
        by_vertex = defaultdict(list)
        for (v, lbl), s in sums.items():
            by_vertex[v].append((lbl, s))
        for v, lblscores in by_vertex.items():
            # max sum, ties -> smallest label
            best = sorted(lblscores, key=lambda t: (-t[1], t[0]))[0][0]
            new_label[v] = best
            # Flink decays the score only when the label changes
            penalty = delta / step if best != label[v] else 0.0
            new_score[v] = maxs[(v, best)] - penalty
        for v in init_labels:
            if v in new_label:
                label[v], score[v] = new_label[v], new_score[v]
    return label


def test_lpa_matches_python_reference(spark):
    rng = random.Random(7)
    # planted partition: 3 communities of 12, dense intra, sparse inter
    communities = [[f"c{c}v{i}" for i in range(12)] for c in range(3)]
    edges = []
    for c in communities:
        for a, b in itertools.combinations(c, 2):
            if rng.random() < 0.6:
                edges.append((a, b, 1.0))
    allv = [v for c in communities for v in c]
    for _ in range(5):
        a, b = rng.sample(allv, 2)
        edges.append((a, b, 1.0))
    # a vertex with no edge keeps its seed label through the name join
    allv.append("isolated")

    vdf = spark.createDataFrame([(v,) for v in allv], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = {
        r["id"]: r["label"]
        for r in comm.community_detection(vdf, edf, iterations=10, delta=0.5).collect()
    }

    init = {
        r["id"]: r["label"]
        for r in vdf.select("id", F.xxhash64("id").alias("label")).collect()
    }
    want = _lpa_py(init, edges, iterations=10, delta=0.5)
    assert got == want
    assert got["isolated"] == init["isolated"]
    # sanity: intra-community agreement dominates
    for c in communities:
        labels = [got[v] for v in c]
        majority = max(set(labels), key=labels.count)
        assert labels.count(majority) >= len(c) // 2


def test_dense_communities_and_decoration(spark):
    pubs = _pubs(spark)
    vertices = comm.extract_vertices(pubs)
    edges = comm.extract_edges(pubs)
    labels = comm.community_detection(vertices, edges, iterations=5, delta=0.5)
    sizes = comm.community_sizes(labels, min_size=2)
    top = comm.top_communities(sizes, n=2)
    assert len(top) <= 2
    kept_v, kept_e = comm.subgraph_by_labels(vertices, edges, labels, top)
    dec = comm.decorate_edges(kept_v, kept_e)
    assert set(dec.columns) == {
        "name_a", "type_a", "label_a", "name_b", "type_b", "label_b"
    }
    # every decorated edge endpoint is in a kept community
    kept_ids = {r["id"] for r in kept_v.collect()}
    for r in dec.collect():
        assert r["name_a"] in kept_ids and r["name_b"] in kept_ids


def test_community_strength(spark):
    sizes = spark.createDataFrame(
        [(1, 10), (2, 30)], "label long, count long"
    )
    got = comm.community_strength(sizes).collect()[0]["strength"]
    # total=40; sum(10*10/40 + 30*30/40)/100 = (2.5+22.5)/100 = 0.25
    assert got == 0.25


def test_extract_edges_hashed_equivalence(spark):
    """extract_edges with a hash_fn must equal extract_edges followed by
    xxhash64 on both endpoints — same multiset, weights included."""
    pubs = _pubs(spark)
    via_strings = sorted(
        map(
            tuple,
            comm.extract_edges(pubs)
            .select(
                F.xxhash64("src").alias("src"),
                F.xxhash64("dst").alias("dst"),
                "weight",
            )
            .collect(),
        )
    )
    direct = sorted(
        map(tuple, comm.extract_edges(pubs, hash_fn=F.xxhash64).collect())
    )
    assert direct == via_strings


def _lambda_depths(expr: str, call: str) -> list[int]:
    """For each ``call(`` in an expression string, how many
    ``lambdafunction(`` bodies enclose it."""
    depths, stack = [], []
    for m in re.finditer(r"(\w*)\(|\)", expr):
        if m.group(0) == ")":
            stack.pop()
            continue
        if m.group(1) == call:
            depths.append(stack.count("lambdafunction"))
        stack.append(m.group(1))
    return depths


def test_extract_edges_hashes_each_name_once(spark):
    """With a ``hash_fn`` the author list, title and publisher/venue are
    hashed once per publication, before any pair is formed: the
    generator holds three hash calls, and none sits inside the
    co-author lambda or any lambda body but the one that hashes an
    array's elements."""
    df = comm.extract_edges(_pubs(spark), hash_fn=F.xxhash64)

    def nodes(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from nodes(kids.apply(i))

    plan = df._jdf.queryExecution().optimizedPlan()
    generators = [
        n.generator().toString() for n in nodes(plan) if n.nodeName() == "Generate"
    ]
    assert len(generators) == 1, generators
    depths = _lambda_depths(generators[0], "xxhash64")
    assert sorted(depths) == [0, 1, 1], (depths, generators[0])


def _edges_py(rows):
    """The reference's edge ``flatMap`` (``ScipiBatchCommunity.java:
    411-462``) over (title, publisher, venue, authors, ...) rows."""
    out = []
    for title, publisher, venue, authors, *_ in rows:
        out += [(title, x, 1.0) for x in (publisher, venue) if x]
        a = authors or []
        for i, ai in enumerate(a):
            if i == 0 or i < len(a) - 1:
                out.append((ai, title, 1.0))
            out += [(ai, aj, 1.0) for aj in a[i + 1:]]
    return out


def _vertices_py(rows):
    """The reference's vertex ``flatMap`` (``ScipiBatchCommunity.java:
    371-407``), deduped on id with the min type."""
    out = {}
    for title, publisher, venue, authors, *_ in rows:
        named = [(title, "PAPER"), (publisher, "PUBLISHER"), (venue, "VENUE")]
        named += [(a, "AUTHOR") for a in authors or []]
        for vid, vtype in named:
            if vid:
                out[vid] = min(out.get(vid, vtype), vtype)
    return set(out.items())


def test_extract_missing_fields_match_reference(spark):
    """NULL or empty authors, a one-author paper, and '' or NULL
    publisher/venue: the names path, the hashed path and the vertices
    follow the reference flatMaps, and a NULL author list keeps its
    publisher and venue edges on the hashed path too."""
    rows = [
        ("m1", "acm", "kdd", None, [], []),
        ("m2", "ieee", "", [], [], []),
        ("m3", "", None, ["b1"], [], []),
        ("m4", None, "vldb", ["b1", "b2", "b3"], [], []),
        ("m5", "", "", ["b2", "b4"], [], []),
    ]
    pubs = spark.createDataFrame(rows, PUB_SCHEMA)
    multiset = lambda df: sorted(map(tuple, df.collect()))
    names = comm.extract_edges(pubs)
    assert multiset(names) == sorted(_edges_py(rows))
    hashed = comm.extract_edges(pubs, hash_fn=F.xxhash64)
    assert multiset(hashed) == multiset(
        names.select(
            F.xxhash64("src").alias("src"),
            F.xxhash64("dst").alias("dst"),
            "weight",
        )
    )
    assert {
        tuple(r) for r in comm.extract_vertices(pubs).collect()
    } == _vertices_py(rows)


def _mirrored_py(edges):
    """Mirrored (src, dst, w_sum, w_max) reference: one row per self-loop
    with each weight counted twice, both directions for any other pair."""
    agg = {}
    for s, d, w in edges:
        key = (min(s, d), max(s, d))
        w_sum, w_max = agg.get(key, (0.0, w))
        agg[key] = (w_sum + (2 * w if s == d else w), max(w_max, w))
    out = []
    for (a, b), (w_sum, w_max) in agg.items():
        out.append((a, b, w_sum, w_max))
        if a != b:
            out.append((b, a, w_sum, w_max))
    return sorted(out)


def test_aggregate_undirected_self_loops(spark):
    """Self-loops, reversed duplicates and parallel edges of different
    weights, with string endpoints (hashed by the aggregate) and with
    long endpoints (taken as already hashed)."""
    edges = [
        ("x", "x", 1.0), ("x", "x", 2.5), ("x", "y", 1.0), ("y", "x", 2.0),
        ("x", "y", 0.5), ("y", "z", 1.0), ("z", "z", 0.5), ("z", "y", 3.0),
    ]
    names = spark.createDataFrame(edges, "src string, dst string, weight double")
    h = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([("x",), ("y",), ("z",)], "v string")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    want = _mirrored_py([(h[s], h[d], w) for s, d, w in edges])
    got = sorted(map(tuple, comm.aggregate_undirected(names).collect()))
    assert got == want

    ids = {"x": 1, "y": 2, "z": 3}
    longs = spark.createDataFrame(
        [(ids[s], ids[d], w) for s, d, w in edges],
        "src long, dst long, weight double",
    )
    got = sorted(map(tuple, comm.aggregate_undirected(longs).collect()))
    assert got == _mirrored_py([(ids[s], ids[d], w) for s, d, w in edges])
    assert (1, 1, 7.0, 2.5) in got and (3, 3, 1.0, 0.5) in got


def test_lpa_endpoint_seed_matches_vertex_seed(spark):
    """vertices=None must produce the same
    community-size histogram as the named path (every vertex here has an
    edge, so no isolated-vertex divergence)."""
    pubs = _pubs(spark)
    vertices = comm.extract_vertices(pubs)
    edges = comm.extract_edges(pubs)
    named = comm.community_detection(vertices, edges, iterations=3, delta=0.5)
    mirrored = (
        comm.aggregate_undirected(comm.extract_edges(pubs, hash_fn=F.xxhash64))
        .repartition(2, F.col("src"))
        .persist()
    )
    hashed = comm.community_detection(
        vertices=None,
        edges=None,
        iterations=3,
        delta=0.5,
        mirrored=mirrored,
    )
    hist = lambda df: sorted(
        r["count"]
        for r in df.groupBy("label").agg(F.count(F.lit(1)).alias("count")).collect()
    )
    # labels are xxhash64(name) in both paths, so full (label, size)
    # equality holds, not just the histogram
    named_sizes = sorted(
        map(tuple, comm.community_sizes(named, min_size=1).collect())
    )
    hashed_sizes = sorted(
        map(tuple, comm.community_sizes(hashed, min_size=1).collect())
    )
    assert named_sizes == hashed_sizes
    assert hist(named) == hist(hashed)
    mirrored.unpersist()


def test_graph_store_lpa_matches_direct(spark, tmp_path):
    """LPA over the persisted bucketed edge store equals LPA over the
    directly-built mirrored table (labels are identical, not just
    histogram-equal), and the store's message join consumes the bucket
    partitioning with NO edge-side Exchange."""
    import re

    pubs = _pubs(spark)
    edges = comm.extract_edges(pubs)
    comm.write_graph_store(
        edges, str(tmp_path / "graph_store"), table="t_graph_store", n_buckets=4
    )
    try:
        store_lpa = comm.community_detection_from_store(
            spark, table="t_graph_store", iterations=3, delta=0.5
        )
        mirrored = (
            comm.aggregate_undirected(comm.extract_edges(pubs, hash_fn=F.xxhash64))
            .repartition(2, F.col("src"))
            .persist()
        )
        direct = comm.community_detection(
            vertices=None,
            edges=None,
            iterations=3,
            delta=0.5,
            mirrored=mirrored,
        )
        assert sorted(map(tuple, store_lpa.collect())) == sorted(
            map(tuple, direct.collect())
        )
        mirrored.unpersist()

        # plan evidence: the message join runs with ZERO Exchange — the
        # store scan carries the bucket partitioning, and the state seed
        # (derived from the store's endpoints) inherits it, so neither
        # side shuffles at all
        stored = spark.table("t_graph_store")
        state = stored.select(F.col("src").alias("id")).distinct().select(
            "id", F.col("id").alias("label"), F.lit(1.0).alias("score")
        )
        msgs = stored.join(
            state.select(
                F.col("id").alias("src"), F.col("label"), F.col("score")
            ).hint("shuffle_hash"),
            "src",
        )
        plan = formatted_plan(msgs)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_graph_store")


def test_community_pipeline_composed_lifecycle(spark):
    """The composed C1->C14 gate row (entry `community_pipeline`): the
    poison cross-community publication must be dropped by C1 (if it
    survived, all 34 planted components would merge into one and the
    top-3 cut would collapse); LPA converges to one label per component;
    the decorated output is exactly the top-3 components' edges."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    pubs = entrymod._planted_pipeline_pubs(spark, sf)
    # 34 planted + 1 noise
    assert pubs.count() == 35
    relevant = comm.relevance_filter(
        pubs, keywords=["planted"], domains=["graphs"]
    )
    assert relevant.filter(F.col("title") == "noisepaper").count() == 0
    assert relevant.count() == 34

    out = entrymod._q_community_pipeline(spark, sf).collect()
    # component sizes 16/14/12 -> edge counts 92/67/46 (2 + (a-1) + C(a,2)
    # for a = 13/11/9 authors)
    assert len(out) == 92 + 67 + 46
    by_comm = defaultdict(int)
    for r in out:
        assert r["community_a"] == r["community_b"]  # components disjoint
        by_comm[r["community_a"]] += 1
    assert by_comm == {"paper0": 92, "paper1": 67, "paper2": 46}
    types = {(r["type_a"], r["type_b"]) for r in out}
    # every edge family of C4 appears decorated: paper->pub, paper->ven,
    # author->paper, author co-authorship
    assert types == {
        ("PAPER", "PUBLISHER"),
        ("PAPER", "VENUE"),
        ("AUTHOR", "PAPER"),
        ("AUTHOR", "AUTHOR"),
    }
    # the last-author quirk: per component, author->paper edges = n-1
    ap = [r for r in out if r["type_a"] == "AUTHOR" and r["type_b"] == "PAPER"]
    ap_by = defaultdict(int)
    for r in ap:
        ap_by[r["community_a"]] += 1
    assert ap_by == {"paper0": 12, "paper1": 10, "paper2": 8}


def test_graph_store_append_fold_matches_rebuild(spark, tmp_path):
    """Round-12: the graph-store fold. Build the store from slice A,
    fold slice B in via append_graph_store (partial aggregated rows),
    and the merged relation — and the LPA labels over it — must be
    bit-identical to a from-scratch write_graph_store over A union B.
    Also pins: the merge aggregate over the bucketed scan is
    Exchange-free, compaction rewrites the store one-row-per-pair and
    resets the delta counter, and a recipe-mismatched append raises."""
    import re

    import pytest

    from scipi_spark.sources import storectl

    # slices share the (a1, a2) co-author pair (and a4's self-pub in B
    # adds a fresh vertex), so the fold really exercises partial-row
    # merging, not just disjoint appends
    slice_a = spark.createDataFrame(
        [
            ("p1", "acm", "kdd", ["a1", "a2", "a3"], ["graph"], ["cs"]),
            ("p2", None, "kdd", ["a2"], ["ml"], ["cs"]),
        ],
        PUB_SCHEMA,
    )
    slice_b = spark.createDataFrame(
        [
            ("p3", "acm", None, ["a1", "a2"], ["db"], ["bio"]),
            ("p4", "mit", "vldb", ["a4", "a5"], ["db"], ["bio"]),
        ],
        PUB_SCHEMA,
    )
    pubs = slice_a.unionByName(slice_b)
    edges_a = comm.extract_edges(slice_a)
    edges_b = comm.extract_edges(slice_b)
    root = str(tmp_path / "gstore")
    full_root = str(tmp_path / "gfull")
    for t in ("t_gs_app", "t_gs_full"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        comm.write_graph_store(edges_a, root, table="t_gs_app", n_buckets=4)
        comm.append_graph_store(edges_b, root, table="t_gs_app")
        comm.write_graph_store(
            comm.extract_edges(pubs), full_root, table="t_gs_full",
            n_buckets=4,
        )
        # relation-level bit-identity: merged delta rows == rebuild
        merged = sorted(
            map(tuple, comm.merge_delta_edges(spark.table("t_gs_app")).collect())
        )
        rebuilt = sorted(map(tuple, spark.table("t_gs_full").collect()))
        assert merged == rebuilt
        # the store really holds delta rows before compaction
        assert spark.table("t_gs_app").count() > len(merged)

        # the merge aggregate consumes the bucket partitioning: no
        # Exchange anywhere in its plan
        plan = formatted_plan(comm.merge_delta_edges(spark.table("t_gs_app")))
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
        assert "Bucketed: true" in plan

        # LPA from the appended store (auto-merge via the marker) ==
        # LPA from the rebuilt store
        lpa_app = comm.community_detection_from_store(
            spark, table="t_gs_app", iterations=3, delta=0.5, path=root
        )
        lpa_full = comm.community_detection_from_store(
            spark, table="t_gs_full", iterations=3, delta=0.5, path=full_root
        )
        assert sorted(map(tuple, lpa_app.collect())) == sorted(
            map(tuple, lpa_full.collect())
        )

        # recipe mismatch raises; recipe inheritance works
        with pytest.raises(ValueError, match="param mismatch"):
            comm.append_graph_store(
                edges_b, root, table="t_gs_app", n_buckets=8
            )

        # compaction: one row per pair, delta counter reset, relation
        # unchanged, and the next from_store call reads it direct
        comm.compact_graph_store(spark, root, table="t_gs_app")
        assert sorted(map(tuple, spark.table("t_gs_app").collect())) == rebuilt
        ver = storectl.open_store(root, comm.GRAPH_STORE)
        assert ver.params["delta_appends"] == 0
        lpa_compacted = comm.community_detection_from_store(
            spark, table="t_gs_app", iterations=3, delta=0.5, path=root
        )
        assert sorted(map(tuple, lpa_compacted.collect())) == sorted(
            map(tuple, lpa_full.collect())
        )
    finally:
        for t in ("t_gs_app", "t_gs_full"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_label_store_incremental_relabel(spark, tmp_path):
    """Round-12: touched-component-only re-labeling. Slice A holds two
    DISJOINT communities; the batch touches only the first (plus a
    brand-new vertex pair). refresh_label_store must (1) produce the
    identical full label set as re-running LPA over the merged store,
    and (2) actually SKIP the untouched component — the subgraph edge
    count is strictly below the merged total (the stats out-param)."""
    slice_a = spark.createDataFrame(
        [
            ("p1", None, "v1", ["a1", "a2", "a3"], ["x"], ["cs"]),
            ("p2", None, "v1", ["a2", "a3"], ["x"], ["cs"]),
            ("p3", None, "v2", ["b1", "b2"], ["x"], ["cs"]),
            ("p4", None, "v2", ["b2", "b3"], ["x"], ["cs"]),
        ],
        PUB_SCHEMA,
    )
    batch = spark.createDataFrame(
        [
            ("p5", None, "v1", ["a1", "a4"], ["x"], ["cs"]),
            ("p6", None, "v9", ["c1", "c2"], ["x"], ["cs"]),
        ],
        PUB_SCHEMA,
    )
    groot = str(tmp_path / "graph")
    lroot = str(tmp_path / "labels")
    for t in ("t_rl_graph", "t_rl_labels"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        comm.write_graph_store(
            comm.extract_edges(slice_a), groot, table="t_rl_graph", n_buckets=4
        )
        comm.write_label_store(
            spark, groot, lroot, graph_table="t_rl_graph",
            table="t_rl_labels", iterations=3, n_buckets=4,
        )
        agg_b = comm.aggregate_undirected(comm.extract_edges(batch))
        comm.append_graph_store(
            None, groot, table="t_rl_graph", mirrored=agg_b
        )
        stats = {}
        folded = comm.refresh_label_store(
            spark, groot, lroot, agg_b,
            graph_table="t_rl_graph", table="t_rl_labels", stats=stats,
        )
        full = comm.community_detection_from_store(
            spark, table="t_rl_graph", iterations=3, delta=0.5, path=groot
        )
        assert sorted(map(tuple, folded.collect())) == sorted(
            map(tuple, full.collect())
        )
        # the untouched b-community was never re-entered: the subgraph
        # is strictly smaller than the merged graph, and exactly one
        # stored component was touched
        assert stats["touched_comps"] == 1
        assert 0 < stats["sub_edges"] < stats["total_edges"]
        # the persisted store itself holds the folded labels (a second
        # read sees them without recompute)
        stored = spark.table("t_rl_labels").select("id", "label")
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, full.collect())
        )
    finally:
        for t in ("t_rl_graph", "t_rl_labels"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lpa_needs_a_mirrored_table_without_vertices():
    """The input check is a ValueError, so it holds under ``python -O``;
    it fires before any plan is built."""
    import pytest

    with pytest.raises(ValueError, match="pre-built mirrored edge table"):
        comm.community_detection(None, None)


def test_lpa_writes_no_session_conf(spark, tmp_path, monkeypatch):
    """LPA leaves the session as ``get_spark`` built it: no call of
    ``RuntimeConfig.set`` from the in-memory loop, the store loop or the
    label-store build."""
    from pyspark.sql.conf import RuntimeConfig

    pubs = _pubs(spark)
    groot = str(tmp_path / "graph")
    comm.write_graph_store(
        comm.extract_edges(pubs), groot, table="t_nc_graph", n_buckets=4
    )
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    try:
        comm.community_detection(
            comm.extract_vertices(pubs), comm.extract_edges(pubs), iterations=2
        ).collect()
        comm.community_detection_from_store(
            spark, table="t_nc_graph", iterations=2, path=groot
        ).collect()
        comm.write_label_store(
            spark, groot, str(tmp_path / "labels"), graph_table="t_nc_graph",
            table="t_nc_labels", iterations=2, n_buckets=4,
        )
    finally:
        for t in ("t_nc_graph", "t_nc_labels"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert calls == []


def _superstep_shuffles(spark, bidir, is_edge_scan):
    """Run one LPA superstep (the second, over a checkpointed state) under
    the session's own AQE and read its executed plan. Returns the plan,
    the edge scans found, the Exchanges between an edge scan and its
    join, and the superstep's Exchanges. Nodes printed inside a cached
    relation (its own build plan) are not the superstep's."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    state = (
        bidir.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"), F.lit(1.0).alias("score"))
        .localCheckpoint(eager=True)
    )
    step = comm._lpa_superstep(state, bidir, 2, 0.5, True)
    step.collect()
    plan = executed_plan(step)
    nodes = []  # (depth, text) per node line of the tree string
    for line in plan.splitlines():
        text = line.lstrip(" :+-")
        if text:
            nodes.append((len(line) - len(text), text))
    cached = set()
    for i, (d, text) in enumerate(nodes):
        if text.startswith("InMemoryTableScan"):
            for j in range(i + 1, len(nodes)):
                if nodes[j][0] <= d:
                    break
                cached.add(j)
    own = [(i, d, t) for i, (d, t) in enumerate(nodes) if i not in cached]
    scans = edge_exchanges = 0
    for i, d, text in own:
        if not is_edge_scan(text):
            continue
        scans += 1
        for dj, tj in reversed(nodes[:i]):  # the scan's ancestors
            if dj >= d:
                continue
            d = dj
            if "Join" in tj:
                break
            edge_exchanges += tj.startswith("Exchange")
    exchanges = sum(t.startswith("Exchange") for _, _, t in own)
    return plan, scans, edge_exchanges, exchanges


def test_lpa_superstep_reads_edges_in_place(spark, tmp_path):
    """One superstep under the session's AQE: the edge relation reaches
    the message join with no Exchange of its own, from the in-memory
    cache and from the bucketed store, and the superstep has at most 2
    Exchanges (the state to ``src``, the joined rows on ``id``) and no
    Union."""
    pubs = _pubs(spark)
    mirrored = (
        comm.aggregate_undirected(comm.extract_edges(pubs, hash_fn=F.xxhash64))
        .repartition(F.col("src"))
        .persist()
    )
    try:
        plan, scans, edge_ex, exchanges = _superstep_shuffles(
            spark, mirrored, lambda t: t.startswith("InMemoryTableScan")
        )
        assert (scans, edge_ex) == (1, 0), plan
        assert exchanges <= 2, plan
        assert "Union" not in plan, plan
    finally:
        mirrored.unpersist()

    comm.write_graph_store(
        comm.extract_edges(pubs), str(tmp_path / "graph"),
        table="t_step_graph", n_buckets=4,
    )
    try:
        plan, scans, edge_ex, exchanges = _superstep_shuffles(
            spark,
            spark.table("t_step_graph"),
            lambda t: t.startswith("FileScan") and "Bucketed: true" in t,
        )
        assert (scans, edge_ex) == (1, 0), plan
        assert exchanges <= 2, plan
        assert "Union" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_step_graph")


def test_lpa_jobs_per_superstep(spark):
    """One more superstep costs at most 3 Spark jobs: the state shuffle,
    the row shuffle and the checkpoint of the new state."""
    pubs = _pubs(spark)
    vertices = comm.extract_vertices(pubs)
    edges = comm.extract_edges(pubs)
    sc = spark.sparkContext

    def jobs(iterations):
        group = f"lpa-jobs-{iterations}"
        sc.setJobGroup(group, group)
        try:
            comm.community_detection(
                vertices, edges, iterations=iterations
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one, two = jobs(1), jobs(2)
    assert two - one <= 3, (one, two)
