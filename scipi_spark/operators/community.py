"""Heterogeneous publication network + community detection (C1-C16).

Reference: ``ScipiBatchCommunity.java`` — relevance filter (137-164), vertex/
edge extraction (355-462), Gelly ``CommunityDetection`` label propagation
(Leung et al., line 210), dense-community selection (217-250), subgraph +
decoration joins (256-337).

The LPA loop replicates Flink's ``org.apache.flink.graph.library
.CommunityDetection`` semantics exactly (scatter-gather on the undirected
multigraph):

- init: label = unique id per vertex, score = 1.0
- each superstep t (1-based): every vertex sends (label, score*weight)
  along every incident edge; a receiving vertex sums scores per label,
  adopts the label with the max sum (ties -> smallest label), and sets
  score = (max SINGLE received score for that label), minus delta / t
  ONLY when the adopted label differs from the vertex's current label
  (Flink applies the decay on label change, not unconditionally)
- vertices receiving no messages keep their state.

Divergence note: the reference job wires a DIRECTED graph into Gelly
(``ScipiBatchCommunity.java:179-180`` never calls ``getUndirected()``), so
its messages flow only along emitted edge directions (papers never message
authors back). This implementation follows Flink's documented
CommunityDetection contract — an undirected graph, every edge mirrored —
which is the semantically meaningful variant for co-authorship
communities; bit-parity with the reference's directed wiring is not a
goal.

Scale design: each graph relation is one kernel that reads its input
once. Vertices and edges are each one ``inline`` per publication, and
the mirrored message relation is one aggregate over unordered endpoint
pairs (one Exchange, no Union) followed by a narrow mirror. The edge
side is hash-partitioned on ``src`` once (a persisted repartition, or
the graph store's buckets) and every superstep reads it in place, with
no Exchange of its own. The label state is seeded from the distinct
``src`` endpoints of that relation, so no vertex table enters the loop.
One superstep then runs two shuffles: the label state to ``src`` for
the message join, and the joined rows on ``id``. Each joined edge emits
the sender's message to ``dst`` and the sender's own state back to
``src``, so the per-``(id, label)`` sums and the per-``id`` argmax both
run above that one Exchange, with no second read of the state. The
``max(struct)`` argmax runs as a partial and a final ``SortAggregate``
behind one Sort. The loop writes no session conf: the session's AQE
sizes these shuffles from runtime statistics. Lineage is cut every
superstep with ``localCheckpoint`` so 10+ supersteps don't stack plans.
Vertex ids stay strings (names) with 64-bit hash labels — no
driver-side dictionaries.
The mid-plan ``collect()`` of top-community labels mirrors the reference's
two-phase execution (``ScipiBatchCommunity.java:241-250``) and broadcasts
a 3-element set, not data.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from scipi_spark.operators.textops import _let
from scipi_spark.sources import storectl


# ---------------------------------------------------------------------------
# C1 — relevance filter
# ---------------------------------------------------------------------------

def relevance_filter(
    pubs: DataFrame,
    keywords: list[str] | None = None,
    domains: list[str] | None = None,
) -> DataFrame:
    """Keep publications whose keywords overlap the defined keyword set OR
    fos overlap the defined domain set (``ScipiBatchCommunity.java:137-164``)."""
    conds = []
    if keywords:
        conds.append(
            F.arrays_overlap("keywords", F.array(*[F.lit(k) for k in keywords]))
        )
    if domains:
        conds.append(F.arrays_overlap("fos", F.array(*[F.lit(d) for d in domains])))
    if not conds:
        return pubs
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return pubs.filter(cond)


# ---------------------------------------------------------------------------
# C2/C3 — vertex extraction
# ---------------------------------------------------------------------------

def _named(*cols: str):
    """The values of ``cols`` that are non-null and non-empty, as an
    array (the reference's "when nonempty" vertex and edge rule)."""
    return F.filter(F.array(*cols), lambda x: x.isNotNull() & (x != ""))


#: vertex type names in sort order: a lower index is a smaller name
_VTYPES = ("AUTHOR", "PAPER", "PUBLISHER", "VENUE")


def extract_vertices(pubs: DataFrame) -> DataFrame:
    """(id, vtype) union of PAPER/PUBLISHER/VENUE/AUTHOR vertices
    (``ScipiBatchCommunity.java:371-407``), deduped on id.

    One ``inline`` per publication over ``[paper] ++ [publisher]? ++
    [venue]? ++ authors``, so the input is read once. The reference's
    ``distinct(0)`` keeps an arbitrary type on name collision; here the
    MIN type wins — deterministic, and identical whenever names don't
    collide across types. The min is taken over the type's index in the
    sorted ``_VTYPES`` and mapped back to the name, so the dedup is a
    hash aggregate (a string min would plan as a sort aggregate)."""

    def vertex(c, vtype):
        return F.struct(c.alias("id"), F.lit(_VTYPES.index(vtype)).alias("code"))

    rows = F.concat(
        F.array(vertex(F.col("title"), "PAPER")),
        F.transform(_named("publisher"), lambda p: vertex(p, "PUBLISHER")),
        F.transform(_named("venue"), lambda v: vertex(v, "VENUE")),
        F.transform(
            F.coalesce("authors", F.array()), lambda a: vertex(a, "AUTHOR")
        ),
    )
    names = F.array(*[F.lit(t) for t in _VTYPES])
    return (
        pubs.select(F.inline(rows))
        .groupBy("id")
        .agg(F.min("code").alias("code"))
        .select("id", F.element_at(names, F.col("code") + 1).alias("vtype"))
    )


# ---------------------------------------------------------------------------
# C4 — edge extraction (with the reference's last-author quirk)
# ---------------------------------------------------------------------------

def extract_edges(pubs: DataFrame, hash_fn=None) -> DataFrame:
    """(src, dst, weight=1.0) multiset (``ScipiBatchCommunity.java:411-462``):

    - PAPER -> PUBLISHER and PAPER -> VENUE when nonempty
    - authors[0] -> PAPER always; authors[i] -> PAPER for 0 < i < n-1
      (the LAST author never gets an author->paper edge when n > 1 —
      replicated from the reference's loop bound ``i < totalAuthors-1``)
    - all co-author pairs (i, j), i < j

    One ``inline`` per publication over ``co-author pairs ++
    author->paper ++ paper->publisher? ++ paper->venue?``, built from
    ``coalesce(authors, [])``, so the input is read once and a NULL
    author list still emits its publisher and venue edges. A narrow
    map: no shuffle, no UDF.

    ``hash_fn``: None emits names (src, dst: string). A Column -> long
    Column (e.g. ``F.xxhash64``, or the portable md5-prefix hash in
    ``dedup`` when the LPA labels must be replayable outside the JVM)
    hashes each author, title, publisher and venue once, BEFORE the
    pair explosion, so the explode emits fixed-width longs and
    :func:`aggregate_undirected` hashes nothing. The result equals the
    names path followed by ``hash_fn`` on both endpoints
    (pytest-pinned)."""
    authors = F.coalesce("authors", F.array())
    title = F.col("title")
    named = _named("publisher", "venue")
    if hash_fn is None:
        rows = _edge_rows(authors, title, named)
    else:
        # hashed once per publication and bound to a lambda variable: a
        # lambda body gets no subexpression elimination, so a hashed
        # list named inside the co-author lambda would be hashed again
        # for every author
        hashed = F.struct(
            F.transform(authors, lambda a: hash_fn(a)).alias("a"),
            hash_fn(title).alias("t"),
            F.transform(named, lambda x: hash_fn(x)).alias("n"),
        )
        rows = _let(hashed, lambda v: _edge_rows(v["a"], v["t"], v["n"]))
    return pubs.select(F.inline(rows)).select(
        "src", "dst", F.lit(1.0).alias("weight")
    )


def _edge_rows(authors, title, named):
    """The (src, dst) structs of one publication: co-author pairs ++
    author->paper ++ paper->publisher/venue."""

    def edge(s, d):
        return F.struct(s.alias("src"), d.alias("dst"))

    co = F.flatten(
        F.transform(
            authors,
            lambda a, i: F.filter(
                F.transform(authors, lambda b, j: F.when(i < j, edge(a, b))),
                lambda e: e.isNotNull(),
            ),
        )
    )
    # author->paper for indices 0 .. n-2 (index 0 when n == 1)
    n = F.size(authors)
    ap = F.transform(
        F.slice(authors, 1, F.greatest(n - 1, F.lit(1))),
        lambda a: edge(a, title),
    )
    pv = F.transform(named, lambda x: edge(title, x))
    return F.concat(co, ap, pv)


# ---------------------------------------------------------------------------
# C6/C8 — label-propagation community detection (Leung / Flink semantics)
# ---------------------------------------------------------------------------

def aggregate_undirected(edges: DataFrame) -> DataFrame:
    """Hashed, canonicalized, aggregated, mirrored edge table — the exact
    message-fan-out relation the LPA loop joins every superstep.

    - String endpoints (names) are hashed with xxhash64 AT THE SCAN,
      before any shuffle; long endpoints (``extract_edges(hash_fn=...)``)
      are taken as already hashed. Every exchange from here on carries
      fixed-width longs, and the same xxhash64 seeds labels, so
      (hash -> name) restores ids with one join at the end.
    - Parallel edges collapse into (w_sum, w_max): a vertex's per-label
      SUM of incoming (score*weight) messages equals score*w_sum, and the
      MAX single message equals score*w_max — exactly Flink's semantics
      with ~Nx less message traffic on multigraphs (the co-author
      multiset).
    - One aggregate over the unordered pair ``(least, greatest)``, so one
      Exchange carries |E| rows, not the 2|E| of the doubled union. A
      self-loop counts each of its weights twice in ``w_sum`` (both
      mirror copies of the doubled union land in its one group).
    - Mirror with one ``inline`` after the aggregate, a narrow map: a
      self-loop emits one row, any other pair both directions, sharing
      w_sum/w_max. A union of two references to the aggregate would run
      it twice, since union branches don't share subplans."""
    if isinstance(edges.schema["src"].dataType, StringType):
        edges = edges.select(
            F.xxhash64("src").alias("src"),
            F.xxhash64("dst").alias("dst"),
            "weight",
        )
    a, b = F.col("a"), F.col("b")
    fwd = F.struct(a.alias("src"), b.alias("dst"))
    rev = F.struct(b.alias("src"), a.alias("dst"))
    loop = F.col("src") == F.col("dst")
    return (
        edges.groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(
            F.sum(F.col("weight") * F.when(loop, 2).otherwise(1)).alias("w_sum"),
            F.max("weight").alias("w_max"),
        )
        .select(
            F.inline(F.when(a == b, F.array(fwd)).otherwise(F.array(fwd, rev))),
            "w_sum",
            "w_max",
        )
    )


#: the graph store: the aggregated mirrored LPA relation bucketed and
#: sorted on ``src``
GRAPH_STORE = storectl.StoreSpec(
    "graph store", "graph-v1", (storectl.Layout("edges", ("src",)),)
)

#: the label store: (id, label, comp) bucketed and sorted on ``id``,
#: with the LPA recipe it was computed under
LABEL_STORE = storectl.StoreSpec(
    "label store", "labels-v1", (storectl.Layout("labels", ("id",)),)
)


def write_graph_store(
    edges: DataFrame,
    path: str,
    table: str = "graph_edges_mirrored",
    n_buckets: int = 16,
    mirrored: DataFrame | None = None,
    build_key: str = "graph-v1",
) -> None:
    """Persist the aggregated mirrored LPA message relation bucketed AND
    sorted on ``src`` — the production shape of iterative graph analytics
    at 100 TB (the graph twin of :func:`dedup.write_signature_store`):
    the canonicalize + aggregate + mirror shuffle is paid ONCE at graph
    build, and every subsequent LPA run — and every superstep inside it —
    joins label state against the bucketed scan with ZERO edge-side
    Exchange (only the small per-superstep state shuffles, into the
    bucket partitioning). At real scale ``n_buckets`` is sized so each
    bucket is a few hundred MB of edges; re-bucketing only happens when
    the graph outgrows it, not per job.

    ``mirrored``: a pre-aggregated mirrored relation to persist as-is
    (e.g. :func:`aggregate_undirected` over ``extract_edges`` with a
    portable ``hash_fn``, so an external engine can replay the labels);
    default builds it from the raw ``edges`` multiset."""
    rel = aggregate_undirected(edges) if mirrored is None else mirrored
    with storectl.rebuild(
        path.rstrip("/"), GRAPH_STORE,
        {"n_buckets": n_buckets, "delta_appends": 0}, build_key,
    ) as b:
        b.add("edges", rel)
    GRAPH_STORE.register(rel.sparkSession, table, b.version)


def merge_delta_edges(mirrored: DataFrame) -> DataFrame:
    """Collapse delta rows of an APPENDED graph store into one row per
    directed pair: :func:`append_graph_store` folds a batch as PARTIAL
    aggregated rows (the LSM merge-on-read shape), so a pair touched by
    k appends holds k+1 rows whose w_sum values SUM and w_max values
    MAX to the from-scratch aggregate — exact, because edge weights are
    small integer-valued doubles (the 1.0-per-edge multiset), so the
    partial sums recombine bit-identically. Over the bucketed store
    scan this aggregate is Exchange-free (the bucket key ``src`` is a
    subset of the grouping key — plan-asserted in tests)."""
    return mirrored.groupBy("src", "dst").agg(
        F.sum("w_sum").alias("w_sum"), F.max("w_max").alias("w_max")
    )


def _delta_appends(version: storectl.Version) -> int:
    """Appends folded into ``version`` since its last full build."""
    return version.params["delta_appends"]


def append_graph_store(
    edges: DataFrame | None,
    path: str,
    table: str = "graph_edges_mirrored",
    mirrored: DataFrame | None = None,
    n_buckets: int | None = None,
    build_key: str | None = None,
    *,
    fold: tuple[str, int] | None = None,
) -> None:
    """Fold a NEW publication batch's edges into an existing graph
    store. The reference re-scans its entire Cassandra publications
    table on every batch community run (``ScipiBatchCommunity.java:
    122-133``); at 100 TB the store is built once and each increment
    costs O(|batch|):

    - the batch's aggregated mirrored rows (``aggregate_undirected``
      over ``edges``, or a pre-built ``mirrored`` relation from the
      same portable hash as the base build) APPEND under the store's
      bucket spec — pure O(batch) I/O, no merge at write time;
    - a pair present in both store and batch now holds PARTIAL rows;
      readers collapse them with :func:`merge_delta_edges` (w_sum
      sums and w_max maxes recombine exactly), which
      :func:`community_detection_from_store` applies automatically
      when the version marker records outstanding deltas;
    - :func:`compact_graph_store` rewrites the store merged (one row
      per pair) and resets the delta counter — run it before large
      LPA campaigns so the per-superstep scan skips the merge.

    ``build_key`` defaults to the cloned version's own key. ``fold``:
    the streaming sink's ``(query_key, batch_id)`` stamp."""
    rel = aggregate_undirected(edges) if mirrored is None else mirrored
    with storectl.append(
        path.rstrip("/"), GRAPH_STORE,
        {"n_buckets": n_buckets, "delta_appends": None},
        build_key=build_key, fold=fold,
    ) as b:
        b.add("edges", rel)
        # the delta counter is derived knowledge (this append happened),
        # so it is always stamped — readers merge iff it is non-zero
        b.extra["delta_appends"] = _delta_appends(b.base) + 1
    GRAPH_STORE.register(rel.sparkSession, table, b.version)


def compact_graph_store(
    spark,
    path: str,
    table: str = "graph_edges_mirrored",
    n_buckets: int | None = None,
    build_key: str | None = None,
) -> None:
    """Rewrite an appended graph store with delta rows merged — one row
    per directed pair again, delta counter reset to 0, so every later
    LPA run reads the store directly with no per-superstep merge
    aggregate. The merge aggregate itself runs Exchange-free over the
    old version's bucket layout; the rewrite shuffles once into the
    (unchanged) bucket spec. Result is bit-identical to a from-scratch
    :func:`write_graph_store` over the combined edge multiset
    (pytest-pinned)."""
    root = path.rstrip("/")
    cur = storectl.open_store(root, GRAPH_STORE, {"n_buckets": n_buckets})
    # registered over the read version so the merge reads the bucket
    # partitioning (no Exchange); the write targets a fresh build dir,
    # so it never reads the files it replaces
    GRAPH_STORE.register(spark, table, cur)
    with storectl.rebuild(root, GRAPH_STORE, build_key=build_key, base=cur) as b:
        b.add("edges", merge_delta_edges(spark.table(table)))
        b.extra["delta_appends"] = 0
    GRAPH_STORE.register(spark, table, b.version)


def _open_graph_store(
    spark, path: str, table: str, n_buckets: int | None = None
) -> DataFrame:
    """The live version of the graph store under ``path``, registered
    here as the bucketed ``table``; its delta rows are merged
    (:func:`merge_delta_edges`) when the version marker records
    appends."""
    ver = storectl.open_store(
        path.rstrip("/"), GRAPH_STORE,
        {"n_buckets": n_buckets, "delta_appends": None},
    )
    GRAPH_STORE.register(spark, table, ver)
    mirrored = spark.table(table)
    if _delta_appends(ver):
        mirrored = merge_delta_edges(mirrored)
    return mirrored


def write_label_store(
    spark,
    graph_path: str,
    path: str,
    graph_table: str = "graph_edges_mirrored",
    table: str = "graph_labels",
    iterations: int = 10,
    delta: float = 0.5,
    portable_rounding: bool = False,
    n_buckets: int = 16,
    cc_max_iterations: int = 50,
    build_key: str = "labels-v1",
) -> None:
    """Persist the LPA RESULT — (id, label, comp) bucketed+sorted on
    ``id`` — next to the graph store, so later batches re-label only
    the components they touch (:func:`refresh_label_store`) instead of
    re-running LPA over the whole graph. ``comp`` is the connected-
    component id (min reachable vertex hash, ``strict`` — a silently
    split component would leak stale labels through the touched-set
    filter, so non-convergence aborts the build): LPA messages never
    cross components, so a component with no new edge keeps its labels
    VERBATIM under any fixed iteration budget — the reuse invariant the
    incremental path rests on. The LPA recipe (iterations, delta,
    portable_rounding) is recorded in the version; refresh calls
    inherit it (labels computed under different recipes must never
    mix)."""
    # resolve the graph version ONCE: LPA and the CC pass must read the
    # same store state (the TOCTOU discipline every probe here follows)
    merged = _open_graph_store(spark, graph_path, graph_table)
    labels = community_detection(
        vertices=None,
        edges=None,
        iterations=iterations,
        delta=delta,
        mirrored=merged,
        portable_rounding=portable_rounding,
    )
    from scipi_spark.operators import graph as graph_ops

    comps = graph_ops.connected_components(
        merged.select("src", "dst"),
        max_iterations=cc_max_iterations,
        strict=True,
    )
    rel = labels.join(
        comps.withColumnRenamed("id", "lid"), labels.id == F.col("lid")
    ).select("id", "label", "comp")
    params = {
        "n_buckets": n_buckets,
        "iterations": iterations,
        "delta": delta,
        "portable_rounding": int(portable_rounding),
        "cc_max_iterations": cc_max_iterations,
    }
    with storectl.rebuild(path.rstrip("/"), LABEL_STORE, params, build_key) as b:
        b.add("labels", rel)
    LABEL_STORE.register(spark, table, b.version)


def refresh_label_store(
    spark,
    graph_path: str,
    path: str,
    batch_mirrored: DataFrame,
    graph_table: str = "graph_edges_mirrored",
    table: str = "graph_labels",
    stats: dict | None = None,
) -> DataFrame:
    """Incrementally re-label ONLY the components a folded batch
    touched — the 100 TB answer to re-running community detection over
    the whole graph after every increment (the reference re-runs its
    batch job from a full Cassandra scan,
    ``ScipiBatchCommunity.java:122-133``). Call AFTER
    :func:`append_graph_store` folded the batch's mirrored rows into
    the graph store; ``batch_mirrored`` is that same relation (only its
    endpoint set is read).

    Mechanics — exact, not approximate:

    1. touched components = stored ``comp`` of every batch endpoint
       (new vertices have none — their edges are batch edges, touched
       by definition);
    2. the re-label SUBGRAPH = merged store edges whose ``src`` lies in
       a touched component or is new; since LPA messages never cross
       components and every old edge lies inside one old component, an
       untouched component's labels are the full-graph fixpoint
       verbatim under any fixed iteration budget;
    3. the LPA loop and a strict connected-components pass run over
       the subgraph alone — cost tracks the touched subgraph, never
       the corpus — and the label store rewrites as
       untouched-rows UNION re-labeled-rows (new component ids
       compose: min over a merged component = min of the mins).

    The LPA recipe comes from the label store's version (the one
    :func:`write_label_store` recorded), so incremental labels can
    never silently mix iteration budgets with stored ones. Returns the
    full folded (id, label) assignment — bit-identical to re-running
    :func:`community_detection_from_store` over the merged graph
    (pytest-pinned). The folded label store publishes as an append.

    ``stats``: pass a dict to receive {"touched_comps", "sub_edges",
    "total_edges"} — the reuse evidence (sub_edges < total_edges means
    untouched components really were skipped, pytest-pinned)."""
    with storectl.append(
        path.rstrip("/"), LABEL_STORE,
        {"n_buckets": None, "iterations": None, "delta": None,
         "portable_rounding": None, "cc_max_iterations": None},
    ) as b:
        p = b.params
        LABEL_STORE.register(spark, table, b.base)
        stored = spark.table(table)

        touched_v = batch_mirrored.select(F.col("src").alias("id")).distinct()
        touched_comps = (
            stored.join(touched_v, "id")
            .select("comp")
            .distinct()
            .localCheckpoint(eager=True)
        )

        merged = _open_graph_store(spark, graph_path, graph_table)
        # src-side bucketed scan joins the id-bucketed label store; an
        # edge whose src has NO stored comp is a new vertex's edge —
        # touched by definition (comes from the batch fold). One pass:
        # the (small) touched-comp set broadcasts into a left join and
        # the keep-filter fuses into the same stage — the corpus-sized
        # edge relation is scanned exactly once.
        with_comp = merged.join(
            stored.select(F.col("id").alias("src"), "comp"), "src", "left"
        )
        tc = touched_comps.withColumnRenamed("comp", "_tc")
        sub = (
            with_comp.join(
                F.broadcast(tc), with_comp["comp"] == tc["_tc"], "left"
            )
            .filter(F.col("_tc").isNotNull() | F.col("comp").isNull())
            .select("src", "dst", "w_sum", "w_max")
            .localCheckpoint(eager=True)
        )

        # persisted src-repartition: the LPA loop and the CC pass both
        # re-reference the subgraph every superstep — without the cache
        # each superstep would replay the exchange
        sub_m = sub.repartition(F.col("src")).persist()
        if stats is not None:
            stats["touched_comps"] = touched_comps.count()
            stats["sub_edges"] = sub.count()
            stats["total_edges"] = merged.count()
        relabeled = community_detection(
            vertices=None,
            edges=None,
            iterations=p["iterations"],
            delta=p["delta"],
            mirrored=sub_m,
            portable_rounding=bool(p["portable_rounding"]),
        )
        from scipi_spark.operators import graph as graph_ops

        newcomps = graph_ops.connected_components(
            sub_m.select("src", "dst"),
            max_iterations=p["cc_max_iterations"],
            strict=True,
        )
        refreshed = relabeled.join(
            newcomps.withColumnRenamed("id", "rid"),
            relabeled.id == F.col("rid"),
        ).select("id", "label", "comp")
        untouched = stored.join(
            F.broadcast(touched_comps), "comp", "left_anti"
        ).select("id", "label", "comp")
        folded = untouched.unionByName(refreshed).localCheckpoint(eager=True)
        sub_m.unpersist()

        b.replace("labels", folded)
    LABEL_STORE.register(spark, table, b.version)
    return folded.select("id", "label")


def community_detection_from_store(
    spark,
    table: str = "graph_edges_mirrored",
    iterations: int = 10,
    delta: float = 0.5,
    portable_rounding: bool = False,
    path: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """LPA over a persisted bucketed edge store: no extraction, no edge
    aggregation, no edge-side repartition — the loop's message join reads
    the store's bucket partitioning directly. Returns hashed ids (a
    vertex's initial label IS its hashed id, so labels are identical to
    the name-restored variant).
    ``path``: store root for reading a store written by ANOTHER process
    (resolves the live version via the atomic CURRENT pointer and
    registers ``table`` here), whose appended delta rows are merged when
    the version records any (:func:`merge_delta_edges`); omit it when
    this session registered ``table``."""
    if path is not None:
        mirrored = _open_graph_store(spark, path, table, n_buckets)
    else:
        mirrored = spark.table(table)
    return community_detection(
        None,
        None,
        iterations=iterations,
        delta=delta,
        mirrored=mirrored,
        portable_rounding=portable_rounding,
    )


def community_detection(
    vertices: DataFrame | None,
    edges: DataFrame | None,
    iterations: int = 10,
    delta: float = 0.5,
    mirrored: DataFrame | None = None,
    portable_rounding: bool = False,
) -> DataFrame:
    """C8: Flink-CommunityDetection-equivalent LPA; returns (id, label).

    The edge side is hash-partitioned on ``src`` and read in place every
    superstep, and the label state is seeded from its distinct ``src``
    endpoints. A superstep shuffles twice: the label state to ``src`` for
    the message join, and the joined rows on ``id`` (each edge carries
    the sender's message to ``dst`` and the sender's own state back to
    ``src``), above which the per-label sums and the ``max(struct)``
    argmax run. Shuffle sizes are the session's: AQE coalesces them from
    runtime statistics, and this function writes no session conf.

    ``mirrored``: a pre-built :func:`aggregate_undirected` table, already
    repartitioned on ``src`` and persisted (caller-owned lifecycle — it is
    NOT unpersisted here). Passing it lets callers cache the aggregated
    table across invocations so a cold call never materializes the raw
    string-named edge multiset at all. Without it, ``edges`` is
    aggregated here.

    ``vertices``: the (id) names to restore, joined once after the
    loop; a vertex with no edge keeps its seed label ``xxhash64(id)``.
    With ``vertices=None`` the result holds the hashed 64-bit ids of the
    edge endpoints as ``id`` (isolated vertices are absent: they are
    singleton communities). Because the initial label of a vertex IS its
    hashed id, label values are identical either way.

    ``portable_rounding=True`` rounds each per-label message sum to 9
    decimals before the argmax. Message sums are order-dependent in the
    last ulp once score decay introduces non-dyadic values (0.5/3 at
    superstep 3); rounding collapses that, making the fixpoint
    bit-replicable by any engine that sums the same messages in any
    order — the property the portable-label SQL oracle needs. Default
    off: the Flink-exact semantics keep the raw double sums."""
    if mirrored is None and edges is None:
        raise ValueError(
            "community_detection needs edges or a pre-built mirrored edge "
            "table"
        )
    # Repartitioned on the message-join key and persisted once: every
    # superstep joins against it, and the cached hash partitioning means
    # only the label state shuffles to the join — without this the whole
    # upstream extraction would replay `iterations` times.
    bidir = mirrored
    if mirrored is None:
        bidir = aggregate_undirected(edges).repartition(F.col("src")).persist()
    # C6/C7 seed: the endpoint distinct over the src-partitioned edge side
    # (no exchange); a vertex's initial label IS its hashed id
    state = (
        bidir.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"), F.lit(1.0).alias("score"))
    )
    state = _lpa_loop(state, bidir, iterations, delta, portable_rounding)
    if vertices is not None:
        # a vertex with no edge is absent from the state and keeps its
        # seed label xxhash64(name)
        named = vertices.select("id", F.xxhash64("id").alias("h"))
        hashed = state.select(F.col("id").alias("h"), "label").hint("shuffle_hash")
        result = named.join(hashed, "h", "left").select(
            "id", F.coalesce("label", "h").alias("label")
        )
    else:
        result = state.select("id", "label")
    if mirrored is None:
        bidir.unpersist()
    return result


def _lpa_loop(
    state: DataFrame,
    bidir: DataFrame,
    iterations: int,
    delta: float,
    portable_rounding: bool = False,
) -> DataFrame:
    for step in range(1, iterations + 1):
        # Cut lineage EVERY superstep: each step stacks a join and two
        # aggregates on the previous one, so without the cut the plan
        # (and its analysis and optimization time) grows with the step
        # count and every stage replays the steps before it.
        state = _lpa_superstep(
            state, bidir, step, delta, portable_rounding
        ).localCheckpoint(eager=True)
    return state


def _lpa_superstep(
    state: DataFrame,
    bidir: DataFrame,
    step: int,
    delta: float,
    portable_rounding: bool,
) -> DataFrame:
    """Superstep ``step`` (1-based) of the LPA loop: the next
    (id, label, score) state, not yet materialized."""
    # shuffle_hash: the state side is far too big to broadcast at real
    # scale but always hash-table-buildable per partition; the hint
    # skips the sort-merge sorts each superstep would otherwise pay.
    sender = state.select(F.col("id").alias("src"), "label", "score")
    joined = bidir.join(sender.hint("shuffle_hash"), "src")
    score = F.col("score")
    no_long, no_double = F.lit(None).cast("long"), F.lit(None).cast("double")
    # Each joined edge emits two rows: the sender's message to ``dst``,
    # and the sender's own state back to ``src`` (NULL message), so the
    # state reaches the argmax without a second read of it. Both go
    # through one Exchange on ``id``, which both aggregates above reuse.
    rows = joined.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("dst").alias("id"),
                    "label",
                    (score * F.col("w_sum")).alias("m_sum"),
                    (score * F.col("w_max")).alias("m_max"),
                    no_long.alias("old_label"),
                    no_double.alias("old_score"),
                ),
                F.struct(
                    F.col("src").alias("id"),
                    "label",
                    no_double.alias("m_sum"),
                    no_double.alias("m_max"),
                    F.col("label").alias("old_label"),
                    score.alias("old_score"),
                ),
            )
        )
    ).repartition("id")
    per_label = rows.groupBy("id", "label").agg(
        (
            F.round(F.sum("m_sum"), 9) if portable_rounding else F.sum("m_sum")
        ).alias("sum_score"),
        F.max("m_max").alias("max_single"),
        F.max("old_label").alias("old_label"),
        F.max("old_score").alias("old_score"),
    )
    # argmax by sum desc, label asc (via neg_label); a label that only
    # the vertex's own state carries has a NULL sum, which sorts below
    # every real sum, so it wins only for a vertex with no messages.
    # Flink's CommunityDetection subtracts delta/superstep from the
    # adopted score ONLY when the label actually changes; a vertex
    # re-confirming its own label keeps the undecayed max message; a
    # vertex with no messages keeps its state as-is.
    return (
        per_label.groupBy("id")
        .agg(
            F.max(
                F.struct(
                    "sum_score", (-F.col("label")).alias("neg_label"), "max_single"
                )
            ).alias("s"),
            F.max("old_label").alias("old_label"),
            F.max("old_score").alias("old_score"),
        )
        .select(
            "id",
            (-F.col("s.neg_label")).alias("label"),
            F.when(F.col("s.max_single").isNull(), F.col("old_score"))
            .when(
                -F.col("s.neg_label") != F.col("old_label"),
                F.col("s.max_single") - F.lit(delta) / step,
            )
            .otherwise(F.col("s.max_single"))
            .alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# C9-C14 — dense communities, subgraph, decoration
# ---------------------------------------------------------------------------

def community_sizes(labels: DataFrame, min_size: int = 1) -> DataFrame:
    """C9: (label, count) for communities with count >= min_size."""
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_size)
    )


def top_communities(sizes: DataFrame, n: int = 3) -> list[int]:
    """C10: labels of the n largest communities (ties -> smallest label),
    collected to the driver — a bounded n-row collect, mirroring the
    reference's mid-plan materialization."""
    rows = sizes.orderBy(F.desc("count"), F.asc("label")).limit(n).collect()
    return [r["label"] for r in rows]


def subgraph_by_labels(
    vertices_typed: DataFrame, edges: DataFrame, labels: DataFrame, keep: list[int]
) -> tuple[DataFrame, DataFrame]:
    """C11/C12/C13: induced subgraph on vertices in the kept communities,
    with entity types restored; edges deduped for output.

    ``kept_v`` is materialized (localCheckpoint): downstream consumes it
    THREE times (both sides of the edge-induction semi-joins here, both
    decoration sides in :func:`decorate_edges`), and without the cut
    each consumer re-executes the full vertex-extraction + label chain —
    measured as the dominant share of c14's 161-Exchange plan (round-9
    verdict #4). The kept subgraph is the filtered community, far
    smaller than the corpus, so the checkpoint is cheap at any scale."""
    kept_v = (
        labels.filter(F.col("label").isin([int(k) for k in keep]))
        .join(vertices_typed, "id")
        .select("id", "vtype", "label")
        .localCheckpoint(eager=True)
    )
    ids = kept_v.select("id")
    kept_e = (
        edges.select("src", "dst")
        .join(ids.withColumnRenamed("id", "src"), "src")
        .join(ids.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst")
        .distinct()
    )
    return kept_v, kept_e


def decorate_edges(kept_v: DataFrame, kept_e: DataFrame) -> DataFrame:
    """C14: two-step decoration join -> (name_a, type_a, label_a, name_b,
    type_b, label_b)."""
    va = kept_v.select(
        F.col("id").alias("src"),
        F.col("vtype").alias("type_a"),
        F.col("label").alias("label_a"),
    )
    vb = kept_v.select(
        F.col("id").alias("dst"),
        F.col("vtype").alias("type_b"),
        F.col("label").alias("label_b"),
    )
    return (
        kept_e.join(va, "src")
        .join(vb, "dst")
        .select(
            F.col("src").alias("name_a"),
            "type_a",
            "label_a",
            F.col("dst").alias("name_b"),
            "type_b",
            "label_b",
        )
    )


def community_strength(sizes: DataFrame) -> DataFrame:
    """C16: weighted community-strength metric
    (``visualisations.py:658-666``): sum(count * count/total) / 100."""
    total = sizes.agg(F.sum("count").alias("t")).select("t")
    return sizes.crossJoin(total).agg(
        F.round(
            (F.sum(F.col("count") * (F.col("count") / F.col("t"))) / 100.0), 6
        ).alias("strength")
    )
