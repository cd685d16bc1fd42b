"""The perfbench workloads: SciPi-shaped pipelines driven only through
the public functions of ``scipi_spark``.

Each workload runs one pass over its generated inputs and returns a
:class:`PassResult`: the run time, the operations attempted, the
latency samples, the mismatches the reference checks found, and the
layer counts the traced run reports. An operation is one committed
output: a parquet table written, a store version published or a result
collected, or for ``stream_upsert`` one stream file committed by one of
the six queries. An operation's latency runs from its input being
available to its commit: from a stream file's due time, or from the
start of a batch pass, when all of a batch pass's inputs are there.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

import pyarrow.parquet as pq

import loadgen
import reference
from scipi_spark import ingest
from scipi_spark.operators import association, community, dedup
from scipi_spark.sources import io as sio
from scipi_spark.streaming import pipelines

#: release interval of the stream_upsert open loop, fixed once from the
#: closed-loop capacity measurement in NOTES.md; never re-tuned per change
STREAM_INTERVAL_S = 12.0

#: the six keyed aggregations, in the order the reference job wires them
AGGREGATIONS = list(pipelines.STREAMING_AGGREGATIONS)


class PassResult:
    def __init__(self):
        self.t0 = time.perf_counter()  # a batch pass's inputs are available
        self.run_s = 0.0
        self.ops = 0
        self.latencies: list[float] = []
        self.errors: list[str] = []
        self.records = 0
        self.layers: dict[str, float] = {}
        self.details: dict = {}

    @contextmanager
    def op(self):
        """One committed output of a batch pass; its latency sample is
        its time to result from the pass start."""
        self.ops += 1
        yield
        self.latencies.append(time.perf_counter() - self.t0)


def _rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{path}/*.parquet"))


def _force(tr, df):
    """Materialize ``df`` inside the current span, in the traced run only:
    the extra boundary that lets a lazy layer's cost land in its own span."""
    if not tr.enabled:
        return df, None
    with tr.forced():
        df = df.persist()
        return df, df.count()


# ---------------------------------------------------------------------------
# stream_upsert
# ---------------------------------------------------------------------------

def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _file_offset(p: dict):
    """logOffset of the file a one-file micro-batch covers, or None for
    a progress event without new data."""
    src = p["sources"][0]
    end, start = src.get("endOffset"), src.get("startOffset")
    if end is None or end == start:
        return None
    return json.loads(end)["logOffset"] if isinstance(end, str) else end["logOffset"]


def _commit_time(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def stream_upsert(spark, inp: str, out: str, tr, truth: dict, seconds: int) -> PassResult:
    """Six P7-P12 upsert queries over one watched directory. Files are
    released on the open-loop schedule, one every STREAM_INTERVAL_S for
    ``seconds``, into queries that have just started: the first file's
    micro-batches are the queries' first. Each (file, query) latency runs
    from the file's due time to the commit of the micro-batch covering
    it."""
    res = PassResult()
    n_files = math.ceil(seconds / STREAM_INTERVAL_S)
    if n_files > len(truth["files"]):
        raise ValueError(f"--seconds {seconds} needs {n_files} stream files, "
                         f"the generator writes {len(truth['files'])}")
    files = truth["files"][:n_files]
    staged, watch = f"{out}/staged", f"{out}/watch"
    os.makedirs(staged)
    os.makedirs(watch)
    for f in files:
        shutil.copy(f"{inp}/files/{f['name']}", staged)

    def release(name: str) -> float:
        src = f"{staged}/{name}"
        os.utime(src)  # the source orders new files by modification time
        os.rename(src, f"{watch}/{name}")
        return time.time()

    with tr.span("streaming.pipelines.start", "streaming.pipelines"):
        with tr.span("ingest.read_publications_stream", "ingest"):
            pubs = pipelines.read_publications_stream(spark, watch, "oag", 1)
        queries = {
            name: pipelines.run_aggregation_upsert(
                spark, pubs, name, f"{out}/{name}", f"{out}/ckpt/{name}")
            for name in AGGREGATIONS
        }
    try:
        due, actual = [], []
        t_start = time.time() + 0.2
        for i, f in enumerate(files):
            d = t_start + i * STREAM_INTERVAL_S
            time.sleep(max(0.0, d - time.time()))
            due.append(d)
            actual.append(release(f["name"]))
        sched_end = due[-1] + STREAM_INTERVAL_S
        for q in queries.values():
            q.processAllAvailable()
        progress = {name: _progress(q) for name, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()

    last_commit, backlog, queue_wait = 0.0, 0, []
    for name, events in progress.items():
        committed = {}
        for p in events:
            off = _file_offset(p)
            if off is not None:
                committed[off] = p
        late = 0
        for i in range(len(files)):
            p = committed.get(i)
            if p is None:
                res.ops += 1
                res.errors.append(f"{name}: file {i} never committed")
                continue
            c = _commit_time(p)
            res.ops += 1
            res.latencies.append(c - due[i])
            # a trigger that started just before the release can still
            # list the file: it waited 0, not a negative time
            queue_wait.append(max(0.0, datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp() - actual[i]))
            last_commit = max(last_commit, c)
            late += c > sched_end
        backlog = max(backlog, late)
    res.run_s = last_commit - due[0]
    res.records = sum(len(f["records"]) for f in files)
    res.details["backlog_end"] = backlog
    res.details["loadgen_late_max_s"] = max(a - d for a, d in zip(actual, due))

    valid = reference.valid_oag([r for f in files for r in f["records"]])
    tables = {name: f"{out}/{name}" for name in AGGREGATIONS}
    res.errors += reference.check_analytics(valid, tables)

    batches = [p for events in progress.values() for p in events if _file_offset(p) is not None]

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return statistics.median(vals) if vals else 0.0

    ends = [events[-1] for events in progress.values() if events]
    yrwise = pq.read_table(f"{out}/yrwise_dist").column("total").to_pylist()
    res.layers = {
        "streaming.pipelines.trigger_exec_ms_p50": p50("triggerExecution"),
        "streaming.pipelines.add_batch_ms_p50": p50("addBatch"),
        "streaming.pipelines.planning_ms_p50": p50("queryPlanning"),
        "streaming.pipelines.wal_commit_ms_p50": p50("walCommit"),
        "streaming.pipelines.queue_wait_ms_p50":
            1e3 * statistics.median(queue_wait) if queue_wait else 0.0,
        "streaming.pipelines.state_rows": sum(
            s["numRowsTotal"] for p in ends for s in p.get("stateOperators", [])),
        "streaming.pipelines.state_mem_bytes": sum(
            s["memoryUsedBytes"] for p in ends for s in p.get("stateOperators", [])),
        "streaming.pipelines.batches": len(batches),
        "ingest.records_in": sum(p["numInputRows"] for p in batches) / len(AGGREGATIONS),
        "ingest.records_valid": sum(yrwise),
        "operators.analytics.result_rows": sum(_rows(p) for p in tables.values()),
        "loadgen.late_max_s": res.details["loadgen_late_max_s"],
    }
    return res


# ---------------------------------------------------------------------------
# graph_community
# ---------------------------------------------------------------------------

#: a keyword counts as strongly used by an author beyond this many papers
USAGE_THRESHOLD = 1


def _ingest_stage(spark, inp: str, out: str, tr, truth: dict, res: PassResult) -> list[dict]:
    """OAG JSON lines and DBLP XML chunks through the seven validation
    rules into the validated-publications parquet (the Cassandra
    stand-in). Returns the reference-validated rows."""
    with res.op(), tr.span("ingest.validated_parquet", "ingest") as cnt:
        with tr.span("sources.io.read_dblp_xml_distributed", "sources.io") as xc:
            xml = sio.read_dblp_xml_distributed(spark, f"{inp}/dblp/*.xml")
            xml, n_xml = _force(tr, xml)
            xc["xml_records"] = n_xml or 0
            dblp_raw = sio.to_kafka_json(xml)
        raw = spark.read.text(f"{inp}/oag")
        pubs = ingest.union_sources(ingest.ingest_oag(raw), ingest.ingest_dblp(dblp_raw))
        pubs.write.mode("overwrite").parquet(f"{out}/validated")
        cnt["records_in"] = len(truth["oag"]) + (n_xml or 0)
    return reference.valid_oag(truth["oag"]) + reference.valid_dblp(truth["dblp"])


def graph_community(spark, inp: str, out: str, tr, truth: dict, seconds: int) -> PassResult:
    """The batch path. Ingest writes the validated publications; the
    batch jobs then run over them (LPA communities, their subgraph and
    the collaborator projection), then build and probe the
    near-duplicate signature store over the document corpus."""
    res = PassResult()
    valid = _ingest_stage(spark, inp, out, tr, truth, res)
    pubs = spark.read.parquet(f"{out}/validated")
    with res.op(), tr.span("operators.community.labels", "operators.community"):
        with tr.span("operators.community.extract", "operators.community") as ec:
            rel = community.relevance_filter(pubs, loadgen.GRAPH_KEYWORDS, loadgen.GRAPH_DOMAINS)
            vertices, _ = _force(tr, community.extract_vertices(rel))
            edges, n_edges = _force(tr, community.extract_edges(rel))
            ec["edges"] = n_edges or 0
        with tr.span("operators.community.community_detection", "operators.community"):
            labels = community.community_detection(vertices, edges, iterations=5)
            labels.write.mode("overwrite").parquet(f"{out}/labels")
    labels = spark.read.parquet(f"{out}/labels")
    with res.op(), tr.span("operators.community.top_communities", "operators.community"):
        keep = community.top_communities(community.community_sizes(labels), 3)
    with res.op(), tr.span("operators.community.subgraph", "operators.community"):
        kept_v, kept_e = community.subgraph_by_labels(vertices, edges, labels, keep)
        community.decorate_edges(kept_v, kept_e).write.mode("overwrite").parquet(
            f"{out}/decorated")
    with res.op(), tr.span("operators.association.collaborators", "operators.association"):
        used = association.usage_edges(rel, loadgen.GRAPH_KEYWORDS, USAGE_THRESHOLD)
        projected = association.project_top(used)
        association.collaborator_table(projected).write.mode("overwrite").parquet(
            f"{out}/collaborators")
    found = _dedup_stage(spark, inp, out, tr, res)
    res.run_s = time.perf_counter() - res.t0
    res.records = truth["n_input"]

    n_valid = _rows(f"{out}/validated")
    if n_valid != len(valid):
        res.errors.append(f"validated publications: {n_valid}, reference {len(valid)}")
    lab = pq.read_table(f"{out}/labels").to_pydict()
    label_of = dict(zip(lab["id"], lab["label"]))
    rel_pubs = reference.relevant(valid, loadgen.GRAPH_KEYWORDS, loadgen.GRAPH_DOMAINS)
    res.errors += reference.check_cliques(label_of, truth["cliques"])
    dec = pq.read_table(f"{out}/decorated").to_pylist()
    decorated = [(r["name_a"], r["type_a"], r["label_a"], r["name_b"], r["type_b"], r["label_b"])
                 for r in dec]
    res.errors += reference.check_subgraph(decorated, label_of, keep,
                                           reference.graph_edges(rel_pubs))
    col = pq.read_table(f"{out}/collaborators").to_pydict()
    got = dict(zip(col["author"], col["n_collaborators"]))
    want = reference.collaborators(rel_pubs, loadgen.GRAPH_KEYWORDS, USAGE_THRESHOLD)
    if got != want:
        res.errors.append(f"collaborator table: {len(got)} authors, reference {len(want)}")
    errors, recall = reference.check_dedup(found, truth["planted"], truth["texts"],
                                           DEDUP_THRESHOLD)
    res.errors += errors
    store = f"{out}/store"
    res.layers = {
        "ingest.records_in": tr.layer_totals("ingest").get("records_in", 0),
        "ingest.records_valid": n_valid,
        "operators.association.pairs": sum(got.values()),
        "operators.dedup.pairs": sum(len(p) for p in found.values()),
        "operators.dedup.recall": recall,
        "sources.storectl.store_bytes": sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(store) for f in fs),
    }
    return res


#: Jaccard threshold of the near-duplicate probes
DEDUP_THRESHOLD = 0.5


def _dedup_stage(spark, inp: str, out: str, tr, res: PassResult) -> dict:
    """Build a signature store over the document corpus, then probe each
    increment against it. Returns the emitted pairs per increment."""
    docs, store = f"{inp}/documents", f"{out}/store"
    with res.op(), tr.span("operators.dedup.write_signature_store", "operators.dedup"):
        dedup.write_signature_store(spark.read.parquet(f"{docs}/store.parquet"), store)
    found = {}
    for b in range(len(glob.glob(f"{docs}/increment-*.parquet"))):
        batch = spark.read.parquet(f"{docs}/increment-{b}.parquet")
        with res.op(), tr.span("operators.dedup.probe", "operators.dedup"):
            pairs = dedup.minhash_lsh_increment_from_store(
                spark, store, batch, threshold=DEDUP_THRESHOLD).collect()
        found[b] = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs]
    return found


WORKLOADS = {
    "stream_upsert": stream_upsert,
    "graph_community": graph_community,
}
