"""perfbench: cold-start benchmark of the SciPi pipelines.

Run from the root of a checkout::

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 12 --trace 0

One run is one process. It sets up one SparkSession on a fresh JVM,
runs the workload's pass cold, and the reference checks then verify
every output. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The lines
before it print every metric by name with its unit, plus the details
a metric cannot carry (input digest, Spark configuration, tail
percentile, backlog, tracing overhead).

With ``--trace 1`` the cold pass runs traced: spans go to
``.results/`` and the per-layer metrics include the tracing overhead.

Inputs are generated from ``--seed`` (see ``loadgen.py``) and cached in
``.cache/``; each run works in a private directory under ``.run/``
that it removes before exiting.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_memory_gb() -> float:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def spark_conf(rundir: str) -> dict[str, str]:
    """Private directories for everything Spark writes, and a driver heap
    sized to a sixth of the host (the host's memory is shared)."""
    heap_gb = max(1, min(8, int(host_memory_gb() / 6)))
    return {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": f"{rundir}/local",
        "spark.sql.warehouse.dir": f"{rundir}/warehouse",
        "spark.sql.streaming.checkpointLocation": f"{rundir}/ckpt",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str], cores: int):
    from scipi_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(conf["spark.sql.streaming.checkpointLocation"])
    # the warm-up job: one JVM-only aggregation across every core
    spark.range(0, 100_000, 1, cores).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until every process it
    started (the JVM, the Python worker daemon) has ended."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not reach
    the median, so the tail is then the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n


def layer_metrics(tr, res, stage_totals, setup_s) -> dict[str, float]:
    def span_self(name):
        return sum(tr.self_seconds(s) for s in tr.spans if s["name"] == name and "close" in s)

    ing, io_, ana, com, assoc = (tr.layer_totals(layer) for layer in (
        "ingest", "sources.io", "operators.analytics", "operators.community",
        "operators.association"))
    probes = [s for s in tr.spans if s["name"] == "operators.dedup.probe" and "close" in s]
    m = {
        "session.start_s": setup_s,
        "ingest.self_s": ing["self_s"],
        "ingest.task_s": ing.get("task_s", 0.0),
        "ingest.cpu_s": ing.get("cpu_s", 0.0),
        "sources.io.xml_read_s": io_["self_s"],
        "sources.io.xml_records": io_.get("xml_records", 0),
        "operators.analytics.self_s": ana["self_s"],
        "operators.analytics.task_s": ana.get("task_s", 0.0),
        "operators.analytics.shuffle_write_bytes": ana.get("shuffle_write_bytes", 0),
        "operators.community.extract_s": span_self("operators.community.extract"),
        "operators.community.lpa_s": span_self("operators.community.community_detection"),
        "operators.community.subgraph_s": span_self("operators.community.subgraph"),
        "operators.community.task_s": com.get("task_s", 0.0),
        "operators.community.shuffle_write_bytes": com.get("shuffle_write_bytes", 0),
        "operators.community.spill_bytes": com.get("spill_bytes", 0),
        "operators.community.edges": com.get("edges", 0),
        "operators.association.self_s": assoc["self_s"],
        "operators.dedup.build_self_s": span_self("operators.dedup.write_signature_store"),
        "operators.dedup.probe_self_s":
            statistics.median(tr.self_seconds(s) for s in probes) if probes else 0.0,
        "loadgen.records": res.records,
        "trace.overhead_s": tr.overhead_seconds(),
        "trace.run_s": res.run_s,
        "trace.spans": len(tr.spans),
    }
    m.update({f"spark.{k}": v for k, v in stage_totals.items()})
    m.update(res.layers)
    rin = m.get("ingest.records_in", 0)
    m["ingest.valid_ratio"] = m.get("ingest.records_valid", 0) / rin if rin else 0.0
    return m


def measure(spark, inp, rundir, truth, args, setup_s):
    """The cold pass, traced with ``--trace 1``. Returns (pass result,
    per-layer metrics or None)."""
    import workloads
    from spans import StageMetrics, Tracer

    run = workloads.WORKLOADS[args.workload]
    run_id = os.path.basename(rundir)
    tr = Tracer(run_id, spark, enabled=bool(args.trace))
    if not args.trace:
        return run(spark, inp, f"{rundir}/out/pass0", tr, truth, args.seconds), None
    stages = StageMetrics(spark)
    before = stages.snapshot()
    res = run(spark, inp, f"{rundir}/out/pass0", tr, truth, args.seconds)
    stages.quiesce()
    stage_totals = StageMetrics.delta(before, stages.snapshot())
    tr.write(os.path.join(HERE, ".results", f"spans-{run_id}.jsonl"))
    return res, layer_metrics(tr, res, stage_totals, setup_s)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark cores (default: the CPUs this process may use)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVMs and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import loadgen
    import workloads
    from spans import PeakPss

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    rundir = os.path.join(HERE, ".run", run_id)
    for d in ("local", "warehouse", "tmp", "ckpt", "out"):
        os.makedirs(f"{rundir}/{d}")
    # Python and JVM temp files (the gateway handshake, Arrow spills) and
    # every Spark scratch directory stay inside the run directory; no JVM
    # writes its perf-data file to the system temp directory
    os.environ["TMPDIR"] = f"{rundir}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{rundir}/local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={rundir}/tmp"
    cores = args.cores or len(os.sched_getaffinity(0))
    conf = spark_conf(rundir)

    try:
        inp, truth, input_digest = loadgen.generate(
            os.path.join(HERE, ".cache"), args.workload, args.seed)
        with PeakPss() as mem:
            t0 = time.perf_counter()
            spark = start_session(conf, cores)
            setup_s = time.perf_counter() - t0
            try:
                effective_conf = {
                    k: v.replace(rundir, "<run>")
                    for k, v in sorted(spark.sparkContext.getConf().getAll())
                    if not k.endswith((".id", ".port", ".host", ".startTime"))
                }
                res, layers = measure(spark, inp, rundir, truth, args, setup_s)
                peak = mem.peak
            finally:
                stop_session(spark)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    # metric names and units come from BENCHMARK.json; a layer the
    # workload never calls reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    attempted = res.ops
    failed = min(attempted, len(res.errors))
    lat_tail, tail_pct = tail(res.latencies)
    e2e = {
        "setup_s": setup_s,
        "run_s": res.run_s,
        "records_per_s": res.records / res.run_s,
        "latency_p50_s": statistics.median(res.latencies),
        "latency_tail_s": lat_tail,
    }
    details = {
        "run_id": run_id,
        "input_digest": input_digest,
        "records": res.records,
        "cores": cores,
        "spark_conf": effective_conf,
        "peak_pss_mb": peak / 2**20,
        "latency_samples": len(res.latencies),
        "latencies_s": [round(x, 3) for x in res.latencies],
        "latency_tail_percentile": tail_pct,
        "error_rate": failed / attempted,
        "errors": res.errors,
        **res.details,
    }
    if layers is not None:
        layers["spark.peak_pss_mb"] = peak / 2**20
        details["tracing_overhead_s"] = layers["trace.overhead_s"]
    for k, v in details.items():
        print(f"# {k}: {json.dumps(v)}")
    if args.trace:
        chosen = [(m["name"], m["unit"], layers.get(m["name"], 0.0)) for m in spec["per_layer"]]
    else:
        chosen = [(m["name"], m["unit"], e2e[m["name"]]) for m in spec["end_to_end"]]
    for name, unit, value in chosen:
        print(f"{name:48s} {value:16.6f} {unit}")
    print(json.dumps({
        "correct": not res.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, unit, value in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
