"""Contention-robust query cost measurement: executor task time.

Wall clock on a shared host is a lottery draw — same-code bench passes
have spanned 49.5-82.6 s warm totals on one 4-vCPU host, because an
external load burst stretches wall time while Spark's cores sit idle.
The metric that survives contention is the *sum of executor task time*
attributed to the query's stages:

- ``executorRunTime`` (ms): per-task wall time summed over tasks — it
  counts everything the query actually occupied executor slots with,
  including Python-worker waits (pandas UDF stages) and shuffle I/O.
  OS-level descheduling still inflates it, but far less than driver
  wall clock (a stall only costs the tasks in flight, not the full
  serial pass).
- ``executorCpuTime`` (ns -> reported ms): JVM on-CPU time of the tasks —
  immune to descheduling entirely, but blind to Python-worker work
  (the task thread blocks off-CPU while Arrow batches round-trip).

The pair brackets the query's true cost: run time is the inclusive
upper signal, CPU time the JVM-only lower one. Round-over-round
comparisons belong on these, not wall clock (round-6 verdict #1).

Implementation: snapshot ``AppStatusStore.stageList`` (the store behind
the UI/REST API — public, stable across Spark 3.x/4.x) before and after
the query and sum the per-stage deltas. Stage IDs are monotonically
increasing per SparkContext, so new-or-grown stages are exactly the
query's own stages when queries run one after another in one session.
The store is fed by the async listener bus, so :func:`quiesce` polls
until no stage is active and two consecutive snapshots agree.
"""

from __future__ import annotations

import time


def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def snapshot(spark) -> dict[tuple[int, int], tuple[int, int]]:
    """{(stageId, attemptId): (executorRunTime_ms, executorCpuTime_ns)}
    for every stage the status store currently retains."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = _status_store(spark)
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out: dict[tuple[int, int], tuple[int, int]] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = (
            s.executorRunTime(),
            s.executorCpuTime(),
        )
    return out


def quiesce(spark, timeout_s: float = 10.0) -> None:
    """Wait until the async listener bus has drained the finished query's
    stage metrics into the status store: no active stages, and two
    consecutive snapshots identical. Bounded by ``timeout_s`` (a lagging
    bus then under-attributes the tail of the query — visible as a
    too-small delta, never a crash)."""
    store = _status_store(spark)
    deadline = time.monotonic() + timeout_s
    prev = None
    while time.monotonic() < deadline:
        if store.activeStages().isEmpty():
            cur = snapshot(spark)
            if cur == prev:
                return
            prev = cur
        time.sleep(0.1)


def delta_ms(
    before: dict[tuple[int, int], tuple[int, int]],
    after: dict[tuple[int, int], tuple[int, int]],
) -> tuple[float, float]:
    """(task_run_ms, task_cpu_ms) accumulated between the two snapshots.

    New stages count fully; stages present in both count their growth
    (a stage can straddle a snapshot only if work leaked across the
    boundary — sequential bench execution makes that zero). Stages
    evicted from the store between snapshots (spark.ui.retainedStages)
    simply drop out of ``after`` and cannot corrupt the delta.
    """
    run = 0
    cpu = 0
    for key, (r, c) in after.items():
        br, bc = before.get(key, (0, 0))
        if r > br:
            run += r - br
        if c > bc:
            cpu += c - bc
    return float(run), float(cpu) / 1e6


class TaskTimer:
    """measure(fn) -> (wall_s, task_run_s, task_cpu_s) for one sequential
    query execution, via status-store snapshot deltas."""

    def __init__(self, spark):
        self.spark = spark

    def measure(self, fn) -> tuple[float, float, float]:
        quiesce(self.spark, timeout_s=3.0)
        before = snapshot(self.spark)
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        quiesce(self.spark)
        run_ms, cpu_ms = delta_ms(before, snapshot(self.spark))
        return wall, run_ms / 1000.0, cpu_ms / 1000.0
