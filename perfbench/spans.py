"""Spans, status-store stage metrics and process memory for perfbench.

The tracer records one span per public call into a ``scipi_spark``
module, from the benchmark's side of the call: name, layer, start, end,
parent span and run id, plus the Spark stage metrics that accrued while
it was open. Spans stay in memory and are written out once, at the end
of the run. With tracing off a span costs one context-manager entry.

Stage metrics follow the snapshot/delta approach of
``scipi_spark.taskmetrics``: snapshot the status store's stage list
before and after, and sum what grew in between.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

#: StageData accessors summed per span, in snapshot tuple order
STAGE_FIELDS = (
    ("task_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
    ("failed_tasks", "numFailedTasks"),
)


class StageMetrics:
    """Status-store snapshots of every retained stage of one session."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def snapshot(self) -> dict[tuple[int, int], tuple[int, ...]]:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        stages = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {}
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = tuple(
                getattr(s, acc)() for _, acc in STAGE_FIELDS
            )
        return out

    def quiesce(self, timeout_s: float = 5.0) -> None:
        """Wait until no stage is active and the listener bus has drained
        (two equal snapshots), so a delta sees the span's whole work."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while time.monotonic() < deadline:
            if self.store.activeStages().isEmpty():
                cur = self.snapshot()
                if cur == prev:
                    return
                prev = cur
            time.sleep(0.05)

    @staticmethod
    def delta(before, after) -> dict[str, float]:
        tot = [0] * len(STAGE_FIELDS)
        for key, vals in after.items():
            base = before.get(key, (0,) * len(STAGE_FIELDS))
            for i, (v, b) in enumerate(zip(vals, base)):
                if v > b:
                    tot[i] += v - b
        d = dict(zip((name for name, _ in STAGE_FIELDS), tot))
        return {
            "task_s": d["task_ms"] / 1e3,
            "cpu_s": d["cpu_ns"] / 1e9,
            "gc_s": d["gc_ms"] / 1e3,
            "shuffle_read_bytes": d["shuffle_read_bytes"],
            "shuffle_write_bytes": d["shuffle_write_bytes"],
            "spill_bytes": d["memory_spill_bytes"] + d["disk_spill_bytes"],
            "failed_tasks": d["failed_tasks"],
        }


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, run_id: str, spark, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.stages = StageMetrics(spark) if enabled else None
        #: time spent materializing boundaries only the traced run forces
        self.forced_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, **counts):
        """Time the enclosed calls into ``layer``. ``counts`` and keys the
        body adds to the yielded dict are stored with the span."""
        if not self.enabled:
            yield {}
            return
        rec = {"run_id": self.run_id, "id": len(self.spans), "name": name,
               "layer": layer, "parent": self._stack[-1] if self._stack else None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        # the tracer's own snapshots and waits fall between open/start and
        # end/close, outside the span and outside its parent's self time
        rec["open"] = time.time()
        before = self.stages.snapshot()
        rec["start"] = time.time()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.stages.quiesce()
            rec["stages"] = StageMetrics.delta(before, self.stages.snapshot())
            rec["close"] = time.time()

    @contextmanager
    def forced(self):
        """Time a materialization that only the traced run performs."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.forced_s += time.perf_counter() - t

    def overhead_seconds(self) -> float:
        """What tracing added to the pass: the tracer's own snapshots and
        waits around each span, plus the forced boundaries. A forced
        boundary also caches its result for the rest of the pass, so its
        time is an upper bound on what it adds."""
        bookkeeping = sum(s["start"] - s["open"] + s["close"] - s["end"]
                          for s in self.spans if "close" in s)
        return bookkeeping + self.forced_s

    def self_seconds(self, span: dict) -> float:
        """Span duration minus the part of it its child spans, with their
        tracing bookkeeping, cover."""
        kids = sorted((c["open"], c["close"]) for c in self.spans
                      if c["parent"] == span["id"] and "close" in c)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def _self_stages(self, span: dict) -> dict[str, float]:
        """The span's stage metrics minus those of its child spans."""
        out = dict(span.get("stages", {}))
        for c in self.spans:
            if c["parent"] == span["id"]:
                for k, v in c.get("stages", {}).items():
                    out[k] = out.get(k, 0) - v
        return out

    def layer_totals(self, layer: str) -> dict[str, float]:
        """Self time, self stage metrics and counts summed over a layer's
        spans."""
        out: dict[str, float] = {"self_s": 0.0}
        for s in self.spans:
            if s["layer"] != layer or "close" not in s:
                continue
            out["self_s"] += self.self_seconds(s)
            for k, v in list(self._self_stages(s).items()) + list(s["counts"].items()):
                out[k] = out.get(k, 0) + v
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------

def descendants(root_pid: int) -> list[int]:
    """Every live descendant process of ``root_pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages a forked Python worker shares
    with its daemon count once, not once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakPss:
    """Background sampler of the summed resident memory (as PSS) of this
    process's descendants: the driver JVM and the Python workers it forks."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
