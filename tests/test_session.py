"""The host sizing rule of ``session.get_spark``, checked without a JVM."""

from __future__ import annotations

import os

from scipi_spark import session

GIB_KIB = 2**20


def test_host_sizing_rule():
    # cores: SPARK_GRAFT_CPUS wins when set, else the affinity count
    assert session.host_sizing(None, 4, 16 * GIB_KIB)[0] == 4
    assert session.host_sizing("", 4, 16 * GIB_KIB)[0] == 4
    assert session.host_sizing("8", 4, 16 * GIB_KIB)[0] == 8
    # heap: a sixth of MemTotal, floored to whole GiB, within [1g, 8g]
    heap = {gib: session.host_sizing(None, 4, int(gib * GIB_KIB))[1]
            for gib in (2, 11.9, 12, 15.7, 48, 54, 128)}
    assert heap == {2: "1g", 11.9: "1g", 12: "2g", 15.7: "2g",
                    48: "8g", 54: "8g", 128: "8g"}


def test_host_sizing_reads_this_host():
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:"))
    assert session._mem_total_kib() == mem_kib
    cores, heap = session.host_sizing(
        None, len(os.sched_getaffinity(0)), session._mem_total_kib())
    assert cores == len(os.sched_getaffinity(0))
    assert heap == f"{max(1, min(8, int(mem_kib / GIB_KIB / 6)))}g"


class _Builder:
    """Records what ``get_spark`` configures instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, env_cpus=None, **kwargs):
    class FakeSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    if env_cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env_cpus)
    return session.get_spark(**kwargs)


def test_get_spark_defaults_come_from_the_host(monkeypatch):
    cores, heap = session.host_sizing(
        None, len(os.sched_getaffinity(0)), session._mem_total_kib())
    conf = _conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.driver.memory"] == heap
    assert conf["spark.sql.shuffle.partitions"] == str(max(2 * cores, 8))
    # deprecated since Spark 3.2; unset, AQE's coalescing floor is
    # defaultParallelism, which local[cores] makes equal to cores
    assert "spark.sql.adaptive.coalescePartitions.minPartitionNum" not in conf

    assert _conf(monkeypatch, env_cpus="3")["master"] == "local[3]"
    # an explicit cpus and an explicit heap both win over the host
    conf = _conf(monkeypatch, env_cpus="3", cpus=6,
                 extra_conf={"spark.driver.memory": "5g"})
    assert conf["master"] == "local[6]"
    assert conf["spark.driver.memory"] == "5g"


def test_get_spark_puts_the_package_on_the_worker_path(monkeypatch):
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    assert os.path.isdir(os.path.join(parent, "scipi_spark"))
    key = "spark.executorEnv.PYTHONPATH"
    assert _conf(monkeypatch)[key] == parent
    # a caller's path is kept, after the package's
    conf = _conf(monkeypatch, extra_conf={key: "vendor/lib"})
    assert conf[key] == os.pathsep.join([parent, "vendor/lib"])


def test_get_spark_turns_off_dataframe_call_site_capture(monkeypatch):
    # PySpark 4 otherwise sends each Column function's Python call site
    # to the JVM, about four extra round trips per call
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert _conf(monkeypatch)[key] == "false"
    assert _conf(monkeypatch, extra_conf={key: "true"})[key] == "true"
