"""Local-session sizing and logging presets of ``session.get_session``."""

from __future__ import annotations

from quackspark import session as S


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S.default_driver_memory() == "3g"


def test_driver_memory_fits_the_box(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    spec = S.default_driver_memory()
    assert spec.endswith("g"), spec
    heap = int(spec[:-1])
    assert 1 <= heap <= 16
    assert heap * 2**20 <= 0.6 * total_kib or heap == 1


def test_session_uses_box_sized_heap(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory", None)
    assert conf == S.default_driver_memory()


def test_only_the_local_checkpoint_logger_is_raised(spark):
    """Unpersisting localCheckpoint'ed RDDs must not warn once per RDD,
    while other Spark warnings (e.g. WindowExec's "No Partition Defined",
    which flags real user plans) still reach the log."""
    log4j = spark._jvm.org.apache.logging.log4j
    warn = log4j.Level.WARN
    rdd = log4j.LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    assert not rdd.isEnabled(warn)
    assert rdd.isEnabled(log4j.Level.ERROR)
    window = log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    )
    assert window.isEnabled(warn)
