"""session.get_spark's memory and ANSI settings: the Tungsten page size
sized to the driver heap and the heap layout fixed on a local master
(both left to Spark on any other), and ANSI mode pinned on."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from job_market_research_spark import session
from job_market_research_spark.session import (
    LOCAL_NEW_RATIO,
    PAGE_TABLE_SIZE,
    get_spark,
    local_heap_options,
    local_page_size,
)

MIB = 1 << 20


@pytest.mark.parametrize(
    "driver_memory, page",
    [("8g", MIB), ("1g", 128 << 10), ("16g", 2 * MIB), ("4096m", 512 << 10), ("8192", MIB)],
)
def test_local_page_size_addresses_whole_heap(driver_memory, page):
    assert local_page_size("local[4]", driver_memory) == page
    assert local_page_size("local[*]", driver_memory) == page
    assert local_page_size("local", driver_memory) == page


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_local_page_size_leaves_other_masters_to_spark(master):
    assert local_page_size(master, "8g") is None
    assert local_heap_options(master, "8g") == ""


def _physical_memory(monkeypatch, nbytes: int) -> None:
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": nbytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)


@pytest.mark.parametrize(
    "driver_memory, heap", [("8g", 8 << 30), ("1g", 1 << 30), ("4096m", 4 << 30), ("8192", 8 << 30)]
)
def test_local_heap_options_commit_whole_heap_with_fixed_young(monkeypatch, driver_memory, heap):
    _physical_memory(monkeypatch, 64 << 30)
    assert local_heap_options("local[4]", driver_memory) == f"-Xms{heap} -XX:NewRatio=15"
    assert local_heap_options("local", driver_memory) == f"-Xms{heap} -XX:NewRatio=15"


def test_local_heap_options_commit_nothing_beyond_physical_memory(monkeypatch):
    _physical_memory(monkeypatch, 4 << 30)
    assert local_heap_options("local[4]", "8g") == "-XX:NewRatio=15"
    assert local_heap_options("local[4]", "4g") == f"-Xms{4 << 30} -XX:NewRatio=15"


class _Built(Exception):
    pass


def _built_options(monkeypatch, **kwargs) -> dict:
    """The options get_spark hands to the builder, without starting a
    session."""

    def capture(builder):
        raise _Built(dict(builder._options))

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built) as built:
        get_spark(**kwargs)
    return built.value.args[0]


def test_non_local_master_gets_no_page_size(monkeypatch):
    opts = _built_options(monkeypatch, master="spark://host:7077")
    assert "spark.buffer.pageSize" not in opts
    assert "spark.broadcast.blockSize" not in opts
    assert "-Xms" not in opts["spark.driver.extraJavaOptions"]
    assert opts["spark.sql.ansi.enabled"] == "true"


def test_local_master_page_size_follows_driver_memory(monkeypatch):
    opts = _built_options(monkeypatch, master="local[2]", extra_conf={"spark.driver.memory": "1g"})
    assert opts["spark.buffer.pageSize"] == str(128 << 10)
    assert opts["spark.broadcast.blockSize"] == "128k"
    assert opts["spark.driver.extraJavaOptions"].endswith(f" -Xms{1 << 30} -XX:NewRatio=15")


def test_caller_java_options_come_after_heap_options(monkeypatch):
    opts = _built_options(
        monkeypatch, master="local[2]", extra_conf={"spark.driver.extraJavaOptions": "-XX:NewRatio=7"}
    )
    java = opts["spark.driver.extraJavaOptions"]
    assert java.startswith("-Dderby.system.home=")
    assert java.endswith("-XX:NewRatio=15 -XX:NewRatio=7")


@pytest.mark.parametrize("value", ["false", "False", "0", ""])
def test_ansi_off_is_refused_even_with_live_session(spark, value):
    with pytest.raises(ValueError, match="ansi"):
        get_spark(extra_conf={"spark.sql.ansi.enabled": value})
    assert get_spark(extra_conf={"spark.sql.ansi.enabled": "true"}) is spark


def test_live_session_has_ansi_on(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_session_page_addresses_heap_and_is_not_humongous(spark):
    """The suite's session (local master, 8g driver by default): the
    page table addresses the whole heap, so a task spills before it runs
    out of page slots, and a page is under half a G1 region, so it is
    never a humongous allocation."""
    jvm = spark._jvm
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    assert page * PAGE_TABLE_SIZE >= jvm.java.lang.Runtime.getRuntime().maxMemory()
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(hotspot.getVMOption("G1HeapRegionSize").getValue())
    assert page < region // 2
    assert page == local_page_size(spark.sparkContext.master, spark.conf.get("spark.driver.memory"))
    assert spark.sparkContext.getConf().get("spark.broadcast.blockSize") == f"{page >> 10}k"


def test_session_heap_is_committed_whole_with_fixed_young(spark):
    """The suite's session (local master): the heap starts at its
    maximum (unless the machine has less physical memory), so G1 never
    grows it, and the young generation is sized by the fixed ratio
    instead of adaptively."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    initial = mf.getMemoryMXBean().getHeapMemoryUsage().getInit()
    whole = initial == jvm.java.lang.Runtime.getRuntime().maxMemory()
    opts = local_heap_options(spark.sparkContext.master, spark.conf.get("spark.driver.memory"))
    assert whole == opts.startswith("-Xms")
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert int(hotspot.getVMOption("NewRatio").getValue()) == LOCAL_NEW_RATIO
