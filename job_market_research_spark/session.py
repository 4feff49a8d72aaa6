"""SparkSession factory tuned for this engine.

The reference ran bitnami Spark 3.3.2 in single-container local mode
(reference: spark_pipeline/transform_job.py:41-50) with hand-rolled S3A
wiring. Here one factory owns all session config; the same settings
scale from local[N] testing to a multi-executor cluster because they
only concern the SQL layer (AQE, shuffle sizing, Arrow), not the
cluster manager.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scratch_dir() -> str:
    """Gitignored `.scratch/` at the repo root — shared with
    sources.readers.SCRATCH — for engine byproducts (Derby, warehouse)."""
    d = os.path.join(_REPO_ROOT, ".scratch")
    os.makedirs(d, exist_ok=True)
    return d


#: TaskMemoryManager.PAGE_TABLE_SIZE: the most pages one task can hold.
PAGE_TABLE_SIZE = 8192

#: On a local master the driver's young generation is a fixed
#: 1/(LOCAL_NEW_RATIO + 1) of its heap: 512 MiB of the default 8g.
LOCAL_NEW_RATIO = 15

_SIZE_UNITS = {"": 1 << 20, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _local_heap_bytes(master: str, driver_memory: str) -> int | None:
    """The driver heap in bytes on a local master (`driver_memory` in
    Spark's syntax, a bare number being MiB), None on any other."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return None
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", driver_memory.strip().lower())
    if m is None:
        raise ValueError(f"unparseable spark.driver.memory {driver_memory!r}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def local_page_size(master: str, driver_memory: str) -> int | None:
    """`spark.buffer.pageSize` in bytes for a local master: the smallest
    power of two with which PAGE_TABLE_SIZE pages address the whole
    driver heap. None for any other master: its executors' heaps are not
    known here, and Spark's own per-executor rule applies."""
    heap = _local_heap_bytes(master, driver_memory)
    if heap is None:
        return None
    return 1 << (-(-heap // PAGE_TABLE_SIZE) - 1).bit_length()


def local_heap_options(master: str, driver_memory: str) -> str:
    """Driver JVM options for a local master: the whole heap committed
    from the start (`-Xms` equal to the `-Xmx` that spark.driver.memory
    sets) and a young generation fixed at 1/(LOCAL_NEW_RATIO + 1) of it.
    Empty for any other master.

    G1 grows a heap that is below its maximum whenever collections come
    close together, and new eden regions are then taken from the newly
    committed memory, so the driver's resident size depends on GC timing:
    the first case mapping in a JVM (Spark's ICU title-case table, about
    3.4 GB of short-lived garbage) lands on a different heap size from
    run to run. With the heap at its maximum and eden a fixed size, the
    young generation reuses the same regions, and the resident size
    follows the workload alone. Committed but untouched heap costs no
    resident memory; on a machine with less physical memory than the
    heap, where the kernel may refuse to commit it, `-Xms` is left out."""
    heap = _local_heap_bytes(master, driver_memory)
    if heap is None:
        return ""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    xms = f"-Xms{heap} " if heap <= physical else ""
    return f"{xms}-XX:NewRatio={LOCAL_NEW_RATIO}"


def get_spark(
    app_name: str = "job_market_research_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting
      and dynamic broadcast decisions — the knobs that matter at 100 TB.
    - Arrow on: every pandas-UDF boundary is Arrow-batched.
    - UTC session timezone: parquet timestamps compare cleanly against
      the DuckDB oracle (naive-UTC semantics).
    - shuffle partitions default to the local core count; on a real
      cluster AQE re-coalesces upward from the initial value.
    - ANSI mode pinned on: `exact.limb_sum_scaled` relies on it to
      raise on overflow instead of wrapping. An `extra_conf` that sets
      `spark.sql.ansi.enabled` to anything but true raises ValueError,
      also when a live session is returned.
    - On a local master the driver JVM is the only executor, and the
      Tungsten page size (`spark.buffer.pageSize`) is sized to its heap
      by `local_page_size`: 1 MiB for the default 8g. Spark's own rule
      (execution pool / cores / 16, capped at 64 MiB) picks 64 MiB
      there, so every sort or aggregate task allocates and zeroes at
      least one 64 MiB page however few rows it holds, and on an 8 GiB
      heap (4 MiB G1 regions) each such page is a humongous old-gen
      object. Broadcast pieces (`spark.broadcast.blockSize`, 4 MiB by
      default) get the same size: every broadcast, however small,
      serializes into at least one piece-sized buffer. Other masters
      get neither: the conf would reach executors whose heaps are not
      known here.
    - On a local master the driver heap is also committed in full and
      its young generation fixed (`local_heap_options`), so the
      driver's resident size does not depend on when G1 decides to
      grow the heap.

    In a process that already has an active session, that session is
    returned as it is: none of the arguments is applied to it (pyspark's
    getOrCreate would re-apply the SQL confs to the first caller's
    session while keeping its master).
    """
    extra_conf = extra_conf or {}
    ansi = extra_conf.get("spark.sql.ansi.enabled", "true")
    if ansi.strip().lower() != "true":
        raise ValueError(
            f"spark.sql.ansi.enabled={ansi!r}: exact.limb_sum_scaled needs "
            "ANSI mode to fail loudly on overflow"
        )
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    driver_memory = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    java_options = (
        f"-Dderby.system.home={_scratch_dir()} "
        f"-Dderby.stream.error.file={os.path.join(_scratch_dir(), 'derby.log')}"
    )
    heap_options = local_heap_options(master, driver_memory)
    if heap_options:
        java_options = f"{java_options} {heap_options}"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts has shipped as TIMESTAMP(NANOS) (vanilla
        # Spark refuses: read as long nanos, io.load divides exactly)
        # and as TIMESTAMP(MICROS, naive) (scan as NTZ, io.load casts
        # under the UTC session timezone). Setting both here means
        # sessions from this factory never rely on io.load's defensive
        # conf-set path.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        # keep engine droppings out of the CWD: the Hive-less warehouse
        # dir and embedded Derby's log (JDBC sink tests) both default to
        # the process CWD, which litters the repo root across rounds.
        # NOTE: -D flags only take effect when THIS builder launches the
        # driver JVM; harmless for the repo since every entry point here
        # builds its session through this factory first.
        .config("spark.sql.warehouse.dir", os.path.join(_scratch_dir(), "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", java_options)
        # Arrow Python workers do not inherit the driver's sys.path:
        # without this, a query with a Python worker fails with
        # ModuleNotFoundError when run outside the repo root.
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
    )
    page = local_page_size(master, driver_memory)
    if page is not None:
        builder = builder.config("spark.buffer.pageSize", str(page)).config(
            "spark.broadcast.blockSize", f"{page >> 10}k"
        )
    for k, v in extra_conf.items():
        # merge, don't clobber: a caller-supplied extraJavaOptions
        # would otherwise silently drop the Derby and heap flags above
        # (the caller's come last, so theirs win)
        if k == "spark.driver.extraJavaOptions":
            v = f"{java_options} {v}"
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_s3a(
    spark: SparkSession,
    endpoint: str,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
) -> SparkSession:
    """S3-compatible object-store wiring (SURVEY §2.1 `source_s3a_config`;
    reference: spark_pipeline/transform_job.py:53-67).

    Identical `fs.s3a.*` settings work for MinIO, AWS S3 and any
    S3-compatible store; paths then read as ``s3a://bucket/key``.
    Credentials must come from the environment/secret store, never
    hardcoded (the reference's own test plan flags its hardcoded keys).
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if access_key:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key:
        hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.path.style.access", "true" if path_style else "false")
    hconf.set("fs.s3a.connection.ssl.enabled", "false" if endpoint.startswith("http:") else "true")
    hconf.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    return spark
