"""Raw-file ingestion via Spark's binaryFile source (beyond-reference).

The ingestion path multimodal corpora actually use: a directory of
raw files (images, audio, here .txt blobs) read by
`spark.read.format("binaryFile")` into (path, modificationTime,
length, content) rows — the step BEFORE multimodal/binary_ops.py's
typed binary columns exist. The staged files are written FROM the
documents table, so the DuckDB oracle needs no filesystem access at
all: it recomputes each file's length and md5 from the same text —
the strict-oracle trick for a side-effectful source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.registry import query
from job_market_research_spark.staging import staged_files

#: How many documents become staged raw files.
BINFILE_N = 20


@staged_files
def stage_raw_files(spark: SparkSession, sf_dir: str, *, out: str) -> str:
    """Write the first BINFILE_N documents as individual .txt files
    (ASCII corpus → byte length == char length, and file md5 == text
    md5). Staging is driver-side but bounded at BINFILE_N files — at
    scale the files already exist, this only simulates the landing
    directory."""
    rows = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINFILE_N)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        with open(os.path.join(out, f"doc_{r['doc_id']:05d}.txt"), "w") as f:
            f.write(r["text"])
    return out


@query(
    "scan_binaryfile_source",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {BINFILE_N}
    ORDER BY doc_id
    """,
    tags=("source", "multimodal", "beyond"),
)
def q_scan_binaryfile_source(spark, sf_dir: str) -> DataFrame:
    """Read the staged landing directory with the binaryFile source
    and emit (doc_id from the filename, byte length, content md5).
    The oracle recomputes all three from the documents table the
    files were written from — a filesystem round-trip proven
    byte-exact without the oracle ever touching a file.

    Scale notes: binaryFile parallelizes by file and carries
    `length` from the file status (no read needed for size-only
    scans); content md5 forces the read here deliberately. Path
    filters (pathGlobFilter) and the source's partition pruning keep
    a 100 TB landing zone scan bounded to the requested prefix."""
    src = stage_raw_files(spark, sf_dir)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(src)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


@staged_files
def stage_dirty_csv(spark: SparkSession, sf_dir: str, *, out: str) -> str:
    """Write a CSV whose text field carries every classic CSV hazard —
    commas, double quotes, embedded newlines, leading/trailing spaces
    — seeded deterministically from the documents table."""
    dirty = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.concat(
                F.lit(' "quoted", with, commas\nand a newline: '),
                F.substring("text", 1, 40),
            ).alias("payload"),
        )
    )
    (
        dirty.repartition(2)
        .write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        # The CSV WRITER trims field whitespace BY DEFAULT
        # (ignoreLeadingWhiteSpace/ignoreTrailingWhiteSpace default
        # true on write) — a silent mutation this roundtrip exists to
        # catch; both must be disabled for byte fidelity.
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out)
    )
    return out


@query(
    "sink_csv_escape_roundtrip",
    oracle="""
    SELECT doc_id,
           md5(' "quoted", with, commas' || chr(10)
               || 'and a newline: ' || substr(text, 1, 40)) AS payload_md5,
           CAST(length(' "quoted", with, commas' || chr(10)
               || 'and a newline: ' || substr(text, 1, 40)) AS BIGINT)
             AS payload_len
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
    tags=("sink", "source", "beyond"),
)
def q_sink_csv_escape_roundtrip(spark, sf_dir: str) -> DataFrame:
    """CSV escape-handling roundtrip: payloads carrying embedded
    commas, double quotes and NEWLINES write out with quoteAll+escape
    and read back with multiLine — the classic data-loss trap when a
    pipeline leaves CSV quoting at defaults (an embedded newline
    silently splits a record). The oracle recomputes each payload's
    md5/length from the source table, so the write→read cycle is
    proven byte-exact without the oracle touching the files.

    Scale note: multiLine CSV parsing cannot split FILES (a record
    may cross any byte offset), so parallelism is per-file — the
    roundtrip keeps 2 files to demonstrate that; columnar formats
    remain the recommendation the docstring makes explicit."""
    src = stage_dirty_csv(spark, sf_dir)
    return (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(src)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("payload")).alias("payload_md5"),
            F.length("payload").cast("long").alias("payload_len"),
        )
        .orderBy("doc_id")
    )


@staged_files
def stage_hive_partitions(spark: SparkSession, sf_dir: str, *, out: str) -> str:
    """Write orders under year=YYYY/month=M hive directories."""
    (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(out)
    )
    return out


@query(
    "scan_hive_partition_types",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           CAST(month(o_orderdate) AS BIGINT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_value
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY 1, 2 ORDER BY year, month
    """,
    tags=("source", "beyond"),
)
def q_scan_hive_partition_types(spark, sf_dir: str) -> DataFrame:
    """Hive-layout partition discovery: orders land under
    year=YYYY/month=M directories, the reader infers the partition
    COLUMNS AND TYPES from the paths (integers here — discovery is
    what turns a directory convention back into typed columns), and
    the year filter prunes directories before any file opens
    (PartitionFilters, the test_pushdown discipline). The oracle
    recomputes the same summary from the unpartitioned table — the
    layout roundtrip is hash-proven.

    At 100 TB this layout IS the primary index: a year/month
    predicate reads 1/84th of the directory tree, no manifest
    needed."""
    src = stage_hive_partitions(spark, sf_dir)
    return (
        spark.read.parquet(src)
        .filter(F.col("year") == 1997)
        .groupBy(
            F.col("year").cast("long").alias("year"),
            F.col("month").cast("long").alias("month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("year", "month")
    )
