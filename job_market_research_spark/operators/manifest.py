"""Manifest-based file skipping (beyond-reference).

The core mechanic of every lake table format (Iceberg manifests, Delta
file statistics, Hive min/max footers): keep per-file column stats in
a small manifest table, and answer selective queries by reading ONLY
the files whose [min, max] range can contain matches. Spark's own
parquet reader prunes row groups inside a file; the manifest prunes
WHOLE FILES before the scan is even planned — at 100 TB that is the
difference between listing 10 files and listing 100 000.

`maintenance_manifest_prune` builds the whole loop from primitives:
range-clustered write (repartitionByRange so files have tight date
ranges), manifest derivation (one input_file_name() aggregation),
manifest-driven file selection (a |files|-row driver decision — the
same bounded-collect class as a first() argmin), and the pruned read.
Correctness is oracle-checked against the unpruned table; the actual
file-skipping is pinned by test (reads fewer files than exist).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.registry import query
from job_market_research_spark.sources.readers import scratch_dir
from job_market_research_spark.staging import staged_files

#: Range-clustered layout: file count and the probe window.
MANIFEST_FILES = 8
_WIN_LO = "1996-01-01 00:00:00"
_WIN_HI = "1996-07-01 00:00:00"

@staged_files
def stage_range_clustered(
    spark: SparkSession, sf_dir: str, *, out: str
) -> tuple[str, list[dict]]:
    """Write orders range-clustered by o_orderdate into MANIFEST_FILES
    files and derive the per-file manifest (min/max date, row count).
    The manifest is |files| rows — collecting it to the driver is the
    bounded-metadata pattern, not a data collect."""
    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(MANIFEST_FILES, "o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    manifest = [
        r.asDict()
        for r in (
            spark.read.parquet(out)
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
                F.count("*").alias("n_rows"),
            )
            .collect()
        )
    ]
    return out, manifest


@query(
    "maintenance_manifest_prune",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_WIN_LO}'
      AND o_orderdate <  TIMESTAMP '{_WIN_HI}'
    GROUP BY 1 ORDER BY priority
    """,
    tags=("maintenance", "lake", "beyond"),
)
def q_maintenance_manifest_prune(spark, sf_dir: str) -> DataFrame:
    """Half-year order summary answered through the manifest: only
    files whose [min, max] o_orderdate range OVERLAPS the window are
    read (overlap test — conservative, so correctness never depends
    on the clustering being perfect); the residual filter still
    applies inside the surviving files. The oracle runs the same
    query on the unpruned table, so the driver hash proves the pruned
    read loses nothing; tests/test_manifest.py pins that it actually
    skipped files. At 100 TB the manifest itself is a table (one row
    per file) and the selection is a metadata-only query — this is
    Iceberg/Delta data skipping expressed in engine primitives."""
    _, manifest = stage_range_clustered(spark, sf_dir)
    lo = F.lit(_WIN_LO).cast("timestamp")
    hi = F.lit(_WIN_HI).cast("timestamp")
    import datetime

    win_lo = datetime.datetime.fromisoformat(_WIN_LO)
    win_hi = datetime.datetime.fromisoformat(_WIN_HI)
    selected = [
        m["file"]
        for m in manifest
        if m["lo"] < win_hi and m["hi"] >= win_lo
    ]
    return (
        spark.read.parquet(*selected)
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("priority")
    )


#: Compaction planning: pseudo-file count and target rows per output.
COMPACT_BUCKETS = 32
COMPACT_TARGET_ROWS = 2000


@query(
    "maintenance_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT o_orderkey % {COMPACT_BUCKETS} AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    planned AS (
      SELECT file_id, n_rows,
             CAST(coalesce(SUM(n_rows) OVER (
               ORDER BY n_rows DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {COMPACT_TARGET_ROWS} AS BIGINT) AS group_id
      FROM files
    )
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows
    FROM planned GROUP BY group_id ORDER BY group_id
    """,
    tags=("maintenance", "lake", "beyond"),
)
def q_maintenance_compaction_plan(spark, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING: given a manifest of file row
    counts (content-defined here — orderkey buckets stand in for the
    file table so both engines see the identical manifest), assign
    files to output groups by the running-sum water-filling rule:
    sort largest-first, a file joins group floor(prefix_rows/target).
    Each group lands within one file of the target — the plan
    `maintenance_compact_small_files` would execute, produced without
    reading a single data byte (manifest-only, like the pruning twin).

    Scale: the plan computes on the |files| manifest table — the
    cumulative window is bounded by file count, not data size (at
    100 TB a manifest of 100k files is still a window over 100k
    rows; beyond that, plan per partition). The greedy rule is
    deterministic with the (n_rows desc, file_id) total order."""
    files = (
        load(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % COMPACT_BUCKETS).alias("file_id"))
        .agg(F.count("*").alias("n_rows"))
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.desc("n_rows"), "file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "file_id",
        "n_rows",
        (
            F.coalesce(F.sum("n_rows").over(w), F.lit(0))
            / COMPACT_TARGET_ROWS
        )
        .cast("long")
        .alias("group_id"),
    )
    return (
        planned.groupBy("group_id")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
        )
        .orderBy("group_id")
    )


#: Time-travel layout: commits 0..TT_COMMITS-1 each add one file
#: (bucket = o_orderkey % TT_COMMITS), and the query reads AS OF this
#: snapshot — files from commits ≤ TT_AS_OF only.
TT_COMMITS = 4
TT_AS_OF = 2

@staged_files
def stage_commit_log(
    spark: SparkSession, sf_dir: str, *, out: str
) -> list[tuple[int, str, int]]:
    """Simulate a lake table's append history: TT_COMMITS commits, each
    landing one file that holds the o_orderkey % TT_COMMITS == commit
    slice of orders. The commit log (one row per file: commit id,
    path, row count) is the snapshot manifest — bounded metadata, like
    the range-clustered manifest above."""
    orders = load(spark, sf_dir, "orders")
    log: list[tuple[int, str, int]] = []
    for commit in range(TT_COMMITS):
        path = os.path.join(out, f"commit={commit}")
        part = orders.filter(F.col("o_orderkey") % TT_COMMITS == commit)
        part.write.mode("overwrite").parquet(path)
        log.append((commit, path, part.count()))
    return log


@query(
    "scan_manifest_time_travel",
    oracle=f"""
    SELECT CAST({TT_AS_OF} AS BIGINT) AS snapshot_id,
           o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_value
    FROM orders
    WHERE o_orderkey % {TT_COMMITS} <= {TT_AS_OF}
    GROUP BY 2 ORDER BY priority
    """,
    tags=("scan", "lake", "beyond"),
)
def q_scan_manifest_time_travel(spark, sf_dir: str) -> DataFrame:
    """Snapshot time travel answered through a commit log: the staged
    table accumulates one file per commit; reading AS OF snapshot
    TT_AS_OF selects exactly the files whose commit id is ≤ the
    snapshot — an Iceberg/Delta `VERSION AS OF` expressed in engine
    primitives. File selection is a |commits|-row metadata decision
    (never a data scan of dropped commits); the oracle recomputes the
    same snapshot from the commit → key-slice invariant, so the
    driver hash proves the as-of read returns precisely the rows that
    existed at that version — no leakage from later commits.

    Scale: the commit log is one row per file (metadata-sized); the
    as-of read plans only the surviving files, so the scan cost is
    proportional to the SNAPSHOT's size, not the table's full
    history. Later commits never enter the DAG at all — the pruning
    happens before Spark lists a single dropped file."""
    log = stage_commit_log(spark, sf_dir)
    selected = [path for commit, path, _ in log if commit <= TT_AS_OF]
    return (
        spark.read.parquet(*selected)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.lit(TT_AS_OF).cast("long").alias("snapshot_id"),
            "priority",
            "n_orders",
            "total_value",
        )
        .orderBy("priority")
    )


#: Output-shard fan-out for the export-balance audit.
SHARD_N = 16


@query(
    "maintenance_shard_balance",
    oracle=f"""
    WITH d AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {SHARD_N} AS shard,
             len(list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '')) AS n_tok,
             length(text) AS n_chr
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chr) AS BIGINT) AS n_chars
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
    SELECT shard, n_docs, n_tokens, n_chars,
           round(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share_r6,
           round(CAST(n_tokens AS DOUBLE) * {SHARD_N} / t, 6)
             AS balance_ratio_r6
    FROM per CROSS JOIN tot ORDER BY shard
    """,
    tags=("maintenance", "curation", "beyond"),
)
def q_maintenance_shard_balance(spark, sf_dir: str) -> DataFrame:
    """Export-shard balance audit: assign every document to one of
    SHARD_N output shards by a portable content-independent hash of
    its id (the assignment a training-data export actually uses —
    deterministic, resumable, no coordination) and report each
    shard's doc / token / char mass plus its balance ratio against
    the perfect 1/SHARD_N split. The check a pipeline runs BEFORE
    burning a cluster-day writing shards: a ratio far from 1.0 means
    skewed shard files, straggler training readers, and wasted
    prefetch — caught here from one aggregation.

    Hash: the md5-based 60-bit portable hash (ml/neardup.py:71) so
    Spark and the DuckDB oracle agree bit-for-bit; token mass counts
    whitespace tokens (the same split every text operator here uses),
    all masses exact integers, only the two ratios are rounded
    doubles.

    Scale: ONE map-side-combinable aggregation from the corpus to
    SHARD_N rows; the totals join back is a 1-row broadcast. The
    audit's cost is a single corpus pass no matter the fan-out."""
    from job_market_research_spark.ml.neardup import portable_hash60

    d = load(spark, sf_dir, "documents").select(
        (portable_hash60(F.col("doc_id").cast("string")) % SHARD_N).alias(
            "shard"
        ),
        F.size(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("n_tok"),
        F.length("text").alias("n_chr"),
    )
    per = d.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chr").cast("long").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
                "token_share_r6"
            ),
            F.round(
                F.col("n_tokens").cast("double") * SHARD_N / F.col("t"), 6
            ).alias("balance_ratio_r6"),
        )
        .orderBy("shard")
    )


#: Orphan-vacuum staging: tracked layout fan-out and the deterministic
#: "failed write" filters that produce the two orphan files.
VACUUM_TRACKED_FILES = 4
_ORPHAN_MODS = (997, 991)

@staged_files
def stage_vacuum_dir(
    spark: SparkSession, sf_dir: str, *, out: str
) -> tuple[str, list[str]]:
    """Stage a lake-table directory containing BOTH manifest-tracked
    files (orders range-clustered into VACUUM_TRACKED_FILES parts,
    snapshotted as the manifest the moment they land) and two orphan
    parquet files simulating failed/zombie writes: each orphan is a
    real Spark write of a deterministic orders slice whose part-file
    is then moved into the table directory WITHOUT a manifest entry —
    exactly how a task retried after manifest commit, or a killed
    compaction, strands files in production lakes. Returns (out,
    tracked basenames)."""
    import glob
    import shutil

    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(VACUUM_TRACKED_FILES, "o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    tracked = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out, "*.parquet"))
    )
    for i, mod in enumerate(_ORPHAN_MODS):
        tmp = scratch_dir(f"vacuum_orphan_{i}")
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % mod == 0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        shutil.move(part, os.path.join(out, f"orphan-{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
    return out, tracked


@query(
    "maintenance_vacuum_orphans",
    oracle=f"""
    SELECT CAST({VACUUM_TRACKED_FILES} AS BIGINT) AS n_tracked,
           CAST({VACUUM_TRACKED_FILES + len(_ORPHAN_MODS)} AS BIGINT)
             AS n_listed,
           CAST({len(_ORPHAN_MODS)} AS BIGINT) AS n_orphans,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 997 = 0)
              + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 991 = 0)
             AS BIGINT) AS orphan_rows
    """,
    tags=("maintenance", "beyond"),
)
def q_maintenance_vacuum_orphans(spark, sf_dir: str) -> DataFrame:
    """Orphan-file vacuum audit — the other half of lake-table
    maintenance (manifest_prune READS through the manifest; this finds
    what the manifest does NOT know about): diff the directory listing
    against the manifest's tracked-file set, then read ONLY the orphan
    files to report the reclaimable row mass. Orphans accumulate from
    task retries after manifest commit, killed compactions, and
    crashed writers; every production lake format ships this exact
    operation (`VACUUM`, `remove_orphan_files`) because unreferenced
    files silently double storage and poison naive directory-scan
    readers.

    The listing diff is driver-side METADATA (|files| names — the
    bounded class every manifest op here uses, no data rows touched);
    the orphan row count is a real distributed scan of just the
    orphan files. The oracle replays the staged layout arithmetically:
    tracked/listed/orphan counts are construction constants, orphan
    rows are the two deterministic orders slices the staging wrote.

    Scale: listing is O(|files|) metadata; the verification scan reads
    ONLY orphans (never the tracked table), so vacuuming a 100 TB
    table costs proportional to what it reclaims."""
    import glob

    out, tracked = stage_vacuum_dir(spark, sf_dir)
    listed = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out, "*.parquet"))
    )
    orphans = [b for b in listed if b not in set(tracked)]
    orphan_paths = [os.path.join(out, b) for b in orphans]
    counts = spark.read.parquet(*orphan_paths).agg(
        F.count("*").cast("long").alias("orphan_rows")
    )
    return counts.select(
        F.lit(len(tracked)).cast("long").alias("n_tracked"),
        F.lit(len(listed)).cast("long").alias("n_listed"),
        F.lit(len(orphans)).cast("long").alias("n_orphans"),
        "orphan_rows",
    )
