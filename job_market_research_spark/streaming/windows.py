"""Structured Streaming operators (SURVEY §2.11).

The reference has no streaming engine — incrementality is Celery-chain
batch re-runs with append-only URL dedup and idempotent warehouse
upsert (celery_app/tasks.py:220-230). Structured Streaming reproduces
exactly that: a file source per stage directory, `availableNow` trigger
for the batch-chain behavior, watermarked `dropDuplicates` for the
new-URL gate, and `foreachBatch` for the dimensional upsert.

The registry queries stage the `events` table as an arrival directory
(multiple parquet files = multiple arriving batches), run a real
streaming query to completion, and return the materialized result — so
the driver's batch oracle can check streaming output value-for-value.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.registry import query
from job_market_research_spark.sources.readers import scratch_dir
from job_market_research_spark.staging import staged_files


@staged_files
def _stage_events(
    spark: SparkSession,
    sf_dir: str,
    parts: int = 2,
    cols: tuple[str, ...] | None = None,
    *,
    out: str,
) -> str:
    """Write events as `parts` parquet files — the simulated arrivals.
    The arrival directory is a pure function of (sf_dir, parts, cols),
    so the streaming queries share one write per shape per process: the
    file-source readers never mutate the staged files, and every query
    drains with its own checkpoint.

    Default is TWO arrival files (round 10): every multi-batch
    invariance demo (sketch merges, watermark dedup, stateful folds)
    needs >= 2 micro-batches, and each extra file buys another round of
    per-batch fixed overhead (state commit + checkpoint + plan) for all
    maxFilesPerTrigger=1 drains with no added semantic coverage —
    r9's stream_stream_join sweep measured the per-batch cost directly.
    stream_stateful_counter keeps its own parts=3 (its contract states
    >= 3 emissions per user)."""
    df = load(spark, sf_dir, "events")
    if cols:
        df = df.select(*cols)
    df.repartition(parts, "event_id").write.mode("overwrite").parquet(out)
    return out


@staged_files
def _stage_dedup_arrivals(spark: SparkSession, sf_dir: str, *, out: str) -> str:
    """Stage the event set twice (2 + 3 arrival files under `out`), so
    every event_id arrives duplicated. Only the three columns the dedup
    drain touches are written."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    ev.repartition(2, "event_id").write.mode("overwrite").parquet(
        os.path.join(out, "arrival_1")
    )
    ev.repartition(3, "event_id").write.mode("overwrite").parquet(
        os.path.join(out, "arrival_2")
    )
    return out


#: State-store partition count for the one-shot drains. Streaming state
#: overhead (checkpoint dirs, provider instances, per-batch commits) is
#: partitions × micro-batches, while these drains' keyspaces are tiny —
#: results are partition-count-invariant. A continuous production
#: stream sizes this to its key cardinality instead. Measured on the
#: full family at sf0.1/local[32] (round 5): 8 partitions 18.1s,
#: 4 → 20.6s, 2 → 21.2s (fewer partitions lose more parallelism than
#: they save in state overhead), RocksDB provider → 22.8s (native
#: store setup dwarfs these tiny states; the default HDFS-backed
#: in-memory provider wins for drains — RocksDB earns its keep only
#: when state exceeds executor heap).
_STREAM_SHUFFLE_PARTITIONS = 8


def _run_to_memory(stream_df: DataFrame, mode: str, max_files: int | None = None) -> str:
    """Run a streaming frame to a memory sink with availableNow; return
    the sink table name. availableNow drains everything then stops —
    the reproduction of one Celery chain run. Shuffle partitions are
    lowered for the drain (streaming fixes state partitioning at query
    start from this conf) and restored after."""
    name = f"sink_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(prev), _STREAM_SHUFFLE_PARTITIONS)),
    )
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


@query(
    "stream_window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_stream_window_tumbling(spark, sf_dir: str) -> DataFrame:
    """Tumbling-window counts over a file stream: 5-minute epoch-
    aligned windows per event_type, 10-minute watermark bounding state.
    Complete output mode so the one-shot drain emits every window (the
    watermark still limits state at a real continuous scale)."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    sink = _run_to_memory(agg, "complete")
    return (
        spark.table(sink)
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@query(
    "stream_window_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) - to_minutes(5 * k.k)
             AS window_start,
           event_type, COUNT(*) AS n
    FROM events, range(0, 2) AS k(k)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_stream_window_sliding(spark, sf_dir: str) -> DataFrame:
    """Sliding-window counts (10-minute window, 5-minute slide): each
    event lands in exactly window/slide = 2 overlapping windows."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    sink = _run_to_memory(agg, "complete")
    return (
        spark.table(sink)
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q_stream_dedup_watermark(spark, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup — the reference's append-only
    new-URL gate (SURVEY §2.3 dedup_incremental) as a streaming
    operator. Duplicates are planted by staging the event set twice;
    `dropDuplicates` with a watermark keeps bounded state and exactly
    one row per event_id survives.

    Drain cost: only the three columns the operator touches are staged
    (event_id dedup key, ts watermark, event_type output) — the state
    rows, arrival files and memory sink never carry the payload columns
    — and the double-arrival staging is staged once per dataset like
    every other arrival directory (the r9 shape re-wrote both arrivals
    on every call)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    out = _stage_dedup_arrivals(spark, sf_dir)
    stream = spark.readStream.schema(ev.schema).option("pathGlobFilter", "*.parquet").parquet(
        out + "/arrival_*"
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    sink = _run_to_memory(deduped, "append")
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n_unique"))
        .orderBy("event_type")
    )


@query(
    "stream_incremental_pipeline",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_keys
    FROM orders
    """,
)
def q_stream_incremental_pipeline(spark, sf_dir: str) -> DataFrame:
    """The full incremental-load semantic, streaming edition: arriving
    order batches (with overlap between batches) flow through
    `foreachBatch`, which anti-joins each micro-batch against the
    warehouse target before appending (reference: idempotent
    SELECT-before-INSERT, run per Celery chain). Whatever the
    micro-batch split, the target ends with exactly one row per key."""
    root = scratch_dir("stream_incremental")
    src = os.path.join(root, "arrivals")
    target = os.path.join(root, "warehouse")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # Overlapping arrival batches: thirds with shared boundaries.
    for i, cond in enumerate(
        [
            F.col("o_orderkey") % 3 <= 1,  # residues 0,1
            F.col("o_orderkey") % 3 >= 1,  # residues 1,2  (overlap on 1)
        ]
    ):
        orders.filter(cond).write.mode("overwrite").parquet(
            os.path.join(src, f"batch_{i}")
        )
    # Seed the warehouse empty.
    orders.limit(0).write.mode("overwrite").parquet(target)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        existing = batch_df.sparkSession.read.parquet(target)
        fresh = batch_df.dropDuplicates(["o_orderkey"]).join(
            existing.select("o_orderkey"), "o_orderkey", "left_anti"
        )
        fresh.write.mode("append").parquet(target)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(src + "/batch_*")
    )
    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination()

    final = spark.read.parquet(target)
    return final.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT n_name AS nation, COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY nation
    """,
)
def q_stream_static_join(spark, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: arriving events join a STATIC
    dimension inside the streaming plan (no state store needed — the
    static side broadcasts into every micro-batch; dimension updates
    are picked up per batch on a real deployment). The drained result
    equals the pure-batch join — the invariant that makes streaming
    enrichment trustworthy."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    stream = spark.readStream.schema(schema).parquet(src)
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "n_name"
    )
    # No broadcast hint on the customer-derived dim: it scales with sf.
    # Catalyst broadcasts it while small; at 100× it falls back to a
    # per-batch shuffle join instead of OOMing executors.
    joined = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_events")
    )
    sink = _run_to_memory(agg, "complete")
    return spark.table(sink).orderBy("nation")


def cdc_fold(rows: DataFrame, key: str = "k", seq: str = "seq") -> DataFrame:
    """Fold CDC rows (target ∪ batch) to one max-ordinal row per key,
    tombstones RETAINED. Pure function of the row set — associative and
    arrival-order-independent, which is exactly the property that makes
    the streaming apply equal the batch collapse under any micro-batch
    split (pinned by tests/test_io_events.py)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc(seq))
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH feed AS (
      SELECT o_orderkey AS k,
             o_orderstatus AS status,
             o_totalprice AS price,
             (o_orderkey * 13 + o_custkey) % 1000 AS seq,
             CASE WHEN (o_orderkey * 13 + o_custkey) % 10 = 0 THEN 'D'
                  WHEN o_orderkey % 2 = 0 THEN 'U' ELSE 'I' END AS op
      FROM orders
      UNION ALL
      SELECT o_orderkey AS k, 'X' AS status, o_totalprice * 2 AS price,
             1000 + (o_orderkey % 7) AS seq,
             CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    latest AS (
      SELECT k, status, price, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM feed
    )
    SELECT k, status, price
    FROM latest WHERE rn = 1 AND op <> 'D'
    ORDER BY k
    """,
)
def q_stream_cdc_apply(spark, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the production upsert loop the batch
    `merge_cdc_feed` collapse verifies: arriving change batches (same
    deterministic two-wave I/U/D feed, staged as separate files) flow
    through `foreachBatch`, each batch MERGEs into a copy-on-write
    target (read current version dir, fold by max change-ordinal per
    key, write the other dir, swap — the same rewrite a Delta MERGE
    does). Two invariants make the apply safe at scale and are what
    this query proves end-to-end:

    - the target RETAINS tombstones (op='D' rows) and the persisted
      `seq` ordinal, so a late-arriving lower-seq update in a LATER
      micro-batch cannot resurrect a deleted key — last-writer-wins is
      decided by the ordinal, never by arrival order;
    - whatever the micro-batch split (maxFilesPerTrigger=1 forces one
      batch per wave), the final state equals the pure-batch window
      collapse — the driver checks it against the SAME oracle as
      merge_cdc_feed.

    Scale shape: each merge is one shuffle on the merge key over
    |target|+|batch| rows; a bucketed target makes it a per-bucket
    merge. The A/B directory swap is the parquet stand-in for a
    transactional table format's atomic commit."""
    from pyspark.sql import Window

    root = scratch_dir("stream_cdc_apply")
    src = os.path.join(root, "arrivals")
    dirs = [os.path.join(root, "target_a"), os.path.join(root, "target_b")]

    o = load(spark, sf_dir, "orders")
    seq1 = (F.col("o_orderkey") * 13 + F.col("o_custkey")) % 1000
    wave1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        seq1.alias("seq"),
        F.when(seq1 % 10 == 0, "D")
        .when(F.col("o_orderkey") % 2 == 0, "U")
        .otherwise("I")
        .alias("op"),
    )
    wave2 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") * 2).alias("price"),
        (F.lit(1000) + F.col("o_orderkey") % 7).alias("seq"),
        F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U").alias("op"),
    )
    wave1.write.mode("overwrite").parquet(os.path.join(src, "batch_0"))
    wave2.write.mode("overwrite").parquet(os.path.join(src, "batch_1"))
    wave1.limit(0).write.mode("overwrite").parquet(dirs[0])

    cur = [0]  # index of the CURRENT (last-written) target version

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        existing = sess.read.parquet(dirs[cur[0]])
        folded = cdc_fold(existing.unionByName(batch_df))
        folded.write.mode("overwrite").parquet(dirs[1 - cur[0]])
        cur[0] = 1 - cur[0]

    stream = (
        spark.readStream.schema(wave1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/batch_*")
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(dirs[cur[0]])
    return (
        final.filter(F.col("op") != "D")
        .select("k", "status", "price")
        .orderBy("k")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
           a.event_type AS a_type, b.event_type AS b_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '5 minutes'
     AND a.event_type <> b.event_type
    ORDER BY a_id, b_id
    """,
)
def q_stream_stream_join(spark, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: follow-up events of a
    different type within 5 minutes of the same user. Both sides are
    watermarked streams; the event-time range condition bounds each
    side's join state so it is GC-able at scale. Drained in one
    availableNow batch (the whole staged set), the emitted matches
    equal the batch interval join exactly."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    a = (
        spark.readStream.schema(schema)
        .parquet(src)
        .select(
            F.col("event_id").alias("a_id"),
            F.col("user_id"),
            F.col("ts").alias("a_ts"),
            F.col("event_type").alias("a_type"),
        )
        .withWatermark("a_ts", "10 minutes")
    )
    b = (
        spark.readStream.schema(schema)
        .parquet(src)
        .select(
            F.col("event_id").alias("b_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            F.col("event_type").alias("b_type"),
        )
        .withWatermark("b_ts", "10 minutes")
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("a_type") != F.col("b_type")),
    )
    sink = _run_to_memory(joined, "append")
    return (
        spark.table(sink)
        .select("a_id", "b_id", "user_id", "a_type", "b_type")
        .orderBy("a_id", "b_id")
    )


from job_market_research_spark.plans.events_analytics import KMV_K as _KMV_K


@query(
    "stream_kmv_distinct",
    oracle=f"""
    WITH ut AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    sk AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM ut QUALIFY rk <= {_KMV_K}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           round(CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * {float(2**60):.0f} / MAX(h) END, 6)
             AS distinct_est
    FROM sk GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sketch", "beyond"),
)
def q_stream_kmv_distinct(spark, sf_dir: str) -> DataFrame:
    """Incremental distinct-user counting over a stream of arrival
    batches by KMV sketch merge — the streaming face of
    `agg_kmv_audience_sketch`, and the reason sketches exist: each
    micro-batch contributes only its per-type k smallest user-id
    hashes (≤ k·|types| rows appended to the sketch store per batch,
    CONSTANT state regardless of batch size), and min-k of unioned
    min-k sets IS the global min-k, so the final estimate is
    bit-identical to the batch computation NO MATTER how arrivals were
    split — which is exactly what lets the DuckDB batch oracle
    hash-check an incremental streaming pipeline.

    foreachBatch appends the batch sketch (idempotent state growth
    bounded by batches·k·|types|); the terminal read distincts and
    re-cuts to k. A continuous deployment compacts the sketch store
    on the same cut, or holds it in the state store keyed by type."""
    from job_market_research_spark.ml.neardup import portable_hash60

    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    root = scratch_dir("stream_kmv_state")
    state = os.path.join(root, "sketch")
    seed = spark.createDataFrame([], "event_type string, h long")
    seed.write.mode("overwrite").parquet(state)

    from pyspark.sql.window import Window

    def merge_sketch(batch_df: DataFrame, epoch_id: int) -> None:
        wk = Window.partitionBy("event_type").orderBy("h")
        batch_sk = (
            batch_df.select(
                "event_type",
                portable_hash60(F.col("user_id").cast("string")).alias("h"),
            )
            .distinct()
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= _KMV_K)
            .select("event_type", "h")
        )
        batch_sk.write.mode("append").parquet(state)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_type", "user_id")
    )
    q = (
        stream.writeStream.foreachBatch(merge_sketch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    wk = Window.partitionBy("event_type").orderBy("h")
    final = (
        spark.read.parquet(state)
        .distinct()
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KMV_K)
    )
    return (
        final.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("k_used"), F.max("h").alias("hk"))
        .select(
            "event_type",
            "k_used",
            F.round(
                F.when(F.col("k_used") < _KMV_K, F.col("k_used").cast("double"))
                .otherwise(float(_KMV_K - 1) * F.lit(float(2**60)) / F.col("hk")),
                6,
            ).alias("distinct_est"),
        )
        .orderBy("event_type")
    )
