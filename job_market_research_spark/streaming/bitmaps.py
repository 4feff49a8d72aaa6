"""Streaming exact distinct via mergeable bitmaps (beyond-reference).

The streaming face of `operators/sketches.agg_bitmap_distinct_users`:
each arrival micro-batch contributes its own (event_type, chunk)
bitmap words, the state store grows by at most |id-domain|/32 rows per
type per batch (NOT by batch row count), and OR-merging the per-batch
words reconstructs the EXACT distinct count — bitwise OR is
associative/commutative/idempotent, so the result is bit-identical to
the batch computation under ANY arrival split. KMV gave streaming an
estimate with a merge proof (stream_kmv_distinct); bitmaps give
streaming an EXACT count with the same proof, which is why the DuckDB
batch oracle can hash-check it strictly rather than rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.operators.sketches import BITMAP_BITS
from job_market_research_spark.operators.skew import (
    _CMS_HASH,
    CMS_DEPTH,
    CMS_TOP,
    cms_bucket,
)
from job_market_research_spark.registry import query
from job_market_research_spark.sources.readers import scratch_dir
from job_market_research_spark.streaming.windows import _stage_events


@query(
    "stream_bitmap_distinct",
    oracle=f"""
    WITH maps AS (
      SELECT event_type, user_id // {BITMAP_BITS} AS chunk,
             bit_or(1::BIGINT << CAST(user_id % {BITMAP_BITS} AS INT))
               AS bitmap
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(bit_count(bitmap)) AS BIGINT) AS distinct_users
    FROM maps GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sketch", "distinct", "beyond"),
)
def q_stream_bitmap_distinct(spark, sf_dir: str) -> DataFrame:
    """Incremental EXACT distinct-user counts over arrival batches:
    foreachBatch folds each micro-batch into (event_type, chunk)
    bitmap words and appends them; the terminal read OR-merges across
    batches and popcounts. Idempotence of OR makes replayed batches
    harmless (at-least-once safe), associativity makes the result
    independent of the arrival split — which the strict batch oracle
    hash-proves. State: ≤ |id-domain|/32 words per type per batch; a
    continuous deployment compacts the store with the same OR-merge,
    or keys it in the state store directly."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    root = scratch_dir("stream_bitmap_state")
    state = os.path.join(root, "words")
    seed = spark.createDataFrame([], "event_type string, chunk long, bitmap long")
    seed.write.mode("overwrite").parquet(state)

    def merge_words(batch_df: DataFrame, epoch_id: int) -> None:
        words = (
            batch_df.select(
                "event_type",
                (F.col("user_id") / BITMAP_BITS).cast("long").alias("chunk"),
                F.expr(
                    f"shiftleft(1L, CAST(user_id % {BITMAP_BITS} AS INT))"
                ).alias("bit"),
            )
            .groupBy("event_type", "chunk")
            .agg(F.bit_or("bit").alias("bitmap"))
        )
        words.write.mode("append").parquet(state)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_type", "user_id")
    )
    q = (
        stream.writeStream.foreachBatch(merge_words)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return (
        spark.read.parquet(state)
        .groupBy("event_type", "chunk")
        .agg(F.bit_or("bitmap").alias("bitmap"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.bit_count("bitmap")).cast("long").alias("distinct_users"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_welch_monitor",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(28,10))) AS sy,
             SUM(CAST(value AS DECIMAL(28,10))
                 * CAST(value AS DECIMAL(28,10))) AS qy
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
             CAST(sy AS DOUBLE) / n AS mean,
             (CAST(qy AS DOUBLE)
              - power(CAST(sy AS DOUBLE), 2) / n) / (n - 1) AS var
      FROM s
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean, 6) AS mean_a_r6, round(b.mean, 6) AS mean_b_r6,
           round((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat_r6
    FROM (SELECT * FROM m WHERE event_type = 'view') a,
         (SELECT * FROM m WHERE event_type = 'purchase') b
    """,
    tags=("streaming", "abtest", "beyond"),
)
def q_stream_welch_monitor(spark, sf_dir: str) -> DataFrame:
    """Streaming experiment monitor: each arrival micro-batch folds
    into per-arm MOMENT state (n, Σy, Σy² in exact DECIMAL — sums are
    merge-invariant under ANY arrival split, the KMV/bitmap argument
    applied to statistics), and the terminal Welch t is computed from
    the merged moments. The strict batch oracle hash-proves the whole
    path: an experimentation dashboard fed by this stream shows
    EXACTLY the numbers a batch recomputation would.

    State: 2 arms × 3 decimals per batch — constant regardless of
    batch size; a continuous deployment compacts the moment store by
    the same addition or keys it in the state store."""
    import os as _os

    from job_market_research_spark.streaming.windows import _stage_events

    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    root = scratch_dir("stream_welch_state")
    state = _os.path.join(root, "moments")
    seed = spark.createDataFrame(
        [], "event_type string, n long, sy decimal(28,10), qy decimal(38,10)"
    )
    seed.write.mode("overwrite").parquet(state)

    def fold_moments(batch_df: DataFrame, epoch_id: int) -> None:
        dec = F.col("value").cast("decimal(28,10)")
        (
            batch_df.filter(
                F.col("event_type").isin("view", "purchase")
                & F.col("value").isNotNull()
            )
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(dec).cast("decimal(28,10)").alias("sy"),
                F.sum(dec * dec).cast("decimal(38,10)").alias("qy"),
            )
            .write.mode("append")
            .parquet(state)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_type", "value")
    )
    q = (
        stream.writeStream.foreachBatch(fold_moments)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    m = (
        spark.read.parquet(state)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sy").alias("sy"),
            F.sum("qy").alias("qy"),
        )
        .select(
            "event_type",
            "n",
            (F.col("sy").cast("double") / F.col("n")).alias("mean"),
            (
                (
                    F.col("qy").cast("double")
                    - F.pow(F.col("sy").cast("double"), 2) / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("var"),
        )
    )
    a = m.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = m.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a_r6"),
        F.round("mean_b", 6).alias("mean_b_r6"),
        F.round(t, 6).alias("t_stat_r6"),
    )


@query(
    "stream_cms_topk",
    oracle=f"""
    WITH counters AS (
      SELECT d, {_CMS_HASH.format(salt="d", col="CAST(user_id AS VARCHAR)")}
               AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events, unnest(generate_series(0, {CMS_DEPTH - 1})) AS s(d)
      GROUP BY 1, 2
    ),
    vocab AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM events GROUP BY user_id
    ),
    probe AS (
      SELECT v.user_id, v.true_n, MIN(c.c) AS cms_est
      FROM vocab v,
           unnest(generate_series(0, {CMS_DEPTH - 1})) AS s(d)
      JOIN counters c
        ON c.d = s.d
       AND c.b = {_CMS_HASH.format(salt="s.d",
                                   col="CAST(v.user_id AS VARCHAR)")}
      GROUP BY v.user_id, v.true_n
    )
    SELECT user_id, true_n, cms_est FROM probe
    ORDER BY cms_est DESC, user_id LIMIT {CMS_TOP}
    """,
    tags=("streaming", "sketch", "skew", "beyond"),
)
def q_stream_cms_topk(spark, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters via a mergeable count-min sketch: each
    arrival micro-batch folds its user-activity stream into its OWN
    CMS_DEPTH×CMS_WIDTH counter grid (the one-pass weighted-vocab
    trick from agg_cms_heavy_hitters) and appends the grid rows;
    the terminal read ADDS cells across batches — CMS merge is
    element-wise addition, associative and commutative, so the merged
    grid is bit-identical to the batch grid under any arrival split,
    which the strict DuckDB oracle hash-proves (the KMV/bitmap merge-
    invariance discipline applied to frequency estimation). The probe
    then reports the CMS_TOP estimated-hottest users with their exact
    counts riding along as the error contract (cms_est ≥ true_n).

    State per batch: ≤ CMS_DEPTH×CMS_WIDTH rows (256), CONSTANT in
    batch size — the whole point of sketching the stream. At 100 TB/
    day the grid never shuffles more than 256 rows per micro-batch;
    the candidate probe stays a broadcast join against the grid."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    root = scratch_dir("stream_cms_state")
    state = os.path.join(root, "grid")
    seed = spark.createDataFrame([], "d int, b long, c long")
    seed.write.mode("overwrite").parquet(state)

    def fold_grid(batch_df: DataFrame, epoch_id: int) -> None:
        vocab = (
            batch_df.select(F.col("user_id").cast("string").alias("u"))
            .groupBy("u")
            .agg(F.count("*").alias("n"))
        )
        grid = (
            vocab.select(
                "u",
                "n",
                F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias(
                    "d"
                ),
            )
            .select(
                "d",
                cms_bucket(F.col("d"), F.col("u")).alias("b"),
                "n",
            )
            .groupBy("d", "b")
            .agg(F.sum("n").cast("long").alias("c"))
        )
        grid.write.mode("append").parquet(state)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("user_id")
    )
    q = (
        stream.writeStream.foreachBatch(fold_grid)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = (
        spark.read.parquet(state)
        .groupBy("d", "b")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    vocab = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("true_n"))
    )
    probe = (
        vocab.select(
            "user_id",
            "true_n",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        )
        .withColumn(
            "b", cms_bucket(F.col("d"), F.col("user_id").cast("string"))
        )
        .join(F.broadcast(merged), ["d", "b"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return probe.orderBy(F.desc("cms_est"), "user_id").limit(CMS_TOP)


#: Histogram-quantile sketch geometry: fixed equal-width bins over the
#: event-value domain, and the probe quantiles.
HQ_BINS = 64
HQ_LO, HQ_HI = 0.0, 500.0
HQ_QUANTILES = (0.5, 0.95, 0.99)

_HQ_BIN_SQL = (
    f"CAST(least(greatest(floor((value - {HQ_LO}) / ({HQ_HI} - {HQ_LO})"
    f" * {HQ_BINS}), 0), {HQ_BINS - 1}) AS BIGINT)"
)


@query(
    "stream_histogram_quantile",
    oracle=f"""
    WITH h AS (
      SELECT {_HQ_BIN_SQL} AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT b, c, SUM(c) OVER (ORDER BY b) AS cm,
             (SELECT SUM(c) FROM h) AS n
      FROM h
    ),
    qs AS (SELECT q FROM unnest([{", ".join(str(q) for q in HQ_QUANTILES)}])
           AS t(q)),
    pick AS (
      SELECT qs.q, MIN(cum.b) AS b
      FROM qs JOIN cum ON cum.cm >= qs.q * cum.n
      GROUP BY qs.q
    )
    SELECT CAST(q AS DOUBLE) AS q,
           b AS bin,
           round({HQ_LO} + b * (({HQ_HI} - {HQ_LO}) / {HQ_BINS}), 6)
             AS est_lo_r6,
           round({HQ_LO} + (b + 1) * (({HQ_HI} - {HQ_LO}) / {HQ_BINS}), 6)
             AS est_hi_r6
    FROM pick ORDER BY q
    """,
    tags=("streaming", "sketch", "quantile", "beyond"),
)
def q_stream_histogram_quantile(spark, sf_dir: str) -> DataFrame:
    """Streaming quantiles via a mergeable fixed-bin histogram — the
    fourth arrival-split-invariance proof (after KMV min-merge,
    bitmap OR-merge, CMS cell-add): each micro-batch appends its own
    HQ_BINS-bin value histogram; the terminal read ADDS bins and
    answers P50/P95/P99 as the first bin whose cumulative count
    reaches q·N. Fixed equal-width bins are what production latency
    pipelines actually deploy when the value domain is known (HDR
    histograms); the answer is an interval [bin_lo, bin_hi) with
    error bounded by the bin width — honest sketch semantics the
    strict oracle replays exactly, unlike a t-digest whose centroid
    merge is order-DEPENDENT and cannot be hash-proven.

    State per batch: ≤ HQ_BINS rows, constant in batch size; the
    quantile scan is a cumulative over 64 rows (bounded window —
    allowlisted)."""
    src = _stage_events(spark, sf_dir)
    schema = load(spark, sf_dir, "events").schema
    root = scratch_dir("stream_hq_state")
    state = os.path.join(root, "bins")
    seed = spark.createDataFrame([], "b long, c long")
    seed.write.mode("overwrite").parquet(state)
    width = (HQ_HI - HQ_LO) / HQ_BINS

    def bin_col():
        return F.least(
            F.greatest(
                F.floor((F.col("value") - HQ_LO) / (HQ_HI - HQ_LO) * HQ_BINS)
                .cast("long"),
                F.lit(0),
            ),
            F.lit(HQ_BINS - 1),
        )

    def fold_hist(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.filter(F.col("value").isNotNull())
            .groupBy(bin_col().alias("b"))
            .agg(F.count("*").cast("long").alias("c"))
            .write.mode("append")
            .parquet(state)
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("value")
    )
    q = (
        stream.writeStream.foreachBatch(fold_hist)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql import Window

    merged = (
        spark.read.parquet(state)
        .groupBy("b")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cum = merged.select(
        "b",
        F.sum("c")
        .over(Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cm"),
    ).crossJoin(F.broadcast(merged.agg(F.sum("c").alias("n"))))
    qs = spark.createDataFrame([(q,) for q in HQ_QUANTILES], "q double")
    pick = (
        F.broadcast(qs)
        .join(cum, F.col("cm") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("b").alias("bin"))
    )
    return pick.select(
        "q",
        "bin",
        F.round(HQ_LO + F.col("bin") * width, 6).alias("est_lo_r6"),
        F.round(HQ_LO + (F.col("bin") + 1) * width, 6).alias("est_hi_r6"),
    ).orderBy("q")
