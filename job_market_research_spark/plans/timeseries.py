"""Time-series event operators: time-weighted averages, OHLC bars,
running distinct counts, seasonal-baseline anomalies (beyond-reference).

The reference's dashboards aggregate calendar buckets of a static star
(docker-entrypoint-initdb.d/schema.sql:64-82 groups fact_offre by
dim_date); an event stream asks duration- and order-aware questions
those GROUP BYs cannot express. All four operators here are
single-key-shuffle plans — the window partition key and the final
group-by key coincide, so each query costs ONE shuffle on a
user/time-bucket key and reuses that layout for every windowed
derivation (AQE sees the exchange is already satisfied).

Scale notes (100 TB):
- Per-user windows shuffle on `user_id` — the natural event-store
  partitioning; no global sort anywhere (every `row_number`/`lead`
  is partitionBy'd, per the plan-hygiene window ban).
- The seasonal baseline is (event_type × hour) — bounded cardinality
  (≤ types×24 rows) regardless of corpus size, so the join back to
  events is a broadcast; the events side never shuffles for it.
- Exactness across engines follows registry.py's float policy:
  duration weights are exact integer microseconds, value sums are
  DECIMAL-cast (order-independent), outputs rounded to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.registry import query


def _rev_sum_dec(out_type: str = "decimal(18,2)"):
    """Exact, order-independent day-revenue sum: each o_totalprice is
    cast to DECIMAL(18,2) BEFORE the sum (registry.py float-exactness
    policy), so Spark's order-dependent partial DOUBLE aggregation can
    never flip a cent vs DuckDB's single-threaded sum. The cast back to
    the caller's legacy output type is lossless (day totals fit 16
    integer digits at any realistic SF). Oracle twin:
    ``SUM(CAST(o_totalprice AS DECIMAL(18,2)))``."""
    return F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(out_type)



def staged_daily_revenue(spark, sf_dir: str) -> DataFrame:
    """Persisted (d, v) per-day exact-decimal revenue — the shared
    input of every daily-series diagnostic in this module (ACF,
    Ljung-Box, KPSS, variance ratio, control chart, Holt, drawdown,
    runs test, ...). Each query previously re-ran the corpus-sized
    day aggregation; staged once per (app, sf_dir) it is ONE corpus
    shuffle for the whole family (same discipline as the dedup/IR
    staging — see staging.staged_frame). v stays DECIMAL(18,2)
    (_rev_sum_dec) so every consumer's exactness contract is
    unchanged."""

    from job_market_research_spark.staging import staged_frame

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderdate").cast("date").alias("d"))
            .agg(_rev_sum_dec().alias("v"))
        )

    return staged_frame(spark, "daily_revenue", sf_dir, build
    )


@query(
    "agg_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6))
               * date_diff('microsecond', ts, next_ts) AS vw,
             date_diff('microsecond', ts, next_ts) AS w
      FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           round(CAST(SUM(vw) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6)
             AS twa_r6,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg GROUP BY user_id ORDER BY user_id
    """,
)
def q_agg_time_weighted_avg(spark, sf_dir: str) -> DataFrame:
    """Step-interpolated time-weighted average of `value` per user:
    each reading holds until the next one, so its weight is the exact
    integer microseconds until the user's next event (the final
    reading has no duration and is excluded — the same convention a
    sensor/metrics TSDB uses). A bare AVG over-weights bursts; TWA is
    the duration-correct mean.

    One shuffle: the lead() window and the group-by share `user_id`.
    The weighted sum is DECIMAL(18,6)×µs — exact and
    order-independent, so Spark's partial aggregation matches DuckDB
    bit-for-bit before the single rounded division."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        load(spark, sf_dir, "events")
        .select("user_id", "value", "ts", "event_id")
        .withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("w_us"),
            F.col("value").cast("decimal(18,6)").alias("v_dec"),
        )
    )
    twa = F.col("sum_vw").cast("double") / F.col("sum_w").cast("double")
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v_dec") * F.col("w_us")).alias("sum_vw"),
            F.sum("w_us").alias("sum_w"),
            F.count("*").cast("long").alias("n_segments"),
        )
        .select(
            "user_id",
            F.round(twa, 6).alias("twa_r6"),
            "n_segments",
        )
        .orderBy("user_id")
    )


@query(
    "agg_ohlc_bars",
    oracle="""
    WITH ranked AS (
      SELECT event_type, CAST(ts AS DATE) AS bar_date, value,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bar_date,
           round(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open_r6,
           round(MAX(value), 6) AS high_r6,
           round(MIN(value), 6) AS low_r6,
           round(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close_r6,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM ranked GROUP BY event_type, bar_date
    ORDER BY event_type, bar_date
    """,
)
def q_agg_ohlc_bars(spark, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, day) bar with open/close
    under a TOTAL (ts, event_id) order — the deterministic-ties rule
    `window_first_last_touch` establishes, applied to candlestick
    compaction. This is how a 100 TB raw tick/event table becomes a
    bounded per-bucket summary for dashboards.

    One shuffle: both row_number windows and the final group-by hash
    on the same (event_type, day) key, so Spark plans a single
    exchange and the aggregation is map-side-combinable. min/max/count
    on doubles are order-independent (no summation), so the r6
    rounding is cosmetic, not a cross-engine patch."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("bar_date"),
        "value",
        "ts",
        "event_id",
    )
    key = ["event_type", "bar_date"]
    w_a = Window.partitionBy(*key).orderBy("ts", "event_id")
    w_d = Window.partitionBy(*key).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return (
        ranked.groupBy(*key)
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias(
                "open_r6"
            ),
            F.round(F.max("value"), 6).alias("high_r6"),
            F.round(F.min("value"), 6).alias("low_r6"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias(
                "close_r6"
            ),
            F.count("*").cast("long").alias("volume"),
        )
        .orderBy(*key)
    )


@query(
    "window_cumulative_distinct",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_types_so_far
    FROM flagged ORDER BY user_id, event_id
    """,
)
def q_window_cumulative_distinct(spark, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user as of each event —
    the 'breadth of engagement over time' curve. SQL cannot express
    `COUNT(DISTINCT) OVER (ORDER BY …)` directly; the scalable
    identity is first-occurrence flags (row_number = 1 per
    (user, type)) cumulatively summed, which turns an O(n·k)
    distinct-per-prefix into two windows.

    Both windows partition by user_id (the second's partition key is a
    prefix of the first's), so the plan is one user_id exchange
    followed by in-partition sorts — no global sort, no state beyond a
    sort buffer, the shape that survives a per-user event store at
    100 TB."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("first_seen").over(w_cum).cast("long").alias(
                "distinct_types_so_far"
            ),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "agg_seasonal_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(value AS DECIMAL(18,6))
                 * CAST(value AS DECIMAL(18,6))) AS s2
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, hod, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CASE WHEN n > 1 THEN
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n) / (n - 1))
             END AS sigma
      FROM base
    )
    SELECT e.event_id, e.event_type,
           CAST(s.hod AS INT) AS hod,
           round(s.mu, 6) AS baseline_mu_r6,
           round((e.value - s.mu) / s.sigma, 6) AS z_r6
    FROM events e
    JOIN stats s
      ON e.event_type = s.event_type
     AND EXTRACT(hour FROM e.ts) = s.hod
    WHERE s.sigma IS NOT NULL AND s.sigma > 0
      AND abs(e.value - s.mu) > 2 * s.sigma
    ORDER BY e.event_id
    """,
)
def q_agg_seasonal_anomaly(spark, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly gate: the expected value of an event
    is conditioned on its (event_type, hour-of-day) cell; events more
    than 2σ from their cell's mean are flagged with their z-score.
    This is the scalable skeleton of seasonal anomaly detection —
    the baseline table is BOUNDED (types × 24 cells) no matter how
    large the event corpus, so pass 2 is a broadcast join and the
    events side never shuffles.

    Cross-engine exactness: µ and σ are derived from DECIMAL Σx/Σx²
    (order-independent sums — Spark's partial aggregation and DuckDB
    agree bit-for-bit), so the 2σ threshold comparison is on identical
    doubles in both engines rather than two float accumulations that
    could disagree at the boundary."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").alias("hod"),
        "value",
        F.col("value").cast("decimal(18,6)").alias("v_dec"),
    )
    base = ev.groupBy("event_type", "hod").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_dec").alias("s1"),
        F.sum(F.col("v_dec") * F.col("v_dec")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1").cast("double"), F.col("s2").cast("double")
    stats = base.select(
        "event_type",
        "hod",
        (s1 / n).alias("mu"),
        F.when(n > 1, F.sqrt((s2 - s1 * s1 / n) / (n - 1))).alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats), ["event_type", "hod"])
        .filter(
            F.col("sigma").isNotNull()
            & (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 2 * F.col("sigma"))
        )
        .select(
            "event_id",
            "event_type",
            F.col("hod").cast("int").alias("hod"),
            F.round("mu", 6).alias("baseline_mu_r6"),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias(
                "z_r6"
            ),
        )
        .orderBy("event_id")
    )


@query(
    "window_gap_fill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000
                             AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(day) AS a, MAX(day) AS b
             FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, CAST(gs AS DATE) AS day
      FROM span,
           unnest(generate_series(CAST(a AS TIMESTAMP),
                                  CAST(b AS TIMESTAMP),
                                  INTERVAL 1 DAY)) AS g(gs)
    ),
    j AS (
      SELECT s.user_id, s.day, d.v
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    ),
    f AS (
      SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER wa AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wa AS pd,
             first_value(v IGNORE NULLS) OVER wb AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wb AS nd
      FROM j
      WINDOW wa AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           CAST(CASE WHEN v IS NOT NULL THEN v
                ELSE pv + CAST(floor(
                       CAST((nv - pv) * date_diff('day', pd, day) AS DOUBLE)
                       / date_diff('day', pd, nd)) AS BIGINT) END
                AS DOUBLE) / 1000000.0 AS value_q6,
           v IS NULL AS interpolated
    FROM f ORDER BY user_id, day
    """,
)
def q_window_gap_fill_interpolate(spark, sf_dir: str) -> DataFrame:
    """Calendar resampling with linear interpolation: each user's
    daily mean series is densified onto a contiguous day spine
    (sequence + explode — no shuffle to build it) and missing days are
    filled by interpolating between the nearest observed values on
    either side, found with IGNORE NULLS running first/last windows.
    This is the gap-fill a forecasting/feature pipeline runs before
    any fixed-step model sees event data.

    All three shuffles (daily agg, spine join, windows) key on
    user_id, so on a user-partitioned event store the whole plan is
    one exchange. Exactness: every value is carried as floor-quantized
    integer MICRO-UNITS (daily mean = floor(Σ·10⁶/n), interpolation =
    pv + floor(Δ·d/n)) — floor has no rounding ties, so the engines
    cannot disagree the way `round` does on half-boundary midpoints
    (DuckDB rounds the decimal rendering, Spark the exact binary —
    midpoints of 6-dp values land within 1e-15 of the boundary and
    flip); the division back to a double at output is exact below
    2⁵³."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.floor(
                (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000).cast(
                    "double"
                )
                / F.count("*")
            )
            .cast("long")
            .alias("v")
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("a"), F.max("day").alias("b"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(a, b, interval 1 day)")).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    wa = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if_obs = F.when(F.col("v").isNotNull(), F.col("day"))
    f = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wa).alias("pv"),
        F.last(day_if_obs, ignorenulls=True).over(wa).alias("pd"),
        F.first("v", ignorenulls=True).over(wb).alias("nv"),
        F.first(day_if_obs, ignorenulls=True).over(wb).alias("nd"),
    )
    interp = F.col("pv") + F.floor(
        ((F.col("nv") - F.col("pv")) * F.datediff(F.col("day"), F.col("pd"))).cast(
            "double"
        )
        / F.datediff(F.col("nd"), F.col("pd"))
    ).cast("long")
    return f.select(
        "user_id",
        "day",
        (
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp).cast(
                "double"
            )
            / 1000000.0
        ).alias("value_q6"),
        F.col("v").isNull().alias("interpolated"),
    ).orderBy("user_id", "day")


#: Shift-flag threshold: a peak drawup beyond CUSUM_K·σ·√n exceeds the
#: expected excursion of a pure random walk of the series' length — the
#: scale-free way to separate drift from noise.
CUSUM_K = 3


@query(
    "window_cusum_change",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s1,
             SUM(CAST(value AS DECIMAL(18,6))
                 * CAST(value AS DECIMAL(18,6))) AS s2
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT event_type,
             CAST(floor(CAST(s1 * 1000000 AS DOUBLE) / n) AS BIGINT) AS mu6,
             CAST(floor(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                              * CAST(s1 AS DOUBLE) / n) / (n - 1))
                        * 1000000.0) AS BIGINT) AS sd6
      FROM base WHERE n > 1
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.ts,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               - st.mu6 AS d6,
             st.sd6
      FROM events e JOIN stats st USING (event_type)
    ),
    cs AS (
      SELECT event_id, event_type, ts, sd6,
             SUM(d6) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cs6
      FROM dev
    ),
    walk AS (
      SELECT event_id, event_type, sd6, cs6,
             MIN(cs6) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lo6
      FROM cs
    ),
    peak AS (
      SELECT event_type, MAX(cs6 - lo6) AS peak6,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM walk GROUP BY 1
    )
    SELECT p.event_type, p.n,
           CAST(MIN(w.event_id) AS BIGINT) AS peak_event_id,
           round(CAST(p.peak6 AS DOUBLE)
                 / ANY_VALUE(w.sd6), 6) AS peak_drawup_sigma_r6,
           CAST(p.peak6 AS DOUBLE)
             > {CUSUM_K} * ANY_VALUE(w.sd6) * sqrt(CAST(p.n AS DOUBLE))
             AS shift_flag
    FROM peak p
    JOIN walk w ON w.event_type = p.event_type
               AND w.cs6 - w.lo6 = p.peak6
    GROUP BY p.event_type, p.n, p.peak6
    ORDER BY p.event_type
    """,
)
def q_window_cusum_change(spark, sf_dir: str) -> DataFrame:
    """Drawup-CUSUM mean-shift report per event_type: the cumulative
    deviation walk S_t = Σ(x−µ) minus its running minimum measures how
    persistently recent values sat above the series mean — the shift
    signal a point z-score cannot see (each point individually
    unremarkable). The report is BOUNDED (|types| rows): the peak
    drawup in σ units, the event where it first peaks, and a shift
    flag comparing the peak against CUSUM_K·σ·√n — the expected
    excursion scale of a driftless random walk, so iid noise does not
    fire the flag no matter how long the series.

    Plan: one bounded (|types|-row) moment aggregation broadcast back,
    then a TWO-LEVEL prefix walk (round 9): running sum/min within
    (event_type, day) — corpus-parallel keys — stitched by each day's
    cumulative offset and carried-in minimum from the bounded per-day
    table (broadcast back), and a |types|-row peak join. A window
    partitioned by event_type alone would run each type's entire
    history through one task. The walk is EXACT integer micro-units
    (µ and σ floor-quantized from decimal moments): running sums of
    doubles would diverge between Spark's sequential accumulation and
    DuckDB's segment-tree evaluation, but integer sums are
    associative, so both engines walk the identical path."""
    return cusum_report(
        load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        )
    )


def cusum_report(events: DataFrame) -> DataFrame:
    """Drawup-CUSUM over any (event_id, event_type, ts, value) frame —
    see `q_window_cusum_change` for semantics and scale notes."""
    ev = events.select(
        "event_id",
        "event_type",
        "ts",
        F.col("value").cast("decimal(18,6)").alias("v_dec"),
    )
    base = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_dec").alias("s1"),
        F.sum(F.col("v_dec") * F.col("v_dec")).alias("s2"),
    )
    n = F.col("n")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    stats = base.filter(n > 1).select(
        "event_type",
        F.floor((F.col("s1") * 1000000).cast("double") / n)
        .cast("long")
        .alias("mu6"),
        F.floor(F.sqrt((s2d - s1d * s1d / n) / (n - 1)) * 1000000.0)
        .cast("long")
        .alias("sd6"),
    )
    dev = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "ts",
        ((F.col("v_dec") * 1000000).cast("long") - F.col("mu6")).alias("d6"),
        "sd6",
    )
    # Two-level prefix walk (round 9): a single window partitioned by
    # event_type alone runs each type's ENTIRE history through one
    # task. Level 1 computes within-(type, day) running sum/min —
    # (type × day)-cardinality keys, corpus-parallel; level 2 derives
    # each day's cumulative offset and the running minimum carried in
    # from all PRIOR days on the bounded per-day table; the join back
    # is a broadcast. Integer arithmetic end-to-end, so the stitched
    # walk is bit-identical to the single-window form.
    ww = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = (
        dev.withColumn("day", F.to_date("ts"))
        .withColumn("ics6", F.sum("d6").over(ww))
        .withColumn("ilo6", F.min("ics6").over(ww))
    )
    days = within.groupBy("event_type", "day").agg(
        F.sum("d6").alias("dsum"), F.min("ics6").alias("dmin")
    )
    wdo = Window.partitionBy("event_type").orderBy("day")
    offs = (
        days.withColumn(
            "off",
            F.coalesce(
                F.sum("dsum").over(
                    wdo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "prevmin",
            F.min(F.col("off") + F.col("dmin")).over(
                wdo.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("event_type", "day", "off", "prevmin")
    )
    walk = within.join(F.broadcast(offs), ["event_type", "day"]).select(
        "event_id",
        "event_type",
        "ts",
        "sd6",
        (F.col("off") + F.col("ics6")).alias("cs6"),
        F.least(
            F.coalesce(F.col("prevmin"), F.lit(2**62).cast("long")),
            F.col("off") + F.col("ilo6"),
        ).alias("lo6"),
    )
    # Peak + first-peak-event in ONE pass over the walk (r14): the
    # old peak-join shape consumed `walk` twice, and Catalyst
    # re-derives the whole corpus lineage (scan + both window levels)
    # per consumer. max(struct(du6, -event_id)) is the argmax with a
    # min-event_id tie-break — lexicographic struct ordering gives
    # the max drawup, then the max negated id = the min id; sd6 is
    # constant per type (the broadcast moment join), so max() of it
    # is ANY_VALUE.
    return (
        walk.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    (F.col("cs6") - F.col("lo6")).alias("du6"),
                    (-F.col("event_id")).alias("neg_id"),
                )
            ).alias("pk"),
            F.count("*").cast("long").alias("n"),
            F.max("sd6").alias("sd6"),
        )
        .select(
            "event_type",
            "n",
            F.col("pk.du6").alias("peak6"),
            (-F.col("pk.neg_id")).cast("long").alias("peak_event_id"),
            "sd6",
        )
        .select(
            "event_type",
            "n",
            "peak_event_id",
            F.round(
                F.col("peak6").cast("double") / F.col("sd6"), 6
            ).alias("peak_drawup_sigma_r6"),
            (
                F.col("peak6").cast("double")
                > CUSUM_K * F.col("sd6") * F.sqrt(F.col("n").cast("double"))
            ).alias("shift_flag"),
        )
        .orderBy("event_type")
    )


#: Triangle-downsampling bucket count per series.
LTTB_BUCKETS = 30


@query(
    "window_downsample_lttb",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, event_type,
             date_diff('second', TIMESTAMP '1970-01-01', ts) AS x,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    sized AS (
      SELECT p.*, s.n,
             ((p.rn - 1) * {LTTB_BUCKETS}) // s.n AS bucket
      FROM pts p
      JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM pts GROUP BY 1) s USING (event_type)
    ),
    bsum AS (
      SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
             SUM(x) AS sx, SUM(y6) AS sy
      FROM sized GROUP BY 1, 2
    ),
    mid AS (
      SELECT c.*,
             abs(CAST(c.x * pb.cnt - pb.sx AS HUGEINT)
                 * CAST(nb.sy * pb.cnt - pb.sy * nb.cnt AS HUGEINT)
               - CAST(nb.sx * pb.cnt - pb.sx * nb.cnt AS HUGEINT)
                 * CAST(c.y6 * pb.cnt - pb.sy AS HUGEINT)) AS area
      FROM sized c
      JOIN bsum pb ON pb.event_type = c.event_type
                  AND pb.bucket = c.bucket - 1
      JOIN bsum nb ON nb.event_type = c.event_type
                  AND nb.bucket = c.bucket + 1
      WHERE c.bucket BETWEEN 1 AND {LTTB_BUCKETS - 2}
    ),
    picks AS (
      SELECT event_type, bucket, event_id, x, y6 FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                     ORDER BY area DESC, event_id) AS pk
        FROM mid) WHERE pk = 1
      UNION ALL
      SELECT event_type, bucket, event_id, x, y6
      FROM sized WHERE rn = 1 OR rn = n
    )
    SELECT event_type, CAST(bucket AS INT) AS bucket,
           event_id, CAST(x AS BIGINT) AS x_s,
           CAST(y6 AS DOUBLE) / 1000000.0 AS y_q6
    FROM picks ORDER BY event_type, bucket, event_id
    """,
)
def q_window_downsample_lttb(spark, sf_dir: str) -> DataFrame:
    """Largest-Triangle downsampling (parallel LTTB variant): each
    per-type series collapses to ≤ LTTB_BUCKETS visually-faithful
    points — the standard way to ship a 100 TB series to a dashboard.
    The classic LTTB anchors each bucket's triangle on the PREVIOUSLY
    SELECTED point (a sequential recurrence); this variant anchors on
    the previous bucket's centroid, which keeps the characteristic
    peak-preserving selection but makes every bucket independent —
    embarrassingly parallel, one row_number window per bucket.

    Exactness: the triangle area is computed on integer coordinates
    (epoch seconds × micro-unit values), scaled through by the
    positive constant np²·nn (centroid denominators cleared) so the
    per-bucket argmax never touches a float: |f1·f2 − f3·f4| with
    BIGINT factors multiplied in DECIMAL(38) — exact in both engines.
    Headroom: factors stay < 1e19 while bucket_count·time_span_s
    < 1e10 per series; coarsen the x unit for longer series.

    Plan: the per-series index rn is a TWO-LEVEL count (round 9) —
    row_number within (event_type, day), corpus-parallel keys, plus
    each day's cumulative row-count offset from the bounded per-day
    table (broadcast back); a window partitioned by event_type alone
    would run each type's entire history through one task. Then a
    bounded (types × LTTB_BUCKETS) bucket-sum table joined back twice
    (broadcast), and a (type, bucket)-partitioned pick window."""
    raw = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("x"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("y6"),
        "ts",
    ).withColumn("day", F.to_date("ts"))
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    within = raw.withColumn("rn_d", F.row_number().over(wd))
    wday = Window.partitionBy("event_type").orderBy("day")
    dcnt = (
        raw.groupBy("event_type", "day")
        .agg(F.count("*").alias("nd"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("nd").over(
                    wday.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .select("event_type", "day", "off")
    )
    pts = (
        within.join(F.broadcast(dcnt), ["event_type", "day"])
        .withColumn("rn", (F.col("off") + F.col("rn_d")).cast("int"))
        .drop("ts", "day", "rn_d", "off")
    )
    sizes = pts.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    # The bucketed point table is consumed by BOTH downstream legs
    # (the bucket-sum rollup feeding pb/nb, and the mid/picks argmax),
    # and its build carries the two per-series index windows — unstaged
    # the census charged this query 16 events scans. Staged per app it
    # is derived once (the materialized downsample input a dashboard
    # pipeline would keep anyway).

    from job_market_research_spark.staging import staged_frame

    sized = staged_frame(spark, "lttb_sized", sf_dir,
        lambda: pts.join(F.broadcast(sizes), "event_type").withColumn(
            "bucket", F.expr(f"((rn - 1) * {LTTB_BUCKETS}) div n")
        ),
    )
    bsum = sized.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y6").alias("sy"),
    )
    pb = bsum.select(
        "event_type",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("cnt").alias("pcnt"),
        F.col("sx").alias("psx"),
        F.col("sy").alias("psy"),
    )
    nb = bsum.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("cnt").alias("ncnt"),
        F.col("sx").alias("nsx"),
        F.col("sy").alias("nsy"),
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    f1 = F.col("x") * F.col("pcnt") - F.col("psx")
    f2 = F.col("nsy") * F.col("pcnt") - F.col("psy") * F.col("ncnt")
    f3 = F.col("nsx") * F.col("pcnt") - F.col("psx") * F.col("ncnt")
    f4 = F.col("y6") * F.col("pcnt") - F.col("psy")
    mid = (
        sized.filter(F.col("bucket").between(1, LTTB_BUCKETS - 2))
        .join(F.broadcast(pb), ["event_type", "bucket"])
        .join(F.broadcast(nb), ["event_type", "bucket"])
        .withColumn("area", F.abs(dec(f1) * dec(f2) - dec(f3) * dec(f4)))
    )
    picks = (
        mid.withColumn(
            "pk",
            F.row_number().over(
                Window.partitionBy("event_type", "bucket").orderBy(
                    F.desc("area"), "event_id"
                )
            ),
        )
        .filter(F.col("pk") == 1)
        .select("event_type", "bucket", "event_id", "x", "y6")
        .unionByName(
            sized.filter((F.col("rn") == 1) | (F.col("rn") == F.col("n"))).select(
                "event_type", "bucket", "event_id", "x", "y6"
            )
        )
    )
    return picks.select(
        "event_type",
        F.col("bucket").cast("int").alias("bucket"),
        "event_id",
        F.col("x").cast("long").alias("x_s"),
        (F.col("y6").cast("double") / 1000000.0).alias("y_q6"),
    ).orderBy("event_type", "bucket", "event_id")


#: Peak prominence threshold in micro-units (0.5 value units).
PEAK_MIN_PROMINENCE6 = 500000


@query(
    "window_peak_detect",
    oracle=f"""
    WITH s AS (
      SELECT event_id, event_type, ts,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y6
      FROM events
    ),
    nb AS (
      SELECT event_id, event_type, y6,
             lag(y6) OVER w AS py6,
             lead(y6) OVER w AS ny6
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_id, event_type,
           CAST(y6 AS DOUBLE) / 1000000.0 AS peak_q6,
           CAST(least(y6 - py6, y6 - ny6) AS DOUBLE) / 1000000.0
             AS prominence_q6
    FROM nb
    WHERE py6 IS NOT NULL AND ny6 IS NOT NULL
      AND y6 - py6 >= {PEAK_MIN_PROMINENCE6}
      AND y6 - ny6 >= {PEAK_MIN_PROMINENCE6}
    ORDER BY event_id
    """,
)
def q_window_peak_detect(spark, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection per event_type: a reading is a peak
    when it exceeds BOTH neighbors by at least the prominence floor —
    the alerting primitive behind 'flag the spikes, not the noise'.
    Lag + lead run within (event_type, day) — corpus-parallel keys —
    and the day boundaries are stitched from the bounded per-day
    first/last table (round 9): a window partitioned by event_type
    alone would run each type's entire history through one task.
    Values compared as exact integer micro-units, so the prominence
    boundary is engine-stable and the stitched neighbors are
    bit-identical to the single-window form. Series endpoints are
    excluded (no one-sided peaks)."""
    s = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("y6"),
    ).withColumn("day", F.to_date("ts"))
    wd = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    within = s.select(
        "event_id",
        "event_type",
        "day",
        "ts",
        "y6",
        F.lag("y6").over(wd).alias("py6"),
        F.lead("y6").over(wd).alias("ny6"),
    )
    # bounded per-(type, day) edge table → cross-boundary neighbors.
    # Column pruning removes the unused lag/lead from this branch, so
    # it plans as a map-side partial aggregation over a pruned second
    # scan — |type×day| rows ever shuffle for it; the windowed corpus
    # pass happens exactly once, in the nb branch.
    daymeta = within.groupBy("event_type", "day").agg(
        F.min_by("y6", F.struct("ts", "event_id")).alias("first_y6"),
        F.max_by("y6", F.struct("ts", "event_id")).alias("last_y6"),
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    edges = daymeta.select(
        "event_type",
        "day",
        F.lag("last_y6").over(wday).alias("prev_last"),
        F.lead("first_y6").over(wday).alias("next_first"),
    )
    nb = within.join(F.broadcast(edges), ["event_type", "day"]).select(
        "event_id",
        "event_type",
        "y6",
        F.coalesce(F.col("py6"), F.col("prev_last")).alias("py6"),
        F.coalesce(F.col("ny6"), F.col("next_first")).alias("ny6"),
    )
    return (
        nb.filter(
            F.col("py6").isNotNull()
            & F.col("ny6").isNotNull()
            & (F.col("y6") - F.col("py6") >= PEAK_MIN_PROMINENCE6)
            & (F.col("y6") - F.col("ny6") >= PEAK_MIN_PROMINENCE6)
        )
        .select(
            "event_id",
            "event_type",
            (F.col("y6").cast("double") / 1000000.0).alias("peak_q6"),
            (
                F.least(
                    F.col("y6") - F.col("py6"), F.col("y6") - F.col("ny6")
                ).cast("double")
                / 1000000.0
            ).alias("prominence_q6"),
        )
        .orderBy("event_id")
    )


@query(
    "window_changepoint_detect",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    indexed AS (
      SELECT event_type, day, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS m,
             SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS pre,
             SUM(n * n) OVER (PARTITION BY event_type) AS sq,
             SUM(n) OVER (PARTITION BY event_type) AS tot
      FROM daily
    ),
    sse AS (
      SELECT event_type, day, i, m, pre, tot,
             round(CAST(sq AS DOUBLE)
               - CAST(pre AS DOUBLE) * pre / i
               - CAST(tot - pre AS DOUBLE) * (tot - pre) / (m - i), 6)
               AS sse
      FROM indexed WHERE i < m
    ),
    best AS (
      SELECT event_type, day, i, m, pre, tot, sse,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY sse, day) AS rk
      FROM sse
    )
    SELECT event_type, day AS split_day,
           round(CAST(pre AS DOUBLE) / i, 6) AS mean_before_r6,
           round(CAST(tot - pre AS DOUBLE) / (m - i), 6) AS mean_after_r6,
           sse AS sse_r6
    FROM best WHERE rk = 1 ORDER BY event_type
    """,
    tags=("timeseries", "stats", "beyond"),
)
def q_window_changepoint_detect(spark, sf_dir: str) -> DataFrame:
    """Single-changepoint detection by binary segmentation (Scott &
    Knott 1974; the first split of every changepoint tree): per event
    type, the day that splits the daily-count series into two segments
    with minimum total within-segment SSE — closed form from prefix
    sums, SSE(i) = Σx² − P_i²/i − (T−P_i)²/(m−i), no candidate loop.
    The "when did the trend actually break" primitive behind
    `window_cusum_change`'s alarm (CUSUM says THAT a shift happened;
    this pins WHERE it most likely happened).

    Scale shape: the corpus collapses to the per-(type, day) count
    table (bounded by observation days); prefix sums, SSE and the
    argmin are all type-keyed windows over that bounded series. All
    moments are exact integers; SSE is double algebra over them,
    round-6 before the (sse, day) argmin tie-break."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("day")
    indexed = daily.select(
        "event_type",
        "day",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(wt).alias("m"),
        F.sum("n").over(wo).alias("pre"),
        F.sum(F.col("n") * F.col("n")).over(wt).alias("sq"),
        F.sum("n").over(wt).alias("tot"),
    )
    sse = indexed.filter(F.col("i") < F.col("m")).select(
        "event_type",
        "day",
        "i",
        "m",
        "pre",
        "tot",
        F.round(
            F.col("sq").cast("double")
            - F.col("pre").cast("double") * F.col("pre") / F.col("i")
            - (F.col("tot") - F.col("pre")).cast("double")
            * (F.col("tot") - F.col("pre"))
            / (F.col("m") - F.col("i")),
            6,
        ).alias("sse"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy("sse", "day")
    )
    return (
        sse.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.round(F.col("pre").cast("double") / F.col("i"), 6).alias(
                "mean_before_r6"
            ),
            F.round(
                (F.col("tot") - F.col("pre")).cast("double")
                / (F.col("m") - F.col("i")),
                6,
            ).alias("mean_after_r6"),
            F.col("sse").alias("sse_r6"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_local_day_buckets",
    oracle="""
    SELECT CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
                AS DATE) AS ny_day,
           CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Australia/Sydney'
                AS DATE) AS sydney_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_agg_local_day_buckets(spark, sf_dir: str) -> DataFrame:
    """LOCAL-timezone day bucketing — the dashboard/reporting cut that
    naive UTC-date grouping silently gets wrong: a "day" in New York
    starts at 05:00 UTC (EST) and in Sydney at 13:00 UTC the previous
    calendar day (AEDT, daylight time ACTIVE in January — the +11
    offset only exists because both engines apply the same tzdata DST
    rules, so a fixed-offset shortcut fails the hash match). Grouping
    by BOTH zones at once surfaces the boundary structure: each NY day
    intersects two Sydney days, so the pair cardinality is ~2× days.

    Direction matters: UTC→local is total and unambiguous (every
    instant maps to exactly one wall time), so `from_utc_timestamp` /
    double `AT TIME ZONE` are exact twins; the ambiguous local→UTC
    direction (skipped/repeated DST hours) is deliberately never used.

    Scale: one aggregation keyed by (day, day) — bounded by the
    calendar, map-side combinable; the distinct-user count is the
    standard two-phase expansion over day-bounded groups."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.to_date(
                F.from_utc_timestamp("ts", "America/New_York")
            ).alias("ny_day"),
            F.to_date(
                F.from_utc_timestamp("ts", "Australia/Sydney")
            ).alias("sydney_day"),
            "user_id",
        )
        .groupBy("ny_day", "sydney_day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("ny_day", "sydney_day")
    )


#: Max lag (days) for the daily-revenue autocorrelation sweep.
ACF_MAX_LAG = 7


@query(
    "agg_autocorr_lags",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    ks AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS k),
    pairs AS (
      SELECT ks.k, x.v AS xv, y.v AS yv
      FROM ks
      CROSS JOIN daily x
      JOIN daily y ON y.d = x.d - CAST(ks.k AS INT)
    ),
    m AS (
      SELECT k, COUNT(*) AS n,
             CAST(SUM(CAST(xv AS DECIMAL(38,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yv AS DECIMAL(38,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xv AS DECIMAL(19,2))
                      * CAST(yv AS DECIMAL(19,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(xv AS DECIMAL(19,2))
                      * CAST(xv AS DECIMAL(19,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(yv AS DECIMAL(19,2))
                      * CAST(yv AS DECIMAL(19,2))) AS DOUBLE) AS syy
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS acf_r6
    FROM m ORDER BY lag
    """,
)
def q_agg_autocorr_lags(spark, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    1..ACF_MAX_LAG — the first diagnostic an analyst runs before
    fitting any seasonal/AR model (a weekly cycle shows as a spike at
    lag 7). Pearson correlation of (day t, day t-k) value pairs,
    pairs formed by DATE arithmetic so calendar gaps pair correctly
    (a missing day yields no pair rather than a shifted one).

    Exactness: day revenue is an exact DECIMAL sum; all five moment
    sums (Sx, Sy, Sxy, Sxx, Syy) accumulate in DECIMAL(38,4) — decimal
    products of decimal day values are exact, so the sums are
    order-free — and only the final correlation ratio is computed in
    double (same scalar expression both engines, round-6).

    Spark-first shape: one aggregation to the daily series (map-side
    combinable), the lag fan-out is a 7-way explode of the TINY daily
    frame (≤ a few thousand rows per year of data regardless of SF),
    then a single equi-join on the computed date key and one
    per-lag moment aggregation — the corpus is touched exactly once.

    Scale: everything after the first groupBy operates on the
    day-level series, which grows with the calendar, not the data;
    the day aggregation itself is the only corpus-sized shuffle."""
    daily = staged_daily_revenue(spark, sf_dir)
    x = daily.select(
        F.explode(F.expr(f"sequence(1, {ACF_MAX_LAG})")).alias("k"),
        "d",
        F.col("v").alias("xv"),
    )
    y = daily.select(F.col("d").alias("yd"), F.col("v").alias("yv"))
    pairs = x.join(y, F.expr("yd = date_sub(d, k)"))
    m = pairs.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(F.col("xv").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(F.col("yv").cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum((F.col("xv") * F.col("yv")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("xv") * F.col("xv")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("yv") * F.col("yv")).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    return m.select(
        F.col("k").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("acf_r6"),
    ).orderBy("lag")


#: Holt linear-trend smoothing constants (exact decimal literals —
#: the recursion runs in DECIMAL on both engines, so the coefficients
#: and their complements are shared exactly by construction).
HOLT_ALPHA, HOLT_CALPHA = "0.2", "0.8"
HOLT_BETA, HOLT_CBETA = "0.1", "0.9"


@query(
    "window_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    idx AS (
      SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily
    ),
    rec AS (
      SELECT i.t, i.d, i.v, CAST(NULL AS DECIMAL(28,6)) AS fitted,
             CAST(i.v AS DECIMAL(28,9)) AS l,
             CAST(COALESCE((SELECT x.v FROM idx x WHERE x.t = 2), i.v)
                  - i.v AS DECIMAL(28,9)) AS b
      FROM idx i WHERE i.t = 1
      UNION ALL
      SELECT i.t, i.d, i.v,
             CAST(round(r.l + r.b, 6) AS DECIMAL(28,6)) AS fitted,
             CAST(round({HOLT_ALPHA} * i.v
                        + {HOLT_CALPHA} * (r.l + r.b), 9)
                  AS DECIMAL(28,9)) AS l,
             CAST(round({HOLT_BETA}
                        * (CAST(round({HOLT_ALPHA} * i.v
                                      + {HOLT_CALPHA} * (r.l + r.b), 9)
                                AS DECIMAL(28,9)) - r.l)
                        + {HOLT_CBETA} * r.b, 9)
                  AS DECIMAL(28,9)) AS b
      FROM rec r JOIN idx i ON i.t = r.t + 1
    )
    SELECT CAST(t AS BIGINT) AS t, d, CAST(v AS DOUBLE) AS v,
           CAST(round(l, 6) AS DOUBLE) AS level_r6,
           CAST(round(b, 6) AS DOUBLE) AS trend_r6,
           CAST(fitted AS DOUBLE) AS fitted
    FROM rec ORDER BY t
    """,
)
def q_window_holt_linear(spark, sf_dir: str) -> DataFrame:
    """Holt\'s linear-trend double exponential smoothing over the
    daily revenue series — the level+trend forecaster one step up
    from EWMA (grouped_pandas_ewma), giving a one-step-ahead fitted
    value per day and the (level, trend) state a forecast extends.
    The recursion l_t = αv_t + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b is
    inherently sequential, so this is the canonical "custom stateful
    operator Spark lacks" case: an Arrow-batched applyInPandas pass
    over the PRE-AGGREGATED day series.

    Determinism: the recursion runs in EXACT DECIMAL with HALF_UP
    round-9 at every state update (the ml_adaboost_stumps contract) —
    a pure-double replay diverges by 1 ulp a few hundred days in
    (multiply-add contraction differs between engines) and the
    divergence compounds; decimal state with a shared per-step
    rounding point makes every level/trend value identical by
    construction. DuckDB\'s decimal round is ties-away-from-zero,
    which is exactly Python\'s ROUND_HALF_UP (pinned by the
    negative-trend rounds this series hits). The EMITTED state is
    additionally rounded to 6 dp on both sides (the registry-wide
    `_r6` convention), so even a 1-ulp 9-dp tie divergence — e.g.
    driver-vs-repo DuckDB-version skew on round(DECIMAL, 9) ties —
    cannot flip the hash: the recursion map is contractive
    (|∂l\'/∂l| ≤ 1−α+β), so a 1e-9 perturbation stays orders of
    magnitude below the 1e-6 emission grid.

    Scale: the corpus-sized work is the one map-side-combinable daily
    aggregation; the sequential pass runs on |days| rows (calendar-
    bounded, a few thousand regardless of SF) in a single bounded
    group — the same shape as any per-series state machine, and at
    100 TB the group key becomes the series id with thousands of
    series running in parallel."""
    import pandas as pd  # noqa: PLC0415 — worker-side dependency

    daily = staged_daily_revenue(spark, sf_dir)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q9, q6 = Decimal("1e-9"), Decimal("1e-6")

        def r9(x):
            return x.quantize(q9, rounding=ROUND_HALF_UP)

        def r6(x):
            return x.quantize(q6, rounding=ROUND_HALF_UP)

        a, ca = Decimal(HOLT_ALPHA), Decimal(HOLT_CALPHA)
        be, cb = Decimal(HOLT_BETA), Decimal(HOLT_CBETA)
        pdf = pdf.sort_values("d").reset_index(drop=True)
        v = list(pdf["v"])
        n = len(v)
        lvl = r9(v[0])
        b = r9(v[1] - v[0]) if n > 1 else r9(Decimal(0))
        rows = [(1, pdf["d"][0], v[0], None, r6(lvl), r6(b))]
        for t in range(1, n):
            fitted = (lvl + b).quantize(q6, rounding=ROUND_HALF_UP)
            new_l = r9(a * v[t] + ca * (lvl + b))
            b = r9(be * (new_l - lvl) + cb * b)
            lvl = new_l
            # Recursion state stays 9 dp; the EMITTED copies are 6 dp.
            rows.append((t + 1, pdf["d"][t], v[t], fitted, r6(lvl), r6(b)))
        return pd.DataFrame(
            rows, columns=["t", "d", "v", "fitted", "l", "b"]
        )

    out = daily.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _, pdf: holt(pdf),
        schema=(
            "t long, d date, v decimal(18,2), fitted decimal(28,6),"
            " l decimal(28,6), b decimal(28,6)"
        ),
    )
    # Emission policy (registry.py:10-21): the recursion is exact
    # DECIMAL, but the EMITTED columns are CAST to DOUBLE — a 6 dp
    # decimal converts to the same nearest double on both engines,
    # whereas Decimal objects round-trip through pandas differently
    # on Spark vs DuckDB and break the driver's value hash.
    return out.select(
        "t", "d",
        F.col("v").cast("double").alias("v"),
        F.col("l").cast("double").alias("level_r6"),
        F.col("b").cast("double").alias("trend_r6"),
        F.col("fitted").cast("double").alias("fitted"),
    ).orderBy("t")


@query(
    "window_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    cum AS (
      SELECT d, v,
             CAST(SUM(v) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,2)) AS c
      FROM daily
    ),
    dd AS (
      SELECT d, c,
             CAST(MAX(c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,2)) AS peak
      FROM cum
    )
    SELECT d AS trough_date, CAST(c AS DOUBLE) AS cum_at_trough,
           CAST(peak AS DOUBLE) AS peak_before,
           CAST(peak - c AS DOUBLE) AS max_drawdown
    FROM dd
    ORDER BY (peak - c) DESC, d ASC
    LIMIT 1
    """,
)
def q_window_max_drawdown(spark, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily revenue curve — the
    worst peak-to-trough slide, the stress metric that turns a
    time series into one "how bad did it get" number (used the same
    way on revenue, active-user counts, or any KPI curve). Emits the
    trough day with the cumulative value there, the preceding peak,
    and the drawdown.

    Exactness: the entire computation stays in DECIMAL — day sums,
    running sum, running max, and the difference are all exact, so
    both engines agree to the cent with no float anywhere; the top-1
    row is picked with a deterministic (drawdown, date) order.

    Spark-first shape: one map-side-combinable day aggregation, then
    two stacked bounded windows (running sum, running max) over the
    |days| series and a TakeOrdered top-1 — the single-partition
    window is calendar-bounded (plan-hygiene allowlisted), the same
    two-level shape every day-series operator here uses.

    Scale: corpus touched once; window input grows with the calendar,
    not the data."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d", F.sum("v").over(w).cast("decimal(28,2)").alias("c")
    )
    dd = cum.select(
        "d", "c", F.max("c").over(w).cast("decimal(28,2)").alias("peak")
    )
    # Order on the EXACT decimal drawdown; emit DOUBLE (registry
    # emission policy — 2 dp decimals convert to the same nearest
    # double on both engines, while Decimal objects hash differently
    # through the driver's pandas canonicalization).
    return (
        dd.select(
            F.col("d").alias("trough_date"),
            F.col("c").alias("cum_at_trough"),
            F.col("peak").alias("peak_before"),
            (F.col("peak") - F.col("c")).cast("decimal(28,2)").alias(
                "max_drawdown"
            ),
        )
        .orderBy(F.desc("max_drawdown"), F.asc("trough_date"))
        .limit(1)
        .select(
            "trough_date",
            F.col("cum_at_trough").cast("double").alias("cum_at_trough"),
            F.col("peak_before").cast("double").alias("peak_before"),
            F.col("max_drawdown").cast("double").alias("max_drawdown"),
        )
    )


#: Variance-ratio horizon (k-day aggregated returns vs daily).
VR_K = 5


@query(
    "window_variance_ratio",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    diffs AS (
      SELECT d,
             CAST(v - LAG(v) OVER (ORDER BY d) AS DECIMAL(19,2)) AS x
      FROM daily
    ),
    ksum AS (
      SELECT CAST(SUM(x) OVER (ORDER BY d
               ROWS BETWEEN {VR_K - 1} PRECEDING AND CURRENT ROW)
               AS DECIMAL(24,2)) AS c,
             COUNT(x) OVER (ORDER BY d
               ROWS BETWEEN {VR_K - 1} PRECEDING AND CURRENT ROW) AS nf
      FROM diffs WHERE x IS NOT NULL
    ),
    m1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(x) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))
                  AS DOUBLE) AS q1
      FROM diffs WHERE x IS NOT NULL
    ),
    mk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(c) AS DOUBLE) AS sk,
             CAST(SUM(CAST(c AS DECIMAL(19,2)) * CAST(c AS DECIMAL(19,2)))
                  AS DOUBLE) AS qk
      FROM ksum WHERE nf = {VR_K}
    )
    SELECT n1 AS n_diffs, nk AS n_ksums, CAST({VR_K} AS BIGINT) AS k,
           round(((qk - sk * sk / nk) / nk)
                 / ({VR_K} * ((q1 - s1 * s1 / n1) / n1)), 6) AS vr_r6
    FROM m1 CROSS JOIN mk
    """,
)
def q_window_variance_ratio(spark, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio statistic on the daily revenue
    curve: VR(k) = Var(k-day overlapping changes) / (k·Var(1-day
    changes)). A random walk gives VR ≈ 1; VR < 1 flags mean
    reversion, VR > 1 momentum — the standard pre-test before anyone
    fits a trend model to a metric series (the forecast and
    changepoint operators downstream of this assume the answer).

    Exactness needs NO rounding anywhere: daily revenue is a
    DECIMAL(18,2) sum, so 1-day diffs, overlapping k-sums, and both
    squared-moment tables are exact decimal arithmetic end-to-end;
    the variance ratio is one fixed-shape double closing form
    (population variances, stated, not n−1). Only the O(1)-magnitude
    RATIO is emitted: round-6 of the raw ~1e12 variance is ulp-unsafe
    across engines (the large-value-round hazard agg_anova_oneway
    documents), while the ratio's exponent cancels.

    Scale: corpus → |days| table in one combinable aggregation; lag
    and rolling-k windows run on that bounded table (allowlisted),
    then two 1-row moment tables."""
    daily = staged_daily_revenue(spark, sf_dir)
    diffs = daily.select(
        "d",
        (F.col("v") - F.lag("v").over(Window.orderBy("d")))
        .cast("decimal(19,2)")
        .alias("x"),
    ).filter(F.col("x").isNotNull())
    wk = Window.orderBy("d").rowsBetween(-(VR_K - 1), 0)
    ksum = diffs.select(
        F.sum("x").over(wk).cast("decimal(24,2)").alias("c"),
        F.count("x").over(wk).alias("nf"),
    ).filter(F.col("nf") == VR_K)
    m1 = diffs.agg(
        F.count("*").cast("long").alias("n1"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(F.col("x").cast("decimal(19,2)") * F.col("x").cast("decimal(19,2)"))
        .cast("double")
        .alias("q1"),
    )
    mk = ksum.agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("c").cast("double").alias("sk"),
        F.sum(F.col("c").cast("decimal(19,2)") * F.col("c").cast("decimal(19,2)"))
        .cast("double")
        .alias("qk"),
    )
    n1, nk = F.col("n1").cast("double"), F.col("nk").cast("double")
    var1 = (F.col("q1") - F.col("s1") * F.col("s1") / n1) / n1
    vark = (F.col("qk") - F.col("sk") * F.col("sk") / nk) / nk
    return m1.crossJoin(F.broadcast(mk)).select(
        F.col("n1").alias("n_diffs"),
        F.col("nk").alias("n_ksums"),
        F.lit(VR_K).cast("long").alias("k"),
        F.round(vark / (VR_K * var1), 6).alias("vr_r6"),
    )


#: Seasonal-naive horizon for the forecast-skill ratio.
SKILL_SEASON = 7


@query(
    "window_forecast_skill",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    err AS (
      SELECT d,
             CAST(abs(v - LAG(v, {SKILL_SEASON}) OVER (ORDER BY d))
                  AS DECIMAL(19,2)) AS e7,
             CAST(abs(v - LAG(v, 1) OVER (ORDER BY d))
                  AS DECIMAL(19,2)) AS e1
      FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(e7) AS DOUBLE) AS s7,
             CAST(SUM(e1) AS DOUBLE) AS s1
      FROM err WHERE e7 IS NOT NULL AND e1 IS NOT NULL
    )
    SELECT n AS n_evals, CAST({SKILL_SEASON} AS BIGINT) AS season,
           round(s7 / s1, 6) AS mase_vs_naive_r6,
           CASE WHEN s7 < s1 THEN 1 ELSE 0 END AS seasonal_wins
    FROM m
    """,
)
def q_window_forecast_skill(spark, sf_dir: str) -> DataFrame:
    """Forecast-skill ratio on the daily revenue curve: MAE of the
    seasonal-naive predictor (ŷ_t = y_{{t−7}}) over MAE of the plain
    naive one (ŷ_t = y_{{t−1}}), evaluated on the same days — the
    MASE-style number that answers 'is there exploitable weekly
    seasonality' BEFORE anyone ships a forecasting model (ratio < 1:
    yes; ≥ 1: the fancy model must first beat last-value carry).

    Exactness: daily revenue is an exact DECIMAL(18,2) sum, both
    absolute-error series and their sums stay exact decimal, and
    ONLY the O(1)-magnitude ratio is emitted (the raw MAEs are
    corpus-scale and round-6-unsafe — the large-value-round hazard).

    Scale: corpus → |days| table in one combinable aggregation; lag
    windows on that bounded table only (allowlisted); 1-row closing
    form."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    err = daily.select(
        F.abs(F.col("v") - F.lag("v", SKILL_SEASON).over(w))
        .cast("decimal(19,2)")
        .alias("e7"),
        F.abs(F.col("v") - F.lag("v", 1).over(w))
        .cast("decimal(19,2)")
        .alias("e1"),
    ).filter(F.col("e7").isNotNull() & F.col("e1").isNotNull())
    m = err.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("e7").cast("double").alias("s7"),
        F.sum("e1").cast("double").alias("s1"),
    )
    return m.select(
        F.col("n").alias("n_evals"),
        F.lit(SKILL_SEASON).cast("long").alias("season"),
        F.round(F.col("s7") / F.col("s1"), 6).alias("mase_vs_naive_r6"),
        F.when(F.col("s7") < F.col("s1"), 1).otherwise(0).alias(
            "seasonal_wins"
        ),
    )


#: Ljung-Box lag depth and the 5% chi-square(7) critical value.
LB_LAGS = 7
LB_CRIT = 14.067140


@query(
    "window_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    diffs AS (
      SELECT d,
             CAST(round((v - LAG(v) OVER (ORDER BY d)) * 100)
                  AS BIGINT) AS c
      FROM daily
    ),
    base AS (SELECT d, c FROM diffs WHERE c IS NOT NULL),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM base
    ),
    z AS (
      SELECT b.d, CAST(st.n * b.c - st.s AS DECIMAL(19,0)) AS z, st.n
      FROM base b CROSS JOIN st
    ),
    den AS (
      SELECT CAST(SUM(z * z) AS DOUBLE) AS den, CAST(MAX(n) AS BIGINT) AS n
      FROM z
    ),
    nums AS (
      {" UNION ALL ".join(
          f'''SELECT CAST({k} AS BIGINT) AS lag,
             CAST(SUM(zz) AS DOUBLE) AS num
      FROM (SELECT z * LEAD(z, {k}) OVER (ORDER BY d) AS zz FROM z)'''
          for k in range(1, 8)
      )}
    ),
    terms AS (
      SELECT CAST(round((nums.num / den.den) * (nums.num / den.den)
                        / (den.n - nums.lag), 12) AS DECIMAL(28,12)) AS t
      FROM nums CROSS JOIN den
    )
    SELECT den.n AS n_diffs, CAST({LB_LAGS} AS BIGINT) AS lags,
           round(den.n * (den.n + 2.0)
                 * CAST((SELECT SUM(t) FROM terms) AS DOUBLE), 6)
             AS lb_stat_r6,
           CASE WHEN den.n * (den.n + 2.0)
                     * CAST((SELECT SUM(t) FROM terms) AS DOUBLE)
                     > {LB_CRIT} THEN 1 ELSE 0 END AS reject_whiteness_5pct
    FROM den
    """,
)
def q_window_ljung_box(spark, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on the daily revenue CHANGES — 'is
    anything left to model': LB = n(n+2)·Σ_k r_k²/(n−k) over lags
    1..{LB_LAGS} against a literal χ² critical value. The whiteness
    gate that decides whether the forecasting/changepoint machinery
    downstream has signal to work with, and the residual-diagnostic
    every fitted model should re-run.

    Exactness (the periodogram contract): diffs become exact integer
    CENTS, deviations are the n-scaled integers n·c − S (DECIMAL
    products — no float covariance anywhere), each lag's
    r_k²/(n−k) is a fixed-shape double rounded 12 and DECIMAL-summed
    over the {LB_LAGS}-row term table, one closing round-6.

    Scale: corpus → |days| table; ONE lead window pass on that
    bounded table (allowlisted) carries all LB_LAGS lag columns, and
    ONE aggregation reduces them — the lag table is a posexploded
    array of that 1-row aggregate, never a per-lag re-pass."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    base = daily.select(
        "d",
        F.round((F.col("v") - F.lag("v").over(w)) * 100)
        .cast("long")
        .alias("c"),
    ).filter(F.col("c").isNotNull())
    st = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    z = base.crossJoin(F.broadcast(st)).select(
        "d",
        (F.col("n") * F.col("c") - F.col("s"))
        .cast("decimal(19,0)")
        .alias("z"),
        "n",
    )
    # All LB_LAGS lag products in ONE window pass (one Window node —
    # identical spec for every lead) and ONE aggregation: the former
    # per-lag shape ran a separate window + 1-row agg per lag (7 passes
    # over the |days| table and 11 BNLJ broadcasts; r11 verdict item 5).
    # The per-lag DECIMAL products and double casts are unchanged, so
    # every value matches the per-lag oracle bit-for-bit.
    wl = Window.orderBy("d")
    leads = z.select(
        "z",
        "n",
        *[
            F.lead("z", k).over(wl).alias(f"z{k}")
            for k in range(1, LB_LAGS + 1)
        ],
    )
    aggd = leads.agg(
        F.sum(F.col("z") * F.col("z")).cast("double").alias("den"),
        F.max("n").cast("long").alias("n"),
        *[
            F.sum(F.col("z") * F.col(f"z{k}")).cast("double").alias(f"num{k}")
            for k in range(1, LB_LAGS + 1)
        ],
    )
    den = aggd.select("den", "n")
    nums = aggd.select(
        F.posexplode(
            F.array(*[F.col(f"num{k}") for k in range(1, LB_LAGS + 1)])
        ).alias("pos", "num")
    ).select((F.col("pos") + 1).cast("long").alias("lag"), "num")
    terms = nums.crossJoin(F.broadcast(den)).select(
        F.round(
            (F.col("num") / F.col("den"))
            * (F.col("num") / F.col("den"))
            / (F.col("n") - F.col("lag")),
            12,
        )
        .cast("decimal(28,12)")
        .alias("t")
    )
    s = terms.agg(F.sum("t").cast("double").alias("st"))
    n = F.col("n").cast("double")
    lb = n * (n + 2.0) * F.col("st")
    return den.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_diffs"),
        F.lit(LB_LAGS).cast("long").alias("lags"),
        F.round(lb, 6).alias("lb_stat_r6"),
        F.when(lb > LB_CRIT, 1).otherwise(0).alias("reject_whiteness_5pct"),
    )


#: Two-sided 5% normal critical value (shared convention).
RUNS_CRIT = 1.959964


@query(
    "stat_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    mv AS (
      SELECT d,
             CASE WHEN v > LAG(v) OVER (ORDER BY d) THEN 1
                  WHEN v < LAG(v) OVER (ORDER BY d) THEN 0 END AS up
      FROM daily
    ),
    seq AS (
      SELECT d, up, LAG(up) OVER (ORDER BY d) AS prev
      FROM mv WHERE up IS NOT NULL
    ),
    m AS (
      SELECT CAST(SUM(CASE WHEN up = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN up = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND up <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM seq
    )
    SELECT n1 AS n_up, n0 AS n_down, runs,
           round(1.0 + 2.0 * n1 * n0 / (n1 + n0), 6) AS expected_runs_r6,
           round((runs - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))
                 / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
                        / ((n1 + n0) * (n1 + n0) * (n1 + n0 - 1.0))), 6)
             AS z_r6,
           CASE WHEN abs((runs - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))
                 / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
                        / ((n1 + n0) * (n1 + n0) * (n1 + n0 - 1.0))))
                > {RUNS_CRIT} THEN 1 ELSE 0 END AS reject_random_5pct
    FROM m
    """,
    tags=("stats", "timeseries", "beyond"),
)
def q_stat_runs_test(spark, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily revenue direction
    sequence (up/down vs the previous day; flat days drop) — the
    distribution-free randomness check that catches STREAKINESS the
    Ljung–Box lag sweep can miss (and vice versa: together they are
    the standard pre-model whiteness panel). A run is a maximal
    streak of same-direction days; too few runs = momentum, too many
    = oscillation; z uses the exact mean/variance of the runs count
    under exchangeability and a literal normal critical value.

    Exactness: direction flags, streak boundaries, and all three
    counts are exact integers off the DECIMAL daily table; z is one
    fixed-shape double closed form.

    Scale: corpus → |days| table; two lag windows on that bounded
    table (allowlisted); 1-row closing algebra."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    mv = daily.select(
        "d",
        F.when(F.col("v") > F.lag("v").over(w), 1)
        .when(F.col("v") < F.lag("v").over(w), 0)
        .alias("up"),
    ).filter(F.col("up").isNotNull())
    seq = mv.select("d", "up", F.lag("up").over(Window.orderBy("d")).alias("prev"))
    m = seq.agg(
        F.sum(F.when(F.col("up") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("up") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("up") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    exp_r = 1.0 + 2.0 * n1 * n0 / (n1 + n0)
    var_r = (
        2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
        / ((n1 + n0) * (n1 + n0) * (n1 + n0 - 1.0))
    )
    zc = (F.col("runs") - exp_r) / F.sqrt(var_r)
    return m.select(
        F.col("n1").alias("n_up"),
        F.col("n0").alias("n_down"),
        "runs",
        F.round(exp_r, 6).alias("expected_runs_r6"),
        F.round(zc, 6).alias("z_r6"),
        F.when(F.abs(zc) > RUNS_CRIT, 1).otherwise(0).alias(
            "reject_random_5pct"
        ),
    )


@query(
    "ml_chow_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    x0 AS (SELECT MIN(d) AS d0, CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    xy AS (
      SELECT CAST(datediff('day', x0.d0, daily.d) AS BIGINT) AS x, y,
             CASE WHEN 2 * datediff('day', x0.d0, daily.d)
                       < (SELECT MAX(x2) FROM (
                            SELECT datediff('day', x0b.d0, db.d) AS x2
                            FROM daily db CROSS JOIN x0 x0b))
                  THEN 1 ELSE 2 END AS seg
      FROM daily CROSS JOIN x0
    ),
    m AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DOUBLE) AS syy
      FROM xy GROUP BY seg
    ),
    rss AS (
      SELECT seg, n,
             (syy - sy * sy / n)
             - (sxy - CAST(sx AS DOUBLE) * sy / n)
               * (sxy - CAST(sx AS DOUBLE) * sy / n)
               / (sxx - CAST(sx AS DOUBLE) * sx / n) AS r
      FROM m
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(sx) AS DOUBLE) AS sx, SUM(sy) AS sy,
             CAST(SUM(sxx) AS DOUBLE) AS sxx, SUM(sxy) AS sxy,
             SUM(syy) AS syy
      FROM m
    ),
    prss AS (
      SELECT n,
             (syy - sy * sy / n)
             - (sxy - sx * sy / n) * (sxy - sx * sy / n)
               / (sxx - sx * sx / n) AS r
      FROM pooled
    )
    SELECT prss.n AS n_days,
           CAST(2 AS BIGINT) AS df1,
           CAST(prss.n - 4 AS BIGINT) AS df2,
           round(((prss.r - (SELECT SUM(r) FROM rss)) / 2)
                 / ((SELECT SUM(r) FROM rss) / (prss.n - 4)), 6)
             AS chow_f_r6
    FROM prss
    """,
    tags=("stats", "timeseries", "beyond"),
)
def q_ml_chow_test(spark, sf_dir: str) -> DataFrame:
    """Chow structural-break F test on the daily revenue trend: fit
    the linear trend on the first half, the second half, and pooled,
    and test whether the two halves share one regression —
    F = ((RSS_p − RSS₁ − RSS₂)/k) / ((RSS₁+RSS₂)/(n−2k)), k = 2. The
    parametric complement to window_changepoint_detect/cusum: those
    LOCATE a shift, this one scores whether the regime split at the
    midpoint is statistically real.

    Exactness: y is exact integer CENTS, x an integer day offset;
    every moment is an exact integer/DECIMAL sum; the RSS algebra and
    F are fixed-shape double closing forms (identical expression
    shape on both engines → identical doubles), one round-6. Only the
    O(1)-magnitude F is emitted (RSS is cents²-scale and
    round-unsafe — the large-value hazard).

    Scale: one corpus aggregation to |days|, one 2-row moment
    aggregation; no window at all."""
    daily = staged_daily_revenue(spark, sf_dir).select(
        "d", (F.col("v") * 100).cast("long").alias("y")
    )
    x0 = daily.agg(
        F.min("d").alias("d0"), F.count("*").cast("long").alias("nn")
    )
    withx = daily.crossJoin(F.broadcast(x0)).select(
        F.datediff("d", "d0").cast("long").alias("x"), "y"
    )
    xmax = withx.agg(F.max("x").alias("xm"))
    xy = withx.crossJoin(F.broadcast(xmax)).select(
        "x",
        "y",
        F.when(2 * F.col("x") < F.col("xm"), 1).otherwise(2).alias("seg"),
    )
    m = xy.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("syy"),
    )
    def _rss(n, sx, sy, sxx, sxy, syy):
        nd = n.cast("double")
        sxd = sx.cast("double")
        return (syy - sy * sy / nd) - (sxy - sxd * sy / nd) * (
            sxy - sxd * sy / nd
        ) / (sxx.cast("double") - sxd * sx / nd)

    rss = m.select(
        _rss(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"),
            F.col("sxy"), F.col("syy"),
        ).alias("r")
    ).agg(F.sum("r").alias("r12"))
    pooled = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").cast("long").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").cast("long").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    prss = pooled.select(
        "n",
        _rss(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"),
            F.col("sxy"), F.col("syy"),
        ).alias("rp"),
    )
    return prss.crossJoin(F.broadcast(rss)).select(
        F.col("n").alias("n_days"),
        F.lit(2).cast("long").alias("df1"),
        (F.col("n") - 4).cast("long").alias("df2"),
        F.round(
            ((F.col("rp") - F.col("r12")) / 2)
            / (F.col("r12") / (F.col("n") - 4)),
            6,
        ).alias("chow_f_r6"),
    )


@query(
    "window_yoy_growth",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
             CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(28,2)) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT cur.y AS year, cur.m AS month,
           CAST(cur.rev AS DOUBLE) / 1 AS revenue,
           round(CAST(cur.rev AS DOUBLE) / CAST(prev.rev AS DOUBLE) - 1, 6)
             AS yoy_growth_r6
    FROM monthly cur
    JOIN monthly prev ON prev.y = cur.y - 1 AND prev.m = cur.m
    ORDER BY year, month
    """,
)
def q_window_yoy_growth(spark, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth at month grain — the seasonality-
    immune growth convention (each month compares against the SAME
    month last year, so the December spike never reads as growth),
    complementing agg_monthly_growth's MoM view. Expressed as an
    equi-join of the monthly aggregate with itself shifted one year —
    no window at all, and the join runs on the bounded |months| table.

    Revenue is an exact DECIMAL sum; surfacing it as DOUBLE and the
    growth ratio as one fixed-shape division keeps both engines
    bit-identical (ratios are O(1); the raw revenue column is emitted
    unrounded — the decimal→double conversion is exact-value
    deterministic, unlike a round-6 at 1e12 magnitude).

    Scale: one combinable corpus aggregation; constant-size join."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(_rev_sum_dec("decimal(28,2)").alias("rev"))
    )
    cur = monthly.alias("cur")
    prev = monthly.alias("prev")
    return (
        cur.join(
            F.broadcast(prev),
            (F.col("prev.y") == F.col("cur.y") - 1)
            & (F.col("prev.m") == F.col("cur.m")),
        )
        .select(
            F.col("cur.y").alias("year"),
            F.col("cur.m").alias("month"),
            (F.col("cur.rev").cast("double") / 1).alias("revenue"),
            F.round(
                F.col("cur.rev").cast("double")
                / F.col("prev.rev").cast("double")
                - 1,
                6,
            ).alias("yoy_growth_r6"),
        )
        .orderBy("year", "month")
    )


#: KPSS Bartlett bandwidth and the 5% level-stationarity critical
#: value (Kwiatkowski et al. 1992, Table 1).
KPSS_Q = 7
KPSS_CRIT = 0.463


@query(
    "window_kpss_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
      FROM daily
    ),
    e AS (
      SELECT d.d, CAST(st.n * d.y - st.s AS DECIMAL(19,0)) AS e, st.n
      FROM daily d CROSS JOIN st
    ),
    cum AS (
      SELECT d, e, n,
             CAST(SUM(e) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,0)) AS sp
      FROM e
    ),
    num AS (
      SELECT CAST(SUM(CAST(sp AS DECIMAL(19,0)) * CAST(sp AS DECIMAL(19,0)))
                  AS DOUBLE) AS ssq
      FROM cum
    ),
    gam AS (
      SELECT 0 AS l, CAST(SUM(e * e) AS DOUBLE) AS g FROM e
      {" ".join(
          f'''UNION ALL SELECT {l},
          CAST(SUM(zz) AS DOUBLE) FROM (
            SELECT e * LAG(e, {l}) OVER (ORDER BY d) AS zz FROM e)
          WHERE zz IS NOT NULL'''
          for l in range(1, 8)
      )}
    ),
    den AS (
      SELECT CAST(SUM(CASE WHEN l = 0 THEN ({KPSS_Q} + 1) * g
                           ELSE 2 * ({KPSS_Q} + 1 - l) * g END) AS DOUBLE)
               AS d2
      FROM gam
    )
    SELECT (SELECT n FROM st) AS n_days,
           CAST({KPSS_Q} AS BIGINT) AS bandwidth,
           round(({KPSS_Q} + 1) * num.ssq
                 / (CAST((SELECT n FROM st) AS DOUBLE) * den.d2), 6)
             AS kpss_stat_r6,
           CASE WHEN ({KPSS_Q} + 1) * num.ssq
                 / (CAST((SELECT n FROM st) AS DOUBLE) * den.d2)
                > {KPSS_CRIT} THEN 1 ELSE 0 END AS reject_stationary_5pct
    FROM num CROSS JOIN den
    """,
)
def q_window_kpss_test(spark, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily revenue — the
    null-reversed partner of the whiteness panel (Ljung–Box, runs,
    variance-ratio test DEPARTURES from noise; KPSS tests whether the
    LEVEL itself is stable, which is what decides if the forecasting
    stack needs differencing): η = (1/n²)Σ S_t² over the long-run
    variance with Bartlett weights, against the published 5% critical
    value 0.463.

    The all-integer trick extends the Ljung–Box contract: with
    e'_t = n·y_t − S (exact integer cents deviations), every partial
    sum S'_t, its square sum, and every lag autocovariance γ'_l are
    exact DECIMAL sums, and the Bartlett combination multiplies
    through by (q+1) — (q+1)γ'₀ + 2Σ(q+1−l)γ'_l — so the WEIGHTS are
    integers too. One fixed-shape double division at the end; the
    n-powers cancel to a single factor of n.

    Scale: corpus → |days| table; cumulative and lag windows on that
    bounded table (allowlisted); the lag fan-out is a literal 7-way
    union of 1-row aggregates."""
    daily = staged_daily_revenue(spark, sf_dir).select(
        "d", (F.col("v") * 100).cast("long").alias("y")
    )
    st = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    e = daily.crossJoin(F.broadcast(st)).select(
        "d",
        (F.col("n") * F.col("y") - F.col("s"))
        .cast("decimal(19,0)")
        .alias("e"),
        "n",
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = e.select(F.sum("e").over(w).cast("decimal(28,0)").alias("sp"))
    num = cum.agg(
        F.sum(F.col("sp").cast("decimal(19,0)") * F.col("sp").cast("decimal(19,0)"))
        .cast("double")
        .alias("ssq")
    )
    gam_frames = [
        e.agg(F.sum(F.col("e") * F.col("e")).cast("double").alias("g")).select(
            F.lit(0).alias("l"), "g"
        )
    ]
    for l in range(1, KPSS_Q + 1):
        zz = e.select(
            (F.col("e") * F.lag("e", l).over(Window.orderBy("d"))).alias("zz")
        ).filter(F.col("zz").isNotNull())
        gam_frames.append(
            zz.agg(F.sum("zz").cast("double").alias("g")).select(
                F.lit(l).alias("l"), "g"
            )
        )
    gam = gam_frames[0]
    for f_ in gam_frames[1:]:
        gam = gam.unionByName(f_)
    den = gam.agg(
        F.sum(
            F.when(F.col("l") == 0, (KPSS_Q + 1) * F.col("g")).otherwise(
                2 * (KPSS_Q + 1 - F.col("l")) * F.col("g")
            )
        )
        .cast("double")
        .alias("d2")
    )
    stat = (
        (KPSS_Q + 1)
        * F.col("ssq")
        / (F.col("n").cast("double") * F.col("d2"))
    )
    return (
        st.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_days"),
            F.lit(KPSS_Q).cast("long").alias("bandwidth"),
            F.round(stat, 6).alias("kpss_stat_r6"),
            F.when(stat > KPSS_CRIT, 1)
            .otherwise(0)
            .alias("reject_stationary_5pct"),
        )
    )


#: X̄-R control-chart constants for subgroup size 5 (standard SPC
#: tables): A2 (mean-chart width), D3/D4 (range-chart limits).
SPC_SUBGROUP = 5
SPC_A2 = 0.577
SPC_D3 = 0.0
SPC_D4 = 2.114


@query(
    "window_control_chart",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM daily_src GROUP BY 1
    ),
    idx AS (
      SELECT d, v,
             (ROW_NUMBER() OVER (ORDER BY d) - 1) // {SPC_SUBGROUP} AS grp
      FROM daily
    ),
    sub AS (
      SELECT grp,
             round(CAST(SUM(v) AS DOUBLE) / {SPC_SUBGROUP}, 6) AS xbar,
             round(CAST(MAX(v) - MIN(v) AS DOUBLE), 6) AS r
      FROM idx
      GROUP BY grp HAVING COUNT(*) = {SPC_SUBGROUP}
    ),
    lims AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_subgroups,
             CAST(SUM(CAST(xbar AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS grand,
             CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS rbar
      FROM sub
    )
    SELECT s.grp AS subgroup, s.xbar, s.r,
           round(l.grand, 6) AS center_r6,
           round(l.grand + {SPC_A2} * l.rbar, 6) AS ucl_r6,
           round(l.grand - {SPC_A2} * l.rbar, 6) AS lcl_r6,
           CASE WHEN s.xbar > l.grand + {SPC_A2} * l.rbar
                  OR s.xbar < l.grand - {SPC_A2} * l.rbar
                  OR s.r > {SPC_D4} * l.rbar
                THEN 1 ELSE 0 END AS out_of_control
    FROM sub s CROSS JOIN lims l
    ORDER BY subgroup
    """.replace("daily_src", "orders"),
)
def q_window_control_chart(spark, sf_dir: str) -> DataFrame:
    """Shewhart X̄-R control chart on daily revenue in subgroups of
    {SPC_SUBGROUP} consecutive days — the SPC discipline behind every
    'is this metric in control' dashboard, with the CLASSIC tabled
    constants (A2={SPC_A2}, D4={SPC_D4} for n={SPC_SUBGROUP}) instead
    of a fitted sigma: limits come from the average within-subgroup
    RANGE, which is what makes the chart robust to slow drift the
    z-score detectors absorb into their own baseline. Incomplete
    trailing subgroups are excluded (stated).

    Subgroup means/ranges are exact DECIMAL aggregates rounded 6;
    the grand mean and R̄ are DECIMAL sums over the bounded subgroup
    table; flags compare round-6 doubles to fixed-shape limits.

    Scale: corpus → |days| table; the subgroup index is one bounded
    row_number window (allowlisted); everything after is
    |days|/{SPC_SUBGROUP} rows."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    idx = daily.select(
        "v",
        F.expr(f"(row_number() OVER (ORDER BY d) - 1) div {SPC_SUBGROUP}")
        .alias("grp"),
    )
    sub = (
        idx.groupBy("grp")
        .agg(
            F.count("*").alias("gn"),
            F.round(F.sum("v").cast("double") / SPC_SUBGROUP, 6).alias("xbar"),
            F.round((F.max("v") - F.min("v")).cast("double"), 6).alias("r"),
        )
        .filter(F.col("gn") == SPC_SUBGROUP)
        .drop("gn")
    )
    lims = sub.agg(
        F.count("*").cast("long").alias("n_subgroups"),
        (F.sum(F.col("xbar").cast("decimal(28,6)")).cast("double") / F.count("*"))
        .alias("grand"),
        (F.sum(F.col("r").cast("decimal(28,6)")).cast("double") / F.count("*"))
        .alias("rbar"),
    )
    ucl = F.col("grand") + SPC_A2 * F.col("rbar")
    lcl = F.col("grand") - SPC_A2 * F.col("rbar")
    ooc = (
        (F.col("xbar") > ucl)
        | (F.col("xbar") < lcl)
        | (F.col("r") > SPC_D4 * F.col("rbar"))
    )
    return (
        sub.crossJoin(F.broadcast(lims))
        .select(
            F.col("grp").alias("subgroup"),
            "xbar",
            "r",
            F.round(F.col("grand"), 6).alias("center_r6"),
            F.round(ucl, 6).alias("ucl_r6"),
            F.round(lcl, 6).alias("lcl_r6"),
            F.when(ooc, 1).otherwise(0).alias("out_of_control"),
        )
        .orderBy("subgroup")
    )


@query(
    "window_forecast_combination",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT d, v,
             LAG(v, 1) OVER (ORDER BY d) AS l1,
             LAG(v, {SKILL_SEASON}) OVER (ORDER BY d) AS l7
      FROM daily
    ),
    evald AS (SELECT * FROM lagged WHERE l1 IS NOT NULL AND l7 IS NOT NULL),
    mae AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(abs(v - l1) AS DECIMAL(19,2))) AS DOUBLE) AS e1,
             CAST(SUM(CAST(abs(v - l7) AS DECIMAL(19,2))) AS DOUBLE) AS e7
      FROM evald
    ),
    wts AS (
      SELECT n, e1, e7,
             round(e7 / (e1 + e7), 9) AS w1,
             round(e1 / (e1 + e7), 9) AS w7
      FROM mae
    ),
    comb AS (
      SELECT w.n, w.w1, w.w7, w.e1, w.e7,
             CAST(SUM(CAST(round(abs(CAST(ev.v AS DOUBLE)
                       - (w.w1 * ev.l1 + w.w7 * ev.l7)), 6)
                  AS DECIMAL(28,6))) AS DOUBLE) AS ec
      FROM evald ev CROSS JOIN wts w
      GROUP BY w.n, w.w1, w.w7, w.e1, w.e7
    )
    SELECT n AS n_evals, round(w1, 6) AS w_naive_r6,
           round(w7, 6) AS w_seasonal_r6,
           round(ec / least(e1, e7), 6) AS combo_vs_best_r6,
           CASE WHEN ec < least(e1, e7) THEN 1 ELSE 0 END AS combo_wins
    FROM comb
    """,
)
def q_window_forecast_combination(spark, sf_dir: str) -> DataFrame:
    """Forecast combination on the daily revenue curve: blend the
    naive (lag-1) and seasonal-naive (lag-{SKILL_SEASON}) predictors
    with inverse-MAE weights and score the blend against the better
    single model — the 'forecast combinations beat their components'
    result (Bates–Granger 1969) that every production forecasting
    stack exploits before reaching for a bigger model. Emits the
    weights, the combo-to-best MAE ratio (< 1 = the blend wins), and
    the verdict flag.

    Exactness: component errors are exact DECIMAL sums; weights are
    round-9 fixed-shape ratios; per-day combined errors are
    fixed-shape doubles of those rounded weights, rounded 6 and
    DECIMAL-summed (order-free); only O(1) ratios are emitted (the
    raw MAEs are corpus-scale, the round-unsafe class).

    Scale: corpus → |days| table; lag windows on that bounded table
    (allowlisted); the weight scalars ride a broadcast crossJoin back
    over the same bounded table."""
    daily = staged_daily_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    evald = daily.select(
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", SKILL_SEASON).over(w).alias("l7"),
    ).filter(F.col("l1").isNotNull() & F.col("l7").isNotNull())
    mae = evald.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("v") - F.col("l1")).cast("decimal(19,2)"))
        .cast("double")
        .alias("e1"),
        F.sum(F.abs(F.col("v") - F.col("l7")).cast("decimal(19,2)"))
        .cast("double")
        .alias("e7"),
    )
    wts = mae.select(
        "n",
        "e1",
        "e7",
        F.round(F.col("e7") / (F.col("e1") + F.col("e7")), 9).alias("w1"),
        F.round(F.col("e1") / (F.col("e1") + F.col("e7")), 9).alias("w7"),
    )
    comb = (
        evald.crossJoin(F.broadcast(wts))
        .groupBy("n", "w1", "w7", "e1", "e7")
        .agg(
            F.sum(
                F.round(
                    F.abs(
                        F.col("v").cast("double")
                        - (F.col("w1") * F.col("l1") + F.col("w7") * F.col("l7"))
                    ),
                    6,
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("ec")
        )
    )
    best = F.least("e1", "e7")
    return comb.select(
        F.col("n").alias("n_evals"),
        F.round(F.col("w1"), 6).alias("w_naive_r6"),
        F.round(F.col("w7"), 6).alias("w_seasonal_r6"),
        F.round(F.col("ec") / best, 6).alias("combo_vs_best_r6"),
        F.when(F.col("ec") < best, 1).otherwise(0).alias("combo_wins"),
    )


#: R/S block sizes (powers of two so the log-log regressor levels are
#: exact: log2 n = 3,4,5,6 and the centered weights are exact decimals).
HURST_NS = (8, 16, 32, 64)


@query(
    "window_hurst_exponent",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS v
      FROM orders GROUP BY 1
    ),
    diffs AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS r,
             CAST(x AS DECIMAL(19,2)) AS x
      FROM (SELECT d, v - LAG(v) OVER (ORDER BY d) AS x FROM daily)
      WHERE x IS NOT NULL
    ),
    expanded AS (
      SELECT n, (r - 1) // n AS b, ((r - 1) % n) + 1 AS k, x
      FROM diffs, unnest([{", ".join(str(n) for n in HURST_NS)}]) AS t(n)
    ),
    cum AS (
      SELECT n, b, k, x,
             CAST(SUM(x) OVER (PARTITION BY n, b ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,2)) AS cs,
             CAST(SUM(x) OVER (PARTITION BY n, b)
               AS DECIMAL(28,2)) AS sx
      FROM expanded
    ),
    blocks AS (
      SELECT n, b,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             MAX(n * cs - k * sx) AS maxz,
             MIN(n * cs - k * sx) AS minz,
             CAST(SUM(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))
                  AS DECIMAL(38,4)) AS sxx,
             MAX(sx) AS sx
      FROM cum GROUP BY 1, 2
    ),
    rs AS (
      SELECT n,
             CAST(round(
               CAST(greatest(maxz, 0) - least(minz, 0) AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 9)
               AS DECIMAL(28,9)) AS rs9
      FROM blocks
      WHERE cnt = n AND n * sxx - sx * sx > 0
    ),
    per_n AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(rs9) AS DOUBLE) / COUNT(*) AS mean_rs
      FROM rs GROUP BY 1
    ),
    ys AS (
      SELECT n, n_blocks, mean_rs,
             CAST(round(log2(mean_rs), 9) AS DECIMAL(28,9)) AS y,
             CAST(CAST(log2(n) AS DECIMAL(3,1)) - 4.5 AS DECIMAL(3,1)) AS w
      FROM per_n
    )
    SELECT
      round(MAX(CASE WHEN n = 8  THEN mean_rs END), 6) AS mean_rs_n8_r6,
      round(MAX(CASE WHEN n = 16 THEN mean_rs END), 6) AS mean_rs_n16_r6,
      round(MAX(CASE WHEN n = 32 THEN mean_rs END), 6) AS mean_rs_n32_r6,
      round(MAX(CASE WHEN n = 64 THEN mean_rs END), 6) AS mean_rs_n64_r6,
      CAST(SUM(n_blocks) AS BIGINT) AS n_blocks_total,
      round(CAST(SUM(w * y) / 5.0 AS DOUBLE), 6) AS hurst_r6
    FROM ys
    """,
)
def q_window_hurst_exponent(spark, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily revenue changes via classical
    rescaled-range (R/S) analysis — the long-memory fingerprint that
    tells a forecaster whether a series is mean-reverting (H < 0.5),
    a random walk (H = 0.5) or trending/persistent (H > 0.5); the
    multi-scale companion to window_variance_ratio's single-k test.
    The day-diff series splits into complete blocks of n ∈ {8,16,32,
    64}; each block's range of cumulative deviations from the block
    mean, rescaled by the block's population std, averages into
    R/S(n); H is the slope of log2 R/S against log2 n.

    Exactness: everything up to the one sqrt per block is EXACT
    decimal — the deviation z_k = n·cs_k − k·Σx clears the /n mean
    by scaling (so no rational rounding anywhere), the range uses
    greatest(max z, 0) − least(min z, 0) (the k=0 anchor), and the
    variance numerator n·Σx² − (Σx)² is an exact decimal. Each
    block's R/S is one double division rounded to 9 dp into decimal,
    so the per-n mean is an order-independent decimal sum. The log2
    values are rounded to 9 dp into decimal and the slope is an
    exact decimal dot with centered weights (log2 n − 4.5 ∈ {−1.5,
    −0.5, 0.5, 1.5}, Σw² = 5) — double-rounding keeps a 1-ulp libm
    log wobble orders of magnitude below the 6 dp emission grid.

    Scale: corpus → |days| in one combinable aggregation; the only
    global window is the day-series rank (calendar-bounded,
    allowlisted); everything after is (n, block)-partitioned bounded
    windows over ≤ 4·|days| rows and a 4-row regression."""
    daily = staged_daily_revenue(spark, sf_dir)
    diffs = (
        daily.select(
            "d",
            (F.col("v") - F.lag("v").over(Window.orderBy("d")))
            .cast("decimal(19,2)")
            .alias("x"),
        )
        .filter(F.col("x").isNotNull())
        .select(F.row_number().over(Window.orderBy("d")).alias("r"), "x")
    )
    expanded = diffs.select(
        F.explode(F.array(*[F.lit(n) for n in HURST_NS])).alias("n"),
        "r",
        "x",
    ).select(
        "n",
        ((F.col("r") - 1) / F.col("n")).cast("long").alias("b"),
        ((F.col("r") - 1) % F.col("n") + 1).alias("k"),
        "x",
    )
    wb = Window.partitionBy("n", "b").orderBy("k")
    cum = expanded.select(
        "n",
        "b",
        "k",
        "x",
        F.sum("x")
        .over(wb.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(28,2)")
        .alias("cs"),
        F.sum("x")
        .over(
            Window.partitionBy("n", "b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("decimal(28,2)")
        .alias("sx"),
    )
    z = F.col("n") * F.col("cs") - F.col("k") * F.col("sx")
    blocks = cum.groupBy("n", "b").agg(
        F.count("*").cast("long").alias("cnt"),
        F.max(z).alias("maxz"),
        F.min(z).alias("minz"),
        F.sum(F.col("x").cast("decimal(19,2)") * F.col("x").cast("decimal(19,2)"))
        .cast("decimal(38,4)")
        .alias("sxx"),
        F.max("sx").alias("sx"),
    )
    d_var = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    rs = blocks.filter(
        (F.col("cnt") == F.col("n")) & (d_var > 0)
    ).select(
        "n",
        F.round(
            (
                F.greatest(F.col("maxz"), F.lit(0))
                - F.least(F.col("minz"), F.lit(0))
            ).cast("double")
            / F.sqrt(d_var.cast("double")),
            9,
        )
        .cast("decimal(28,9)")
        .alias("rs9"),
    )
    per_n = rs.groupBy("n").agg(
        F.count("*").cast("long").alias("n_blocks"),
        (F.sum("rs9").cast("double") / F.count("*")).alias("mean_rs"),
    )
    ys = per_n.select(
        "n",
        "n_blocks",
        "mean_rs",
        F.round(F.log2("mean_rs"), 9).cast("decimal(28,9)").alias("y"),
        (F.log2("n").cast("decimal(3,1)") - F.lit("4.5").cast("decimal(3,1)"))
        .cast("decimal(3,1)")
        .alias("w"),
    )
    return ys.agg(
        F.round(F.max(F.when(F.col("n") == 8, F.col("mean_rs"))), 6).alias(
            "mean_rs_n8_r6"
        ),
        F.round(F.max(F.when(F.col("n") == 16, F.col("mean_rs"))), 6).alias(
            "mean_rs_n16_r6"
        ),
        F.round(F.max(F.when(F.col("n") == 32, F.col("mean_rs"))), 6).alias(
            "mean_rs_n32_r6"
        ),
        F.round(F.max(F.when(F.col("n") == 64, F.col("mean_rs"))), 6).alias(
            "mean_rs_n64_r6"
        ),
        F.sum("n_blocks").cast("long").alias("n_blocks_total"),
        F.round(
            (F.sum(F.col("w") * F.col("y")) / F.lit("5.0").cast("decimal(2,1)"))
            .cast("double"),
            6,
        ).alias("hurst_r6"),
    )
