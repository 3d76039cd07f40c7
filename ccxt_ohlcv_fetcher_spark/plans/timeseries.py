"""Time-series queries — the reference's own domain, Spark-ified.

Maps the candle pipeline's implicit operators (SURVEY.md §2.1/§2.4) onto
the driver's ``events`` stream table: OHLCV resampling (E13, flagship),
resume-offset scan (R4), latest-row-per-key (R4 generalized via E18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ccxt_ohlcv_fetcher_spark.operators.resample import resample_ohlcv
from ccxt_ohlcv_fetcher_spark.plans.registry import (
    ms,
    register,
    sql_ms,
)
from ccxt_ohlcv_fetcher_spark.sources.tables import load_table

# the 1h OHLCV candle table over events — the shared upstream of the
# whole candle family (indicators, EMA/Holt folds, seasonal decompose,
# quality audit, log-returns). Pinned per EXECUTION as a lazy
# localCheckpoint (r13): the r12 session memo amortized the resample
# build into the first execution and out of every later timed run — a
# candle resample is not a build-once/serve-many artifact, so each
# consuming execution now pays its own build. The cross-query CODE
# sharing stays; only the cross-execution block sharing is gone. The
# pin still matters inside one execution: consumers with 2+ branches
# over the candle table read one materialized block instead of
# re-running scan + bucket groupBy per branch.
def _resampled_1h(
    spark: SparkSession, sf_dir: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return resample_ohlcv(
        events, "1h", ts_col="ts", price_col="value", keys=keys
    ).localCheckpoint(eager=False)


@register(
    "resample_ohlcv_1h",
    oracle=f"""
    SELECT {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
           arg_min(value, ts) AS open,
           max(value)         AS high,
           min(value)         AS low,
           arg_max(value, ts) AS close,
           CAST(count(*) AS DOUBLE) AS volume
    FROM events
    GROUP BY 1
    """,
    doc="Flagship: roll the events stream up to hourly OHLCV candles "
    "(op E13; bucketing rule from ccxt-ohlcv-fetch.py:141-163). "
    "Single shuffle, map-side partial agg; min_by/max_by instead of "
    "order-dependent first()/last().",
    tags=("E13", "R10", "R11"),
)
def resample_ohlcv_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = resample_ohlcv(events, "1h", ts_col="ts", price_col="value")
    return out.select(
        ms("bucket_ts").alias("bucket_ms"), "open", "high", "low", "close", "volume"
    )


@register(
    "candle_indicators",
    oracle=f"""
    WITH c AS (
      SELECT {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT bucket_ms, close,
             CAST(sum(CAST(close AS DECIMAL(18,6))) OVER f AS DOUBLE) AS s5,
             CAST(sum(CAST(close * close AS DECIMAL(18,6))) OVER f AS DOUBLE)
               AS ss5,
             CAST(count(*) OVER f AS DOUBLE) AS n5,
             close - lag(close) OVER (ORDER BY bucket_ms) AS diff,
             max(close) OVER (ORDER BY bucket_ms
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM c
      WINDOW f AS (ORDER BY bucket_ms ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT *,
             CAST(sum(CAST(greatest(diff, 0) AS DECIMAL(18,6))) OVER f
                  AS DOUBLE) AS gain5,
             CAST(sum(CAST(greatest(-diff, 0) AS DECIMAL(18,6))) OVER f
                  AS DOUBLE) AS loss5
      FROM w
      WINDOW f AS (ORDER BY bucket_ms ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket_ms, close,
           s5 / n5 AS sma5,
           sqrt(greatest((ss5 - s5 * s5 / n5) / nullif(n5 - 1, 0), 0))
             AS boll_hw,
           CASE WHEN loss5 = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + gain5 / loss5) END AS rsi5,
           close / peak - 1.0 AS drawdown
    FROM g
    """,
    doc="Technical indicators over resampled candles (the reference "
    "users' actual workload on the data the reference fetches): 5-bucket "
    "SMA, Bollinger half-width, RSI, and running-peak drawdown — all "
    "frame/cumulative windows (E20/E21) over the hourly OHLCV rollup, "
    "one shuffle total. This demo computes ONE global series (single "
    "window partition, inherently sequential); the production form "
    "partitions every window by (exchange, symbol) and parallelizes "
    "across keys. Determinism: every frame aggregate is an "
    "exact-decimal sum folded to double BEFORE the float arithmetic, so "
    "Spark's and DuckDB's window-fold orders cannot diverge; variance "
    "uses the sum/sumsq identity on those exact sums.",
    tags=("E20", "E21", "E13"),
)
def candle_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.indicators import candle_indicator_frame

    candles = _resampled_1h(spark, sf_dir).select(
        ms("bucket_ts").alias("bucket_ms"), "close"
    )
    out = candle_indicator_frame(
        candles, keys=(), close_col="close", order_col="bucket_ms", periods=5
    )
    return out.select(
        "bucket_ms",
        "close",
        F.col("sma").alias("sma5"),
        "boll_hw",
        F.col("rsi").alias("rsi5"),
        "drawdown",
    )


@register(
    "candle_quality_audit",
    oracle=f"""
    WITH c AS (
      SELECT {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_min(value, ts) AS open,
             max(value) AS high,
             min(value) AS low,
             arg_max(value, ts) AS close,
             CAST(count(*) AS DOUBLE) AS volume
      FROM events GROUP BY 1
    ),
    p AS (
      -- deterministic perturbation so the rules actually fire on the
      -- (clean) fixture: drain volume, lift low on every 7th bucket
      SELECT bucket_ms, open,
             high,
             low * CASE WHEN (bucket_ms / 3600000) % 7 = 0
                        THEN 1.5 ELSE 1.0 END AS low,
             close,
             volume - 15 AS volume
      FROM c
    )
    SELECT bucket_ms, 'low_le_body' AS rule FROM p
    WHERE NOT coalesce(low <= least(open, close), FALSE)
    UNION ALL
    SELECT bucket_ms, 'high_ge_body' FROM p
    WHERE NOT coalesce(high >= greatest(open, close), FALSE)
    UNION ALL
    SELECT bucket_ms, 'volume_non_negative' FROM p
    WHERE NOT coalesce(volume >= 0, FALSE)
    UNION ALL
    SELECT bucket_ms, 'ts_grid_aligned' FROM p
    WHERE NOT coalesce(bucket_ms % 3600000 = 0, FALSE)
    """,
    doc="Data-quality audit as a query (operators/quality.py over the "
    "OHLCV rollup): long-format rule violations on deterministically "
    "perturbed candles (the fixture is clean, so the perturbation — "
    "drained volume, lifted lows on every 7th bucket — makes the gate "
    "actually fire and the oracle verify WHICH rows each rule flags, "
    "not just that zero rows fail). Union of filtered projections over "
    "one scan; no shuffle beyond the rollup's own.",
    tags=("E13", "R12"),
)
def candle_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.quality import candle_rules, check_rules

    candles = _resampled_1h(spark, sf_dir).select(
        ms("bucket_ts").alias("timestamp"), "open", "high", "low", "close", "volume"
    )
    perturbed = candles.withColumns(
        {
            "low": F.col("low")
            * F.when((F.col("timestamp") / 3600000) % 7 == 0, F.lit(1.5)).otherwise(
                F.lit(1.0)
            ),
            "volume": F.col("volume") - 15,
        }
    )
    return check_rules(perturbed, candle_rules(3_600_000), ("timestamp",)).select(
        F.col("timestamp").alias("bucket_ms"), "rule"
    )


@register(
    "candle_ema",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list(close ORDER BY bucket_ms) AS closes,
             list(bucket_ms ORDER BY bucket_ms) AS buckets
      FROM c GROUP BY event_type
    ),
    e AS (
      SELECT event_type,
             unnest(buckets) AS bucket_ms,
             unnest(range(1, len(closes) + 1)) AS t,
             closes
      FROM s
    )
    SELECT event_type,
           bucket_ms,
           closes[t] AS close,
           list_reduce(closes[1:t], (acc, x) -> 0.25 * x + 0.75 * acc)
             AS ema
    FROM e
    """,
    doc="Per-series exponential moving average (op E20 family; "
    "operators/indicators.py:ema_fold — the keyed production form): "
    "one candle series per event_type, EMA as a per-row LEFT FOLD of "
    "E = a*x + (1-a)*E over the prefix array. Both engines fold "
    "left-to-right, so the float trajectory is bit-identical. O(n^2) "
    "per key but parallel across keys and row-local after ONE shuffle "
    "— n is bounded by a key's own history, never corpus size, so the "
    "shape survives adding symbols. A recursive-CTE EMA would cost one "
    "scheduled job per step (ROUND_NOTES: ~0.3 s each) — the keyed "
    "array fold is the Spark-shaped answer.",
    tags=("E20", "E25"),
)
def candle_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.indicators import ema_fold

    candles = _resampled_1h(spark, sf_dir, keys=("event_type",)).select(
        "event_type", ms("bucket_ts").alias("bucket_ms"), "close"
    )
    return ema_fold(
        candles, keys=("event_type",), close_col="close", order_col="bucket_ms"
    ).select("event_type", "bucket_ms", "close", "ema")


@register(
    "resume_offsets",
    oracle=f"""
    SELECT user_id,
           {sql_ms("max(ts)")} AS last_ms,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    doc="Resume-offset scan (op R4, ccxt-ohlcv-fetch.py:86-91) generalized "
    "to a partitioned dataset: newest stored timestamp per key. On parquet "
    "this is served by footer min/max stats + aggregate pushdown.",
    tags=("R4",),
)
def resume_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        ms(F.max("ts")).alias("last_ms"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "latest_event_per_user",
    oracle=f"""
    SELECT user_id, event_id, {sql_ms("ts")} AS ts_ms, event_type, value
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="Top-1-per-partition (op E18 ranking; generalizes the reference's "
    "ORDER BY timestamp DESC LIMIT 1 resume query, ccxt-ohlcv-fetch.py:87). "
    "One shuffle + per-partition sort; ts ties broken by event_id.",
    tags=("R4", "E18", "E22"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", ms("ts").alias("ts_ms"), "event_type", "value")
    )


@register(
    "sliding_window_traffic",
    oracle=f"""
    SELECT {sql_ms("win_start")} AS win_start_ms,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (
      SELECT user_id,
             unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS win_start
      FROM events
    )
    GROUP BY 1
    """,
    doc="Sliding windows, batch form (op E32s): 2h windows sliding 1h — "
    "each event lands in exactly two overlapping buckets. Same window() "
    "definition Structured Streaming uses.",
    tags=("E32s", "E13"),
)
def sliding_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(ms(F.col("w.start")).alias("win_start_ms"), "n_events", "n_users")
    )


@register(
    "session_window_native",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR {sql_ms("ts")} - lag({sql_ms("ts")}) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           {sql_ms("min(ts)")} AS session_start_ms,
           {sql_ms("max(ts)")} + 1800000 AS session_end_ms,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    doc="Native session_window (op E32s): 30-min-gap sessions per user, "
    "the streaming-capable operator; oracle derives identical sessions "
    "via the lag/flag/cumsum formulation (session end = last event + gap).",
    tags=("E32s",),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.col("user_id"), F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ms(F.col("w.start")).alias("session_start_ms"),
            ms(F.col("w.end")).alias("session_end_ms"),
            "n_events",
        )
    )


_GAPFILL_BUCKET_MS = 3600_000


@register(
    "event_traffic_gapfill",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             CAST(epoch_ms(ts) // {_GAPFILL_BUCKET_MS} AS BIGINT)
               * {_GAPFILL_BUCKET_MS} AS bucket_ms,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(bucket_ms) AS lo, max(bucket_ms) AS hi
      FROM agg GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(range(lo, hi + {_GAPFILL_BUCKET_MS}, {_GAPFILL_BUCKET_MS}))
               AS bucket_ms
      FROM span
    )
    SELECT g.event_type, g.bucket_ms,
           coalesce(a.n_events, 0) AS n_events,
           CAST(a.sum_value IS NULL AS INT) AS is_gap,
           last_value(a.sum_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sum_value_locf
    FROM grid g LEFT JOIN agg a USING (event_type, bucket_ms)
    """,
    doc="Gap-filling resample + last-observation-carried-forward — the "
    "hypertable `time_bucket_gapfill`/`locf` analog the reference's "
    "candle model implies but never materializes (its gaps simply stay "
    "missing; cf. the streaming gap monitor). Dense grid per key via "
    "sequence()+explode bounded by the key's own [min,max] span, left "
    "join back, fill with last(ignorenulls) over an unbounded-preceding "
    "frame. Scale: the grid is |keys| x span/bucket rows — generated, "
    "never shuffled wide; LOCF is one window pass per key.",
    tags=("E13", "E19", "E20"),
)
def event_traffic_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = F.lit(_GAPFILL_BUCKET_MS)
    agg = (
        ev.withColumn(
            "bucket_ms",
            (F.unix_millis(F.col("ts").cast("timestamp")) / b).cast("long") * b,
        )
        .groupBy("event_type", "bucket_ms")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    grid = (
        agg.groupBy("event_type")
        .agg(F.min("bucket_ms").alias("lo"), F.max("bucket_ms").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi", b)).alias("bucket_ms"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_ms")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return grid.join(agg, ["event_type", "bucket_ms"], "left").select(
        "event_type",
        "bucket_ms",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("sum_value").isNull().cast("int").alias("is_gap"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
    )


@register(
    "candle_log_returns_vol",
    oracle=f"""
    WITH c AS (
      SELECT {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT bucket_ms, close,
             round(ln(close / lag(close) OVER (ORDER BY bucket_ms)), 6)
               AS ret
      FROM c
    ),
    ri AS (
      SELECT bucket_ms, close, ret,
             CAST(CAST(ret AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS ret_i
      FROM r
    ),
    w AS (
      SELECT bucket_ms, close, ret,
             CAST(sum(ret_i) OVER f AS DOUBLE) AS s9,
             CAST(sum(ret_i * ret_i) OVER f AS DOUBLE) AS ss12,
             CAST(count(ret_i) OVER f AS DOUBLE) AS n
      FROM ri
      WINDOW f AS (ORDER BY bucket_ms ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket_ms, close, ret,
           CASE WHEN n >= 2
                THEN sqrt((ss12 / 1e12 - (s9 / 1e6) * (s9 / 1e6) / n)
                          / (n - 1)) END AS roll_vol_24,
           CASE WHEN n >= 1 THEN s9 / 1e6 / n END AS roll_mean_24
    FROM w
    """,
    doc="Log returns + rolling volatility over the hourly OHLCV rollup "
    "— the returns-analytics tier above candle_indicators (reference "
    "domain: what a user of the candle store computes next). "
    "Cross-engine exactness by INTEGER moments: ln(close ratio) rounds "
    "to 6dp making each return an exact value carried as the bigint "
    "ret*1e6; frame sums of ret_i and ret_i^2 are pure int64 "
    "arithmetic whose totals stay under 2^53 (exact as doubles), and "
    "every downstream op is a single exactly-rounded IEEE expression, "
    "identical in both engines. Two rejected designs, both measured "
    "to diverge: decimal(38,18) frame sums hit the high-scale "
    "decimal->double double-rounding divergence (103/720 rows off by "
    "1 ulp), and rescaling those sums to a castable scale rounds "
    "half-cases differently across engines (356/720). Integer units "
    "sidestep both. The window is global but runs over "
    "one-row-per-hour post-aggregation (the monthly_revenue_mom "
    "pattern); the keyed per-symbol form partitions it "
    "(operators/indicators.py).",
    tags=("E20", "E19", "E17"),
)
def candle_log_returns_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    c = _resampled_1h(spark, sf_dir).select(
        ms("bucket_ts").alias("bucket_ms"), "close"
    )
    wo = W.orderBy("bucket_ms")
    r = c.withColumn(
        "ret",
        F.round(F.log(F.col("close") / F.lag("close").over(wo)), 6),
    )
    ri = r.withColumn(
        "ret_i",
        (F.col("ret").cast("decimal(18,6)") * F.lit(1_000_000)).cast("long"),
    )
    f = wo.rowsBetween(-23, 0)
    w = (
        ri.withColumn("s9", F.sum("ret_i").over(f).cast("double"))
        .withColumn(
            "ss12", F.sum(F.expr("ret_i * ret_i")).over(f).cast("double")
        )
        .withColumn("n", F.count("ret_i").over(f).cast("double"))
    )
    s = F.col("s9") / F.lit(1e6)
    return w.select(
        "bucket_ms",
        "close",
        "ret",
        F.when(
            F.col("n") >= 2,
            F.sqrt(
                (F.col("ss12") / F.lit(1e12) - s * s / F.col("n"))
                / (F.col("n") - 1)
            ),
        ).alias("roll_vol_24"),
        F.when(F.col("n") >= 1, s / F.col("n")).alias("roll_mean_24"),
    )


@register(
    "candle_log_returns_vol_keyed",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, bucket_ms, close,
             round(ln(close / lag(close)
                      OVER (PARTITION BY event_type ORDER BY bucket_ms)), 6)
               AS ret
      FROM c
    ),
    ri AS (
      SELECT event_type, bucket_ms, close, ret,
             CAST(CAST(ret AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS ret_i
      FROM r
    ),
    w AS (
      SELECT event_type, bucket_ms, close, ret,
             CAST(sum(ret_i) OVER f AS DOUBLE) AS s6,
             CAST(sum(ret_i * ret_i) OVER f AS DOUBLE) AS ss12,
             CAST(count(ret_i) OVER f AS DOUBLE) AS n
      FROM ri
      WINDOW f AS (PARTITION BY event_type ORDER BY bucket_ms
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bucket_ms, close, ret,
           CASE WHEN n >= 2
                THEN sqrt((ss12 / 1e12 - (s6 / 1e6) * (s6 / 1e6) / n)
                          / (n - 1)) END AS roll_vol_24,
           CASE WHEN n >= 1 THEN s6 / 1e6 / n END AS roll_mean_24
    FROM w
    """,
    doc="The PRIMARY (scale-safe) form of candle_log_returns_vol: every "
    "window PARTITIONs BY the series key (event_type standing in for "
    "(exchange, symbol)), so frames parallelize across keys and no "
    "global single-partition window exists anywhere in the plan — the "
    "shape a 1000-executor cluster wants for thousands of symbols. "
    "Same integer-moment exactness as the global form.",
    tags=("E20", "E19", "E17"),
)
def candle_log_returns_vol_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events")
    c = events.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
    ).agg(F.max_by("value", "ts").alias("close")).select(
        "event_type", ms("bucket_ts").alias("bucket_ms"), "close"
    )
    wo = W.partitionBy("event_type").orderBy("bucket_ms")
    r = c.withColumn(
        "ret",
        F.round(F.log(F.col("close") / F.lag("close").over(wo)), 6),
    )
    ri = r.withColumn(
        "ret_i",
        (F.col("ret").cast("decimal(18,6)") * F.lit(1_000_000)).cast("long"),
    )
    f = wo.rowsBetween(-23, 0)
    w = (
        ri.withColumn("s6", F.sum("ret_i").over(f).cast("double"))
        .withColumn(
            "ss12", F.sum(F.expr("ret_i * ret_i")).over(f).cast("double")
        )
        .withColumn("n", F.count("ret_i").over(f).cast("double"))
    )
    s = F.col("s6") / F.lit(1e6)
    return w.select(
        "event_type",
        "bucket_ms",
        "close",
        "ret",
        F.when(
            F.col("n") >= 2,
            F.sqrt(
                (F.col("ss12") / F.lit(1e12) - s * s / F.col("n"))
                / (F.col("n") - 1)
            ),
        ).alias("roll_vol_24"),
        F.when(F.col("n") >= 1, s / F.col("n")).alias("roll_mean_24"),
    )


HOLT_SQL_STEP = (
    "CASE WHEN len(acc) = 0 THEN [x[1], 0.0] ELSE ["
    "0.25 * x[1] + 0.75 * (acc[1] + acc[2]), "
    "0.125 * ((0.25 * x[1] + 0.75 * (acc[1] + acc[2])) - acc[1]) "
    "+ 0.875 * acc[2]] END"
)


@register(
    "candle_holt_trend",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list(close ORDER BY bucket_ms) AS closes,
             list(bucket_ms ORDER BY bucket_ms) AS buckets
      FROM c GROUP BY event_type
    ),
    e AS (
      SELECT event_type,
             unnest(buckets) AS bucket_ms,
             unnest(range(1, len(closes) + 1)) AS t,
             closes
      FROM s
    ),
    h AS (
      SELECT event_type, bucket_ms, closes[t] AS close,
             list_reduce(
               list_prepend(CAST([] AS DOUBLE[]),
                            list_transform(closes[1:t], x -> [x])),
               (acc, x) -> {HOLT_SQL_STEP}
             ) AS st
      FROM e
    )
    SELECT event_type, bucket_ms, close,
           st[1] AS level, st[2] AS trend, st[1] + st[2] AS forecast
    FROM h
    """,
    doc="Per-series Holt double-exponential smoothing (op E20 family; "
    "operators/indicators.py:holt_fold): level+trend recurrence "
    "l'=a*x+(1-a)*(l+t), t'=g*(l'-l)+(1-g)*t with binary-exact "
    "coefficients (a=1/4, g=1/8) and the one-step forecast l+t. The "
    "2-state [level,trend] array accumulator folds left-to-right in "
    "both engines with identical association order, so the whole "
    "trajectory is bit-identical to the oracle — the EMA fold's "
    "pattern extended to a vector state. Same one-shuffle / "
    "row-local-fold scale shape as candle_ema.",
    tags=("E20", "E25"),
)
def candle_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.indicators import holt_fold

    candles = _resampled_1h(spark, sf_dir, keys=("event_type",)).select(
        "event_type", ms("bucket_ts").alias("bucket_ms"), "close"
    )
    return holt_fold(
        candles, keys=("event_type",), close_col="close", order_col="bucket_ms"
    ).select(
        "event_type", "bucket_ms", "close", "level", "trend", "forecast"
    )


@register(
    "candle_seasonal_decompose",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, bucket_ms, close,
             CASE WHEN count(*) OVER w25 = 25 THEN
               CAST(sum(CAST(close AS DECIMAL(18,6))) OVER w25 AS DOUBLE) / 25
             END AS trend
      FROM c
      WINDOW w25 AS (PARTITION BY event_type ORDER BY bucket_ms
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    d AS (
      SELECT *, close - trend AS detrended,
             (bucket_ms // 3600000) % 24 AS hod
      FROM t
    ),
    s AS (
      SELECT event_type, hod,
             CAST(sum(CAST(detrended AS DECIMAL(18,6))) AS DOUBLE)
               / count(detrended) AS seasonal
      FROM d WHERE detrended IS NOT NULL GROUP BY 1, 2
    )
    SELECT d.event_type, d.bucket_ms, d.close, d.trend, s.seasonal,
           d.detrended - s.seasonal AS resid
    FROM d LEFT JOIN s ON d.event_type = s.event_type AND d.hod = s.hod
    """,
    doc="STL-lite seasonal decomposition (ops E19/E20/E13 composition): "
    "hourly close series per event_type split into trend (centered "
    "25-hour moving average, full windows only), daily seasonal "
    "component (mean detrended value per hour-of-day — integer "
    "epoch-ms arithmetic, tz-proof), and residual. The moving-average "
    "and seasonal means use decimal accumulation so both engines "
    "produce bit-identical doubles. One window pass + one 120-row "
    "broadcast join back; partitioned per series, scales with "
    "series count.",
    tags=("E19", "E20", "E13"),
)
def candle_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _resampled_1h(spark, sf_dir, keys=("event_type",)).select(
        "event_type", ms("bucket_ts").alias("bucket_ms"), "close"
    )
    w25 = (
        W.partitionBy("event_type").orderBy("bucket_ms").rowsBetween(-12, 12)
    )
    t = c.select(
        "event_type",
        "bucket_ms",
        "close",
        F.when(
            F.count(F.lit(1)).over(w25) == 25,
            F.sum(F.col("close").cast("decimal(18,6)")).over(w25).cast("double")
            / F.lit(25),
        ).alias("trend"),
    )
    d = t.select(
        "*",
        (F.col("close") - F.col("trend")).alias("detrended"),
        ((F.col("bucket_ms") / F.lit(3_600_000)).cast("bigint") % 24).alias(
            "hod"
        ),
    )
    s = (
        d.filter(F.col("detrended").isNotNull())
        .groupBy("event_type", "hod")
        .agg(
            (
                F.sum(F.col("detrended").cast("decimal(18,6)")).cast("double")
                / F.count("detrended")
            ).alias("seasonal")
        )
    )
    return (
        d.join(F.broadcast(s), ["event_type", "hod"], "left")
        .select(
            "event_type",
            "bucket_ms",
            "close",
            "trend",
            "seasonal",
            (F.col("detrended") - F.col("seasonal")).alias("resid"),
        )
    )


@register(
    "candle_gap_report",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, bucket_ms,
             bucket_ms - lag(bucket_ms) OVER (
               PARTITION BY event_type ORDER BY bucket_ms
             ) AS delta_ms
      FROM c
    )
    SELECT event_type,
           min(bucket_ms) AS first_ms,
           max(bucket_ms) AS last_ms,
           (max(bucket_ms) - min(bucket_ms)) // 3600000 + 1 AS n_expected,
           count(*) AS n_present,
           (max(bucket_ms) - min(bucket_ms)) // 3600000 + 1 - count(*)
             AS n_missing,
           coalesce(max(delta_ms) // 3600000 - 1, 0) AS max_gap_hours
    FROM g GROUP BY event_type
    """,
    doc="Candle gap report (the reference's whole job — detecting and "
    "planning backfills, ccxt-ohlcv-fetch.py:86-91 resume logic — as "
    "one query): per series, expected-vs-present hourly bucket counts "
    "over the observed span and the largest internal gap, from one "
    "dedup + one lag window. Pure integer epoch-ms arithmetic, "
    "oracle-exact. The n_missing > 0 rows ARE the backfill work "
    "queue; partitioned per series at any scale.",
    tags=("E13", "E19", "R4"),
)
def candle_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = (
        events.select(
            "event_type",
            ms(F.date_trunc("hour", F.col("ts"))).alias("bucket_ms"),
        )
        .distinct()
    )
    w = W.partitionBy("event_type").orderBy("bucket_ms")
    g = c.select(
        "event_type",
        "bucket_ms",
        (F.col("bucket_ms") - F.lag("bucket_ms").over(w)).alias("delta_ms"),
    )
    span_h = F.expr("(max(bucket_ms) - min(bucket_ms)) DIV 3600000") + 1
    return g.groupBy("event_type").agg(
        F.min("bucket_ms").alias("first_ms"),
        F.max("bucket_ms").alias("last_ms"),
        span_h.alias("n_expected"),
        F.count(F.lit(1)).alias("n_present"),
        (span_h - F.count(F.lit(1))).alias("n_missing"),
        F.coalesce(
            F.expr("max(delta_ms) DIV 3600000") - 1, F.lit(0).cast("bigint")
        ).alias("max_gap_hours"),
    )


@register(
    "candle_pair_spread",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events WHERE event_type IN ('purchase', 'error')
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.bucket_ms, a.close AS close_a, b.close AS close_b,
             a.close - b.close AS spread
      FROM c a JOIN c b ON a.bucket_ms = b.bucket_ms
      WHERE a.event_type = 'purchase' AND b.event_type = 'error'
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(SUM(CAST(spread AS DECIMAL(18,6))) AS DOUBLE) AS sum_s,
             CAST(SUM(CAST(spread * spread AS DECIMAL(28,12))) AS DOUBLE)
               AS sum_ss
      FROM p
    )
    SELECT p.bucket_ms, p.close_a, p.close_b, p.spread,
           (p.spread - s.sum_s / s.n)
             / sqrt((s.sum_ss - s.sum_s * s.sum_s / s.n) / (s.n - 1))
             AS spread_z
    FROM p CROSS JOIN s
    """,
    doc="Pair-spread analytics (the pairs-trading / cross-venue "
    "monitoring shape on the candle model): two hourly series joined "
    "on the bucket, their spread z-scored against the whole-sample "
    "moment estimates. Decimal-exact sums feed one fixed association "
    "order, so the z-scores hash-match. The 1-row moment combine is "
    "the sanctioned scalar-crossJoin shape (BNLJ allowlist); the "
    "bucket equi-join co-partitions at scale.",
    tags=("E13", "E5", "E17"),
)
def candle_pair_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = (
        events.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy(
            "event_type",
            ms(F.date_trunc("hour", F.col("ts"))).alias("bucket_ms"),
        )
        .agg(F.max_by("value", F.col("ts")).alias("close"))
    )
    a = c.filter(F.col("event_type") == "purchase").select(
        "bucket_ms", F.col("close").alias("close_a")
    )
    b = c.filter(F.col("event_type") == "error").select(
        F.col("bucket_ms").alias("b_ms"), F.col("close").alias("close_b")
    )
    p = a.join(b, F.col("bucket_ms") == F.col("b_ms")).select(
        "bucket_ms",
        "close_a",
        "close_b",
        (F.col("close_a") - F.col("close_b")).alias("spread"),
        # feeds the moment aggregate AND the z-score projection — pin so
        # the hourly groupBy + pair join run once (r12, §2.4)
    ).localCheckpoint(eager=False)
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("spread").cast("decimal(18,6)")).cast("double").alias("sum_s"),
        F.sum((F.col("spread") * F.col("spread")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sum_ss"),
    )
    return p.crossJoin(F.broadcast(s)).select(
        "bucket_ms",
        "close_a",
        "close_b",
        "spread",
        (
            (F.col("spread") - F.col("sum_s") / F.col("n"))
            / F.sqrt(
                (
                    F.col("sum_ss")
                    - F.col("sum_s") * F.col("sum_s") / F.col("n")
                )
                / (F.col("n") - 1)
            )
        ).alias("spread_z"),
    )


@register(
    "candle_holt_backtest",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {sql_ms("date_trunc('hour', ts)")} AS bucket_ms,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list(close ORDER BY bucket_ms) AS closes,
             list(bucket_ms ORDER BY bucket_ms) AS buckets
      FROM c GROUP BY event_type
    ),
    e AS (
      SELECT event_type,
             unnest(buckets) AS bucket_ms,
             unnest(range(1, len(closes) + 1)) AS t,
             closes
      FROM s
    ),
    h AS (
      SELECT event_type, bucket_ms, closes[t] AS close,
             list_reduce(
               list_prepend(CAST([] AS DOUBLE[]),
                            list_transform(closes[1:t], x -> [x])),
               (acc, x) -> {HOLT_SQL_STEP}
             ) AS st
      FROM e
    ),
    f AS (
      SELECT event_type, close,
             lag(st[1] + st[2]) OVER w AS fc,
             lag(close) OVER w AS prev_close
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms)
    ),
    i AS (
      -- integer micro-units (the candle_log_returns_vol lesson):
      -- round errors at 6dp and sum as int64 — decimal casts of
      -- arbitrary doubles round differently across engines
      SELECT event_type,
             CAST(CAST(round(abs(close - fc), 6) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS err_i,
             CAST(CAST(round(abs(close - prev_close), 6) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS nerr_i
      FROM f WHERE fc IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(SUM(err_i) AS DOUBLE) / 1e6 / count(*) AS mae,
           CAST(SUM(nerr_i) AS DOUBLE) / 1e6 / count(*) AS naive_mae,
           1 - CAST(SUM(err_i) AS DOUBLE) / CAST(SUM(nerr_i) AS DOUBLE)
             AS skill
    FROM i
    GROUP BY event_type
    """,
    doc="Walk-forward ONE-STEP-AHEAD backtest of the Holt forecast "
    "(ops E19/E20/E13 composition; the evaluation tier above "
    "candle_holt_trend): each hour is predicted by the PREVIOUS "
    "hour's level+trend (a lag over the bit-exact fold state, so no "
    "lookahead), scored as MAE against the persistence/naive forecast "
    "(previous close) and summarized as the skill ratio 1 - SAE/SAE_"
    "naive per series. Absolute errors round at 6dp and accumulate as "
    "int64 micro-units (the candle_log_returns_vol integer-moments "
    "lesson: decimal casts of arbitrary doubles round differently "
    "across engines), so both engines produce bit-identical doubles; "
    "the fold is row-local, "
    "the lag window partitions per series — one shuffle, scales with "
    "series count.",
    tags=("E19", "E20", "E13"),
)
def candle_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccxt_ohlcv_fetcher_spark.operators.indicators import holt_fold

    candles = _resampled_1h(spark, sf_dir, keys=("event_type",)).select(
        "event_type", ms("bucket_ts").alias("bucket_ms"), "close"
    )
    h = holt_fold(
        candles, keys=("event_type",), close_col="close",
        order_col="bucket_ms",
    )
    w = W.partitionBy("event_type").orderBy("bucket_ms")
    f = h.select(
        "event_type",
        "close",
        F.lag(F.col("level") + F.col("trend")).over(w).alias("fc"),
        F.lag("close").over(w).alias("prev_close"),
    ).filter(F.col("fc").isNotNull())
    # integer micro-units (candle_log_returns_vol lesson): round at 6dp
    # and sum as int64 — exact in both engines
    int_err = lambda c: (
        F.round(F.abs(c), 6).cast("decimal(18,6)") * F.lit(1_000_000)
    ).cast("long")
    agg = f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(int_err(F.col("close") - F.col("fc"))).alias("_sae"),
        F.sum(int_err(F.col("close") - F.col("prev_close"))).alias("_sne"),
    )
    return agg.select(
        "event_type",
        F.col("n_eval").cast("long").alias("n_eval"),
        (F.col("_sae").cast("double") / F.lit(1e6) / F.col("n_eval")).alias(
            "mae"
        ),
        (F.col("_sne").cast("double") / F.lit(1e6) / F.col("n_eval")).alias(
            "naive_mae"
        ),
        (
            F.lit(1) - F.col("_sae").cast("double") / F.col("_sne").cast("double")
        ).alias("skill"),
    )
