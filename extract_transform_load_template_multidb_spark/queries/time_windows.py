"""Time-window queries over ``events`` — batch mode of the streaming
builders, oracle-checked.

Each query calls the *same* builder that ``tests/test_streaming.py`` runs
under ``readStream`` + ``Trigger.AvailableNow`` (one declarative
definition, two execution modes — the point of Structured Streaming). The
DuckDB oracles reproduce Spark's epoch-aligned window semantics with
``make_timestamp`` on integer-floored epoch-micros.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from extract_transform_load_template_multidb_spark.catalog import load_table
from extract_transform_load_template_multidb_spark.queries import query
from extract_transform_load_template_multidb_spark.queries._util import (
    daily_revenue,
    exact_percentiles,
    session_seq,
)
from extract_transform_load_template_multidb_spark.streaming import windows as W

_HOUR_US = 3_600_000_000
_HALF_US = 1_800_000_000

_TUMBLING_ORACLE = f"""
SELECT make_timestamp((epoch_us(ts) // {_HOUR_US}) * {_HOUR_US})
           AS window_start,
       make_timestamp((epoch_us(ts) // {_HOUR_US}) * {_HOUR_US} + {_HOUR_US})
           AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST((CASE WHEN isinf(value) OR isnan(value) THEN 0
                            ELSE value END) AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_value
FROM events
GROUP BY 1, 2, event_type
"""


@query("stream_tumbling_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts+sums per event type (epoch-aligned;
    the streaming run adds a watermark, nothing else changes)."""
    return W.tumbling_counts(load_table(spark, sf_dir, "events"))


_SLIDING_ORACLE = f"""
WITH assigned AS (
    SELECT event_type,
           (epoch_us(ts) // {_HALF_US} - k) * {_HALF_US} AS start_us
    FROM events, (SELECT unnest(range(0, 2)) AS k)
)
SELECT make_timestamp(start_us) AS window_start,
       make_timestamp(start_us + {_HOUR_US}) AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM assigned
GROUP BY start_us, event_type
"""


@query("stream_sliding_counts", oracle=_SLIDING_ORACLE)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min: each event lands in 2 windows
    (the oracle materializes both slide assignments per row)."""
    return W.sliding_counts(load_table(spark, sf_dir, "events"))


# Session semantics: events a<b share a session iff b-a < gap (interval
# overlap of [t, t+gap)); session_end = last event + gap.
_SESSION_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {_HALF_US}
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
"""


@query("stream_session_agg", oracle=_SESSION_ORACLE)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap session windows per user (``F.session_window``; the
    oracle is the classic gaps-and-islands rewrite)."""
    return W.session_agg(load_table(spark, sf_dir, "events"))


_SSJOIN_ORACLE = """
SELECT p.event_id AS purchase_id, f.event_id AS follow_id,
       f.event_type AS follow_type, p.ts AS purchase_ts, f.ts AS follow_ts
FROM events p
JOIN events f
  ON f.user_id = p.user_id
 AND f.ts >= p.ts
 AND f.ts < p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND f.event_id <> p.event_id
"""


@query("stream_interval_join", oracle=_SSJOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join in batch mode: for every purchase, the
    same user's events in the following hour (conversion-context pattern).
    The SAME builder runs as a watermarked append-mode stream-stream join
    in ``tests/test_streaming.py`` — the interval bound is what makes the
    streaming state evictable."""
    from pyspark.sql import functions as F

    from extract_transform_load_template_multidb_spark.streaming import (
        joins as J,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    follows = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("follow_ts"),
    )
    joined = J.interval_join(
        purchases,
        follows,
        left_key="p_user",
        right_key="f_user",
        left_ts="purchase_ts",
        right_ts="follow_ts",
        interval="1 hour",
    )
    return joined.filter(
        F.col("follow_id") != F.col("purchase_id")
    ).select(
        "purchase_id", "follow_id", "follow_type", "purchase_ts", "follow_ts"
    )


_RESAMPLE_ORACLE = """
WITH obs AS (
    SELECT user_id AS key,
           date_trunc('hour', ts) AS bucket_start,
           count(*) AS n_events,
           CAST(SUM(CAST((CASE WHEN isnan(value) OR isinf(value) THEN NULL
                               ELSE value END) AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_value
    FROM events
    GROUP BY 1, 2
),
spans AS (
    SELECT key, min(bucket_start) AS lo, max(bucket_start) AS hi
    FROM obs GROUP BY key
),
spine AS (
    SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
               AS bucket_start
    FROM spans
)
SELECT s.key, s.bucket_start,
       coalesce(o.n_events, 0) AS n_events,
       o.sum_value,
       last_value(o.sum_value IGNORE NULLS) OVER (
           PARTITION BY s.key ORDER BY s.bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value
FROM spine s LEFT JOIN obs o USING (key, bucket_start)
"""


@query("ts_resample_carry_forward", oracle=_RESAMPLE_ORACLE)
def ts_resample_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample: dense per-user hourly grid with counts
    and last-observation-carried-forward sums (spine via per-key
    sequence+explode — no cross join, no driver loop; fill window reuses
    the join's key partitioning)."""
    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as tsops,
    )

    return tsops.resample_carry_forward(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        step="1 hour",
    )


_ZSCORE_ORACLE = """
WITH finite AS (
  SELECT * FROM events WHERE NOT isnan(value) AND isfinite(value)
),
framed AS (
  SELECT event_id, user_id, ts, value,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE)
           AS s2,
         COUNT(value) OVER w AS n_base
  FROM finite
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, value, n_base,
       s1 / n_base AS base_mean,
       (value - s1 / n_base)
         / sqrt((s2 - s1 * s1 / n_base) / (n_base - 1)) AS z
FROM framed
WHERE n_base >= 10
  AND abs((value - s1 / n_base)
          / sqrt((s2 - s1 * s1 / n_base) / (n_base - 1))) > 2.5
"""


@query("ts_rolling_zscore", oracle=_ZSCORE_ORACLE)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score anomalies: each event's value vs its own
    trailing-20 baseline (strictly historical frame; decimal-exact
    Σv/Σv² so the score is partition-order-free)."""
    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as tsops,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return tsops.rolling_zscore_anomalies(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_tiebreak="event_id",
    )


_COHORT_ORACLE = """
WITH active AS (
  SELECT user_id AS key, CAST(date_trunc('week', ts) AS DATE) AS period
  FROM events
),
cohorts AS (
  SELECT key, period,
         min(period) OVER (PARTITION BY key) AS cohort_start
  FROM active
)
SELECT cohort_start,
       CAST(date_diff('day', cohort_start, period) / 7 AS INT)
         AS period_offset,
       count(DISTINCT key) AS n_active
FROM cohorts
GROUP BY cohort_start, period_offset
"""


@query("window_cohort_retention", oracle=_COHORT_ORACLE)
def window_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over events: users bucketed by
    first-activity week, distinct-counted at each week offset they
    return (offset 0 = cohort size). Integer-exact."""
    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as tsops,
    )

    return tsops.cohort_retention(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        unit="week",
    )


_OHLC_ORACLE = """
WITH finite AS (
    SELECT event_type, ts, event_id, value
    FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
)
SELECT event_type,
       date_trunc('hour', ts) AS bucket,
       CAST((min(struct_pack(ts := ts, id := event_id, v := value))).v
            AS DOUBLE) AS open,
       max(value) AS high,
       min(value) AS low,
       CAST((max(struct_pack(ts := ts, id := event_id, v := value))).v
            AS DOUBLE) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM finite
GROUP BY event_type, date_trunc('hour', ts)
"""


@query("ts_ohlc_rollup", oracle=_OHLC_ORACLE)
def ts_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style OHLC continuous aggregate per (event_type, hour):
    open/close via lexicographic min/max of struct(ts, event_id, value) —
    total-ordered under duplicate timestamps — high/low/count/exact-sum
    alongside, all in ONE map-side-combinable aggregation (no window
    shuffle)."""
    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as TS,
    )

    return TS.ohlc_rollup(load_table(spark, sf_dir, "events"))


_SSJOIN_LEFT_ORACLE = """
SELECT p.event_id AS purchase_id, f.event_id AS follow_id,
       p.ts AS purchase_ts, f.ts AS follow_ts
FROM events p
LEFT JOIN events f
  ON f.user_id = p.user_id
 AND f.event_type = 'click'
 AND f.ts >= p.ts
 AND f.ts < p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
"""


@query("stream_interval_join_left", oracle=_SSJOIN_LEFT_ORACLE)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join in batch mode: every
    purchase with the same user's clicks in the following hour, null-
    padded when no click follows (did-NOT-convert detection — the outer
    variant is what makes absence observable). In stream mode the same
    builder is a watermarked left-outer join whose null-padded rows emit
    once the watermark passes the purchase's match window."""
    from pyspark.sql import functions as F

    from extract_transform_load_template_multidb_spark.streaming import (
        joins as J,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("follow_ts"),
    )
    return J.interval_join(
        purchases,
        clicks,
        left_key="p_user",
        right_key="f_user",
        left_ts="purchase_ts",
        right_ts="follow_ts",
        interval="1 hour",
        how="left_outer",
    ).select("purchase_id", "follow_id", "purchase_ts", "follow_ts")


_HOUR_PROFILE_ORACLE = """
SELECT event_type,
       CAST(hour(ts) AS INT) AS hour_of_day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST((CASE WHEN isnan(value) OR isinf(value) THEN NULL
                           ELSE value END) AS DECIMAL(38,6))) AS DOUBLE)
         / count(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                      ELSE value END) AS avg_value
FROM events
GROUP BY event_type, hour(ts)
"""


@query("ts_hour_of_day_profile", oracle=_HOUR_PROFILE_ORACLE)
def ts_hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: event volume and decimal-exact mean value per
    (event_type, hour-of-day) — the daily-cycle baseline an anomaly
    detector normalizes against. UTC session pins hour() on both
    engines; one map-side-combinable aggregation."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    clean = F.when(~F.isnan(v) & (F.abs(v) != float("inf")), v)
    return ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(clean.cast("decimal(38,6)")).cast("double")
            / F.count(clean)
        ).alias("avg_value"),
    )


_SESSION_IDS_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS session_seq
FROM flagged
"""


@query("window_session_gap_ids", oracle=_SESSION_IDS_ORACLE)
def window_session_gap_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with explicit per-user session SEQUENCE
    numbers — the gaps-and-islands id assignment (lag → gap flag →
    running sum) that labels every event, where ``session_window``
    only aggregates per session. One shuffle by user; both windows share
    the same (ts, event_id) total order so the exchange and sort are
    reused."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        session_seq().cast("long").alias("session_seq"),
    )


_TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS t_next,
         CASE WHEN isnan(value) OR isinf(value) THEN NULL
              ELSE CAST(floor(value * 1000) AS BIGINT) END AS v_q
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(t_next - t) AS BIGINT) AS weight_us,
       CAST(SUM(v_q * (t_next - t)) AS DOUBLE) / 1000.0
           / CAST(SUM(t_next - t) AS DOUBLE) AS time_weighted_avg
FROM seq
WHERE t_next IS NOT NULL AND v_q IS NOT NULL
GROUP BY user_id
"""


@query("ts_time_weighted_avg", oracle=_TWAP_ORACLE)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average (TWAP) over irregular samples: each
    value weighted by its hold duration until the next observation — the
    correct mean for unevenly-sampled gauges, where a plain AVG
    over-weights bursts. Values are floor-quantized to int64 millis so
    the Σ(v·Δt) accumulates in exact integer math (order-independent,
    hash-stable vs the oracle); the final division is scalar double.
    One window sort + one aggregation, both on the same user_id exchange.
    Beyond-reference: the reference has no aggregation surface at all
    (SURVEY §2.5); this is the hypertable-style gauge rollup."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    v = F.col("value")
    v_q = F.when(
        ~F.isnan(v) & (F.abs(v) != float("inf")),
        F.floor(v * 1000).cast("long"),
    )
    seq = ev.select(
        "user_id",
        (F.lead(t).over(w) - t).alias("dt"),
        v_q.alias("v_q"),
    ).where(F.col("dt").isNotNull() & F.col("v_q").isNotNull())
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt").cast("long").alias("weight_us"),
        (
            F.sum(F.col("v_q") * F.col("dt")).cast("double")
            / F.lit(1000.0)
            / F.sum("dt").cast("double")
        ).alias("time_weighted_avg"),
    )


_INTERP_ORACLE = """
WITH clean AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE value END
             AS v
  FROM events
  WHERE NOT isnan(value) AND isfinite(value)
),
spans AS (
  SELECT user_id,
         ((min(t) + 3599999999) // 3600000000) * 3600000000 AS g0,
         (max(t) // 3600000000) * 3600000000 AS g1
  FROM clean GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(g0, g1 + 1, 3600000000)) AS t,
         CAST(NULL AS BIGINT) AS event_id,
         CAST(NULL AS DOUBLE) AS v, 1 AS is_grid
  FROM spans WHERE g0 <= g1
),
merged AS (
  SELECT user_id, t, event_id, v, 0 AS is_grid FROM clean
  UNION ALL SELECT user_id, t, event_id, v, is_grid FROM grid
),
bracketed AS (
  SELECT user_id, t, is_grid,
         last_value(v IGNORE NULLS) OVER wb AS v_prev,
         last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
             OVER wb AS t_prev,
         first_value(v IGNORE NULLS) OVER wf AS v_next,
         first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS)
             OVER wf AS t_next
  FROM merged
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY t, is_grid, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, make_timestamp(t) AS grid_ts,
       v_prev, v_next,
       CAST(t - t_prev AS BIGINT) AS us_since_prev,
       v_prev + (v_next - v_prev)
           * (CAST(t - t_prev AS DOUBLE) / CAST(t_next - t_prev AS DOUBLE))
           AS v_interp
FROM bracketed
WHERE is_grid = 1 AND v_prev IS NOT NULL AND v_next IS NOT NULL
"""


@query("ts_interpolate_linear", oracle=_INTERP_ORACLE)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap-fill: per-user hourly grid points between
    the first and last observation, each valued by interpolating the
    bracketing samples. Implemented as the single-sort union trick — grid
    rows and events merge into ONE per-user ordered stream; prev/next
    brackets come from IGNORE NULLS running windows, so there is no range
    join and no per-gridpoint probe (the naive as-of join would rescan
    events per grid row). Two window passes share one user_id exchange
    and one sort — at 100 TB this is a linear scan per key, not a
    quadratic bracket search. The interpolation itself is scalar IEEE
    double math, expression-identical to the oracle."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    v = F.col("value")
    clean = ev.where(~F.isnan(v) & (F.abs(v) != float("inf"))).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        v.alias("v"),
        F.lit(0).alias("is_grid"),
    )
    spans = clean.groupBy("user_id").agg(
        (
            ((F.min("t") + (hour_us - 1)) / hour_us).cast("long") * hour_us
        ).alias("g0"),
        ((F.max("t") / hour_us).cast("long") * hour_us).alias("g1"),
    )
    grid = (
        spans.where(F.col("g0") <= F.col("g1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("g0", "g1", F.lit(hour_us).cast("long"))
            ).alias("t"),
        )
        .select(
            "user_id",
            "t",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("v"),
            F.lit(1).alias("is_grid"),
        )
    )
    merged = clean.select(
        "user_id", "t", "event_id", "v", "is_grid"
    ).unionByName(grid)
    order = ["t", "is_grid", "event_id"]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # The "next bracket" is NOT first_value over (1 FOLLOWING, UNBOUNDED
    # FOLLOWING): Spark evaluates shrinking (…, unboundedFollowing)
    # frames by re-aggregating the remainder of the partition for EVERY
    # row — O(n²) per key (measured round 11: 11.7 s of executor CPU on
    # a 9.6 MB exchange in this query alone). The exact mirror — running
    # last_value(IGNORE NULLS) over the REVERSED total order with frame
    # (unboundedPreceding, -1) — is an incremental O(n) frame at the
    # cost of one extra in-partition sort, and is value-identical
    # because (t, is_grid, event_id) is a total order (desc_nulls_last
    # mirrors asc_nulls_first; event_id is null only on grid rows).
    wf = (
        W.partitionBy("user_id")
        .orderBy(*[F.col(c).desc() for c in order])
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ev_t = F.when(F.col("is_grid") == 0, F.col("t"))
    bracketed = merged.select(
        "user_id",
        "t",
        "is_grid",
        F.last("v", ignorenulls=True).over(wb).alias("v_prev"),
        F.last(ev_t, ignorenulls=True).over(wb).alias("t_prev"),
        F.last("v", ignorenulls=True).over(wf).alias("v_next"),
        F.last(ev_t, ignorenulls=True).over(wf).alias("t_next"),
    )
    frac = (F.col("t") - F.col("t_prev")).cast("double") / (
        F.col("t_next") - F.col("t_prev")
    ).cast("double")
    return bracketed.where(
        (F.col("is_grid") == 1)
        & F.col("v_prev").isNotNull()
        & F.col("v_next").isNotNull()
    ).select(
        "user_id",
        F.timestamp_micros("t").alias("grid_ts"),
        "v_prev",
        "v_next",
        (F.col("t") - F.col("t_prev")).cast("long").alias("us_since_prev"),
        (
            F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * frac
        ).alias("v_interp"),
    )


_AUTOCORR_ORACLE = """
WITH seq AS (
    SELECT user_id,
           CASE WHEN isnan(value) OR isinf(value) THEN NULL
                ELSE value END AS v,
           lag(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                    ELSE value END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS pv
    FROM events
),
s AS (
    SELECT user_id,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(pv AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(v * pv AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(pv * pv AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM seq
    WHERE v IS NOT NULL AND pv IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_pairs,
       round((sxy - sx * sy / n)
         / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
           AS autocorr_lag1
FROM s
"""


@query("ts_autocorr_lag1", oracle=_AUTOCORR_ORACLE)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of the value series — the
    persistence/memory diagnostic (near 0: noise; near 1: trending
    gauge; negative: oscillation) that decides whether a forecast model
    is even worth fitting. Consecutive-pair construction shares one
    (ts, event_id) window sort with the aggregation's user_id exchange;
    Pearson over the pairs uses the decimal cross-moment discipline of
    agg_corr_per_group, final scalar quantized to 6 decimals."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    val = F.col("value")
    v = F.when(~F.isnan(val) & (F.abs(val) != float("inf")), val)
    seq = ev.select(
        "user_id", v.alias("v"), F.lag(v).over(w).alias("pv")
    ).where(F.col("v").isNotNull() & F.col("pv").isNotNull())
    x, y = F.col("v"), F.col("pv")
    s = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,6)")).cast("double").alias("syy"),
    )
    n = F.col("n")
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return s.select(
        "user_id",
        n.cast("long").alias("n_pairs"),
        F.round(corr, 6).alias("autocorr_lag1"),
    )


_SESSION_CONVERSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, event_type,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM flagged
),
per_session AS (
    SELECT user_id, session_seq,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM sessions GROUP BY user_id, session_seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conversion_rate
FROM per_session
GROUP BY user_id
"""


@query("ts_session_conversion", oracle=_SESSION_CONVERSION_ORACLE)
def ts_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session conversion rate: sessionize with the 30-minute
    gap rule (same gaps-and-islands ids as window_session_gap_ids), mark
    sessions containing a purchase, report converted/total — the product
    metric sessionization exists to serve. All three windows and both
    rollups ride ONE user_id exchange."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    sessions = ev.select(
        "user_id",
        "event_type",
        session_seq().alias("session_seq"),
    )
    per_session = sessions.groupBy("user_id", "session_seq").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        (
            F.sum("converted").cast("double") / F.count(F.lit(1))
        ).alias("conversion_rate"),
    )


_CUM_UNIQUE_ORACLE = """
WITH firsts AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
daily AS (
    SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM firsts GROUP BY first_day
)
SELECT day, n_new,
       CAST(SUM(n_new) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_users
FROM daily
"""


@query("ts_cumulative_unique_users", oracle=_CUM_UNIQUE_ORACLE)
def ts_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct growth curve: new users per day (first-seen
    date) and the running total — the audience-growth metric. COUNT
    DISTINCT inside a running window is not executable at scale; the
    first-seen rewrite (min-date per user, then an ordinary running sum
    over daily counts) is — one user_id aggregation plus a window over
    #days rows. The pattern generalizes to any cumulative-distinct ask."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(
        F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
    )


_WOW_ORACLE = """
WITH weekly AS (
    SELECT event_type, CAST(date_trunc('week', ts) AS DATE)
               AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type, date_trunc('week', ts)
),
laged AS (
    SELECT event_type, week_start, n_events,
           lag(n_events) OVER (
               PARTITION BY event_type ORDER BY week_start) AS prev_n
    FROM weekly
)
SELECT event_type, week_start, n_events, prev_n,
       CAST(n_events - prev_n AS DOUBLE) / prev_n AS wow_growth
FROM laged
WHERE prev_n IS NOT NULL
"""


@query("ts_wow_growth", oracle=_WOW_ORACLE)
def ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly rollup, lag, relative
    delta — the BI trend primitive. Weekly volume is integer-exact; the
    growth ratio is one scalar double division. The lag window runs over
    #weeks rows per type (tiny) after the one real aggregation."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = W.partitionBy("event_type").orderBy("week_start")
    laged = weekly.withColumn("prev_n", F.lag("n_events").over(w))
    return laged.where(F.col("prev_n").isNotNull()).select(
        "event_type",
        "week_start",
        "n_events",
        "prev_n",
        (
            (F.col("n_events") - F.col("prev_n")).cast("double")
            / F.col("prev_n")
        ).alias("wow_growth"),
    )


_PEAKS_ORACLE = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY date_trunc('hour', ts)
),
neighbored AS (
    SELECT hour_start, n_events,
           lag(n_events) OVER (ORDER BY hour_start) AS prev_n,
           lead(n_events) OVER (ORDER BY hour_start) AS next_n
    FROM hourly
)
SELECT hour_start, n_events, prev_n, next_n
FROM neighbored
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n_events > prev_n AND n_events > next_n
"""


@query("ts_peak_detection", oracle=_PEAKS_ORACLE)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the hourly volume series: hours
    strictly busier than both neighbors — the spike shortlist an
    on-call reviews (integer counts make 'strictly greater'
    unambiguous; interior points only, so boundary hours can't
    fake a peak). One rollup + one ordered window over #hours rows."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = W.orderBy("hour_start")
    nb = hourly.select(
        "hour_start",
        "n_events",
        F.lag("n_events").over(w).alias("prev_n"),
        F.lead("n_events").over(w).alias("next_n"),
    )
    return nb.where(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n_events") > F.col("prev_n"))
        & (F.col("n_events") > F.col("next_n"))
    )


_CHURN_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
    FROM events
),
weeks AS (SELECT DISTINCT week FROM uw),
flagged AS (
    SELECT a.week, a.user_id,
           CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
    FROM uw a
    LEFT JOIN uw b ON b.user_id = a.user_id
                  AND b.week = a.week + INTERVAL 7 DAY
)
SELECT f.week,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(churned) AS BIGINT) AS n_churned,
       CAST(SUM(churned) AS DOUBLE) / COUNT(*) AS churn_rate
FROM flagged f
WHERE f.week < (SELECT max(week) FROM weeks)
GROUP BY f.week
"""


@query("ts_weekly_churn", oracle=_CHURN_ORACLE)
def ts_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: users active in week w with NO activity in week
    w+1 — the retention complement (the cohort matrix tracks who stays;
    this names how many leave, per week). Distinct (user, week) set
    left-joined to its own one-week shift; the final week is excluded
    (its churn is unknowable yet). Integer-exact counts, one scalar
    rate."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    nxt = uw.select(
        "user_id", F.date_sub(F.col("week"), 7).alias("week")
    )
    flagged = uw.join(
        nxt.withColumn("has_next", F.lit(1)),
        ["user_id", "week"],
        "left",
    )
    max_week = uw.agg(F.max("week").alias("max_week"))
    return (
        flagged.crossJoin(F.broadcast(max_week))
        .where(F.col("week") < F.col("max_week"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("has_next").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_churned"),
            (
                F.sum(
                    F.when(F.col("has_next").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("churn_rate"),
        )
    )


_DAU_WAU_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
),
contrib AS (
    SELECT DISTINCT user_id,
           day + CAST(k AS INTEGER) AS target_day
    FROM ud, (SELECT unnest(range(0, 7)) AS k)
),
wau AS (
    SELECT target_day AS day, CAST(COUNT(*) AS BIGINT) AS wau
    FROM contrib GROUP BY target_day
)
SELECT d.day, d.dau, w.wau,
       CAST(d.dau AS DOUBLE) / w.wau AS stickiness
FROM dau d JOIN wau w USING (day)
"""


@query("ts_dau_wau_stickiness", oracle=_DAU_WAU_ORACLE)
def ts_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness — the standard engagement
    panel. Rolling COUNT DISTINCT doesn't exist as a window function at
    scale; the rewrite is contribution explosion: each (user, day)
    contributes to 7 target days, distinct-count per target day — two
    distincts and two rollups, all exact integers (only days with any
    activity report, via the DAU join). Stickiness is the one scalar
    double."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("k"),
        "day",
    ).select(
        "user_id", F.date_add(F.col("day"), F.col("k")).alias("day")
    ).distinct()
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


_NEW_RETURNING_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
    SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
)
SELECT u.day,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(COUNT(*) FILTER (WHERE u.day = f.first_day) AS BIGINT)
           AS n_new,
       CAST(COUNT(*) FILTER (WHERE u.day > f.first_day) AS BIGINT)
           AS n_returning
FROM ud u JOIN firsts f USING (user_id)
GROUP BY u.day
"""


@query("ts_new_vs_returning", oracle=_NEW_RETURNING_ORACLE)
def ts_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever day) vs RETURNING —
    the acquisition-vs-retention decomposition on every growth
    dashboard. First-seen day per user broadcast back onto the distinct
    (user, day) set; all integer-exact, one small join."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(F.broadcast(firsts), "user_id")
    return j.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count(F.when(F.col("day") == F.col("first_day"), 1))
        .cast("long")
        .alias("n_new"),
        F.count(F.when(F.col("day") > F.col("first_day"), 1))
        .cast("long")
        .alias("n_returning"),
    )


_STREAK_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grouped AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
    FROM ud
),
streaks AS (
    SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak_len
    FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY user_id
"""


@query("window_longest_streak", oracle=_STREAK_ORACLE)
def window_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    engagement-habit metric (and the canonical gaps-and-islands trick:
    day minus row_number is constant within a consecutive run, so
    streaks fall out of one GROUP BY with no self-join). All integer
    dates and counts; two rollups on one user_id exchange."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    grouped = ud.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


_CALENDAR_HEATMAP_ORACLE = """
SELECT CAST(isodow(ts) AS BIGINT) AS day_of_week,
       CAST(hour(ts) AS BIGINT) AS hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY isodow(ts), hour(ts)
"""


@query("ts_calendar_heatmap", oracle=_CALENDAR_HEATMAP_ORACLE)
def ts_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap with distinct users —
    the weekly-rhythm fingerprint (capacity planning reads the peak
    cell; anomaly detection reads deviations from it). ISO day numbering
    (Mon=1) matches across engines under the pinned UTC session; one
    map-side-combinable aggregate plus the distinct count."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek: Sun=1..Sat=7; ISO dow (Mon=1..Sun=7) mirrors
    # DuckDB isodow.
    isodow = ((F.dayofweek("ts") + 5) % 7) + 1
    return ev.groupBy(
        isodow.cast("long").alias("day_of_week"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


_DRAWDOWN_ORACLE = """
WITH clean AS (
    SELECT user_id, ts, event_id,
           CAST((CASE WHEN isnan(value) OR isinf(value) THEN 0
                      ELSE value END) AS DECIMAL(38,6)) AS v
    FROM events
),
cums AS (
    SELECT user_id, ts, event_id,
           SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS cum
    FROM clean
),
runn AS (
    SELECT user_id, cum,
           max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS peak
    FROM cums
)
SELECT user_id,
       CAST(max(peak - cum) AS DOUBLE) AS max_drawdown,
       CAST(max(peak) AS DOUBLE) AS peak_value
FROM runn GROUP BY user_id
"""


@query("ts_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value series: the
    largest peak-to-trough drop of the running sum — the risk metric
    every equity-curve readout leads with, computed as a running max
    OVER a running sum (two stacked windows on one (ts, event_id) order,
    one exchange). Every accumulation is DECIMAL, so the nested windows
    stay bit-exact; only the reported extrema cast to double."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    clean = F.when(~F.isnan(v) & (F.abs(v) != float("inf")), v).otherwise(
        F.lit(0)
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(clean.cast("decimal(38,6)")).over(w)
    staged = ev.select(
        "user_id", "ts", "event_id", cum.alias("cum")
    ).select(
        "user_id",
        "cum",
        F.max("cum")
        .over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("peak"),
    )
    return staged.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum"))
        .cast("double")
        .alias("max_drawdown"),
        F.max("peak").cast("double").alias("peak_value"),
    )


_BURSTINESS_ORACLE = """
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS g
    FROM events
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(g AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(CAST(g AS DOUBLE) * g AS DECIMAL(38,6)))
                AS DOUBLE) AS s2
    FROM gaps WHERE g IS NOT NULL
    GROUP BY user_id
    HAVING COUNT(*) >= 10
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_gaps,
       round((sqrt(s2 / n - (s1 / n) * (s1 / n)) - s1 / n)
             / (sqrt(s2 / n - (s1 / n) * (s1 / n)) + s1 / n), 6)
           AS burstiness
FROM s
"""


@query("ts_burstiness_index", oracle=_BURSTINESS_ORACLE)
def ts_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of each user's inter-event times:
    B = (σ−μ)/(σ+μ) over the gap distribution — −1 is a metronome, 0 is
    Poisson, →1 is bursty (bots and humans separate cleanly on this
    axis). Integer microsecond gaps through decimal power sums; the
    closed form is scalar double quantized to 6. Users need ≥10 gaps for
    the estimate to mean anything."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (t - F.lag(t).over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    g = F.col("g")
    s = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(g.cast("decimal(38,6)")).cast("double").alias("s1"),
            F.sum((g.cast("double") * g).cast("decimal(38,6)"))
            .cast("double")
            .alias("s2"),
        )
        .where(F.col("n") >= 10)
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean = s1 / n
    sd = F.sqrt(s2 / n - mean * mean)
    return s.select(
        "user_id",
        n.cast("long").alias("n_gaps"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


_CONCURRENCY_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS seq,
           ts
    FROM flagged
),
bounds AS (
    SELECT user_id, seq,
           min(ts) AS s_start,
           max(ts) + INTERVAL 30 MINUTE AS s_end
    FROM sessions GROUP BY user_id, seq
),
deltas AS (
    SELECT s_start AS t, 1 AS d FROM bounds
    UNION ALL
    SELECT s_end, -1 FROM bounds
),
swept AS (
    SELECT t,
           SUM(d) OVER (ORDER BY t, d
                        ROWS UNBOUNDED PRECEDING) AS active
    FROM deltas
)
SELECT CAST(max(active) AS BIGINT) AS peak_concurrency,
       CAST((SELECT COUNT(*) FROM bounds) AS BIGINT) AS n_sessions
FROM swept
"""


@query("ts_peak_concurrency", oracle=_CONCURRENCY_ORACLE)
def ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions: sweep-line over session intervals —
    +1 at each session start, −1 at its (last-event + 30 min) close,
    maximum of the running sum — the capacity number a serving fleet is
    sized against. Sessionization reuses the gaps-and-islands ids;
    closes sort BEFORE opens at the same instant (d ascending) so a
    back-to-back session never double-counts. All integers."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    sessions = ev.select(
        "user_id",
        "ts",
        session_seq().alias("seq"),
    )
    bounds = sessions.groupBy("user_id", "seq").agg(
        F.min("ts").alias("s_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTE")).alias("s_end"),
    )
    deltas = bounds.select(
        F.col("s_start").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        bounds.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
    )
    w_sweep = W.orderBy("t", "d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    swept = deltas.select(F.sum("d").over(w_sweep).alias("active"))
    n_sessions = bounds.agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return swept.agg(
        F.max("active").cast("long").alias("peak_concurrency")
    ).crossJoin(F.broadcast(n_sessions))


_RATE_LIMIT_ORACLE = """
WITH counted AS (
    SELECT user_id, ts, event_id,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS events_in_window
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(max(events_in_window) AS BIGINT) AS peak_per_hour,
       CAST(COUNT(*) FILTER (WHERE events_in_window > 2) AS BIGINT)
           AS n_over_limit
FROM counted
GROUP BY user_id
HAVING COUNT(*) FILTER (WHERE events_in_window > 2) > 0
"""


@query("ts_rate_limit_audit", oracle=_RATE_LIMIT_ORACLE)
def ts_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit audit: per user, the peak events-per-trailing-minute
    and how many events exceeded a 2-per-hour policy — the abuse/throttling
    readout, computed with a time-RANGE window (value-based frame over
    epoch micros, so ties share one frame and no tiebreak is needed).
    Only offending users report."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    counted = ev.select(
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_in_window"),
    )
    over = F.when(F.col("events_in_window") > 2, 1)
    return (
        counted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("events_in_window")
            .cast("long")
            .alias("peak_per_hour"),
            F.count(over).cast("long").alias("n_over_limit"),
        )
        .where(F.col("n_over_limit") > 0)
    )


_ANOM_DAYS_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY CAST(ts AS DATE)
),
stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(n AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(CAST(n AS DOUBLE) * n AS DECIMAL(38,6)))
                AS DOUBLE) AS s2
    FROM daily
)
SELECT d.day, d.n,
       round((d.n - s.s1 / s.k)
             / sqrt((s.s2 - s.s1 * s.s1 / s.k) / (s.k - 1)), 6)
           AS volume_zscore
FROM daily d, stats s
WHERE abs((d.n - s.s1 / s.k)
          / sqrt((s.s2 - s.s1 * s.s1 / s.k) / (s.k - 1))) > 1.5
"""


@query("ts_anomalous_days", oracle=_ANOM_DAYS_ORACLE)
def ts_anomalous_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous-volume days: daily event counts more than 1.5σ from the
    period mean — the incident-review shortlist at day granularity
    (ts_rolling_zscore does this per event against a trailing baseline;
    this is the global daily cut an SRE scans first). Decimal power sums
    over integer counts; the z-score is scalar, quantized to 6."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n")
    stats = daily.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(n.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((n.cast("double") * n).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
    )
    j = daily.crossJoin(F.broadcast(stats))
    mean = F.col("s1") / F.col("k")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k"))
        / (F.col("k") - 1)
    )
    z = (F.col("n") - mean) / sd
    return j.where(F.abs(z) > 1.5).select(
        "day", "n", F.round(z, 6).alias("volume_zscore")
    )


_ACTIVITY_GINI_ORACLE = """
WITH ua AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
           COUNT(*) OVER () AS n
    FROM ua
)
SELECT CAST(any_value(n) AS BIGINT) AS n_users,
       CAST(SUM(x) AS BIGINT) AS total_events,
       2.0 * CAST(SUM(i * x) AS DOUBLE)
           / (any_value(n) * CAST(SUM(x) AS DOUBLE))
         - (any_value(n) + 1.0) / any_value(n) AS activity_gini
FROM ranked
"""


@query("ts_activity_gini", oracle=_ACTIVITY_GINI_ORACLE)
def ts_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume — how concentrated the
    traffic is in a few heavy users (the engagement analogue of the
    corpus-balance Gini; also the skew forecast for any user_id-keyed
    shuffle). Rank-weighted closed form over per-user counts; the sort
    runs over #users, never events."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    ranked = ua.select(
        "x",
        F.row_number().over(W.orderBy("x", "user_id")).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    n = F.any_value("n")
    return ranked.agg(
        n.cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("total_events"),
        (
            2.0
            * F.sum(F.col("i") * F.col("x")).cast("double")
            / (n * F.sum("x").cast("double"))
            - (n + 1.0) / n
        ).alias("activity_gini"),
    )


_EWMA_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev_usd
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev_usd,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS rn
    FROM daily
)
SELECT day, rev_usd,
       ROUND(POWER(0.9, rn)
             * SUM(rev_usd * POWER(0.9, -rn))
                   OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING
                         AND CURRENT ROW)
             / ((1 - POWER(0.9, LEAST(rn, 30))) / 0.1), 2) AS ewma_usd
FROM seq
"""


@query("ts_ewma_revenue", oracle=_EWMA_ORACLE)
def ts_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue (alpha=0.1,
    30-day effective window). EWMA is a recursion Spark windows cannot
    express directly; the closed form ``0.9^t * SUM(x_i / 0.9^i)`` over a
    BOUNDED 29-preceding frame turns it into one ordinary window sum —
    the in-frame weight spread is at most 0.9^-29 ≈ 21×, so the rescaling
    is loss-free in doubles. Daily revenue stays on the exact
    decimal grid (no rounding tie risk); the EWMA is quantized to cents,
    ~4 orders of magnitude above accumulated double noise. The
    single global sort is one series of ~2.4k daily rows — at 100 TB the
    same plan runs per entity key with partitionBy."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev_usd")
    seq = daily.withColumn(
        "rn", F.row_number().over(Win.orderBy("day")).cast("double")
    )
    frame = Win.orderBy("day").rowsBetween(-29, Win.currentRow)
    num = F.pow(F.lit(0.9), F.col("rn")) * F.sum(
        F.col("rev_usd") * F.pow(F.lit(0.9), -F.col("rn"))
    ).over(frame)
    den = (1 - F.pow(F.lit(0.9), F.least(F.col("rn"), F.lit(30.0)))) / 0.1
    return seq.select(
        "day",
        "rev_usd",
        F.round(num / den, 2).alias("ewma_usd"),
    )


_CUSUM_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day,
           CAST(SUM(rev) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DOUBLE) AS s_t,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t,
           CAST(SUM(rev) OVER () AS DOUBLE) AS s_n,
           CAST(COUNT(*) OVER () AS DOUBLE) AS n
    FROM daily
)
SELECT day AS changepoint_day,
       CAST(t AS BIGINT) AS day_index,
       CAST(n AS BIGINT) AS n_days,
       s_t - t * (s_n / n) AS cusum,
       abs(s_t - t * (s_n / n)) AS abs_cusum
FROM seq
ORDER BY abs_cusum DESC, day
LIMIT 1
"""


@query("window_cusum_changepoint", oracle=_CUSUM_ORACLE)
def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily revenue: the day where the
    cumulative deviation from the global mean peaks — the standard
    level-shift locator for drift monitoring. The naive running
    Σ(x_i − mean) is float-order-sensitive; instead cusum_t is computed
    as S_t − t·(S_N/N) with S_t an EXACT decimal prefix sum, so every
    value is two correctly-rounded IEEE ops from exact integers —
    bit-identical on any engine, any partitioning. One series-wide
    window (per-entity partitionBy at scale); argmax is a 1-row
    TakeOrderedAndProject."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    w_cum = Win.orderBy("day").rowsBetween(
        Win.unboundedPreceding, Win.currentRow
    )
    w_all = Win.partitionBy()
    seq = daily.select(
        "day",
        F.sum("rev").over(w_cum).cast("double").alias("s_t"),
        F.row_number().over(Win.orderBy("day")).cast("double").alias("t"),
        F.sum("rev").over(w_all).cast("double").alias("s_n"),
        F.count(F.lit(1)).over(w_all).cast("double").alias("n"),
    )
    cusum = F.col("s_t") - F.col("t") * (F.col("s_n") / F.col("n"))
    return (
        seq.select(
            F.col("day").alias("changepoint_day"),
            F.col("t").cast("long").alias("day_index"),
            F.col("n").cast("long").alias("n_days"),
            cusum.alias("cusum"),
            F.abs(cusum).alias("abs_cusum"),
        )
        .orderBy(F.col("abs_cusum").desc(), "changepoint_day")
        .limit(1)
    )


_SEASONALITY_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev,
           ROW_NUMBER() OVER (ORDER BY day) AS rn,
           COUNT(*) OVER () AS n,
           CAST(SUM(CAST(rev AS DECIMAL(38,6)))
                    OVER (ORDER BY day ROWS BETWEEN 14 PRECEDING
                          AND 14 FOLLOWING) AS DOUBLE) / 29 AS trend
    FROM daily
),
detr AS (
    SELECT dayofweek(day) AS dow, rev - trend AS r
    FROM seq WHERE rn > 14 AND rn <= n - 14
),
dowm AS (
    SELECT dow,
           CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS dow_mean,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM detr GROUP BY dow
),
resid AS (
    SELECT d.r,
           d.r - m.dow_mean AS e
    FROM detr d JOIN dowm m ON m.dow = d.dow
),
vars AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_detr,
           CAST(SUM(CAST(r * r AS DECIMAL(38,6))) AS DOUBLE) AS ss_detr,
           CAST(SUM(CAST(e * e AS DECIMAL(38,6))) AS DOUBLE) AS ss_resid
    FROM resid
)
SELECT n_detr, round(ss_detr, 0) AS ss_detr,
       round(ss_resid, 0) AS ss_resid,
       round(1 - ss_resid / ss_detr, 9) AS seasonality_strength
FROM vars
"""


@query("ts_seasonality_strength", oracle=_SEASONALITY_ORACLE)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal-strength score: detrend daily revenue with a
    centered 29-day moving average, fit day-of-week means to the
    detrended series, and report 1 − SS_resid/SS_detrended — how much
    of the non-trend variance weekday seasonality explains. Every sum
    routes through DECIMAL after a deterministic per-row product (the
    engine's float discipline); the squared deviations are off the
    6-dp grid, so a double→decimal cast can tie-round differently per
    engine (HALF_UP vs half-even) by one grid unit — the outputs
    therefore round to whole units / 9 dp, far above that noise. The
    trend window is a bounded ROWS frame and the dow-mean table is 7
    rows broadcast back — one sort per series, constant memory per row
    at any history length."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev")
    w_ord = Win.orderBy("day")
    w_c = w_ord.rowsBetween(-14, 14)
    seq = daily.select(
        "day",
        "rev",
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(Win.partitionBy()).alias("n"),
        (
            F.sum(F.col("rev").cast("decimal(38,6)")).over(w_c)
            .cast("double")
            / 29
        ).alias("trend"),
    )
    detr = seq.where(
        (F.col("rn") > 14) & (F.col("rn") <= F.col("n") - 14)
    ).select(
        F.dayofweek("day").alias("dow"),
        (F.col("rev") - F.col("trend")).alias("r"),
    )
    dowm = detr.groupBy("dow").agg(
        (
            F.sum(F.col("r").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("dow_mean")
    )
    resid = detr.join(F.broadcast(dowm), "dow").select(
        "r", (F.col("r") - F.col("dow_mean")).alias("e")
    )
    return resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_detr"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,6)"))
        .cast("double")
        .alias("ss_detr"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,6)"))
        .cast("double")
        .alias("ss_resid"),
    ).select(
        "n_detr",
        F.round("ss_detr", 0).alias("ss_detr"),
        F.round("ss_resid", 0).alias("ss_resid"),
        F.round(1 - F.col("ss_resid") / F.col("ss_detr"), 9).alias(
            "seasonality_strength"
        ),
    )


_BOUNCE_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS session_seq
    FROM seq
),
per_sess AS (
    SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_seq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT)
           AS n_bounce_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE) / COUNT(*)
           AS bounce_rate,
       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS events_per_session
FROM per_sess
"""


@query("ts_bounce_rate", oracle=_BOUNCE_ORACLE)
def ts_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized bounce rate: share of 30-minute-gap sessions containing
    exactly one event, plus events-per-session — the engagement KPI pair
    computed on top of the gaps-and-islands session ids
    (`window_session_gap_ids`'s assignment, rolled up twice). One
    user-keyed shuffle does the sessionization; the rollups are exact
    integer counts with two correctly-rounded final divisions."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    sess = ev.select(
        "user_id",
        session_seq().alias("session_seq"),
    )
    per_sess = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return per_sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounce_sessions"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        (
            F.sum("n_events").cast("double") / F.count(F.lit(1))
        ).alias("events_per_session"),
    )


_SNAIVE_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT day, rev,
           lag(rev, 7) OVER (ORDER BY day) AS forecast
    FROM daily
),
scored AS (
    SELECT CAST(rev AS DOUBLE) AS rev,
           CAST(forecast AS DOUBLE) AS forecast,
           CAST(abs(rev - forecast) AS DECIMAL(38,6)) AS abs_err
    FROM lagged WHERE forecast IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(abs_err) AS DOUBLE) / COUNT(*) AS mae,
       CAST(SUM(abs_err) AS DOUBLE)
           / CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS wape
FROM scored
"""


@query("ts_seasonal_naive_backtest", oracle=_SNAIVE_ORACLE)
def ts_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue with
    the value 7 days earlier and report MAE and WAPE — the baseline any
    real forecasting model must beat, and the cheapest drift alarm for
    a daily KPI. LAG over the exact decimal series keeps errors on the
    decimal grid, so both accuracy sums are exact; the index positions
    (not calendar dates) define the lag, matching the oracle exactly.
    One series sort; per-entity partitionBy at scale."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    lagged = daily.select(
        F.col("rev").cast("double").alias("rev"),
        F.lag("rev", 7).over(Win.orderBy("day")).cast("double").alias(
            "forecast"
        ),
    ).where(F.col("forecast").isNotNull())
    abs_err = F.abs(F.col("rev") - F.col("forecast")).cast(
        "decimal(38,6)"
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum(abs_err).cast("double") / F.count(F.lit(1))).alias("mae"),
        (
            F.sum(abs_err).cast("double")
            / F.sum(F.col("rev").cast("decimal(38,6)")).cast("double")
        ).alias("wape"),
    )


_ROLLCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS y
    FROM events GROUP BY 1
),
win AS (
    SELECT day, x, y,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(x) OVER w AS BIGINT) AS sx,
           CAST(SUM(y) OVER w AS BIGINT) AS sy,
           CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
           CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
           CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
           ROW_NUMBER() OVER (ORDER BY day) AS rn
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, x AS clicks, y AS purchases,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS rolling_corr_7d
FROM win
WHERE rn >= 7
"""


@query("ts_rolling_corr_clicks_purchases", oracle=_ROLLCORR_ORACLE)
def ts_rolling_corr_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """7-day rolling Pearson correlation between daily click and
    purchase counts — the co-movement monitor that flags when engagement
    decouples from conversion. All five sufficient-statistic window sums
    are exact integers (counts and their products), so the correlation
    is a fixed dag of correctly-rounded IEEE ops — bit-identical with
    no rounding; degenerate windows (zero variance) yield NULL. Bounded
    7-row frame, one series sort."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("y"),
    )
    w = Win.orderBy("day").rowsBetween(-6, Win.currentRow)
    win = daily.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.row_number().over(Win.orderBy("day")).alias("rn"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.where(F.col("rn") >= 7).select(
        "day",
        F.col("x").alias("clicks"),
        F.col("y").alias("purchases"),
        F.when(
            (vx > 0) & (vy > 0),
            cov.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
        ).alias("rolling_corr_7d"),
    )


_TOP_MOVERS_ORACLE = """
WITH weekly AS (
    SELECT l_partkey,
           CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
           SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
    FROM lineitem GROUP BY 1, 2
),
lagged AS (
    SELECT l_partkey, week,
           CAST(rev AS DOUBLE) AS rev,
           CAST(lag(rev) OVER (PARTITION BY l_partkey ORDER BY week)
                AS DOUBLE) AS prev_rev,
           lag(week) OVER (PARTITION BY l_partkey ORDER BY week)
               AS prev_week
    FROM weekly
),
movers AS (
    SELECT l_partkey, week, rev, prev_rev,
           rev - prev_rev AS delta
    FROM lagged
    WHERE prev_rev IS NOT NULL
      AND date_diff('day', prev_week, week) = 7
)
SELECT l_partkey, week, rev, prev_rev, delta
FROM movers
ORDER BY abs(delta) DESC, l_partkey, week
LIMIT 25
"""


@query("window_top_movers_wow", oracle=_TOP_MOVERS_ORACLE)
def window_top_movers_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week top movers: the 25 largest absolute revenue swings
    between CONSECUTIVE calendar weeks of the same part — the anomaly
    shortlist a category manager actually reads. The consecutive-week
    guard (gap must be exactly 7 days) stops stale comparisons across
    dormant periods from faking swings; deltas are exact decimal
    differences cast once, and the top-25 plans as
    TakeOrderedAndProject over the per-part lag window."""
    from pyspark.sql import Window as Win, functions as F

    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("rev")
    )
    w = Win.partitionBy("l_partkey").orderBy("week")
    lagged = weekly.select(
        "l_partkey",
        "week",
        F.col("rev").cast("double").alias("rev"),
        F.lag("rev").over(w).cast("double").alias("prev_rev"),
        F.lag("week").over(w).alias("prev_week"),
    )
    movers = lagged.where(
        F.col("prev_rev").isNotNull()
        & (F.datediff("week", "prev_week") == 7)
    ).select(
        "l_partkey",
        "week",
        "rev",
        "prev_rev",
        (F.col("rev") - F.col("prev_rev")).alias("delta"),
    )
    return movers.orderBy(
        F.abs("delta").desc(), "l_partkey", "week"
    ).limit(25)


_TUMBLING_USERS_ORACLE = f"""
SELECT make_timestamp((epoch_us(ts) // {_HOUR_US}) * {_HOUR_US})
           AS window_start,
       make_timestamp((epoch_us(ts) // {_HOUR_US}) * {_HOUR_US}
                      + {_HOUR_US}) AS window_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


@query("stream_tumbling_distinct_users", oracle=_TUMBLING_USERS_ORACLE)
def stream_tumbling_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly exact distinct users via the streaming-safe rewrite
    (dedupe (user, window) pairs, then count) — COUNT(DISTINCT) is
    forbidden in streaming aggregations, so this builder is the form
    that runs unchanged under ``readStream`` with a watermark bounding
    the dedupe state. Batch mode here is oracle-checked against plain
    COUNT(DISTINCT)."""
    ev = load_table(spark, sf_dir, "events")
    return W.tumbling_distinct_users(ev, window="1 hour")


_PERIODOGRAM_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT rev,
           CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS DOUBLE) AS t,
           CAST(COUNT(*) OVER () AS DOUBLE) AS n
    FROM daily
),
freqs AS (SELECT CAST(unnest(range(1, 21)) AS DOUBLE) AS k),
terms AS (
    SELECT f.k, s.n,
           CAST(round(s.rev * round(cos(2 * pi() * f.k * s.t / s.n), 9),
                      2) AS DECIMAL(38,2)) AS c_term,
           CAST(round(s.rev * round(sin(2 * pi() * f.k * s.t / s.n), 9),
                      2) AS DECIMAL(38,2)) AS s_term
    FROM seq s CROSS JOIN freqs f
),
power AS (
    SELECT k, any_value(n) AS n,
           CAST(SUM(c_term) AS DOUBLE) AS cs,
           CAST(SUM(s_term) AS DOUBLE) AS ss
    FROM terms GROUP BY k
)
SELECT CAST(k AS BIGINT) AS k,
       round(n / k, 2) AS period_days,
       round(sqrt(cs * cs + ss * ss) / n, 2) AS amplitude
FROM power
ORDER BY sqrt(cs * cs + ss * ss) DESC, k
LIMIT 5
"""


@query("ts_fourier_top_periods", oracle=_PERIODOGRAM_ORACLE)
def ts_fourier_top_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of daily revenue: DFT power at the first 20 harmonics,
    top-5 by amplitude — the periodicity detector that finds weekly /
    monthly cycles without assuming them (compare
    `ts_seasonality_strength`, which TESTS a known weekday cycle). Each
    cos/sin factor quantizes to a 9-dp grid (libm vs JVM transcendental
    ulp) and each term to exact cents before the DECIMAL sum, so the
    spectrum is engine-invariant; cost is days × 20 narrow rows, one
    small aggregation, and amplitudes round to cents at the end."""
    from pyspark.sql import Window as Win, functions as F
    import math

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev")
    seq = daily.select(
        "rev",
        (F.row_number().over(Win.orderBy("day")) - 1)
        .cast("double")
        .alias("t"),
        F.count(F.lit(1)).over(Win.partitionBy()).cast("double").alias("n"),
    )
    freqs = spark.range(1, 21).select(F.col("id").cast("double").alias("k"))
    ang = 2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    terms = seq.crossJoin(F.broadcast(freqs)).select(
        "k",
        "n",
        F.round(F.col("rev") * F.round(F.cos(ang), 9), 2)
        .cast("decimal(38,2)")
        .alias("c_term"),
        F.round(F.col("rev") * F.round(F.sin(ang), 9), 2)
        .cast("decimal(38,2)")
        .alias("s_term"),
    )
    power = terms.groupBy("k").agg(
        F.any_value("n").alias("n"),
        F.sum("c_term").cast("double").alias("cs"),
        F.sum("s_term").cast("double").alias("ss"),
    )
    amp = F.sqrt(F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss"))
    return (
        power.select(
            F.col("k").cast("long").alias("k"),
            F.round(F.col("n") / F.col("k"), 2).alias("period_days"),
            F.round(amp / F.col("n"), 2).alias("amplitude"),
            amp.alias("__p"),
        )
        .orderBy(F.col("__p").desc(), "k")
        .limit(5)
        .drop("__p")
    )


_CVAR_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT rev,
           ROW_NUMBER() OVER (ORDER BY rev, day) AS rnk,
           COUNT(*) OVER () AS n
    FROM daily
),
tail AS (
    SELECT rev, n FROM ranked
    WHERE rnk <= CAST(ceil(0.05 * n) AS BIGINT)
)
SELECT CAST(any_value(n) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_tail_days,
       CAST(min(rev) AS DOUBLE) AS worst_day,
       CAST(max(rev) AS DOUBLE) AS var_95,
       CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS expected_shortfall_95
FROM tail
"""


@query("ts_expected_shortfall", oracle=_CVAR_ORACLE)
def ts_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR) of daily revenue at the 95% level: the
    mean of the worst 5% days — the coherent tail-risk measure that,
    unlike plain VaR (the cutoff itself, also reported), accounts for
    HOW bad the bad days get. Exact decimal revenue, rank-based tail
    selection with deterministic (rev, day) ordering, exact decimal tail
    mean — no float ambiguity anywhere."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    ranked = daily.select(
        "rev",
        F.row_number().over(Win.orderBy("rev", "day")).alias("rnk"),
        F.count(F.lit(1)).over(Win.partitionBy()).alias("n"),
    )
    tail = ranked.where(
        F.col("rnk") <= F.ceil(0.05 * F.col("n")).cast("long")
    )
    return tail.agg(
        F.any_value("n").cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_tail_days"),
        F.min("rev").cast("double").alias("worst_day"),
        F.max("rev").cast("double").alias("var_95"),
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias(
            "expected_shortfall_95"
        ),
    )


_RSI_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
    FROM orders GROUP BY 1
),
diffs AS (
    SELECT day,
           rev - lag(rev) OVER (ORDER BY day) AS d,
           ROW_NUMBER() OVER (ORDER BY day) AS rn
    FROM daily
),
gl AS (
    SELECT day, rn,
           CAST(CASE WHEN d > 0 THEN d ELSE 0 END
                AS DECIMAL(38,6)) AS gain,
           CAST(CASE WHEN d < 0 THEN -d ELSE 0 END
                AS DECIMAL(38,6)) AS loss
    FROM diffs WHERE d IS NOT NULL
),
win AS (
    SELECT day, rn,
           CAST(SUM(gain) OVER w AS DOUBLE) AS g14,
           CAST(SUM(loss) OVER w AS DOUBLE) AS l14
    FROM gl
    WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day,
       round(CASE WHEN l14 = 0 THEN 100
                  ELSE 100 - 100 / (1 + g14 / l14) END, 6) AS rsi_14
FROM win
WHERE rn >= 15
"""


@query("ts_rsi_momentum", oracle=_RSI_ORACLE)
def ts_rsi_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI of daily revenue (SMA variant): average gain vs average
    loss over a trailing window, RSI = 100 − 100/(1+RS) — the
    overbought/oversold momentum gauge, here flagging demand surges and
    slumps. Gains/losses are exact decimal differences summed in a
    bounded ROWS frame (the all-gain edge maps to RSI 100 explicitly);
    one series sort, per-entity partitionBy at scale."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    w_ord = Win.orderBy("day")
    diffs = daily.select(
        "day",
        (F.col("rev") - F.lag("rev").over(w_ord)).alias("d"),
        F.row_number().over(w_ord).alias("rn"),
    ).where(F.col("d").isNotNull())
    gl = diffs.select(
        "day",
        "rn",
        F.when(F.col("d") > 0, F.col("d"))
        .otherwise(F.lit(0))
        .cast("decimal(38,6)")
        .alias("gain"),
        F.when(F.col("d") < 0, -F.col("d"))
        .otherwise(F.lit(0))
        .cast("decimal(38,6)")
        .alias("loss"),
    )
    w14 = Win.orderBy("day").rowsBetween(-13, Win.currentRow)
    win = gl.select(
        "day",
        "rn",
        F.sum("gain").over(w14).cast("double").alias("g14"),
        F.sum("loss").over(w14).cast("double").alias("l14"),
    )
    rsi = F.when(F.col("l14") == 0, F.lit(100.0)).otherwise(
        100 - 100 / (1 + F.col("g14") / F.col("l14"))
    )
    return win.where(F.col("rn") >= 15).select(
        "day", F.round(rsi, 6).alias("rsi_14")
    )


_PATHS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
),
tri AS (
    SELECT event_type || ' > '
               || lead(event_type, 1) OVER w2 || ' > '
               || lead(event_type, 2) OVER w2 AS path3,
           lead(ts, 2) OVER w2 AS t3
    FROM sess
    WINDOW w2 AS (PARTITION BY user_id, session_seq
                  ORDER BY ts, event_id)
)
SELECT path3, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM tri
WHERE t3 IS NOT NULL
GROUP BY path3
ORDER BY n_occurrences DESC, path3
LIMIT 15
"""


@query("ts_session_path_trigrams", oracle=_PATHS_ORACLE)
def ts_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 15 most common 3-step event sequences WITHIN a
    session — where funnel analysis checks a hypothesized order, this
    discovers the orders users actually take. One user-keyed shuffle
    covers sessionization and the in-session lead window (same sort
    order reused); trigram counts map-side combine on the path string;
    top-15 plans as TakeOrderedAndProject."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        session_seq().alias("session_seq"),
    )
    w2 = W.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    tri = sess.select(
        F.concat_ws(
            " > ",
            "event_type",
            F.lead("event_type", 1).over(w2),
            F.lead("event_type", 2).over(w2),
        ).alias("path3"),
        F.lead("ts", 2).over(w2).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        tri.groupBy("path3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path3")
        .limit(15)
    )


_ATTRIBUTION_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS s
    FROM seq
),
conv AS (
    SELECT user_id, s, min(ts) AS conv_ts,
           min(event_id) FILTER (WHERE event_type = 'purchase'
                                 AND ts = pts) AS conv_id
    FROM (SELECT *, min(ts) FILTER (WHERE event_type = 'purchase')
                    OVER (PARTITION BY user_id, s) AS pts
          FROM sess)
    WHERE pts IS NOT NULL AND event_type = 'purchase' AND ts = pts
    GROUP BY user_id, s
),
path AS (
    SELECT e.user_id, e.s, e.event_id, e.event_type, e.ts,
           c.conv_ts, c.conv_id
    FROM sess e JOIN conv c ON c.user_id = e.user_id AND c.s = e.s
    WHERE e.ts < c.conv_ts
       OR (e.ts = c.conv_ts AND e.event_id < c.conv_id)
),
sized AS (
    SELECT *,
           CAST(COUNT(*) OVER (PARTITION BY user_id, s) AS BIGINT) AS n,
           row_number() OVER (PARTITION BY user_id, s
                              ORDER BY ts, event_id) AS rn
    FROM path
)
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT)
           AS first_touch_conversions,
       CAST(COUNT(*) FILTER (WHERE rn = n) AS BIGINT)
           AS last_touch_conversions,
       CAST(SUM(CAST(round(1.0 / n, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS linear_credit
FROM sized
GROUP BY event_type
"""


@query("ts_multi_touch_attribution", oracle=_ATTRIBUTION_ORACLE)
def ts_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-model comparison on purchase paths: for every session
    that converts, the pre-purchase touches split credit three ways —
    first-touch, last-touch, and linear (1/n each, quantized to the
    6-dp grid per touch so the decimal credit sum is exact) — the
    side-by-side that shows HOW MUCH the model choice moves budget
    before anyone argues about it. One user-keyed shuffle covers
    sessionization, conversion anchoring, and path sizing."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        session_seq().alias("s"),
    )
    ws = W.partitionBy("user_id", "s")
    with_p = sess.withColumn(
        "pts",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(
            ws
        ),
    )
    conv = (
        with_p.where(
            F.col("pts").isNotNull()
            & (F.col("event_type") == "purchase")
            & (F.col("ts") == F.col("pts"))
        )
        .groupBy("user_id", "s")
        .agg(
            F.min("ts").alias("conv_ts"),
            F.min("event_id").alias("conv_id"),
        )
    )
    path = sess.join(conv, ["user_id", "s"]).where(
        (F.col("ts") < F.col("conv_ts"))
        | (
            (F.col("ts") == F.col("conv_ts"))
            & (F.col("event_id") < F.col("conv_id"))
        )
    )
    sized = path.select(
        "event_type",
        F.count(F.lit(1)).over(ws).cast("long").alias("n"),
        F.row_number()
        .over(ws.orderBy("ts", "event_id"))
        .alias("rn"),
    )
    return sized.groupBy("event_type").agg(
        F.count(F.when(F.col("rn") == 1, 1)).cast("long").alias(
            "first_touch_conversions"
        ),
        F.count(F.when(F.col("rn") == F.col("n"), 1)).cast("long").alias(
            "last_touch_conversions"
        ),
        F.sum(
            F.round(1.0 / F.col("n"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("linear_credit"),
    )


_GRANGER_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS DOUBLE)
               AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               AS y
    FROM events GROUP BY 1
),
lagged AS (
    SELECT y,
           lag(y) OVER (ORDER BY day) AS y1,
           lag(x) OVER (ORDER BY day) AS x1
    FROM daily
),
obs AS (SELECT y, y1, x1 FROM lagged WHERE y1 IS NOT NULL),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(y) AS sy, SUM(y1) AS s1, SUM(x1) AS s2,
           SUM(y1 * y1) AS s11, SUM(y1 * x1) AS s12,
           SUM(x1 * x1) AS s22,
           SUM(y * y1) AS s1y, SUM(y * x1) AS s2y,
           SUM(y * y) AS syy
    FROM obs
),
runs AS (
    SELECT n, sy, syy,
           syy - sy * sy / n AS sst,
           (syy - sy * sy / n)
             - (s1y - s1 * sy / n) * (s1y - s1 * sy / n)
               / (s11 - s1 * s1 / n) AS ssr_restricted
    FROM s
),
beta AS (
    SELECT n, sy, syy, s1, s2, s1y, s2y, s11, s12, s22,
           n * (s11 * s22 - s12 * s12)
             - s1 * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s12 - s11 * s2) AS det
    FROM s
),
full_fit AS (
    SELECT n, syy, sy, s1y, s2y,
           ((s11 * s22 - s12 * s12) * sy
            + (s12 * s2 - s1 * s22) * s1y
            + (s1 * s12 - s11 * s2) * s2y) / det AS b0,
           ((s12 * s2 - s1 * s22) * sy
            + (n * s22 - s2 * s2) * s1y
            + (s1 * s2 - n * s12) * s2y) / det AS b1,
           ((s1 * s12 - s11 * s2) * sy
            + (s1 * s2 - n * s12) * s1y
            + (n * s11 - s1 * s1) * s2y) / det AS b2
    FROM beta
),
fit AS (
    SELECT r.n,
           r.sst,
           r.ssr_restricted,
           f.syy - f.b0 * f.sy - f.b1 * f.s1y - f.b2 * f.s2y AS ssr_full
    FROM runs r, full_fit f
)
SELECT CAST(n AS BIGINT) AS n_days,
       1 - ssr_restricted / sst AS r2_restricted,
       1 - ssr_full / sst AS r2_full,
       ((ssr_restricted - ssr_full) / 1) / (ssr_full / (n - 3))
           AS f_stat
FROM fit
"""


@query("ts_granger_predictive_lift", oracle=_GRANGER_ORACLE)
def ts_granger_predictive_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style predictive-lift test: does YESTERDAY'S click count
    improve today's purchase forecast beyond yesterday's purchases
    alone? Restricted (AR-1) and full (AR-1 + lagged clicks) OLS fits
    both come from ONE pass of exact integer sufficient statistics over
    the lagged daily series; the F-statistic for the added regressor is
    a fixed IEEE dag on those sums. The causal-screening primitive for
    leading-indicator claims."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("double")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("double")
        .alias("y"),
    )
    w = Win.orderBy("day")
    obs = daily.select(
        "y",
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    ).where(F.col("y1").isNotNull())
    s = obs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("s1"),
        F.sum("x1").alias("s2"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11"),
        F.sum(F.col("y1") * F.col("x1")).alias("s12"),
        F.sum(F.col("x1") * F.col("x1")).alias("s22"),
        F.sum(F.col("y") * F.col("y1")).alias("s1y"),
        F.sum(F.col("y") * F.col("x1")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sy, s1, s2 = F.col("sy"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    sst = syy - sy * sy / n
    ssr_restricted = sst - (s1y - s1 * sy / n) * (s1y - s1 * sy / n) / (
        s11 - s1 * s1 / n
    )
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    b0 = (
        (s11 * s22 - s12 * s12) * sy
        + (s12 * s2 - s1 * s22) * s1y
        + (s1 * s12 - s11 * s2) * s2y
    ) / det
    b1 = (
        (s12 * s2 - s1 * s22) * sy
        + (n * s22 - s2 * s2) * s1y
        + (s1 * s2 - n * s12) * s2y
    ) / det
    b2 = (
        (s1 * s12 - s11 * s2) * sy
        + (s1 * s2 - n * s12) * s1y
        + (n * s11 - s1 * s1) * s2y
    ) / det
    ssr_full = syy - b0 * sy - b1 * s1y - b2 * s2y
    return s.select(
        n.cast("long").alias("n_days"),
        (1 - ssr_restricted / sst).alias("r2_restricted"),
        (1 - ssr_full / sst).alias("r2_full"),
        (
            ((ssr_restricted - ssr_full) / 1)
            / (ssr_full / (n - 3))
        ).alias("f_stat"),
    )


_OVERDISP_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(c) AS DOUBLE) AS sc,
           CAST(SUM(c * c) AS DOUBLE) AS scc
    FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       sc / n AS mean_daily,
       (scc - sc * sc / n) / (n - 1) AS var_daily,
       ((scc - sc * sc / n) / (n - 1)) / (sc / n) AS dispersion_index,
       ((scc - sc * sc / n) / (n - 1)) / (sc / n)
           > CAST(1.5 AS DOUBLE) AS overdispersed
FROM s
"""


@query("ts_count_overdispersion", oracle=_OVERDISP_ORACLE)
def ts_count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion audit of daily event counts: the variance-to-mean
    dispersion index per event type — ≈1 means Poisson (bursts are
    chance), ≫1 means clumping that invalidates Poisson-based alert
    thresholds and sample-size math. Exact integer daily counts, exact
    sufficient statistics, fixed IEEE dag, and a flagged verdict
    against a shared double literal."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("scc"),
    )
    mean = F.col("sc") / F.col("n")
    var = (F.col("scc") - F.col("sc") * F.col("sc") / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        mean.alias("mean_daily"),
        var.alias("var_daily"),
        (var / mean).alias("dispersion_index"),
        (var / mean > F.lit(1.5)).alias("overdispersed"),
    )


_RATE_CI_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(c) AS DOUBLE) AS sc
    FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(sc AS BIGINT) AS total_events,
       CAST(n AS BIGINT) AS n_days,
       sc / n AS rate_per_day,
       sc / n - CAST(1.959963984540054 AS DOUBLE) * sqrt(sc) / n
           AS ci95_low,
       sc / n + CAST(1.959963984540054 AS DOUBLE) * sqrt(sc) / n
           AS ci95_high
FROM s
"""


@query("ts_event_rate_ci", oracle=_RATE_CI_ORACLE)
def ts_event_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event rate with a 95% Poisson CI (normal
    approximation, rate ± z·√N/days) — the error bars a volume
    dashboard should draw before anyone reads meaning into a ±5% wiggle.
    Exact counts; z as the shared double literal; sqrt correctly
    rounded — bit-identical."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("sc"),
    )
    rate = F.col("sc") / F.col("n")
    half = F.lit(1.959963984540054) * F.sqrt(F.col("sc")) / F.col("n")
    return s.select(
        "event_type",
        F.col("sc").cast("long").alias("total_events"),
        F.col("n").cast("long").alias("n_days"),
        rate.alias("rate_per_day"),
        (rate - half).alias("ci95_low"),
        (rate + half).alias("ci95_high"),
    )


_ANOVA_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           dayofweek(o_orderdate) AS dow,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
    FROM orders GROUP BY 1, 2
),
g AS (
    SELECT dow,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS s,
           CAST(SUM(CAST(rev * rev AS DECIMAL(38,6))) AS DOUBLE) AS ss
    FROM daily GROUP BY dow
),
tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS nt,
           CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE) AS st,
           CAST(COUNT(*) AS DOUBLE) AS k
    FROM g
),
terms AS (
    SELECT t.nt, t.k,
           CAST(round(g.n * (g.s / g.n - t.st / t.nt)
                          * (g.s / g.n - t.st / t.nt), -3)
                AS DECIMAL(38,0)) AS ssb_term,
           CAST(round(g.ss - g.s * g.s / g.n, -3)
                AS DECIMAL(38,0)) AS ssw_term
    FROM g CROSS JOIN tot t
)
SELECT CAST(any_value(nt) AS BIGINT) AS n_days,
       CAST(any_value(k) AS BIGINT) AS n_groups,
       CAST(SUM(ssb_term) AS DOUBLE) AS ss_between,
       CAST(SUM(ssw_term) AS DOUBLE) AS ss_within,
       (CAST(SUM(ssb_term) AS DOUBLE) / (any_value(k) - 1))
           / (CAST(SUM(ssw_term) AS DOUBLE)
              / (any_value(nt) - any_value(k))) AS f_stat
FROM terms
"""


@query("ts_weekday_anova", oracle=_ANOVA_ORACLE)
def ts_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily revenue across the 7 weekday groups — the
    F-test that says whether ANY day differs before pairwise tests
    start (the >2-group member of the engine's test family). Per-group
    sufficient statistics are decimal-exact, so each group's SSB/SSW
    term is a bit-identical IEEE value; each term rounds onto a 1000-
    unit grid (these sums sit at 1e12–1e13 where double ulp ~1e-3, so
    only a coarse grid is tie-safe) before the exact decimal sum — the
    naive Σs²/n form dies here because at 1e20 magnitudes double ulp
    exceeds any grid and catastrophic cancellation amplifies the
    disagreement."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev")
    )
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("rev").cast("decimal(38,6)")).cast("double").alias("s"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,6)"))
        .cast("double")
        .alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("double").alias("nt"),
        F.sum(F.col("s").cast("decimal(38,6)")).cast("double").alias("st"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    m = F.col("s") / F.col("n")
    grand = F.col("st") / F.col("nt")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "nt",
        "k",
        F.round(F.col("n") * (m - grand) * (m - grand), -3)
        .cast("decimal(38,0)")
        .alias("ssb_term"),
        F.round(
            F.col("ss") - F.col("s") * F.col("s") / F.col("n"), -3
        )
        .cast("decimal(38,0)")
        .alias("ssw_term"),
    )
    out = terms.agg(
        F.any_value("nt").alias("nt"),
        F.any_value("k").alias("k"),
        F.sum("ssb_term").cast("double").alias("ssb"),
        F.sum("ssw_term").cast("double").alias("ssw"),
    )
    return out.select(
        F.col("nt").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("n_groups"),
        F.col("ssb").alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        (
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nt") - F.col("k")))
        ).alias("f_stat"),
    )


_ACF_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS DOUBLE) AS x
    FROM events GROUP BY 1
),
lags AS (SELECT unnest(range(1, 8)) AS lag),
pairs AS (
    SELECT l.lag, a.x AS x, b.x AS y
    FROM lags l
    JOIN daily a ON TRUE
    JOIN daily b ON b.day = a.day - CAST(l.lag AS INT)
)
SELECT CAST(lag AS INT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round((SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
             / (sqrt(SUM(x * x) - SUM(x) * SUM(x) / COUNT(*))
                * sqrt(SUM(y * y) - SUM(y) * SUM(y) / COUNT(*))), 6)
           AS acf
FROM pairs
GROUP BY lag
"""


@query("ts_acf_multi_lag", oracle=_ACF_ORACLE)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1–7 — the weekly-memory profile that picks a forecast model's
    seasonal order (a lag-7 spike says weekly seasonality;
    `ts_autocorr_lag1` only sees one step). The heavy stream collapses
    to ONE bounded daily rollup (≤ calendar days regardless of fact
    size); the 7-lag fan-out and shifted self-join run on that tiny
    frame, so the whole ACF costs one fact shuffle plus joins over
    O(days×lags) rows. Pearson per lag over integer counts — exact
    sums, one rounded division per lag."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("day").alias("b_day"), F.col("x").alias("y")
    )
    pairs = a.join(
        b, F.date_sub(F.col("day"), F.col("lag")) == F.col("b_day")
    )
    x, y = F.col("x"), F.col("y")
    n = F.count(F.lit(1))
    s = pairs.groupBy("lag").agg(
        n.cast("long").alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    np_ = F.col("n_pairs").cast("double")
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / np_) / (
        F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / np_)
        * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / np_)
    )
    return s.select("lag", "n_pairs", F.round(corr, 6).alias("acf"))


_ISLANDS_ORACLE = """
WITH d AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
grp AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
    FROM d
),
runs AS (
    SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM grp GROUP BY user_id, anchor
)
SELECT user_id, streak_start, streak_end, streak_days
FROM runs WHERE streak_days >= 3
"""


@query("window_gaps_islands", oracle=_ISLANDS_ORACLE)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days
    (streaks ≥ 3), via the classic date-minus-row_number anchor — every
    day of one unbroken run lands on the same anchor date, so islands
    fall out of a plain groupBy with no self-join or iteration. Distinct
    (user, day) first (bounded by user×calendar, not events); one
    user-partitioned window sort, one aggregation — both on the same
    user_id exchange. The streak table feeds retention/habit metrics
    that `window_longest_streak` summarizes and this query itemizes."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    grp = d.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ).alias("anchor"),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("long").alias("streak_days"),
    )
    return runs.where(F.col("streak_days") >= 3).select(
        "user_id", "streak_start", "streak_end", "streak_days"
    )


_DECOMPOSE_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
tw AS (
    SELECT day, x,
           CASE WHEN COUNT(*) OVER w = 7
                THEN CAST(SUM(x) OVER w AS DOUBLE) / 7 END AS trend
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT day, x, trend, round(x - trend, 6) AS d,
           CAST(EXTRACT(dow FROM day) + 1 AS INT) AS wd
    FROM tw WHERE trend IS NOT NULL
),
seas AS (
    SELECT wd,
           round(CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS m
    FROM det GROUP BY wd
),
ctr AS (
    SELECT CAST(SUM(CAST(m AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
    FROM seas
)
SELECT det.day, det.x AS n_events, det.trend,
       round(seas.m - ctr.c, 6) AS seasonal,
       round(det.d - round(seas.m - ctr.c, 6), 6) AS remainder
FROM det JOIN seas USING (wd) CROSS JOIN ctr
"""


@query("ts_seasonal_decompose_additive", oracle=_DECOMPOSE_ORACLE)
def ts_seasonal_decompose_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of the daily event-count series:
    trend = centered 7-observation moving average (full windows only),
    weekly seasonal = mean-centered weekday means of the detrended
    series, remainder = what neither explains — the
    anomaly-vs-seasonality separator behind `ts_anomalous_days` (an
    alert on raw counts fires every weekend; on the remainder it fires
    on real incidents). The fact stream collapses to the bounded daily
    rollup first; one 7-row window, one 7-group aggregate, one
    broadcast-back. Every mean is decimal-routed and 6-dp-rounded so
    both engines agree bit-for-bit."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    tw = daily.select(
        "day",
        "x",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum("x").over(w7).cast("double") / 7,
        ).alias("trend"),
    )
    det = tw.where(F.col("trend").isNotNull()).select(
        "day",
        "x",
        "trend",
        F.round(F.col("x") - F.col("trend"), 6).alias("d"),
        F.dayofweek("day").alias("wd"),
    )
    seas = det.groupBy("wd").agg(
        F.round(
            F.sum(F.col("d").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m")
    )
    ctr = seas.agg(
        (
            F.sum(F.col("m").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    seasonal = F.round(F.col("m") - F.col("c"), 6)
    return (
        det.join(F.broadcast(seas), "wd")
        .crossJoin(F.broadcast(ctr))
        .select(
            "day",
            F.col("x").alias("n_events"),
            "trend",
            seasonal.alias("seasonal"),
            F.round(F.col("d") - seasonal, 6).alias("remainder"),
        )
    )


_RANGE7D_ORACLE = """
WITH daily AS (
    SELECT CAST(datediff('day', DATE '1995-01-01', o_orderdate)
                AS BIGINT) AS dayn,
           min(o_orderdate) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY 1
)
SELECT day, revenue,
       CAST(SUM(CAST(revenue AS DECIMAL(38,6))) OVER (
           ORDER BY dayn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS trailing_7d_revenue,
       CAST(COUNT(*) OVER (
           ORDER BY dayn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS BIGINT) AS days_in_window
FROM daily
"""


@query("window_range_trailing_7d", oracle=_RANGE7D_ORACLE)
def window_range_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-CALENDAR-day revenue via a value-based RANGE window
    frame — the frame kind a ROWS window silently gets wrong whenever
    days are missing (ROWS -6 spans 7 *observations*, RANGE 6 PRECEDING
    spans 7 *days*; `days_in_window` exposes the difference). Daily
    rollup first (bounded), then one RANGE window over the integer day
    number; revenue sums are decimal-routed at both levels."""
    from pyspark.sql import Window as W, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("dayn")
    ).agg(
        F.min("o_orderdate").alias("day"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue"),
    )
    w = W.orderBy("dayn").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_revenue"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_in_window"),
    )


_DW_ORACLE = """
WITH daily AS (
    SELECT CAST(datediff('day', DATE '1995-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS DOUBLE)
               AS t,
           CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1
),
fit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(t) AS st, SUM(y) AS sy,
           SUM(t * y) AS sty, SUM(t * t) AS stt
    FROM daily
),
resid AS (
    SELECT d.t,
           d.y - ((f.sty - f.st * f.sy / f.n)
                  / (f.stt - f.st * f.st / f.n)) * d.t
               - (f.sy / f.n - ((f.sty - f.st * f.sy / f.n)
                                / (f.stt - f.st * f.st / f.n))
                  * (f.st / f.n)) AS e
    FROM daily d CROSS JOIN fit f
),
lagged AS (
    SELECT e, lag(e) OVER (ORDER BY t) AS pe FROM resid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(SUM(CAST(round(CASE WHEN pe IS NOT NULL
                      THEN (e - pe) * (e - pe) ELSE 0 END, 6)
                      AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(38,6)))
                    AS DOUBLE), 6) AS durbin_watson
FROM lagged
"""


@query("ts_durbin_watson", oracle=_DW_ORACLE)
def ts_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic on the residuals of the
    daily-count OLS trend — the 'are my regression errors independent'
    check (DW ≈ 2 independent, → 0 positively autocorrelated: the
    standard errors of `agg_linear_trend`-style fits are lies and the
    series needs `ts_acf_multi_lag` treatment). The fact stream
    collapses to the bounded daily rollup; OLS comes from one moment
    aggregate broadcast back; one bounded window for the lag. Integer
    t/y keep every sum exact; the two quadratic-form sums divide once,
    rounded to the hash grid."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("double")
        .alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    fit = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    slope = (F.col("sty") - st * sy / n) / (F.col("stt") - st * st / n)
    icept = sy / n - slope * (st / n)
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "t", (F.col("y") - slope * F.col("t") - icept).alias("e")
    )
    lagged = resid.select(
        "e", F.lag("e").over(W.orderBy("t")).alias("pe")
    )
    e, pe = F.col("e"), F.col("pe")
    # Quadratic-form terms quantize to 6 decimals then DECIMAL-sum
    # (the repo's order-independent float discipline) — per-row values
    # are identical IEEE dags in both engines, so the quantized sums
    # match bit-for-bit under any partitioning.
    num_term = F.round(
        F.when(pe.isNotNull(), (e - pe) * (e - pe)).otherwise(0.0), 6
    ).cast("decimal(38,6)")
    den_term = F.round(e * e, 6).cast("decimal(38,6)")
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum(num_term).cast("double")
            / F.sum(den_term).cast("double"),
            6,
        ).alias("durbin_watson"),
    )


_MK_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
pairs AS (
    SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                         WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
    FROM daily a JOIN daily b ON b.day > a.day
),
ties AS (
    SELECT CAST(COALESCE(SUM(g * (g - 1) * (2 * g + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM daily GROUP BY y)
    WHERE g > 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
SELECT n.n AS n_days,
       pairs.s AS s_stat,
       round((CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                   AS DOUBLE)) / 18.0, 6) AS var_s,
       round(CASE
           WHEN pairs.s > 0 THEN (CAST(pairs.s AS DOUBLE) - 1)
               / sqrt((CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                            AS DOUBLE)) / 18.0)
           WHEN pairs.s < 0 THEN (CAST(pairs.s AS DOUBLE) + 1)
               / sqrt((CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                            AS DOUBLE)) / 18.0)
           ELSE 0.0 END, 6) AS z_score
FROM n, pairs, ties
"""


@query("ts_mann_kendall_trend", oracle=_MK_ORACLE)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric monotonic-trend test on the daily
    event-count series — the rank-based alternative to
    `agg_linear_trend`'s OLS slope that survives outliers and any
    monotone transform (the reference's window extracts feed dashboards
    where 'is volume trending up' must not hinge on normality). The
    fact stream collapses to the bounded daily rollup first, so the
    O(days²) sign-pair join runs on a ≤calendar-days frame (broadcast,
    never a fact-table cartesian); the tie-corrected variance
    n(n-1)(2n+5)-Σg(g-1)(2g+5) over 18 and the continuity-corrected
    z-score are pure integer arithmetic until the two final rounded
    divisions, so the hash is partition-invariant by construction."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = daily.select(F.col("day").alias("a_day"), F.col("y").alias("a_y"))
    b = daily.select(F.col("day").alias("b_day"), F.col("y").alias("b_y"))
    s = (
        a.join(F.broadcast(b), F.col("b_day") > F.col("a_day"))
        .agg(
            F.sum(
                F.when(F.col("b_y") > F.col("a_y"), F.lit(1))
                .when(F.col("b_y") < F.col("a_y"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("g"))
        .where(F.col("g") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("g")
                    * (F.col("g") - 1)
                    * (2 * F.col("g") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    combined = n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    nn = F.col("n")
    var_s = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term")).cast("double")
        / 18.0
    )
    sd = F.col("s").cast("double")
    z = (
        F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return combined.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
    )


_PH_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
run AS (
    SELECT day, y,
           SUM(y) OVER w AS cum_y,
           CAST(row_number() OVER w AS BIGINT) AS t
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
dev AS (
    SELECT day, t,
           CAST(round(CAST(y AS DOUBLE)
                      - CAST(cum_y AS DOUBLE) / CAST(t AS DOUBLE), 6)
                AS DECIMAL(38,6)) AS d
    FROM run
),
cum AS (
    SELECT day, SUM(d) OVER w AS m_t
    FROM dev
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
m AS (
    SELECT day, m_t,
           MIN(m_t) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS min_m
    FROM cum
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(max(m_t - min_m) AS DOUBLE), 6) AS ph_stat,
       MIN(CASE WHEN m_t = (SELECT MIN(m_t) FROM m) THEN day END)
           AS trough_day
FROM m
"""


@query("ts_page_hinkley_drift", oracle=_PH_ORACLE)
def ts_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift drift statistic on daily event counts —
    the sequential change detector a streaming ingest monitor runs to
    catch 'volume stepped up and never came back' (complements
    `window_cusum_changepoint`, which tests a KNOWN split; PH scans all
    of them online). Deviations from the RUNNING mean (exact integer
    cumsum / t) are quantized to the 6-dp grid and cumulated as
    DECIMAL — associative, so the running sums are identical across
    engines and partitionings; the PH statistic max_t(m_t - min_{i<=t}
    m_i) and the trough day (min_by) come from one ordered window pass
    over the bounded daily frame."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    run = daily.select(
        "day",
        F.round(
            F.col("y").cast("double")
            - F.sum("y").over(w).cast("double")
            / F.row_number().over(W.orderBy("day")).cast("double"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("d"),
    )
    m = run.select(
        "day",
        F.sum("d").over(w).alias("m_t"),
    )
    m = m.select(
        "day",
        "m_t",
        F.min("m_t").over(w).alias("min_m"),
    )
    # Trough day ties deterministically to the EARLIEST day achieving
    # the global minimum of m_t (day 1 always has deviation 0, so a
    # 0-valued minimum genuinely ties) — min over the (m_t, day) struct
    # orders lexicographically in both engines' scalar-CASE form.
    gmin = m.agg(F.min("m_t").alias("gmin"))
    return m.crossJoin(F.broadcast(gmin)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.max(F.col("m_t") - F.col("min_m")).cast("double"), 6
        ).alias("ph_stat"),
        F.min(
            F.when(F.col("m_t") == F.col("gmin"), F.col("day"))
        ).alias("trough_day"),
    )


_PACF_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
stats AS (
    SELECT CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS xbar
    FROM daily
),
centered AS (
    SELECT d.day, CAST(d.y AS DOUBLE) - s.xbar AS c
    FROM daily d CROSS JOIN stats s
),
lagged AS (
    SELECT c,
           lag(c, 1) OVER (ORDER BY day) AS c1,
           lag(c, 2) OVER (ORDER BY day) AS c2,
           lag(c, 3) OVER (ORDER BY day) AS c3
    FROM centered
),
sums AS (
    SELECT
        CAST(SUM(CAST(round(c * c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s0,
        CAST(SUM(CAST(round(c * c1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(round(c * c2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        CAST(SUM(CAST(round(c * c3, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s3
    FROM lagged
),
acf AS (
    SELECT s1 / s0 AS r1, s2 / s0 AS r2, s3 / s0 AS r3 FROM sums
)
SELECT round(r1, 6) AS pacf_1,
       round((r2 - r1 * r1) / (1 - r1 * r1), 6) AS pacf_2,
       round((r3 - (r1 * (1 - r2) / (1 - r1 * r1)) * r2
              - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)
             / (1 - (r1 * (1 - r2) / (1 - r1 * r1)) * r1
                - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2), 6) AS pacf_3
FROM acf
"""


@query("ts_pacf_durbin_levinson", oracle=_PACF_ORACLE)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event-count series at lags
    1-3 via the closed-form Durbin-Levinson recursion — the AR-order
    picker that `ts_acf_multi_lag` cannot provide (ACF of an AR(1)
    decays forever; PACF cuts off at the true order). One bounded daily
    rollup, one global-mean broadcast, three row-lag windows on the
    same day-ordered sort; every cross-product term is quantized to the
    6-dp grid and summed as DECIMAL so the autocovariances — and hence
    the recursion's rational functions of r1..r3 — are bit-identical
    across engines regardless of partitioning."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    stats = daily.agg(
        (
            F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("xbar")
    )
    centered = daily.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("y").cast("double") - F.col("xbar")).alias("c")
    )
    wo = W.orderBy("day")
    lagged = centered.select(
        "c",
        F.lag("c", 1).over(wo).alias("c1"),
        F.lag("c", 2).over(wo).alias("c2"),
        F.lag("c", 3).over(wo).alias("c3"),
    )

    def dsum6(expr):
        return F.sum(F.round(expr, 6).cast("decimal(38,6)")).cast("double")

    c = F.col("c")
    sums = lagged.agg(
        dsum6(c * c).alias("s0"),
        dsum6(c * F.col("c1")).alias("s1"),
        dsum6(c * F.col("c2")).alias("s2"),
        dsum6(c * F.col("c3")).alias("s3"),
    )
    r1 = F.col("s1") / F.col("s0")
    r2 = F.col("s2") / F.col("s0")
    r3 = F.col("s3") / F.col("s0")
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 * (1 - r2) / (1 - r1 * r1)
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        1 - phi21 * r1 - phi22 * r2
    )
    return sums.select(
        F.round(r1, 6).alias("pacf_1"),
        F.round(phi22, 6).alias("pacf_2"),
        F.round(phi33, 6).alias("pacf_3"),
    )


_HURST_ORACLE = """
WITH daily AS (
    SELECT CAST(datediff('day', DATE '1995-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               AS t,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
sizes AS (SELECT unnest([1, 2, 4, 8, 16]) AS m),
blocks AS (
    SELECT s.m, d.t // s.m AS blk,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(d.y) AS BIGINT) AS sy
    FROM daily d CROSS JOIN sizes s
    GROUP BY s.m, d.t // s.m
),
vars AS (
    SELECT m, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sy) AS BIGINT) AS ssy,
           CAST(SUM(sy * sy) AS BIGINT) AS ssy2
    FROM blocks WHERE cnt = m
    GROUP BY m HAVING COUNT(*) >= 2
),
pts AS (
    SELECT CAST(round(ln(CAST(m AS DOUBLE)), 6) AS DECIMAL(38,6)) AS lx,
           CAST(round(ln(((CAST(ssy2 AS DOUBLE)
                           - CAST(ssy AS DOUBLE) * CAST(ssy AS DOUBLE)
                             / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE))
                         / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))), 6)
                AS DECIMAL(38,6)) AS ly
    FROM vars
),
fit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS np,
           CAST(SUM(lx) AS DOUBLE) AS sx,
           CAST(SUM(ly) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sxx
    FROM pts
)
SELECT CAST(np AS BIGINT) AS n_sizes,
       round((sxy - sx * sy / np) / (sxx - sx * sx / np), 6) AS slope,
       round(1.0 + ((sxy - sx * sy / np) / (sxx - sx * sx / np)) / 2.0, 6)
           AS hurst
FROM fit
"""


@query("ts_hurst_aggregated_variance", oracle=_HURST_ORACLE)
def ts_hurst_aggregated_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by the
    aggregated-variance method — long-range-dependence detector (H≈0.5
    short memory, H→1 persistent) that tells a capacity planner whether
    traffic bursts cluster across weeks (var of m-day block means decays
    like m^(2H-2); slope of the log-log fit gives H). Per-m block
    variances come from pure INTEGER sufficient statistics (Σsy, Σsy² —
    exact under any combine order; var = (Σsy²-(Σsy)²/k)/k/m² is then
    one fixed scalar dag), only complete blocks count, and the 5-point
    log-log regression routes its quantized log terms through DECIMAL
    sums — the whole statistic is partition-invariant on top of one
    bounded daily rollup."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1995-01-01").cast("date"),
        ).alias("t")
    ).agg(F.count(F.lit(1)).alias("y"))
    sizes = spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "m int")
    blocks = (
        daily.crossJoin(F.broadcast(sizes))
        .groupBy(
            "m", F.floor(F.col("t") / F.col("m")).cast("long").alias("blk")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("y").alias("sy"),
        )
    )
    vars_ = (
        blocks.where(F.col("cnt") == F.col("m"))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("sy").alias("ssy"),
            F.sum(F.col("sy") * F.col("sy")).alias("ssy2"),
        )
        .where(F.col("k") >= 2)
    )
    kd = F.col("k").cast("double")
    md = F.col("m").cast("double")
    var_m = (
        (
            F.col("ssy2").cast("double")
            - F.col("ssy").cast("double") * F.col("ssy").cast("double") / kd
        )
        / kd
    ) / (md * md)
    pts = vars_.select(
        F.round(F.log(md), 6).cast("decimal(38,6)").alias("lx"),
        F.round(F.log(var_m), 6).cast("decimal(38,6)").alias("ly"),
    )
    lxd = F.col("lx").cast("double")
    lyd = F.col("ly").cast("double")
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("np"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.round(lxd * lyd, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(lxd * lxd, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    npc = F.col("np")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / npc) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / npc
    )
    return fit.select(
        npc.cast("long").alias("n_sizes"),
        F.round(slope, 6).alias("slope"),
        F.round(1.0 + slope / 2.0, 6).alias("hurst"),
    )


_MARKOV_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
),
rowm AS (
    SELECT prev_type, CAST(SUM(n) AS BIGINT) AS nr
    FROM trans GROUP BY prev_type
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nt FROM trans)
SELECT CAST(any_value(t2.nt) AS BIGINT) AS n_transitions,
       CAST(COUNT(DISTINCT tr.prev_type) AS BIGINT) AS n_states,
       round(-CAST(SUM(CAST(round(
                 (tr.n / t2.nt)
                 * ln(CAST(tr.n AS DOUBLE) / CAST(r.nr AS DOUBLE)), 6)
             AS DECIMAL(38,6))) AS DOUBLE), 6) AS entropy_rate_nats
FROM trans tr
JOIN rowm r USING (prev_type)
CROSS JOIN tot t2
"""


@query("ts_markov_entropy_rate", oracle=_MARKOV_ORACLE)
def ts_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical first-order Markov entropy rate of per-user event-type
    sequences — how predictable the NEXT action is given the current
    one (complements `ts_session_path_trigrams`' raw paths and
    `agg_entropy_categorical`'s memoryless entropy: rate << marginal
    entropy means strong sequential structure worth a sequence model).
    One user-partitioned lag window (ties broken by event_id so the
    transition table is engine-invariant), then everything runs on the
    bounded states² transition matrix; each π_i·P_ij·ln P_ij term is
    quantized to the 6-dp grid and DECIMAL-summed."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rowm = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("nr")
    )
    tot = trans.agg(F.sum("n").cast("double").alias("nt"))
    term = F.round(
        (F.col("n") / F.col("nt"))
        * F.log(F.col("n").cast("double") / F.col("nr").cast("double")),
        6,
    ).cast("decimal(38,6)")
    return (
        trans.join(F.broadcast(rowm), "prev_type")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.any_value("nt").cast("long").alias("n_transitions"),
            F.countDistinct("prev_type").alias("n_states"),
            F.round(-F.sum(term).cast("double"), 6).alias(
                "entropy_rate_nats"
            ),
        )
    )


_GUMBEL_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           max(value) AS mx
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
    GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(mx AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(mx * mx AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM daily
),
fit AS (
    SELECT n,
           sqrt((s2 - (s1 / n) * s1) / (n - 1))
               * CAST(0.7796968012336761 AS DOUBLE) AS beta,
           s1 / n AS mean
    FROM s
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(mean - CAST(0.5772156649015329 AS DOUBLE) * beta, 6) AS mu,
       round(beta, 6) AS beta,
       round((mean - CAST(0.5772156649015329 AS DOUBLE) * beta)
             - beta * ln(-ln(CAST(0.99 AS DOUBLE))), 6)
           AS return_level_q99
FROM fit
"""


@query("ts_gumbel_daily_max_fit", oracle=_GUMBEL_ORACLE)
def ts_gumbel_daily_max_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit to the daily maxima of event values by
    the method of moments (β = s·√6/π, μ = mean − γβ) with the implied
    99% return level μ − β·ln(−ln 0.99) — the block-maxima EVT answer
    to 'how big a spike should we provision for' that
    `ts_expected_shortfall`'s empirical tail cannot extrapolate beyond
    observed data. Daily maxima are exact (max of on-grid values); the
    moment sums are DECIMAL-routed; √6/π and Euler-Mascheroni enter as
    shared double literals so the scalar dag is bit-identical."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    daily = (
        ev.where(~F.isnan(v) & (F.abs(v) != float("inf")))
        .groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .agg(F.max(v).alias("mx"))
    )
    mx = F.col("mx")
    s = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(mx.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((mx * mx).cast("decimal(38,6)")).cast("double").alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    beta = (
        F.sqrt((F.col("s2") - mean * F.col("s1")) / (n - 1))
        * F.lit(0.7796968012336761)
    )
    mu = mean - F.lit(0.5772156649015329) * beta
    return s.select(
        n.cast("long").alias("n_days"),
        F.round(mu, 6).alias("mu"),
        F.round(beta, 6).alias("beta"),
        F.round(
            mu - beta * F.log(-F.log(F.lit(0.99))), 6
        ).alias("return_level_q99"),
    )


_HOLT_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev_usd
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev_usd,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS rn
    FROM daily
),
s1 AS (
    SELECT day, rev_usd, rn,
           POWER(0.9, rn)
               * SUM(rev_usd * POWER(0.9, -rn))
                     OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING
                           AND CURRENT ROW)
               / ((1 - POWER(0.9, LEAST(rn, 30))) / 0.1) AS s1v
    FROM seq
),
s2 AS (
    SELECT day, rev_usd, s1v,
           POWER(0.9, rn)
               * SUM(s1v * POWER(0.9, -rn))
                     OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING
                           AND CURRENT ROW)
               / ((1 - POWER(0.9, LEAST(rn, 30))) / 0.1) AS s2v
    FROM s1
)
SELECT day, rev_usd,
       ROUND(2 * s1v - s2v, 2) + 0.0 AS level_usd,
       ROUND((0.1 / 0.9) * (s1v - s2v), 4) + 0.0 AS trend_usd,
       ROUND(2 * s1v - s2v + 7 * (0.1 / 0.9) * (s1v - s2v), 2) + 0.0
           AS forecast_7d_usd
FROM s2
"""


@query("ts_holt_linear_forecast", oracle=_HOLT_ORACLE)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing on daily revenue (alpha=0.1):
    level = 2·S′−S″, trend = α/(1−α)·(S′−S″), 7-day-ahead forecast —
    the first trend-aware forecaster past `ts_ewma_revenue`'s flat
    smoothing (an EWMA lags a trending series by design; Brown's second
    smoothing estimates and corrects that lag). Both smoothing passes
    reuse the closed-form bounded-window EWMA (`0.9^t · Σ x_i/0.9^i`
    over 29 preceding rows, loss-free rescale), so the recursion Spark
    windows can't express stays two ordinary window sums over ONE
    ~2.4k-row daily series — at 100 TB the identical plan runs per
    entity with partitionBy; forecasts quantize to cents above double
    noise."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev_usd")
    seq = daily.withColumn(
        "rn", F.row_number().over(Win.orderBy("day")).cast("double")
    )
    frame = Win.orderBy("day").rowsBetween(-29, Win.currentRow)
    den = (1 - F.pow(F.lit(0.9), F.least(F.col("rn"), F.lit(30.0)))) / 0.1

    def smooth(col):
        return (
            F.pow(F.lit(0.9), F.col("rn"))
            * F.sum(col * F.pow(F.lit(0.9), -F.col("rn"))).over(frame)
            / den
        )

    s1 = seq.withColumn("s1v", smooth(F.col("rev_usd")))
    s2 = s1.withColumn("s2v", smooth(F.col("s1v")))
    level = 2 * F.col("s1v") - F.col("s2v")
    trend = (F.lit(0.1) / 0.9) * (F.col("s1v") - F.col("s2v"))
    return s2.select(
        "day",
        "rev_usd",
        (F.round(level, 2) + 0.0).alias("level_usd"),
        (F.round(trend, 4) + 0.0).alias("trend_usd"),
        (F.round(level + 7 * trend, 2) + 0.0).alias("forecast_7d_usd"),
    )


_SPRT_ORACLE = """
WITH arm AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                AS BIGINT) AS k
    FROM events
    WHERE user_id % 2 = 1
    GROUP BY 1
),
llr AS (
    SELECT day, n, k,
           CAST(round(k * ln(CAST(0.22 AS DOUBLE) / CAST(0.18 AS DOUBLE))
                      + (n - k) * ln(CAST(0.78 AS DOUBLE)
                                     / CAST(0.82 AS DOUBLE)), 6)
                AS DECIMAL(38,6)) AS d_llr
    FROM arm
)
SELECT day, n, k,
       CAST(d_llr AS DOUBLE) AS day_llr,
       CAST(SUM(d_llr) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE) AS cum_llr,
       CASE
           WHEN CAST(SUM(d_llr) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) >= ln(CAST(0.95 AS DOUBLE)
                                     / CAST(0.05 AS DOUBLE))
               THEN 'accept_h1'
           WHEN CAST(SUM(d_llr) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) <= -ln(CAST(0.95 AS DOUBLE)
                                      / CAST(0.05 AS DOUBLE))
               THEN 'accept_h0'
           ELSE 'continue'
       END AS decision
FROM llr
"""


@query("ts_sprt_ab_monitor", oracle=_SPRT_ORACLE)
def ts_sprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the treatment arm's
    daily purchase rate (H0: p=0.18 vs H1: p=0.22, α=β=0.05): per-day
    Bernoulli log-likelihood-ratio increments, the running sum, and the
    continue / accept decision per day — the always-valid monitor that
    lets an experiment stop EARLY without the peeking penalty a
    fixed-horizon z-test pays (`agg_cuped_variance_reduction` shrinks
    the variance; SPRT shrinks the calendar). Daily increments are a
    fixed dag over integer (n, k) and literal-rate logs, quantized to
    the 6-dp DECIMAL grid so the running sum is exact and
    order-independent; one daily rollup, one bounded window."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    arm = (
        ev.where(F.col("user_id") % 2 == 1)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    ln_pos = F.log(F.lit(0.22) / F.lit(0.18))
    ln_neg = F.log(F.lit(0.78) / F.lit(0.82))
    llr = arm.withColumn(
        "d_llr",
        F.round(
            F.col("k") * ln_pos + (F.col("n") - F.col("k")) * ln_neg, 6
        ).cast("decimal(38,6)"),
    )
    cum = (
        F.sum("d_llr")
        .over(
            Win.orderBy("day").rowsBetween(
                Win.unboundedPreceding, Win.currentRow
            )
        )
        .cast("double")
    )
    bound = F.log(F.lit(0.95) / F.lit(0.05))
    return llr.select(
        "day",
        "n",
        "k",
        F.col("d_llr").cast("double").alias("day_llr"),
        cum.alias("cum_llr"),
        F.when(cum >= bound, "accept_h1")
        .when(cum <= -bound, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


_CROSTON_ORACLE = """
WITH demand AS (
    SELECT l.l_partkey AS part, CAST(o.o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS z
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_partkey % 200 = 0
    GROUP BY 1, 2
),
seq AS (
    SELECT part, day, z,
           CAST(ROW_NUMBER() OVER (PARTITION BY part ORDER BY day)
                AS DOUBLE) AS rn,
           CAST(date_diff('day',
                lag(day) OVER (PARTITION BY part ORDER BY day), day)
                AS DOUBLE) AS gap
    FROM demand
),
ev AS (SELECT part, day, z, rn - 1 AS rn, gap FROM seq WHERE gap IS NOT NULL),
sm AS (
    SELECT part, day, z, gap, rn,
           POWER(0.8, rn)
               * SUM(z * POWER(0.8, -rn))
                     OVER (PARTITION BY part ORDER BY day
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               / ((1 - POWER(0.8, LEAST(rn, 10))) / 0.2) AS z_hat,
           POWER(0.8, rn)
               * SUM(gap * POWER(0.8, -rn))
                     OVER (PARTITION BY part ORDER BY day
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               / ((1 - POWER(0.8, LEAST(rn, 10))) / 0.2) AS i_hat
    FROM ev
),
last AS (
    SELECT part, z_hat, i_hat,
           CAST(COUNT(*) OVER (PARTITION BY part) + 1 AS BIGINT)
               AS n_events,
           row_number() OVER (PARTITION BY part ORDER BY day DESC) AS rr
    FROM sm
)
SELECT part AS p_partkey, n_events,
       ROUND(z_hat, 4) AS size_hat,
       ROUND(i_hat, 4) AS interval_hat_days,
       ROUND(z_hat / i_hat, 4) AS demand_rate_per_day
FROM last WHERE rr = 1
"""


@query("ts_croston_intermittent_demand", oracle=_CROSTON_ORACLE)
def ts_croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method for intermittent demand on sampled parts: EWMA
    of non-zero demand SIZES and of inter-demand INTERVALS (α=0.2),
    forecast = size/interval per day — the standard spare-parts
    forecaster where `ts_holt_linear_forecast` fails (a daily series
    that is mostly zeros drives any plain smoother to zero; Croston
    smooths only over demand EVENTS). Both EWMAs reuse the bounded
    closed-form window (0.8 decay, 9-preceding) PARTITIONED BY PART —
    the exact shape that scales to every part at 100 TB, one window
    exchange keyed by part. First event per part has no interval and
    seeds neither smoother (reference Croston initialization)."""
    from pyspark.sql import Window as Win, functions as F

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    demand = (
        li.where(F.col("l_partkey") % 200 == 0)
        .join(o.select("o_orderkey", "o_orderdate"), 
              li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)"))
            .cast("double")
            .alias("z")
        )
    )
    wp = Win.partitionBy("part").orderBy("day")
    seq = demand.select(
        "part",
        "day",
        "z",
        (F.row_number().over(wp) - 1).cast("double").alias("rn"),
        F.datediff(F.col("day"), F.lag("day").over(wp))
        .cast("double")
        .alias("gap"),
    )
    ev = seq.where(F.col("gap").isNotNull())
    frame = Win.partitionBy("part").orderBy("day").rowsBetween(
        -9, Win.currentRow
    )
    den = (1 - F.pow(F.lit(0.8), F.least(F.col("rn"), F.lit(10.0)))) / 0.2

    def smooth(col):
        return (
            F.pow(F.lit(0.8), F.col("rn"))
            * F.sum(col * F.pow(F.lit(0.8), -F.col("rn"))).over(frame)
            / den
        )

    sm = ev.select(
        "part",
        "day",
        smooth(F.col("z")).alias("z_hat"),
        smooth(F.col("gap")).alias("i_hat"),
        (F.count(F.lit(1)).over(Win.partitionBy("part")) + 1)
        .cast("long")
        .alias("n_events"),
        F.row_number()
        .over(Win.partitionBy("part").orderBy(F.col("day").desc()))
        .alias("rr"),
    )
    return sm.where(F.col("rr") == 1).select(
        F.col("part").alias("p_partkey"),
        "n_events",
        F.round("z_hat", 4).alias("size_hat"),
        F.round("i_hat", 4).alias("interval_hat_days"),
        F.round(F.col("z_hat") / F.col("i_hat"), 4).alias(
            "demand_rate_per_day"
        ),
    )


_ATTR_ORACLE = """
WITH purchases AS (
    SELECT user_id, ts AS pts, event_id AS pid
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT p.pid, e.event_type
    FROM purchases p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.ts < p.pts
     AND e.ts >= p.pts - INTERVAL 1 HOUR
     AND e.event_type <> 'purchase'
    GROUP BY p.pid, e.event_type
),
credit AS (
    SELECT pid, event_type,
           CAST(round(1.0 / (CAST(COUNT(*) OVER (PARTITION BY pid)
                                  AS DOUBLE)), 6)
                AS DECIMAL(38,6)) AS w
    FROM touch
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(w) AS DOUBLE) AS attributed_purchases
FROM credit
GROUP BY event_type
"""


@query("window_attribution_linear", oracle=_ATTR_ORACLE)
def window_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit equally across the DISTINCT non-purchase event types the
    user emitted in the preceding hour — the position-agnostic
    attribution model between first-touch and last-touch (each
    purchase's credit sums to exactly 1, so total attributed equals
    attributable purchases). The lookback join stays keyed on user_id
    (equi) with the hour bound as a residual range predicate — at
    100 TB that is one shuffle by user, never a time-cross join; credit
    weights are 1/k quantized to the 6-dp DECIMAL grid so per-type
    attributions sum exactly."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    touch = (
        purchases.join(
            ev.where(F.col("event_type") != "purchase"),
            (F.col("user_id") == F.col("pu"))
            & (F.col("ts") < F.col("pts"))
            & (
                F.col("ts")
                >= F.col("pts") - F.expr("INTERVAL 1 HOUR")
            ),
        )
        .groupBy("pid", "event_type")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    credit = touch.select(
        "pid",
        "event_type",
        F.round(
            F.lit(1.0)
            / F.count(F.lit(1))
            .over(Win.partitionBy("pid"))
            .cast("double"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("w"),
    )
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("w").cast("double").alias("attributed_purchases"),
    )


_HW_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev_usd
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev_usd, dayofweek(day) AS dow,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS rn,
           AVG(rev_usd) OVER (ORDER BY day
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS ma7,
           COUNT(*) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS nf
    FROM daily
),
idx AS (
    SELECT dow,
           CAST(SUM(CAST(round(rev_usd / ma7, 6) AS DECIMAL(38,6)))
                AS DOUBLE) / COUNT(*) AS raw_idx
    FROM seq WHERE nf = 7 GROUP BY dow
),
norm AS (
    SELECT dow,
           raw_idx * 7 / SUM(raw_idx) OVER () AS s_idx
    FROM idx
),
des AS (
    SELECT s.day, s.rev_usd, s.rn, n.s_idx,
           s.rev_usd / n.s_idx AS de
    FROM seq s JOIN norm n ON n.dow = s.dow
),
s1 AS (
    SELECT day, rev_usd, s_idx, rn, de,
           POWER(0.9, rn) * SUM(de * POWER(0.9, -rn))
               OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING
                     AND CURRENT ROW)
               / ((1 - POWER(0.9, LEAST(rn, 30))) / 0.1) AS s1v
    FROM des
),
s2 AS (
    SELECT day, rev_usd, s_idx, s1v,
           POWER(0.9, rn) * SUM(s1v * POWER(0.9, -rn))
               OVER (ORDER BY day ROWS BETWEEN 29 PRECEDING
                     AND CURRENT ROW)
               / ((1 - POWER(0.9, LEAST(rn, 30))) / 0.1) AS s2v
    FROM s1
)
SELECT day, rev_usd,
       round(s_idx, 6) AS seasonal_idx,
       ROUND((2 * s1v - s2v
              + 7 * (0.1 / 0.9) * (s1v - s2v)) * s_idx, 2) + 0.0
           AS forecast_7d_usd
FROM s2
"""


@query("ts_holt_winters_weekly", oracle=_HW_ORACLE)
def ts_holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters-style weekly-seasonal forecast: multiplicative
    day-of-week indices from ratio-to-centered-7-day-MA (normalized to
    sum 7), Brown double smoothing on the DESEASONALIZED series, and a
    7-day-ahead forecast re-seasonalized by the same-weekday index —
    what `ts_holt_linear_forecast` misses when revenue has a weekly
    rhythm (the trend smoother chases the weekday cycle instead of the
    trend). Ratios quantize to the 6-dp grid before the per-dow mean so
    index estimation is order-independent; the smoothing passes reuse
    the bounded closed-form EWMA; the 7-row index table broadcasts."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev_usd")
    wfull = Win.orderBy("day").rowsBetween(-3, 3)
    seq = daily.select(
        "day",
        "rev_usd",
        F.dayofweek("day").alias("dow"),
        F.row_number().over(Win.orderBy("day")).cast("double").alias("rn"),
        F.avg("rev_usd").over(wfull).alias("ma7"),
        F.count(F.lit(1)).over(wfull).alias("nf"),
    )
    idx = (
        seq.where(F.col("nf") == 7)
        .groupBy("dow")
        .agg(
            (
                F.sum(
                    F.round(F.col("rev_usd") / F.col("ma7"), 6).cast(
                        "decimal(38,6)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("raw_idx")
        )
    )
    norm = idx.select(
        "dow",
        (
            F.col("raw_idx")
            * 7
            / F.sum("raw_idx").over(Win.partitionBy())
        ).alias("s_idx"),
    )
    des = seq.join(F.broadcast(norm), "dow").select(
        "day",
        "rev_usd",
        "rn",
        "s_idx",
        (F.col("rev_usd") / F.col("s_idx")).alias("de"),
    )
    frame = Win.orderBy("day").rowsBetween(-29, Win.currentRow)
    den = (1 - F.pow(F.lit(0.9), F.least(F.col("rn"), F.lit(30.0)))) / 0.1

    def smooth(col):
        return (
            F.pow(F.lit(0.9), F.col("rn"))
            * F.sum(col * F.pow(F.lit(0.9), -F.col("rn"))).over(frame)
            / den
        )

    s1 = des.withColumn("s1v", smooth(F.col("de")))
    s2 = s1.withColumn("s2v", smooth(F.col("s1v")))
    level = 2 * F.col("s1v") - F.col("s2v")
    trend = (F.lit(0.1) / 0.9) * (F.col("s1v") - F.col("s2v"))
    return s2.select(
        "day",
        "rev_usd",
        F.round("s_idx", 6).alias("seasonal_idx"),
        (F.round((level + 7 * trend) * F.col("s_idx"), 2) + 0.0).alias(
            "forecast_7d_usd"
        ),
    )


_RFM_ORACLE = """
WITH anchor AS (
    SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders
),
cust AS (
    SELECT o_custkey,
           date_diff('day', max(CAST(o_orderdate AS DATE)),
                     (SELECT maxd FROM anchor)) AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o_custkey, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM cust
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE)
           AS segment_revenue
FROM scored
GROUP BY 1, 2, 3
"""


@query("window_rfm_segmentation", oracle=_RFM_ORACLE)
def window_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    score 1 = most recent), Frequency, and Monetary quintiles via
    ntile(5), rolled up to segment counts and revenue — the workhorse
    CRM segmentation (champions = 111, at-risk = high R low F). Tie
    order is pinned with the customer key so ntile bucket boundaries
    are engine-identical; one fact pass to per-customer RFM, three
    rank windows over the customer table (NOT the fact table), one
    bounded 125-cell rollup."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("maxd")
    )
    cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.any_value("maxd"),
                F.max(F.col("o_orderdate").cast("date")),
            ).alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    scored = cust.select(
        "monetary",
        F.ntile(5)
        .over(Win.orderBy("recency_days", "o_custkey"))
        .alias("r_score"),
        F.ntile(5)
        .over(Win.orderBy(F.col("frequency").desc(), "o_custkey"))
        .alias("f_score"),
        F.ntile(5)
        .over(Win.orderBy(F.col("monetary").desc(), "o_custkey"))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(38,6)"))
        .cast("double")
        .alias("segment_revenue"),
    )


_LTV_ORACLE = """
WITH fo AS (
    SELECT o_custkey,
           min(date_trunc('month', CAST(o_orderdate AS DATE)))
               AS cohort_month
    FROM orders GROUP BY 1
),
rev AS (
    SELECT f.cohort_month,
           date_diff('month', f.cohort_month,
                     date_trunc('month', CAST(o.o_orderdate AS DATE)))
               AS age_months,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
    FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
),
lagged AS (
    SELECT cohort_month, age_months, rev,
           lag(rev) OVER (PARTITION BY cohort_month
                          ORDER BY age_months) AS prev,
           max(age_months) OVER (PARTITION BY cohort_month) AS maxage
    FROM rev WHERE age_months <= 11
),
fit AS (
    SELECT cohort_month,
           CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS observed,
           CAST(max(age_months) AS BIGINT) AS max_age,
           CAST(SUM(CASE WHEN age_months = maxage
                    THEN rev ELSE 0 END) AS DOUBLE) AS last_rev,
           least(CAST(SUM(CAST(round(
                     CASE WHEN prev > 0 THEN rev / prev ELSE 0 END, 6)
                 AS DECIMAL(38,6))) AS DOUBLE)
                 / greatest(CAST(COUNT(prev) AS DOUBLE), 1.0),
                 0.99) AS decay
    FROM lagged
    GROUP BY cohort_month
)
SELECT cohort_month, max_age, round(observed, 2) AS observed_revenue,
       round(decay, 6) AS decay_ratio,
       round(observed
             + CASE WHEN max_age >= 11 THEN 0
                    ELSE last_rev * decay * (1 - power(decay, 11 - max_age))
                         / (1 - decay) END, 2) AS projected_12m
FROM fit
ORDER BY cohort_month
LIMIT 40
"""


@query("ts_cohort_ltv_projection", oracle=_LTV_ORACLE)
def ts_cohort_ltv_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month LTV projection per acquisition cohort: observed cumulative
    revenue by cohort age plus a geometric-decay extrapolation (mean
    month-over-month revenue ratio, capped at 0.99, last observed month
    decayed over the remaining horizon via the closed-form geometric
    sum) — the finance-facing number `window_cohort_retention` and
    `agg_cohort_revenue_matrix` stop short of. Decay ratios quantize to
    the 6-dp grid before averaging; projection is a fixed scalar dag
    per cohort; two shuffles total (first-order month, cohort-age
    rollup)."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.min(
            F.trunc(F.col("o_orderdate").cast("date"), "month")
        ).alias("cohort_month")
    )
    rev = (
        o.join(fo, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                F.months_between(
                    F.trunc(F.col("o_orderdate").cast("date"), "month"),
                    F.col("cohort_month"),
                )
            )
            .cast("long")
            .alias("age_months"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("rev")
        )
    )
    lagged = rev.where(F.col("age_months") <= 11).select(
        "cohort_month",
        "age_months",
        "rev",
        F.lag("rev")
        .over(Win.partitionBy("cohort_month").orderBy("age_months"))
        .alias("prev"),
        F.max("age_months")
        .over(Win.partitionBy("cohort_month"))
        .alias("_maxage"),
    )
    ratio = F.when(
        F.col("prev") > 0, F.col("rev") / F.col("prev")
    ).otherwise(0.0)
    fit = lagged.groupBy("cohort_month").agg(
        F.sum(F.col("rev").cast("decimal(38,6)"))
        .cast("double")
        .alias("observed"),
        F.max("age_months").cast("long").alias("max_age"),
        F.sum(
            F.when(
                F.col("age_months") == F.col("_maxage"), F.col("rev")
            ).otherwise(0.0)
        ).alias("last_rev"),
        F.least(
            F.sum(F.round(ratio, 6).cast("decimal(38,6)"))
            .cast("double")
            / F.greatest(
                F.count("prev").cast("double"), F.lit(1.0)
            ),
            F.lit(0.99),
        ).alias("decay"),
    )
    proj = F.when(F.col("max_age") >= 11, F.lit(0.0)).otherwise(
        F.col("last_rev")
        * F.col("decay")
        * (1 - F.pow(F.col("decay"), 11 - F.col("max_age")))
        / (1 - F.col("decay"))
    )
    return (
        fit.select(
            "cohort_month",
            "max_age",
            F.round("observed", 2).alias("observed_revenue"),
            F.round("decay", 6).alias("decay_ratio"),
            F.round(F.col("observed") + proj, 2).alias("projected_12m"),
        )
        .orderBy("cohort_month")
        .limit(40)
    )


_ITS_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
seq AS (
    SELECT y,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(day >= DATE '1995-06-30' AS INT) AS post
    FROM daily
),
m AS (
    SELECT post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st,
           CAST(SUM(t * t) AS BIGINT) AS stt,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(t * y AS DECIMAL(38,6))) AS DOUBLE) AS sty
    FROM seq GROUP BY post
),
fit AS (
    SELECT post, n,
           (n * sty - st * sy) / (CAST(n AS DOUBLE) * stt - st * st)
               AS slope,
           (sy - (n * sty - st * sy)
                 / (CAST(n AS DOUBLE) * stt - st * st) * st) / n
               AS intercept
    FROM m
),
bp AS (
    SELECT CAST(min(t) AS DOUBLE) AS t_break
    FROM seq WHERE post = 1
)
SELECT round(pre.slope, 6) AS pre_slope,
       round(post.slope, 6) AS post_slope,
       round(post.slope - pre.slope, 6) AS slope_change,
       round((post.intercept + post.slope * b.t_break)
             - (pre.intercept + pre.slope * b.t_break), 2)
           AS level_change_at_break,
       pre.n AS n_pre, post.n AS n_post
FROM fit pre, fit post, bp b
WHERE pre.post = 0 AND post.post = 1
"""


@query("ts_interrupted_time_series", oracle=_ITS_ORACLE)
def ts_interrupted_time_series(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interrupted time-series analysis at a known intervention date
    (1995-06-30): separate OLS trend fits before and after, reporting
    the slope change and the level discontinuity AT the breakpoint —
    the quasi-experimental design for launches with no control group
    at all (`agg_diff_in_differences` needs a parallel-trends control;
    ITS substitutes the pre-period extrapolation). One daily rollup,
    integer day indices, DECIMAL-exact cross moments per segment, and a
    3-row broadcast combine — the closed-form segmented regression, no
    iteration."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    seq = daily.select(
        "y",
        F.row_number().over(Win.orderBy("day")).cast("long").alias("t"),
        (F.col("day") >= F.lit("1995-06-30").cast("date"))
        .cast("int")
        .alias("post"),
    )
    m = seq.groupBy("post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("y").cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("y")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sty"),
    )
    slope = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / (
        F.col("n").cast("double") * F.col("stt")
        - F.col("st") * F.col("st")
    )
    fit = m.select(
        "post",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("st")) / F.col("n")).alias(
            "intercept"
        ),
    )
    bp = seq.where(F.col("post") == 1).agg(
        F.min("t").cast("double").alias("t_break")
    )
    pre = fit.where(F.col("post") == 0).select(
        F.col("slope").alias("pre_slope"),
        F.col("intercept").alias("pre_int"),
        F.col("n").alias("n_pre"),
    )
    post = fit.where(F.col("post") == 1).select(
        F.col("slope").alias("post_slope"),
        F.col("intercept").alias("post_int"),
        F.col("n").alias("n_post"),
    )
    return (
        pre.crossJoin(F.broadcast(post))
        .crossJoin(F.broadcast(bp))
        .select(
            F.round("pre_slope", 6).alias("pre_slope"),
            F.round("post_slope", 6).alias("post_slope"),
            F.round(
                F.col("post_slope") - F.col("pre_slope"), 6
            ).alias("slope_change"),
            F.round(
                (F.col("post_int") + F.col("post_slope") * F.col("t_break"))
                - (F.col("pre_int") + F.col("pre_slope") * F.col("t_break")),
                2,
            ).alias("level_change_at_break"),
            "n_pre",
            "n_post",
        )
    )


_NAIVE_SKILL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
seq AS (
    SELECT y,
           lag(y, 1) OVER (ORDER BY day) AS y1,
           lag(y, 7) OVER (ORDER BY day) AS y7
    FROM daily
),
e AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST((y - y1) * (y - y1) AS DECIMAL(38,6)))
                AS DOUBLE) AS sse1,
           CAST(SUM(CAST((y - y7) * (y - y7) AS DECIMAL(38,6)))
                AS DOUBLE) AS sse7
    FROM seq WHERE y1 IS NOT NULL AND y7 IS NOT NULL
)
SELECT n AS n_days,
       round(sqrt(sse1 / n), 2) AS rmse_naive_1d,
       round(sqrt(sse7 / n), 2) AS rmse_naive_7d,
       round(sqrt(sse1 / n) / sqrt(sse7 / n), 6) AS theil_u_vs_weekly
FROM e
"""


@query("ts_seasonal_naive_skill", oracle=_NAIVE_SKILL_ORACLE)
def ts_seasonal_naive_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-U-style skill ratio between the 1-day and 7-day (seasonal)
    naive forecasts of daily revenue: RMSE(persistence)/RMSE(weekly
    naive) — the one-number test for whether weekly seasonality is
    worth modeling at all (ratio > 1 says last-week's-same-day beats
    yesterday, so `ts_holt_winters_weekly` earns its seasonal indices;
    ratio ≈ 1 says plain `ts_holt_linear_forecast` suffices). Squared
    errors of decimal-grid revenues are DECIMAL-exact; two lags, one
    aggregate."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    w = Win.orderBy("day")
    seq = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 7).over(w).alias("y7"),
    ).where(F.col("y1").isNotNull() & F.col("y7").isNotNull())
    e = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            ((F.col("y") - F.col("y1")) * (F.col("y") - F.col("y1"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sse1"),
        F.sum(
            ((F.col("y") - F.col("y7")) * (F.col("y") - F.col("y7"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sse7"),
    )
    r1 = F.sqrt(F.col("sse1") / F.col("n"))
    r7 = F.sqrt(F.col("sse7") / F.col("n"))
    return e.select(
        F.col("n").alias("n_days"),
        F.round(r1, 2).alias("rmse_naive_1d"),
        F.round(r7, 2).alias("rmse_naive_7d"),
        F.round(r1 / r7, 6).alias("theil_u_vs_weekly"),
    )


_STL_ANOM_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, y, dayofweek(day) AS dow,
           AVG(y) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
           COUNT(*) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nf
    FROM daily
),
det AS (
    SELECT day, y, dow, trend, y - trend AS detrended
    FROM seq WHERE nf = 7
),
seas AS (
    SELECT dow,
           CAST(SUM(CAST(round(detrended, 6) AS DECIMAL(38,6)))
                AS DOUBLE) / COUNT(*) AS s
    FROM det GROUP BY dow
),
resid AS (
    SELECT d.day, d.y, d.trend, se.s,
           d.y - d.trend - se.s AS r
    FROM det d JOIN seas se ON se.dow = d.dow
),
mad AS (
    SELECT quantile_cont(abs(r - (SELECT quantile_cont(r, 0.5)
                                  FROM resid)), 0.5) AS mad_r,
           (SELECT quantile_cont(r, 0.5) FROM resid) AS med_r
    FROM resid
)
SELECT r.day, round(r.y, 2) AS revenue, round(r.r, 2) AS residual,
       round((r.r - m.med_r) / (1.4826 * m.mad_r), 4) AS robust_z
FROM resid r CROSS JOIN mad m
WHERE abs((r.r - m.med_r) / (1.4826 * m.mad_r)) > 3
ORDER BY r.day
"""


@query("ts_seasonal_residual_anomalies", oracle=_STL_ANOM_ORACLE)
def ts_seasonal_residual_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decompose-then-detect anomaly days: centered-7-day trend, mean
    day-of-week seasonal component, and a robust z-score (median/MAD,
    1.4826 consistency factor) on the remainder — flags days > 3 robust
    sigmas AFTER removing trend and weekly rhythm, so a strong Friday
    no longer masks a genuinely anomalous Friday (plain
    `dq_outlier_iqr` on raw revenue flags every weekend instead). The
    median and MAD use the distributed running-count selector
    (`_util.exact_percentiles`), residual quantization keeps the
    per-dow means order-independent, and the anomaly scan is one
    broadcast of the 1-row scale against the bounded daily series."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    wfull = Win.orderBy("day").rowsBetween(-3, 3)
    seq = daily.select(
        "day",
        "y",
        F.dayofweek("day").alias("dow"),
        F.avg("y").over(wfull).alias("trend"),
        F.count(F.lit(1)).over(wfull).alias("nf"),
    )
    det = seq.where(F.col("nf") == 7).select(
        "day", "y", "dow", "trend", (F.col("y") - F.col("trend")).alias("detrended")
    )
    seas = det.groupBy("dow").agg(
        (
            F.sum(F.round("detrended", 6).cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("s")
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "day",
        "y",
        (F.col("y") - F.col("trend") - F.col("s")).alias("r"),
    )
    med = exact_percentiles(
        resid.select(F.col("r").alias("rv")), [], "rv", {"med_r": 0.5}
    )
    absdev = resid.crossJoin(F.broadcast(med)).select(
        "day",
        "y",
        "r",
        "med_r",
        F.abs(F.col("r") - F.col("med_r")).alias("ad"),
    )
    mad = exact_percentiles(
        absdev.select(F.col("ad").alias("adv")), [], "adv", {"mad_r": 0.5}
    )
    z = F.col("r") - F.col("med_r")
    scale = 1.4826 * F.col("mad_r")
    return (
        absdev.crossJoin(F.broadcast(mad))
        .where(F.abs(z / scale) > 3)
        .select(
            "day",
            F.round("y", 2).alias("revenue"),
            F.round("r", 2).alias("residual"),
            F.round(z / scale, 4).alias("robust_z"),
        )
        .orderBy("day")
    )


_S2P_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
    FROM events GROUP BY user_id
),
lat AS (
    SELECT CAST(date_diff('second', s_ts, p_ts) AS DOUBLE) AS lat_s
    FROM firsts
    WHERE s_ts IS NOT NULL AND p_ts IS NOT NULL AND p_ts >= s_ts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_users,
       round(quantile_cont(lat_s, 0.5), 6) AS median_latency_s,
       round(quantile_cont(lat_s, 0.9), 6) AS p90_latency_s,
       round(CAST(SUM(CAST(lat_s AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_latency_s
FROM lat
"""


@query("window_signup_to_purchase_latency", oracle=_S2P_ORACLE)
def window_signup_to_purchase_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activation latency distribution: per user, seconds from FIRST
    signup to FIRST subsequent purchase; median / p90 / mean over
    converting users — the onboarding health number behind
    `window_funnel_steps`' conversion COUNT (two products can convert
    the same fraction of users while one takes 10× longer to do it).
    One conditional-min rollup per user (no self-join), percentiles via
    the distributed running-count selector, DECIMAL-exact mean."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("s_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p_ts"),
    )
    lat = firsts.where(
        F.col("s_ts").isNotNull()
        & F.col("p_ts").isNotNull()
        & (F.col("p_ts") >= F.col("s_ts"))
    ).select(
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("s_ts")
        )
        .cast("double")
        .alias("lat_s")
    )
    return exact_percentiles(
        lat,
        [],
        "lat_s",
        {"median_latency_s": 0.5, "p90_latency_s": 0.9},
        extras={"n_converting_users": "n", "_sum": "sum"},
    ).select(
        F.col("n_converting_users").cast("long").alias(
            "n_converting_users"
        ),
        F.round("median_latency_s", 6).alias("median_latency_s"),
        F.round("p90_latency_s", 6).alias("p90_latency_s"),
        F.round(
            F.col("_sum") / F.col("n_converting_users"), 6
        ).alias("mean_latency_s"),
    )


_SEAS_STRENGTH_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, y, dayofweek(day) AS dow,
           AVG(y) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
           COUNT(*) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nf
    FROM daily
),
det AS (
    SELECT day, dow, y - trend AS detrended
    FROM seq WHERE nf = 7
),
seas AS (
    SELECT dow,
           CAST(SUM(CAST(round(detrended, 6) AS DECIMAL(38,6)))
                AS DOUBLE) / COUNT(*) AS s
    FROM det GROUP BY dow
),
comp AS (
    SELECT d.detrended, d.detrended - se.s AS resid
    FROM det d JOIN seas se ON se.dow = d.dow
),
v AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(resid * resid, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS ss_r,
           CAST(SUM(CAST(round(detrended * detrended, 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS ss_d
    FROM comp
)
SELECT n AS n_days,
       round(greatest(CAST(0 AS DOUBLE), 1 - ss_r / ss_d), 6)
           AS seasonal_strength
FROM v
"""


@query("ts_seasonal_strength", oracle=_SEAS_STRENGTH_ORACLE)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength statistic F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) on the weekly decomposition of daily
    revenue — the [0,1] score that turns `ts_seasonal_decompose_additive`
    into a decision (F_s near 0: skip seasonal modeling, near 1: the
    dow component explains most post-trend variance; the continuous
    counterpart to `ts_seasonal_naive_skill`'s forecast-error ratio).
    Same centered-MA decomposition; squared components quantize to the
    6-dp grid before the DECIMAL sums so the variance ratio is
    engine-identical."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    wfull = Win.orderBy("day").rowsBetween(-3, 3)
    seq = daily.select(
        "day",
        "y",
        F.dayofweek("day").alias("dow"),
        F.avg("y").over(wfull).alias("trend"),
        F.count(F.lit(1)).over(wfull).alias("nf"),
    )
    det = seq.where(F.col("nf") == 7).select(
        "dow", (F.col("y") - F.col("trend")).alias("detrended")
    )
    seas = det.groupBy("dow").agg(
        (
            F.sum(F.round("detrended", 6).cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("s")
    )
    comp = det.join(F.broadcast(seas), "dow").select(
        "detrended",
        (F.col("detrended") - F.col("s")).alias("resid"),
    )
    v = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.round(F.col("resid") * F.col("resid"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("ss_r"),
        F.sum(
            F.round(F.col("detrended") * F.col("detrended"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("ss_d"),
    )
    return v.select(
        F.col("n").alias("n_days"),
        F.round(
            F.greatest(
                F.lit(0.0), 1 - F.col("ss_r") / F.col("ss_d")
            ),
            6,
        ).alias("seasonal_strength"),
    )


def _markov_oracle() -> str:
    """Generate the unrolled 12-step absorption oracle (see the query
    docstring for the model). Python builds the CTE chain so Spark and
    SQL share the exact per-step quantization dag."""
    steps = []
    prev = "m0"
    for i in range(1, 13):
        steps.append(f"""m{i} AS MATERIALIZED (
    SELECT t.scenario, t.dst AS state,
           CAST(SUM(CAST(round(m.mass * t.p, 9) AS DECIMAL(38,9)))
                AS DOUBLE) AS mass
    FROM {prev} m JOIN trans t
      ON t.scenario = m.scenario AND t.src = m.state
    GROUP BY 1, 2
)""")
        prev = f"m{i}"
    chain = ",\n".join(steps)
    return f"""
WITH fp AS MATERIALIZED (
    SELECT user_id, min(ts) AS fp_ts
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
path_ev AS MATERIALIZED (
    SELECT e.user_id, e.event_type, e.ts, e.event_id
    FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
    WHERE e.event_type <> 'purchase'
      AND (fp.fp_ts IS NULL OR e.ts < fp.fp_ts)
),
seq AS MATERIALIZED (
    SELECT p.user_id, p.event_type AS src,
           coalesce(lead(p.event_type)
                    OVER (PARTITION BY p.user_id
                          ORDER BY p.ts, p.event_id),
                    CASE WHEN fp.user_id IS NOT NULL
                         THEN 'conv' ELSE 'drop' END) AS dst,
           row_number() OVER (PARTITION BY p.user_id
                              ORDER BY p.ts, p.event_id) AS rn
    FROM path_ev p LEFT JOIN fp ON fp.user_id = p.user_id
),
starts AS MATERIALIZED (
    SELECT 'start' AS src, src AS dst FROM seq WHERE rn = 1
    UNION ALL
    SELECT 'start', 'conv'
    FROM fp LEFT JOIN (SELECT DISTINCT user_id FROM path_ev) pe
         ON pe.user_id = fp.user_id
    WHERE pe.user_id IS NULL
),
raw AS MATERIALIZED (
    SELECT src, dst FROM seq UNION ALL SELECT src, dst FROM starts
),
cnt AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM raw GROUP BY 1, 2
),
tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY src),
base_t AS MATERIALIZED (
    SELECT c.src, c.dst,
           round(CAST(c.c AS DOUBLE) / t.n, 6) AS p
    FROM cnt c JOIN tot t ON t.src = c.src
),
channels AS MATERIALIZED (
    SELECT DISTINCT src AS ch FROM base_t WHERE src <> 'start'
),
scen AS MATERIALIZED (
    SELECT 'base' AS scenario, NULL AS removed
    UNION ALL SELECT ch, ch FROM channels
),
trans AS MATERIALIZED (
    SELECT s.scenario,
           b.src,
           CASE WHEN s.removed IS NOT NULL AND b.dst = s.removed
                THEN 'drop' ELSE b.dst END AS dst,
           CAST(SUM(b.p) AS DOUBLE) AS p
    FROM base_t b CROSS JOIN scen s
    WHERE s.removed IS NULL OR b.src <> s.removed
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT scenario, st, st, CAST(1.0 AS DOUBLE)
    FROM scen, (VALUES ('conv'), ('drop')) AS a(st)
),
m0 AS MATERIALIZED (
    SELECT scenario, 'start' AS state, CAST(1.0 AS DOUBLE) AS mass
    FROM scen
),
{chain},
pconv AS MATERIALIZED (
    SELECT scenario, mass AS p_conv FROM m12 WHERE state = 'conv'
)
SELECT c.scenario AS channel,
       round(b.p_conv, 6) AS base_conv_prob,
       round(c.p_conv, 6) AS removal_conv_prob,
       round((b.p_conv - c.p_conv) / b.p_conv, 6) AS removal_effect
FROM pconv c CROSS JOIN (SELECT p_conv FROM pconv
                         WHERE scenario = 'base') b
WHERE c.scenario <> 'base'
ORDER BY channel
"""


@query("window_markov_removal_attribution", oracle=_markov_oracle())
def window_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov-chain attribution with removal effects (Anderl et al.
    2014): user journeys up to first purchase become a first-order
    transition matrix over {start, channel states, conv, drop}; each
    channel's credit is how much the 12-step absorption probability into
    'conv' falls when that channel's node is removed (transitions into
    it redirect to 'drop') — the data-driven alternative to
    `window_attribution_linear`'s positional heuristic (a channel that
    only ever echoes other channels gets ~0 removal effect even with
    many touches). The ONLY data-scale work is the per-user journey
    rollup (one window by user); everything after runs on the
    ≤7-state × 6-scenario transition table, with per-step mass products
    quantized to the 9-dp DECIMAL grid so the truncated power iteration
    is engine-identical. The 12-step horizon is part of the operator's
    definition (bounded-walk absorption), unrolled in both engines from
    the same generator."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    fp = ev.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("fp_ts"))
    path_ev = (
        ev.where(F.col("event_type") != "purchase")
        .join(fp, "user_id", "left")
        .where(F.col("fp_ts").isNull() | (F.col("ts") < F.col("fp_ts")))
        .select("user_id", "event_type", "ts", "event_id", "fp_ts")
    )
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    seq = path_ev.select(
        F.col("event_type").alias("src"),
        F.coalesce(
            F.lead("event_type").over(w),
            F.when(F.col("fp_ts").isNotNull(), F.lit("conv")).otherwise(
                F.lit("drop")
            ),
        ).alias("dst"),
        F.row_number().over(w).alias("rn"),
    )
    starts = seq.where(F.col("rn") == 1).select(
        F.lit("start").alias("src"), F.col("src").alias("dst")
    )
    only_purchase = fp.join(
        path_ev.select("user_id").distinct(), "user_id", "left_anti"
    ).select(
        F.lit("start").alias("src"), F.lit("conv").alias("dst")
    )
    raw = seq.select("src", "dst").unionAll(starts).unionAll(only_purchase)
    cnt = raw.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("src").agg(F.sum("c").cast("long").alias("n"))
    base_t = cnt.join(tot, "src").select(
        "src",
        "dst",
        F.round(F.col("c").cast("double") / F.col("n"), 6).alias("p"),
    )
    # Everything below the rollup runs on the BOUNDED transition table
    # (states = event types + start/conv/drop, ≤ 49 rows at ANY corpus
    # size), so the 12-step × |channels|+1-scenario absorption walk is
    # a driver fold — the engine's bounded-driver-loop pattern (the BPE
    # merge table, the daily Kalman fold): the unrolled 12-stage Spark
    # loop this replaces spent ~3 s of pure stage-scheduling floor on
    # ≤42-row frames at sf0.1. The arithmetic reproduces the previous
    # distributed plan (and the oracle) bit-for-bit: per-edge mass·p is
    # a double rounded HALF_UP onto the 9-dp grid (Decimal(float) ==
    # BigDecimal(double) — both see the exact binary expansion), the
    # Spark round() returns a DOUBLE which the decimal(38,9) cast
    # re-quantizes, per-state sums are exact on the grid, and each
    # step's masses come back to double exactly like the old
    # ``sum(m9).cast("double")``.
    from decimal import ROUND_HALF_UP, Decimal

    rows = base_t.collect()  # bounded: |states|² transition rows
    chans = sorted({r.src for r in rows if r.src != "start"})
    q9 = Decimal("0.000000001")
    scen_pconv: list[tuple[str | None, float | None]] = []
    for removed in [None] + chans:
        tmap: dict[str, dict[str, float]] = {}
        for r in rows:
            if removed is not None and r.src == removed:
                continue
            dst = (
                "drop"
                if removed is not None and r.dst == removed
                else r.dst
            )
            row = tmap.setdefault(r.src, {})
            # ≤2 terms per (src, dst) — the original edge plus one
            # redirected edge — so double addition order cannot matter.
            row[dst] = row.get(dst, 0.0) + r.p
        for absorb in ("conv", "drop"):
            tmap.setdefault(absorb, {})[absorb] = 1.0
        mass = {"start": 1.0}
        for _ in range(12):
            acc: dict[str, Decimal] = {}
            for state, m in mass.items():
                for dst, p in tmap.get(state, {}).items():
                    r9 = Decimal(m * p).quantize(q9, ROUND_HALF_UP)
                    r9 = Decimal(float(r9)).quantize(q9, ROUND_HALF_UP)
                    acc[dst] = acc.get(dst, Decimal(0)) + r9
            mass = {k: float(v) for k, v in acc.items()}
        # A scenario appears in the output only if conv mass EXISTS
        # (matching the old plan, where the conv row simply never
        # materialized for an unreachable scenario).
        scen_pconv.append(
            (removed, mass["conv"] if "conv" in mass else None)
        )
    base_p = scen_pconv[0][1]
    out_schema = (
        "channel string, base_conv_prob double, "
        "removal_conv_prob double, removal_effect double"
    )
    if base_p is None:
        return spark.createDataFrame([], out_schema)
    data = [
        (ch, p) for ch, p in scen_pconv[1:] if ch is not None and p is not None
    ]
    df = spark.createDataFrame(
        data, "channel string, p_conv double"
    )
    return (
        df.select(
            "channel",
            F.round(F.lit(base_p), 6).alias("base_conv_prob"),
            F.round("p_conv", 6).alias("removal_conv_prob"),
            F.round(
                (F.lit(base_p) - F.col("p_conv")) / F.lit(base_p), 6
            ).alias("removal_effect"),
        )
        .orderBy("channel")
    )


_KPSS_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS yc
    FROM orders GROUP BY 1
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS s
    FROM daily
),
e AS (
    SELECT d.day,
           CAST(d.yc * t.n - t.s AS BIGINT) AS es,
           t.n
    FROM daily d CROSS JOIN tot t
),
parts AS (
    SELECT day, es, n,
           CAST(SUM(es) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,0)) AS st,
           lag(es, 1) OVER (ORDER BY day) AS e1,
           lag(es, 2) OVER (ORDER BY day) AS e2,
           lag(es, 3) OVER (ORDER BY day) AS e3,
           lag(es, 4) OVER (ORDER BY day) AS e4,
           lag(es, 5) OVER (ORDER BY day) AS e5,
           lag(es, 6) OVER (ORDER BY day) AS e6,
           lag(es, 7) OVER (ORDER BY day) AS e7
    FROM e
),
s AS (
    SELECT any_value(n) AS n,
           CAST(SUM(st * st) AS DOUBLE) AS sum_s2,
           CAST(8 * SUM(CAST(es AS DECIMAL(38,0)) * es)
                + 14 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e1, 0))
                + 12 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e2, 0))
                + 10 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e3, 0))
                + 8 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e4, 0))
                + 6 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e5, 0))
                + 4 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e6, 0))
                + 2 * SUM(CAST(es AS DECIMAL(38,0)) * coalesce(e7, 0))
               AS DOUBLE) AS lrv8n
    FROM parts
)
SELECT n AS n_days,
       round(8 * sum_s2 / (CAST(n AS DOUBLE) * lrv8n), 6)
           AS kpss_statistic,
       CAST(8 * sum_s2 / (CAST(n AS DOUBLE) * lrv8n) > 0.463
            AS BOOLEAN) AS reject_level_stationarity_05
FROM s
"""


@query("ts_kpss_stationarity", oracle=_KPSS_ORACLE)
def ts_kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily revenue (Bartlett kernel,
    7 lags): η = N⁻²ΣS_t²/λ̂² where S_t are partial sums of the demeaned
    series and λ̂² the Newey-West long-run variance — the stationarity
    gate every forecaster here should pass through (`ts_mann_kendall`
    detects trend; KPSS's null is stationarity, so REJECTING says
    difference the series before `ts_holt_linear_forecast` trusts its
    level). EVERYTHING is integer-exact until one final division: cents
    revenues scale to ẽ = 100N·e (exact BIGINT demeaning — no rational
    mean ever materializes), partial sums and lag products accumulate
    in DECIMAL(38,0), and the Bartlett weights (1−j/8) clear
    denominators via the ×8 trick, so both engines compute the
    IDENTICAL integer before the double divide. 0.463 is the 5%
    critical value."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("yc")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("s"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("yc") * F.col("n") - F.col("s")).cast("long").alias("es"),
        "n",
    )
    w = Win.orderBy("day")
    run = w.rowsBetween(Win.unboundedPreceding, Win.currentRow)
    parts = e.select(
        "es",
        "n",
        F.sum("es").over(run).cast("decimal(38,0)").alias("st"),
        *[F.lag("es", j).over(w).alias(f"e{j}") for j in range(1, 8)],
    )
    esd = F.col("es").cast("decimal(38,0)")
    weights = [8, 14, 12, 10, 8, 6, 4, 2]
    lrv = weights[0] * F.sum(esd * F.col("es"))
    for j in range(1, 8):
        lrv = lrv + weights[j] * F.sum(
            esd * F.coalesce(F.col(f"e{j}"), F.lit(0))
        )
    s = parts.agg(
        F.any_value("n").alias("n"),
        F.sum(F.col("st") * F.col("st")).cast("double").alias("sum_s2"),
        lrv.cast("double").alias("lrv8n"),
    )
    stat = 8 * F.col("sum_s2") / (F.col("n").cast("double") * F.col("lrv8n"))
    return s.select(
        F.col("n").alias("n_days"),
        F.round(stat, 6).alias("kpss_statistic"),
        (stat > 0.463).alias("reject_level_stationarity_05"),
    )


_ADF_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS yc
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT yc - lag(yc, 1) OVER (ORDER BY day) AS dy,
           lag(yc, 1) OVER (ORDER BY day) AS x1,
           lag(yc, 1) OVER (ORDER BY day)
               - lag(yc, 2) OVER (ORDER BY day) AS x2
    FROM daily
),
u AS (
    SELECT CAST(dy AS BIGINT) AS dy, CAST(x1 AS BIGINT) AS x1,
           CAST(x2 AS BIGINT) AS x2
    FROM lagged WHERE x2 IS NOT NULL
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x1) AS DECIMAL(38,0)) AS sx1,
           CAST(SUM(x2) AS DECIMAL(38,0)) AS sx2,
           CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
           CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0))
               AS sx1x1,
           CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0))
               AS sx1x2,
           CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0))
               AS sx2x2,
           CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0))
               AS sx1y,
           CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0))
               AS sx2y,
           CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0))
               AS syy
    FROM u
),
c AS (
    SELECT n,
           CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) AS c11,
           CAST(n * sx1x2 - sx1 * sx2 AS DOUBLE) AS c12,
           CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE) AS c22,
           CAST(n * sx1y - sx1 * sy AS DOUBLE) AS c1y,
           CAST(n * sx2y - sx2 * sy AS DOUBLE) AS c2y,
           CAST(n * syy - sy * sy AS DOUBLE) AS cyy
    FROM m
)
SELECT n AS n_obs,
       round((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12), 9)
           AS adf_beta,
       round(((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12))
             / sqrt(((cyy
                      - (c1y * c22 - c2y * c12)
                        / (c11 * c22 - c12 * c12) * c1y
                      - (c2y * c11 - c1y * c12)
                        / (c11 * c22 - c12 * c12) * c2y)
                     / (CAST(n AS DOUBLE) * (n - 3)))
                    * (CAST(n AS DOUBLE) * c22
                       / (c11 * c22 - c12 * c12))), 6) AS adf_t,
       CAST(((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12))
            / sqrt(((cyy
                     - (c1y * c22 - c2y * c12)
                       / (c11 * c22 - c12 * c12) * c1y
                     - (c2y * c11 - c1y * c12)
                       / (c11 * c22 - c12 * c12) * c2y)
                    / (CAST(n AS DOUBLE) * (n - 3)))
                   * (CAST(n AS DOUBLE) * c22
                      / (c11 * c22 - c12 * c12))) < -2.86
            AS BOOLEAN) AS reject_unit_root_05
FROM c
"""


@query("ts_adf_unit_root", oracle=_ADF_ORACLE)
def ts_adf_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey-Fuller test (one augmentation lag, constant):
    regress Δy_t on (y_{t−1}, Δy_{t−1}) by closed-form two-regressor
    OLS and report the t-statistic on the y_{t−1} coefficient against
    the −2.86 5% critical value — the unit-root NULL that pairs with
    `ts_kpss_stationarity`'s stationarity null (agreeing tests settle
    the difference-or-not question; disagreeing ones flag
    near-integration). Identical integer discipline to KPSS: cents
    revenues keep every raw moment exact in DECIMAL(38,0), the centered
    normal equations (nΣab − ΣaΣb) stay integer, and only the final β/t
    dag runs in doubles — both engines bit-identical."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("yc")
    )
    w = Win.orderBy("day")
    lagged = daily.select(
        (F.col("yc") - F.lag("yc", 1).over(w)).alias("dy"),
        F.lag("yc", 1).over(w).alias("x1"),
        (F.lag("yc", 1).over(w) - F.lag("yc", 2).over(w)).alias("x2"),
    ).where(F.col("x2").isNotNull())
    d0 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("decimal(38,0)").alias("sx1"),
        F.sum("x2").cast("decimal(38,0)").alias("sx2"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(d0("x1") * F.col("x1")).cast("decimal(38,0)").alias("sx1x1"),
        F.sum(d0("x1") * F.col("x2")).cast("decimal(38,0)").alias("sx1x2"),
        F.sum(d0("x2") * F.col("x2")).cast("decimal(38,0)").alias("sx2x2"),
        F.sum(d0("x1") * F.col("dy")).cast("decimal(38,0)").alias("sx1y"),
        F.sum(d0("x2") * F.col("dy")).cast("decimal(38,0)").alias("sx2y"),
        F.sum(d0("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
    )
    c = m.select(
        "n",
        (F.col("n") * F.col("sx1x1") - F.col("sx1") * F.col("sx1"))
        .cast("double")
        .alias("c11"),
        (F.col("n") * F.col("sx1x2") - F.col("sx1") * F.col("sx2"))
        .cast("double")
        .alias("c12"),
        (F.col("n") * F.col("sx2x2") - F.col("sx2") * F.col("sx2"))
        .cast("double")
        .alias("c22"),
        (F.col("n") * F.col("sx1y") - F.col("sx1") * F.col("sy"))
        .cast("double")
        .alias("c1y"),
        (F.col("n") * F.col("sx2y") - F.col("sx2") * F.col("sy"))
        .cast("double")
        .alias("c2y"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    nd = F.col("n").cast("double")
    sigma2 = (
        F.col("cyy") - b1 * F.col("c1y") - b2 * F.col("c2y")
    ) / (nd * (F.col("n") - 3))
    t = b1 / F.sqrt(sigma2 * (nd * F.col("c22") / det))
    return c.select(
        F.col("n").alias("n_obs"),
        F.round(b1, 9).alias("adf_beta"),
        F.round(t, 6).alias("adf_t"),
        (t < -2.86).alias("reject_unit_root_05"),
    )


_PETTITT_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM daily_src GROUP BY 1
),
vc AS (
    SELECT y, CAST(COUNT(*) AS BIGINT) AS l FROM daily GROUP BY y
),
rk AS (
    SELECT y,
           CAST(SUM(l) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - l
               AS BIGINT) AS cum_before,
           l
    FROM vc
),
ranked AS (
    SELECT d.day,
           r.cum_before + (r.l + 1) / CAST(2 AS DOUBLE) AS midrank
    FROM daily d JOIN rk r ON r.y = d.y
),
run AS (
    SELECT day,
           CAST(SUM(CAST(round(midrank, 1) AS DECIMAL(38,1)))
                OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS r_cum,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM ranked
),
u AS (
    SELECT day, t, n,
           2 * r_cum - CAST(t AS DOUBLE) * (n + 1) AS u_t
    FROM run WHERE t < n
)
SELECT day AS changepoint_day,
       t AS day_index,
       n AS n_days,
       round(abs(u_t), 1) AS pettitt_k,
       round(2 * exp(-6 * u_t * u_t
                     / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)),
             6) AS approx_p_value
FROM u
ORDER BY abs(u_t) DESC, day
LIMIT 1
"""


@query(
    "ts_pettitt_changepoint",
    oracle=_PETTITT_ORACLE.replace("daily_src", "orders"),
)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test on daily revenue:
    U_t = 2Σ_{i≤t}rank(y_i) − t(N+1) via midranks, K = max|U_t|, with
    the standard p ≈ 2exp(−6K²/(N³+N²)) — the rank-based counterpart to
    `window_cusum_changepoint` (CUSUM hunts mean shifts in the VALUES
    and a single heavy-tailed day can drag it; Pettitt works on ranks,
    immune to outlier magnitude). Midranks come from the distinct-value
    running count (halves exact in DECIMAL(38,1)); the day-ordered rank
    cumsum is one window; argmax is TakeOrdered."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    vc = daily.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("l"))
    rk = vc.select(
        "y",
        (
            F.sum("l").over(
                Win.orderBy("y").rowsBetween(
                    Win.unboundedPreceding, Win.currentRow
                )
            )
            - F.col("l")
        )
        .cast("long")
        .alias("cum_before"),
        "l",
    )
    ranked = daily.join(rk, "y").select(
        "day",
        (F.col("cum_before") + (F.col("l") + 1) / F.lit(2.0)).alias(
            "midrank"
        ),
    )
    wd = Win.orderBy("day")
    run = ranked.select(
        "day",
        F.sum(F.round("midrank", 1).cast("decimal(38,1)"))
        .over(wd.rowsBetween(Win.unboundedPreceding, Win.currentRow))
        .cast("double")
        .alias("r_cum"),
        F.row_number().over(wd).cast("long").alias("t"),
        F.count(F.lit(1)).over(Win.partitionBy()).cast("long").alias("n"),
    )
    u = run.where(F.col("t") < F.col("n")).select(
        "day",
        "t",
        "n",
        (
            2 * F.col("r_cum")
            - F.col("t").cast("double") * (F.col("n") + 1)
        ).alias("u_t"),
    )
    nd = F.col("n").cast("double")
    return (
        u.orderBy(F.abs(F.col("u_t")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.col("t").alias("day_index"),
            F.col("n").alias("n_days"),
            F.round(F.abs(F.col("u_t")), 1).alias("pettitt_k"),
            F.round(
                2
                * F.exp(
                    -6
                    * F.col("u_t")
                    * F.col("u_t")
                    / (nd * nd * nd + nd * nd)
                ),
                6,
            ).alias("approx_p_value"),
        )
    )


_SPECTRAL_ENTROPY_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT rev,
           CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS DOUBLE) AS t,
           CAST(COUNT(*) OVER () AS DOUBLE) AS n
    FROM daily
),
freqs AS (SELECT CAST(unnest(range(1, 21)) AS DOUBLE) AS k),
terms AS (
    SELECT f.k,
           CAST(round(s.rev * round(cos(2 * pi() * f.k * s.t / s.n), 9),
                      2) AS DECIMAL(38,2)) AS c_term,
           CAST(round(s.rev * round(sin(2 * pi() * f.k * s.t / s.n), 9),
                      2) AS DECIMAL(38,2)) AS s_term
    FROM seq s CROSS JOIN freqs f
),
power AS (
    SELECT k,
           CAST(CAST(SUM(c_term) AS DOUBLE) * CAST(SUM(c_term) AS DOUBLE)
                + CAST(SUM(s_term) AS DOUBLE) * CAST(SUM(s_term) AS DOUBLE)
                AS DECIMAL(38,4)) AS p
    FROM terms GROUP BY k
),
tot AS (SELECT SUM(p) AS tp FROM power),
probs AS (
    SELECT k, CAST(p AS DOUBLE) / CAST(t.tp AS DOUBLE) AS pk
    FROM power CROSS JOIN tot t
    WHERE p > 0
)
SELECT CAST(20 AS BIGINT) AS n_harmonics,
       round(-CAST(SUM(CAST(round(pk * round(ln(pk), 6), 6)
                            AS DECIMAL(38,6))) AS DOUBLE), 6)
           AS spectral_entropy,
       round(-CAST(SUM(CAST(round(pk * round(ln(pk), 6), 6)
                            AS DECIMAL(38,6))) AS DOUBLE)
             / ln(CAST(20 AS DOUBLE)), 6) AS normalized_entropy
FROM probs
"""


@query("ts_spectral_entropy", oracle=_SPECTRAL_ENTROPY_ORACLE)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of daily revenue: Shannon entropy of the
    normalized periodogram over the first 20 harmonics (same DFT terms
    as `ts_fourier_top_periods`), normalized by ln(20) to [0,1] — the
    standard forecastability score (≈0: one dominant cycle, trivially
    forecastable; ≈1: white-noise-flat spectrum) used to triage which
    of thousands of series deserve a seasonal model. Powers are exact
    on the 4-dp decimal grid (squares of 2-dp decimal-summed DFT
    coefficients), the probability ratio is a decimal/decimal double,
    and each p·ln p summand is quantized at 6 dp before the 20-term
    decimal sum — bit-identical across engines, one day-grouped pass
    over the fact table then constant-size frames."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev")
    seq = daily.select(
        "rev",
        (F.row_number().over(Win.orderBy("day")) - 1)
        .cast("double")
        .alias("t"),
        F.count(F.lit(1))
        .over(Win.partitionBy())
        .cast("double")
        .alias("n"),
    )
    freqs = spark.range(1, 21).select(
        F.col("id").cast("double").alias("k")
    )
    ang = 2 * F.lit(3.141592653589793) * F.col("k") * F.col("t") / F.col(
        "n"
    )
    terms = seq.crossJoin(F.broadcast(freqs)).select(
        "k",
        F.round(F.col("rev") * F.round(F.cos(ang), 9), 2)
        .cast("decimal(38,2)")
        .alias("c_term"),
        F.round(F.col("rev") * F.round(F.sin(ang), 9), 2)
        .cast("decimal(38,2)")
        .alias("s_term"),
    )
    cs = F.sum("c_term").cast("double")
    ss = F.sum("s_term").cast("double")
    power = terms.groupBy("k").agg(
        (cs * cs + ss * ss).cast("decimal(38,4)").alias("p")
    # 20 rows, referenced by both the total and the probability select —
    # truncate lineage so the daily fact pass runs once, not twice.
    ).localCheckpoint(eager=True)
    tot = power.agg(F.sum("p").alias("tp"))
    probs = (
        power.crossJoin(F.broadcast(tot))
        .where(F.col("p") > 0)
        .select(
            (
                F.col("p").cast("double") / F.col("tp").cast("double")
            ).alias("pk")
        )
    )
    ent = -(
        F.sum(
            F.round(
                F.col("pk") * F.round(F.log("pk"), 6), 6
            ).cast("decimal(38,6)")
        ).cast("double")
    )
    return probs.agg(
        F.lit(20).cast("long").alias("n_harmonics"),
        F.round(ent, 6).alias("spectral_entropy"),
        F.round(
            ent / F.log(F.lit(20.0)), 6
        ).alias("normalized_entropy"),
    )


_WEEK_US = 604_800_000_000

_LIFECYCLE_ORACLE = f"""
WITH weeks AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // {_WEEK_US} AS BIGINT) AS wk
    FROM events
),
lagged AS (
    SELECT user_id, wk,
           lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
           lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
    FROM weeks
),
states AS (
    SELECT wk,
           CASE WHEN prev_wk IS NULL THEN 'new'
                WHEN prev_wk = wk - 1 THEN 'retained'
                ELSE 'resurrected' END AS state,
           CASE WHEN next_wk IS NULL OR next_wk > wk + 1
                THEN 1 ELSE 0 END AS churns_after
    FROM lagged
)
SELECT wk AS week_bucket,
       CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retained,
       CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resurrected,
       CAST(SUM(churns_after) AS BIGINT) AS n_churning_after
FROM states GROUP BY wk
"""


@query("window_user_lifecycle_states", oracle=_LIFECYCLE_ORACLE)
def window_user_lifecycle_states(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Growth-accounting lifecycle states per 7-day bucket: each active
    (user, week) is NEW (first activity ever), RETAINED (active the
    previous week) or RESURRECTED (returning after a gap), plus the
    count that churn after the bucket (next activity missing or > 1
    week away) — the decomposition behind every DAU/MAU growth report,
    where net growth = new + resurrected − churned. Buckets are integer
    epoch-micros // week (exact in both engines, no calendar-week
    anchoring ambiguity). One distinct-collapse of events, one
    user-partitioned lag/lead window (shuffles the DISTINCT user-week
    frame, not the event stream), one bucket-grouped count; the final
    bucket's churn count is right-censored by construction —
    interpret with the same caveat as any growth ledger's last row."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id",
        (F.unix_micros("ts") / F.lit(_WEEK_US))
        .cast("long")
        .alias("wk"),
    ).distinct()
    w = Win.partitionBy("user_id").orderBy("wk")
    lagged = weeks.select(
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    state = (
        F.when(F.col("prev_wk").isNull(), F.lit("new"))
        .when(F.col("prev_wk") == F.col("wk") - 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    churns = F.when(
        F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1),
        1,
    ).otherwise(0)
    return (
        lagged.select("wk", state.alias("state"), churns.alias("ca"))
        .groupBy(F.col("wk").alias("week_bucket"))
        .agg(
            F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.sum(
                F.when(F.col("state") == "resurrected", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_resurrected"),
            F.sum("ca").cast("long").alias("n_churning_after"),
        )
    )


_PEAK_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
w AS (
    SELECT day, y,
           MAX(y) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS max_l3,
           MAX(y) OVER (ORDER BY day
               ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS max_r3,
           MIN(y) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS min_l7,
           MIN(y) OVER (ORDER BY day
               ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS min_r7,
           COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS nl,
           COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nr
    FROM daily
),
peaks AS (
    SELECT day, y,
           round(y - greatest(min_l7, min_r7), 2) AS prominence
    FROM w
    WHERE nl = 3 AND nr = 3 AND y > max_l3 AND y > max_r3
)
SELECT day AS peak_day, round(y, 2) AS revenue, prominence
FROM peaks
ORDER BY prominence DESC, day
LIMIT 5
"""


@query("ts_peak_prominence", oracle=_PEAK_ORACLE)
def ts_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed peak detection with prominence on daily revenue: a peak
    strictly dominates every value within ±3 days (interior days only —
    edges can't certify dominance), and its prominence is the drop to
    the HIGHER of the two 7-day-flank minima — the scipy
    find_peaks(prominence=…) shape re-expressed as pure frame windows,
    which is what makes it distributed: every MAX/MIN is a bounded
    ROWS frame over the day-ordered aggregate, no per-peak search. All
    comparisons happen on the exact 2-dp decimal grid of the daily
    sums; top-5 is a TakeOrdered."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    wd = Win.orderBy("day")
    w = daily.select(
        "day",
        "y",
        F.max("y").over(wd.rowsBetween(-3, -1)).alias("max_l3"),
        F.max("y").over(wd.rowsBetween(1, 3)).alias("max_r3"),
        F.min("y").over(wd.rowsBetween(-7, -1)).alias("min_l7"),
        F.min("y").over(wd.rowsBetween(1, 7)).alias("min_r7"),
        F.count("y").over(wd.rowsBetween(-3, -1)).alias("nl"),
        F.count("y").over(wd.rowsBetween(1, 3)).alias("nr"),
    )
    peaks = w.where(
        (F.col("nl") == 3)
        & (F.col("nr") == 3)
        & (F.col("y") > F.col("max_l3"))
        & (F.col("y") > F.col("max_r3"))
    ).select(
        "day",
        "y",
        F.round(
            F.col("y") - F.greatest("min_l7", "min_r7"), 2
        ).alias("prominence"),
    )
    return (
        peaks.orderBy(F.col("prominence").desc(), "day")
        .limit(5)
        .select(
            F.col("day").alias("peak_day"),
            F.round("y", 2).alias("revenue"),
            "prominence",
        )
    )


_GAP_US = 1_800_000_000  # 30-min session gap
_DAY_US = 86_400_000_000

_CONCURRENCY_ORACLE = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS us FROM events
),
marked AS (
    SELECT user_id, us,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                     > {_GAP_US}
                  OR lag(us) OVER (PARTITION BY user_id ORDER BY us)
                     IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM ev
),
sess_id AS (
    SELECT user_id, us,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
),
sessions AS (
    SELECT user_id, sid, MIN(us) AS s, MAX(us) + {_GAP_US} AS e
    FROM sess_id GROUP BY user_id, sid
),
bounds AS (
    SELECT s AS us, 1 AS delta FROM sessions
    UNION ALL
    SELECT e AS us, -1 AS delta FROM sessions
),
with_day AS (
    SELECT us, delta, CAST(us // {_DAY_US} AS BIGINT) AS day_bucket
    FROM bounds
),
day_net AS (
    SELECT day_bucket, CAST(SUM(delta) AS BIGINT) AS net,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_started
    FROM with_day GROUP BY day_bucket
),
day_offset AS (
    SELECT day_bucket, n_started,
           CAST(COALESCE(SUM(net) OVER (ORDER BY day_bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS carry_in
    FROM day_net
),
curve AS (
    SELECT w.day_bucket,
           o.carry_in
             + SUM(w.delta) OVER (PARTITION BY w.day_bucket
                   ORDER BY w.us, w.delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS depth
    FROM with_day w JOIN day_offset o USING (day_bucket)
)
SELECT c.day_bucket,
       CAST(MAX(c.depth) AS BIGINT) AS max_concurrent,
       CAST(ANY_VALUE(o.n_started) AS BIGINT) AS n_sessions_started
FROM curve c JOIN day_offset o USING (day_bucket)
GROUP BY c.day_bucket
"""


@query("window_concurrency_sweep", oracle=_CONCURRENCY_ORACLE)
def window_concurrency_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrent sessions per day via a DISTRIBUTED sweep line:
    sessionize per user (30-min inactivity gap, session extends to
    last-event + gap), emit +1/−1 boundary events, and integrate. The
    classic sweep needs one global prefix sum — a single-partition
    window at 100 TB — so this runs the two-level form instead: the
    running sum is partitioned BY DAY, and each day's opening depth is
    the carry-in prefix of per-day net deltas (a day-count-sized
    cumulative, computed once) — identical results, and the only
    global window runs over ~365 rows. Boundary ties order ends before
    starts (ORDER BY us, delta), so back-to-back sessions never
    double-count. This is the capacity-planning primitive (Little's-law
    L) behind concurrency dashboards and connection-pool sizing."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    wu = Win.partitionBy("user_id").orderBy("us")
    marked = ev.select(
        "user_id",
        "us",
        F.when(
            F.lag("us").over(wu).isNull()
            | ((F.col("us") - F.lag("us").over(wu)) > _GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.select(
        "user_id",
        "us",
        F.sum("new_sess")
        .over(wu.rowsBetween(Win.unboundedPreceding, 0))
        .alias("sid"),
    )
    sessions = sess.groupBy("user_id", "sid").agg(
        F.min("us").alias("s"),
        (F.max("us") + F.lit(_GAP_US)).alias("e"),
    )
    bounds = sessions.select(
        F.col("s").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            F.col("e").alias("us"), F.lit(-1).alias("delta")
        )
    )
    with_day = bounds.select(
        "us",
        "delta",
        (F.col("us") / F.lit(_DAY_US)).cast("long").alias("day_bucket"),
    )
    day_net = with_day.groupBy("day_bucket").agg(
        F.sum("delta").cast("long").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_started"),
    )
    w_days = Win.orderBy("day_bucket").rowsBetween(
        Win.unboundedPreceding, -1
    )
    day_offset = day_net.select(
        "day_bucket",
        "n_started",
        F.coalesce(F.sum("net").over(w_days), F.lit(0))
        .cast("long")
        .alias("carry_in"),
    )
    w_in_day = Win.partitionBy("day_bucket").orderBy(
        "us", "delta"
    ).rowsBetween(Win.unboundedPreceding, 0)
    curve = with_day.join(F.broadcast(day_offset), "day_bucket").select(
        "day_bucket",
        (F.col("carry_in") + F.sum("delta").over(w_in_day)).alias(
            "depth"
        ),
        "n_started",
    )
    return curve.groupBy("day_bucket").agg(
        F.max("depth").cast("long").alias("max_concurrent"),
        F.any_value("n_started").cast("long").alias("n_sessions_started"),
    )


_LJUNG_BOX_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
idx AS (
    SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
    FROM daily
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(x * x) AS DOUBLE) AS sxx
    FROM idx
),
lags AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS k),
pairs AS (
    SELECT l.k,
           CAST(COUNT(*) AS DOUBLE) AS c,
           CAST(SUM(a.x * b.x) AS DOUBLE) AS sab,
           CAST(SUM(a.x) AS DOUBLE) AS sa,
           CAST(SUM(b.x) AS DOUBLE) AS sb
    FROM lags l
    JOIN idx a ON TRUE
    JOIN idx b ON b.i = a.i - l.k
    GROUP BY l.k
),
r AS (
    SELECT p.k,
           (p.sab - (m.sx / m.n) * (p.sa + p.sb)
              + p.c * (m.sx / m.n) * (m.sx / m.n))
             / (m.sxx - m.n * (m.sx / m.n) * (m.sx / m.n)) AS rk,
           m.n AS n
    FROM pairs p CROSS JOIN m
),
q AS (
    SELECT ANY_VALUE(n) AS n,
           CAST(SUM(CAST(round(n * (n + 2) * rk * rk / (n - k), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS q_stat
    FROM r
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(10 AS BIGINT) AS df,
       round(q_stat, 6) AS ljung_box_q,
       q_stat > 18.307 AS reject_white_noise_05
FROM q
"""


@query("ts_ljung_box_q", oracle=_LJUNG_BOX_ORACLE)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series:
    Q = n(n+2) Σ_{k≤10} r²ₖ/(n−k) vs the χ²₁₀ 5% critical value — the
    ONE-number white-noise test a forecaster runs on residuals, where
    `ts_acf_multi_lag` eyeballs lags individually. Every autocovariance
    expands to pure INTEGER sums (Σxₜxₜ₋ₖ, Σxₜ, counts — the
    (x−x̄)(y−x̄) cross terms algebraically extracted), so no float
    accumulates anywhere until constant scalar algebra; the shifted
    self-join runs on the day-index frame (≤ calendar days), and the
    10 per-lag Q terms are quantized at 6 dp into one decimal sum."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    idx = daily.select(
        "x",
        F.row_number().over(Win.orderBy("day")).cast("long").alias("i"),
    ).localCheckpoint(eager=True)
    m = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    lags = spark.range(1, 11).select(F.col("id").alias("k"))
    a = idx.crossJoin(F.broadcast(lags))
    b = idx.select(F.col("i").alias("bi"), F.col("x").alias("bx"))
    pairs = a.join(
        b, F.col("bi") == F.col("i") - F.col("k")
    ).groupBy("k").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum(F.col("x") * F.col("bx")).cast("double").alias("sab"),
        F.sum("x").cast("double").alias("sa"),
        F.sum("bx").cast("double").alias("sb"),
    )
    mean = F.col("sx") / F.col("n")
    rk = (
        F.col("sab")
        - mean * (F.col("sa") + F.col("sb"))
        + F.col("c") * mean * mean
    ) / (F.col("sxx") - F.col("n") * mean * mean)
    r = pairs.crossJoin(F.broadcast(m)).select(
        "k", rk.alias("rk"), "n"
    )
    nd = F.col("n")
    q = r.agg(
        F.any_value("n").alias("n"),
        F.sum(
            F.round(
                nd * (nd + 2) * F.col("rk") * F.col("rk")
                / (nd - F.col("k")),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("q_stat"),
    )
    return q.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(10).cast("long").alias("df"),
        F.round("q_stat", 6).alias("ljung_box_q"),
        (F.col("q_stat") > 18.307).alias("reject_white_noise_05"),
    )


_KRUSKAL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           dayofweek(CAST(o_orderdate AS DATE)) AS wd,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1, 2
),
vc AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS l FROM daily GROUP BY y),
rk AS (
    SELECT y, l,
           CAST(SUM(l) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - l
               AS BIGINT) AS cum_before
    FROM vc
),
ranked AS (
    SELECT d.wd,
           r.cum_before + (r.l + 1) / CAST(2 AS DOUBLE) AS midrank
    FROM daily d JOIN rk r ON r.y = d.y
),
g AS (
    SELECT wd, CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(round(midrank, 1) AS DECIMAL(38,1)))
                AS DOUBLE) AS rsum
    FROM ranked GROUP BY wd
),
tot AS (
    SELECT CAST(SUM(ng) AS DOUBLE) AS n,
           CAST(SUM(CAST(round(rsum * rsum / ng, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS s
    FROM g
),
ties AS (
    SELECT CAST(SUM(l * l * l - l) AS DOUBLE) AS tsum FROM vc
)
SELECT CAST(t.n AS BIGINT) AS n_days,
       CAST(6 AS BIGINT) AS df,
       round((12 / (t.n * (t.n + 1)) * t.s - 3 * (t.n + 1))
             / (1 - ties.tsum / (t.n * t.n * t.n - t.n)), 6)
           AS kruskal_h,
       (12 / (t.n * (t.n + 1)) * t.s - 3 * (t.n + 1))
         / (1 - ties.tsum / (t.n * t.n * t.n - t.n)) > 12.592
           AS reject_same_distribution_05
FROM tot t CROSS JOIN ties
"""


@query("ts_kruskal_wallis_weekday", oracle=_KRUSKAL_ORACLE)
def ts_kruskal_wallis_weekday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis rank test of daily revenue across the 7 weekdays:
    H = 12/(N(N+1)) Σ R²_g/n_g − 3(N+1) with the standard tie
    correction, vs the χ²₆ 5% critical value — the distribution-free
    counterpart to `ts_weekday_anova` (rank-based, so one heavy-tailed
    day can't fake or mask a weekday effect) and the k-group extension
    of `agg_mann_whitney_u`. Midranks come from the same value-counts
    running window as Pettitt/Wilcoxon (halves exact in
    DECIMAL(38,1)); per-group rank sums and the tie term are one
    7-group aggregate over the day frame."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("wd"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("y")
    )
    vc = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("l")
    ).localCheckpoint(eager=True)
    rk = vc.select(
        "y",
        "l",
        (
            F.sum("l").over(
                Win.orderBy("y").rowsBetween(
                    Win.unboundedPreceding, Win.currentRow
                )
            )
            - F.col("l")
        )
        .cast("long")
        .alias("cum_before"),
    )
    ranked = daily.join(rk, "y").select(
        "wd",
        (F.col("cum_before") + (F.col("l") + 1) / F.lit(2.0)).alias(
            "midrank"
        ),
    )
    g = ranked.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(F.round("midrank", 1).cast("decimal(38,1)"))
        .cast("double")
        .alias("rsum"),
    )
    tot = g.agg(
        F.sum("ng").cast("double").alias("n"),
        F.sum(
            F.round(
                F.col("rsum") * F.col("rsum") / F.col("ng"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("s"),
    )
    ties = vc.agg(
        F.sum(
            F.col("l") * F.col("l") * F.col("l") - F.col("l")
        )
        .cast("double")
        .alias("tsum")
    )
    n, s = F.col("n"), F.col("s")
    h_raw = 12 / (n * (n + 1)) * s - 3 * (n + 1)
    h = h_raw / (
        1 - F.col("tsum") / (n * n * n - n)
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        n.cast("long").alias("n_days"),
        F.lit(6).cast("long").alias("df"),
        F.round(h, 6).alias("kruskal_h"),
        (h > 12.592).alias("reject_same_distribution_05"),
    )


_HAAR_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
idx AS (
    SELECT y, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i
    FROM daily
),
l1 AS (
    SELECT i // 2 AS i,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN CAST(round(y, 2)
                         AS DECIMAL(38,2))
                    ELSE -CAST(round(y, 2) AS DECIMAL(38,2)) END)
                AS DOUBLE) AS d,
           CAST(SUM(CAST(round(y, 2) AS DECIMAL(38,2))) AS DOUBLE) AS a
    FROM idx GROUP BY i // 2 HAVING COUNT(*) = 2
),
l2 AS (
    SELECT i // 2 AS i,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN CAST(a AS DECIMAL(38,2))
                    ELSE -CAST(a AS DECIMAL(38,2)) END) AS DOUBLE) AS d,
           CAST(SUM(CAST(a AS DECIMAL(38,2))) AS DOUBLE) AS a
    FROM l1 GROUP BY i // 2 HAVING COUNT(*) = 2
),
l3 AS (
    SELECT i // 2 AS i,
           CAST(SUM(CASE WHEN i % 2 = 0 THEN CAST(a AS DECIMAL(38,2))
                    ELSE -CAST(a AS DECIMAL(38,2)) END) AS DOUBLE) AS d,
           CAST(SUM(CAST(a AS DECIMAL(38,2))) AS DOUBLE) AS a
    FROM l2 GROUP BY i // 2 HAVING COUNT(*) = 2
),
energies AS (
    SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(SUM(CAST(round(d * d, 2) AS DECIMAL(38,2))) AS DOUBLE)
               AS energy
    FROM l1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(d * d, 2) AS DECIMAL(38,2))) AS DOUBLE)
    FROM l2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(d * d, 2) AS DECIMAL(38,2))) AS DOUBLE)
    FROM l3
),
tot AS (SELECT SUM(CAST(energy AS DECIMAL(38,2))) AS t FROM energies)
SELECT CAST(level AS BIGINT) AS level, n_coeffs,
       round(energy, 2) AS energy,
       round(energy / CAST(t.t AS DOUBLE), 6) AS energy_share
FROM energies CROSS JOIN tot t
"""


@query("ts_haar_wavelet_energy", oracle=_HAAR_ORACLE)
def ts_haar_wavelet_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition of daily revenue,
    3 dyadic levels: level-1 details capture day-to-day flicker,
    level-3 the ~week-scale swings — the time-LOCALIZED complement to
    `ts_fourier_top_periods` (a transient spike spreads across every
    Fourier bin but lands in ONE wavelet coefficient). Unnormalized
    lifting (d = a−b, a' = a+b, the 1/2 factors folded into the
    documented 2^level scaling) keeps every coefficient on the exact
    2-dp decimal grid at every level, so energies are plain decimal
    sums — no float accumulation, no quantization drift. Each level is
    one pair-index groupBy of a frame that HALVES per level (odd tails
    dropped by the pair-completeness filter); the fact table is
    touched once."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    idx = daily.select(
        F.round("y", 2).cast("decimal(38,2)").alias("a"),
        (F.row_number().over(Win.orderBy("day")) - 1)
        .cast("long")
        .alias("i"),
    ).localCheckpoint(eager=True)

    def lift(frame):
        signed = F.when(
            F.col("i") % 2 == 0, F.col("a").cast("decimal(38,2)")
        ).otherwise(-F.col("a").cast("decimal(38,2)"))
        return (
            frame.groupBy((F.col("i") / 2).cast("long").alias("i"))
            .agg(
                F.sum(signed).cast("double").alias("d"),
                F.sum(F.col("a").cast("decimal(38,2)"))
                .cast("double")
                .alias("a"),
                F.count(F.lit(1)).alias("_n"),
            )
            .where(F.col("_n") == 2)
            .drop("_n")
            .localCheckpoint(eager=True)
        )

    levels = []
    cur = idx
    for lv in (1, 2, 3):
        cur = lift(cur)
        levels.append(
            cur.agg(
                F.lit(lv).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_coeffs"),
                F.sum(
                    F.round(F.col("d") * F.col("d"), 2).cast(
                        "decimal(38,2)"
                    )
                )
                .cast("double")
                .alias("energy"),
            )
        )
    energies = levels[0].unionByName(levels[1]).unionByName(levels[2])
    energies = energies.localCheckpoint(eager=True)
    tot = energies.agg(
        F.sum(F.col("energy").cast("decimal(38,2)")).alias("t")
    )
    return energies.crossJoin(F.broadcast(tot)).select(
        "level",
        "n_coeffs",
        F.round("energy", 2).alias("energy"),
        F.round(
            F.col("energy") / F.col("t").cast("double"), 6
        ).alias("energy_share"),
    )


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 100

_HIST_QUANTILE_ORACLE = f"""
WITH clean AS (
    SELECT make_timestamp((epoch_us(ts) // {_HOUR_US}) * {_HOUR_US})
               AS window_start,
           value AS v
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
),
binned AS (
    SELECT window_start,
           least(greatest(CAST(floor((v - {_HIST_LO})
               / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS}))
               AS BIGINT), 0), {_HIST_BINS} - 1) AS bin
    FROM clean
),
cells AS (
    SELECT window_start, bin, CAST(COUNT(*) AS BIGINT) AS c
    FROM binned GROUP BY window_start, bin
),
cum AS (
    SELECT window_start, bin, c,
           SUM(c) OVER (PARTITION BY window_start ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
           SUM(c) OVER (PARTITION BY window_start) AS n
    FROM cells
),
pick AS (
    SELECT window_start, n,
           MIN(CASE WHEN cc * 20 >= n * 19 THEN bin END) AS p95_bin
    FROM cum GROUP BY window_start, n
)
SELECT window_start,
       CAST(n AS BIGINT) AS n_values,
       CAST(p95_bin AS BIGINT) AS p95_bin,
       round({_HIST_LO} + p95_bin
             * (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS}), 6)
           AS p95_bin_lo,
       round({_HIST_LO} + (p95_bin + 1)
             * (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS}), 6)
           AS p95_bin_hi
FROM pick
"""


@query("stream_hist_quantile_sketch", oracle=_HIST_QUANTILE_ORACLE)
def stream_hist_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly p95 of ``events.value`` from a FIXED-bin histogram sketch
    (100 equal bins over the a-priori [0, 500] domain, out-of-range
    clamped to the edge bins): the quantile is bracketed by the first
    bin whose cumulative count reaches 95% — exact integer arithmetic
    (cc·20 ≥ n·19, no float quantile position). Unlike exact
    percentiles, the histogram is a PLAIN windowed count aggregate —
    mergeable, fixed 100-counter state per window — so the identical
    builder is streaming-legal under a watermark (state size never
    depends on value cardinality) and partition-merge-safe at any
    scale; the bin→quantile extraction runs on the ≤100-row-per-window
    cell table. Reports the bracketing bin edges, making the sketch's
    resolution (bin width 5.0) explicit rather than implying a point
    estimate."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    clean = ev.where(
        ~F.isnan(v) & ~v.isin(float("inf"), float("-inf"))
    ).select(
        F.timestamp_micros(
            (F.unix_micros("ts") / F.lit(_HOUR_US)).cast("long")
            * F.lit(_HOUR_US)
        ).alias("window_start"),
        F.least(
            F.greatest(
                F.floor((v - F.lit(_HIST_LO)) / F.lit(width)).cast(
                    "long"
                ),
                F.lit(0).cast("long"),
            ),
            F.lit(_HIST_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    cells = clean.groupBy("window_start", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ww = Win.partitionBy("window_start")
    cum = cells.select(
        "window_start",
        "bin",
        F.sum("c")
        .over(ww.orderBy("bin").rowsBetween(Win.unboundedPreceding, 0))
        .alias("cc"),
        F.sum("c").over(ww).alias("n"),
    )
    pick = cum.groupBy("window_start", "n").agg(
        F.min(
            F.when(F.col("cc") * 20 >= F.col("n") * 19, F.col("bin"))
        ).alias("p95_bin")
    )
    return pick.select(
        "window_start",
        F.col("n").cast("long").alias("n_values"),
        F.col("p95_bin").cast("long").alias("p95_bin"),
        F.round(
            F.lit(_HIST_LO) + F.col("p95_bin") * F.lit(width), 6
        ).alias("p95_bin_lo"),
        F.round(
            F.lit(_HIST_LO) + (F.col("p95_bin") + 1) * F.lit(width), 6
        ).alias("p95_bin_hi"),
    )


_DEBOUNCE_ORACLE = f"""
WITH hourly AS (
    SELECT (epoch_us(ts) // {_HOUR_US}) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY 1
),
state AS (
    SELECT hr, n, n_err,
           CASE WHEN n_err * 5 > n THEN 1 ELSE 0 END AS s
    FROM hourly
),
lagged AS (
    SELECT hr, n_err, n, s,
           lag(s, 1) OVER (ORDER BY hr) AS s1,
           lag(s, 2) OVER (ORDER BY hr) AS s2
    FROM state
)
SELECT make_timestamp(hr * {_HOUR_US}) AS alert_hour,
       n_err, n,
       round(n_err / CAST(n AS DOUBLE), 6) AS error_rate
FROM lagged
WHERE s = 1 AND s1 = 1 AND COALESCE(s2, 0) = 0
"""


@query("window_alert_debounce", oracle=_DEBOUNCE_ORACLE)
def window_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounced alerting on the hourly error rate: the raw condition
    (errors > 20% of events) flaps, so an alert FIRES only on the
    second consecutive breaching hour after a clear hour (s=1, s₋₁=1,
    s₋₂=0) — the hysteresis every paging pipeline applies so one noisy
    hour can't page. The condition is exact integer arithmetic
    (n_err·5 > n, no float threshold), evaluated over the hourly
    rollup: one fact aggregate, one ordered lag window over the
    ≤hours-count frame. Emits the firing hours with their rates."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        (F.unix_micros("ts") / F.lit(_HOUR_US)).cast("long").alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("long")
        .alias("n_err"),
    )
    s = F.when(F.col("n_err") * 5 > F.col("n"), 1).otherwise(0)
    w = Win.orderBy("hr")
    lagged = hourly.select(
        "hr",
        "n_err",
        "n",
        s.alias("s"),
    ).select(
        "hr",
        "n_err",
        "n",
        "s",
        F.lag("s", 1).over(w).alias("s1"),
        F.lag("s", 2).over(w).alias("s2"),
    )
    return lagged.where(
        (F.col("s") == 1)
        & (F.col("s1") == 1)
        & (F.coalesce(F.col("s2"), F.lit(0)) == 0)
    ).select(
        F.timestamp_micros(F.col("hr") * F.lit(_HOUR_US)).alias(
            "alert_hour"
        ),
        "n_err",
        "n",
        F.round(
            F.col("n_err") / F.col("n").cast("double"), 6
        ).alias("error_rate"),
    )


_CLAMPED_BALANCE_ORACLE = """
WITH flows AS (
    SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                         THEN CAST(l_quantity AS BIGINT)
                         ELSE -CAST(l_quantity AS BIGINT) END)
                AS BIGINT) AS net
    FROM lineitem
    WHERE l_partkey % 100 = 0
    GROUP BY 1, 2
),
prefix AS (
    SELECT part, day, net,
           SUM(net) OVER (PARTITION BY part ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
    FROM flows
),
run AS (
    SELECT part, day, net, s,
           MIN(s) OVER (PARTITION BY part ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS min_prefix
    FROM prefix
)
SELECT part, day, net,
       CAST(s - least(min_prefix, 0) AS BIGINT) AS clamped_balance
FROM run
"""


@query("window_clamped_running_balance", oracle=_CLAMPED_BALANCE_ORACLE)
def window_clamped_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running inventory balance clamped at zero — the sequential
    recurrence B_t = max(B_{t−1} + d_t, 0) looks un-distributable, but
    for a single floor it has the closed form
    B_t = S_t − min(0, min_{j≤t} S_j) (the clamp can only ever absorb
    the deepest prefix deficit so far; induction on t), so it computes
    as a plain prefix sum plus a running MIN over that sum — two
    stacked windows on the same (part, day) ordering, one exchange,
    fully distributed. This is the warehouse stock / account-balance /
    rate-limiter-token primitive that naive implementations serialize.
    Returns-in vs shipments-out per part (part % 100 = 0 sample keeps
    the result reviewable); all arithmetic integer-exact."""
    from pyspark.sql import Window as Win, functions as F

    li = load_table(spark, sf_dir, "lineitem")
    flows = (
        li.where(F.col("l_partkey") % 100 == 0)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    F.col("l_quantity").cast("long"),
                ).otherwise(-F.col("l_quantity").cast("long"))
            )
            .cast("long")
            .alias("net")
        )
    )
    w = Win.partitionBy("part").orderBy("day").rowsBetween(
        Win.unboundedPreceding, 0
    )
    run = flows.select(
        "part",
        "day",
        "net",
        F.sum("net").over(w).alias("s"),
    ).select(
        "part",
        "day",
        "net",
        "s",
        F.min("s")
        .over(
            Win.partitionBy("part")
            .orderBy("day")
            .rowsBetween(Win.unboundedPreceding, 0)
        )
        .alias("min_prefix"),
    )
    return run.select(
        "part",
        "day",
        "net",
        (F.col("s") - F.least(F.col("min_prefix"), F.lit(0)))
        .cast("long")
        .alias("clamped_balance"),
    )


_INTERVAL_COALESCE_ORACLE = """
WITH iv AS (
    SELECT l_partkey AS part,
           CAST(l_shipdate AS DATE) AS s,
           CAST(CAST(l_shipdate AS DATE)
                + to_days(CAST(l_quantity AS INT)) AS DATE) AS e
    FROM lineitem
    WHERE l_partkey % 200 = 0
),
marked AS (
    SELECT part, s, e,
           CASE WHEN s > MAX(e) OVER (PARTITION BY part ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (PARTITION BY part ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                THEN 1 ELSE 0 END AS new_island
    FROM iv
),
islands AS (
    SELECT part, s, e,
           SUM(new_island) OVER (PARTITION BY part ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM marked
)
SELECT part, CAST(island AS BIGINT) AS island,
       MIN(s) AS coalesced_start,
       MAX(e) AS coalesced_end,
       CAST(COUNT(*) AS BIGINT) AS n_merged
FROM islands GROUP BY part, island
"""


@query("window_interval_coalesce", oracle=_INTERVAL_COALESCE_ORACLE)
def window_interval_coalesce(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval coalescing (union of overlapping intervals) per part:
    each lineitem's handling window [shipdate, shipdate+qty] merges
    with any window it overlaps, yielding the part's busy periods —
    the interval-union primitive under availability/SLA gap analysis
    and contiguous-coverage checks, and the OVERLAP generalization of
    gap-based sessionization (sessions chain on the previous EVENT;
    intervals must chain on the running MAX of all prior ends, or a
    long interval that swallows later ones splits wrongly). One
    key-partitioned sort: new island when start exceeds the running
    max-of-ends over all PRIOR rows; island ids are a running sum of
    those flags; the merge is a plain groupBy. Integer date
    arithmetic throughout (part % 200 sample keeps output
    reviewable)."""
    from pyspark.sql import Window as Win, functions as F

    li = load_table(spark, sf_dir, "lineitem")
    iv = li.where(F.col("l_partkey") % 200 == 0).select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            F.col("l_quantity").cast("int"),
        ).alias("e"),
    )
    w_prev = Win.partitionBy("part").orderBy("s", "e").rowsBetween(
        Win.unboundedPreceding, -1
    )
    run_max = F.max("e").over(w_prev)
    marked = iv.select(
        "part",
        "s",
        "e",
        F.when(
            run_max.isNull() | (F.col("s") > run_max), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_cum = Win.partitionBy("part").orderBy("s", "e").rowsBetween(
        Win.unboundedPreceding, 0
    )
    islands = marked.select(
        "part",
        "s",
        "e",
        F.sum("new_island").over(w_cum).cast("long").alias("island"),
    )
    return islands.groupBy("part", "island").agg(
        F.min("s").alias("coalesced_start"),
        F.max("e").alias("coalesced_end"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    )


_WESTERN_ELECTRIC_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM daily
),
z AS (
    SELECT d.day,
           (d.y - s.s1 / s.n)
             / sqrt((s.s2 - (s.s1 / s.n) * s.s1) / (s.n - 1)) AS z
    FROM daily d CROSS JOIN s
),
flags AS (
    SELECT day, z,
           CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END AS beyond3,
           CASE WHEN z > 2 THEN 1 ELSE 0 END AS hi2,
           CASE WHEN z < -2 THEN 1 ELSE 0 END AS lo2,
           CASE WHEN z > 0 THEN 1 ELSE 0 END AS pos
    FROM z
),
w AS (
    SELECT day, z, beyond3,
           SUM(hi2) OVER (ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS hi2_3,
           SUM(lo2) OVER (ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lo2_3,
           SUM(pos) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS pos_8,
           COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS n_8
    FROM flags
)
SELECT day, round(z, 6) AS z_score,
       beyond3 = 1 AS rule1_beyond_3sigma,
       (hi2_3 >= 2 OR lo2_3 >= 2) AS rule2_two_of_three_beyond_2sigma,
       (n_8 = 8 AND (pos_8 = 8 OR pos_8 = 0)) AS rule4_eight_same_side
FROM w
WHERE beyond3 = 1 OR hi2_3 >= 2 OR lo2_3 >= 2
   OR (n_8 = 8 AND (pos_8 = 8 OR pos_8 = 0))
"""


@query("ts_western_electric_rules", oracle=_WESTERN_ELECTRIC_ORACLE)
def ts_western_electric_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Western Electric control-chart rules on daily revenue z-scores:
    rule 1 (one point beyond 3σ), rule 2 (two of three consecutive
    beyond 2σ on the same side), rule 4 (eight consecutive on one side
    of center) — the SPC rule set that catches shifts and drifts a
    single-threshold alert misses, complementing
    `window_cusum_changepoint` (retrospective) with the ONLINE
    rule-based monitor form. One day-grouped pass + a 1-row moments
    broadcast for z; every rule is a bounded ROWS frame over the day
    series (counts of exact integer flags) — no self-joins, no state
    beyond the window frames."""
    from pyspark.sql import Window as Win, functions as F

    from extract_transform_load_template_multidb_spark.queries._util import (
        dsum,
    )

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    s = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("y"), "s1"),
        dsum(F.col("y") * F.col("y"), "s2"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt((F.col("s2") - mean * F.col("s1")) / (F.col("n") - 1))
    z = daily.crossJoin(F.broadcast(s)).select(
        "day", ((F.col("y") - mean) / sd).alias("z")
    )
    flags = z.select(
        "day",
        "z",
        F.when(F.abs("z") > 3, 1).otherwise(0).alias("beyond3"),
        F.when(F.col("z") > 2, 1).otherwise(0).alias("hi2"),
        F.when(F.col("z") < -2, 1).otherwise(0).alias("lo2"),
        F.when(F.col("z") > 0, 1).otherwise(0).alias("pos"),
    )
    wd = Win.orderBy("day")
    w3 = wd.rowsBetween(-2, 0)
    w8 = wd.rowsBetween(-7, 0)
    w = flags.select(
        "day",
        "z",
        "beyond3",
        F.sum("hi2").over(w3).alias("hi2_3"),
        F.sum("lo2").over(w3).alias("lo2_3"),
        F.sum("pos").over(w8).alias("pos_8"),
        F.count(F.lit(1)).over(w8).alias("n_8"),
    )
    rule2 = (F.col("hi2_3") >= 2) | (F.col("lo2_3") >= 2)
    rule4 = (F.col("n_8") == 8) & (
        (F.col("pos_8") == 8) | (F.col("pos_8") == 0)
    )
    return w.where(
        (F.col("beyond3") == 1) | rule2 | rule4
    ).select(
        "day",
        F.round("z", 6).alias("z_score"),
        (F.col("beyond3") == 1).alias("rule1_beyond_3sigma"),
        rule2.alias("rule2_two_of_three_beyond_2sigma"),
        rule4.alias("rule4_eight_same_side"),
    )


_ROLLING_SLOPE_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
idx AS (
    SELECT day, y,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
roll AS (
    SELECT day, t, y,
           CAST(COUNT(*) OVER w AS DOUBLE) AS n,
           CAST(SUM(t) OVER w AS DOUBLE) AS st,
           CAST(SUM(CAST(round(y, 2) AS DECIMAL(38,2))) OVER w
                AS DOUBLE) AS sy,
           CAST(SUM(t * t) OVER w AS DOUBLE) AS stt,
           CAST(SUM(CAST(round(t * y, 2) AS DECIMAL(38,2))) OVER w
                AS DOUBLE) AS sty
    FROM idx
    WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT day,
       CAST(n AS BIGINT) AS n_days,
       round((n * sty - st * sy) / (n * stt - st * st), 6)
           AS slope_per_day
FROM roll
WHERE n = 30
"""


@query("window_rolling_ols_slope", oracle=_ROLLING_SLOPE_ORACLE)
def window_rolling_ols_slope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """30-day rolling OLS trend slope of daily revenue — the momentum
    signal quant/ops dashboards track, as ONE pass of frame windows:
    the regression needs only (n, Σt, Σy, Σt², Σty) over the trailing
    frame, all of which are windowed sums (t is the integer day index,
    so Σt/Σt² are exact; Σy and Σty ride the 2-dp decimal grid), and
    the slope is constant scalar algebra per row — no per-window
    refit, no self-join, fully distributed by the same day-ordered
    frame the moving median uses. Warm-up rows (n < 30) are dropped
    so every slope is a full-window estimate."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    idx = daily.select(
        "day",
        "y",
        F.row_number()
        .over(Win.orderBy("day"))
        .cast("long")
        .alias("t"),
    )
    w = Win.orderBy("day").rowsBetween(-29, 0)
    roll = idx.select(
        "day",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("t").over(w).cast("double").alias("st"),
        F.sum(F.round("y", 2).cast("decimal(38,2)"))
        .over(w)
        .cast("double")
        .alias("sy"),
        F.sum(F.col("t") * F.col("t")).over(w).cast("double").alias(
            "stt"
        ),
        F.sum(
            F.round(F.col("t") * F.col("y"), 2).cast("decimal(38,2)")
        )
        .over(w)
        .cast("double")
        .alias("sty"),
    )
    n, st, sy, stt, sty = (
        F.col("n"),
        F.col("st"),
        F.col("sy"),
        F.col("stt"),
        F.col("sty"),
    )
    return roll.where(n == 30).select(
        "day",
        n.cast("long").alias("n_days"),
        F.round(
            (n * sty - st * sy) / (n * stt - st * st), 6
        ).alias("slope_per_day"),
    )


_RECORD_DAYS_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
run AS (
    SELECT day, y,
           MAX(y) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max,
           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
recs AS (
    SELECT day, y, t FROM run
    WHERE prev_max IS NULL OR y > prev_max
)
SELECT day AS record_day,
       round(y, 2) AS revenue,
       t AS day_index,
       CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS record_number
FROM recs
ORDER BY day
"""


@query("ts_record_breaking_days", oracle=_RECORD_DAYS_ORACLE)
def ts_record_breaking_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Record-breaking days: every day whose revenue strictly exceeds
    ALL prior days, with its record sequence number — the extreme-value
    counting statistic (for an i.i.d. series the expected record count
    is the harmonic number H_n ≈ ln n, so a record RATE above that is
    itself trend evidence, the logic behind record-based trend tests).
    One running-max window over the daily frame plus a row_number over
    the record subset (records are O(log n) of days, so the second
    window is near-empty). All comparisons on the exact 2-dp grid."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    wd = Win.orderBy("day")
    run = daily.select(
        "day",
        "y",
        F.max("y").over(wd.rowsBetween(Win.unboundedPreceding, -1))
        .alias("prev_max"),
        F.row_number().over(wd).cast("long").alias("t"),
    )
    recs = run.where(
        F.col("prev_max").isNull() | (F.col("y") > F.col("prev_max"))
    )
    return recs.select(
        F.col("day").alias("record_day"),
        F.round("y", 2).alias("revenue"),
        F.col("t").alias("day_index"),
        F.row_number().over(Win.orderBy("day")).cast("long").alias(
            "record_number"
        ),
    ).orderBy("record_day")


_TIME_DECAY_ATTR_ORACLE = """
WITH purchases AS (
    SELECT user_id, ts AS pts, event_id AS pid
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT p.pid, e.event_type,
           CAST(epoch_us(p.pts) - epoch_us(e.ts) AS BIGINT) AS age_us
    FROM purchases p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.ts < p.pts
     AND e.ts >= p.pts - INTERVAL 1 HOUR
     AND e.event_type <> 'purchase'
),
raw AS (
    SELECT pid, event_type,
           CAST(round(exp(round(-0.693147 * age_us
                                / 1800000000.0, 6)), 9)
                AS DECIMAL(38,9)) AS w
    FROM touch
),
norm AS (
    SELECT pid, event_type, w,
           SUM(w) OVER (PARTITION BY pid) AS tot
    FROM raw
),
credit AS (
    SELECT pid, event_type,
           CAST(round(CAST(w AS DOUBLE) / CAST(tot AS DOUBLE), 6)
                AS DECIMAL(38,6)) AS c
    FROM norm
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(c) AS DOUBLE) AS attributed_purchases
FROM credit GROUP BY event_type
"""


@query("window_attribution_time_decay", oracle=_TIME_DECAY_ATTR_ORACLE)
def window_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-decay multi-touch attribution (30-min half-life): each
    touch in the hour before a purchase earns weight 2^(−age/τ),
    normalized per purchase — the recency-weighted model between
    last-touch (all credit to the final click) and linear (flat), the
    one marketers default to for short conversion cycles. Same bounded
    touch join as the linear model (user-keyed equi-join, hour window
    residual); decay is exp of a 6-dp-quantized exponent (the KM/
    Pettitt cross-engine discipline — raw pow() can differ an ulp
    across libms), weights re-quantized at 9 dp before the per-purchase
    normalization window and at 6 dp before the final decimal sum."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    touches = (
        ev.where(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("t_user"),
            "event_type",
            F.col("ts").alias("ets"),
        )
        .join(
            purchases,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("ets") < F.col("pts"))
            & (
                F.col("ets")
                >= F.col("pts") - F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            "pid",
            "event_type",
            (
                F.unix_micros("pts") - F.unix_micros("ets")
            ).alias("age_us"),
        )
    )
    w = F.round(
        F.exp(
            F.round(
                -0.693147 * F.col("age_us") / F.lit(1800000000.0), 6
            )
        ),
        9,
    ).cast("decimal(38,9)")
    raw = touches.select("pid", "event_type", w.alias("w"))
    norm = raw.select(
        "pid",
        "event_type",
        "w",
        F.sum("w").over(Win.partitionBy("pid")).alias("tot"),
    )
    credit = norm.select(
        "event_type",
        F.round(
            F.col("w").cast("double") / F.col("tot").cast("double"), 6
        )
        .cast("decimal(38,6)")
        .alias("c"),
    )
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("c").cast("double").alias("attributed_purchases"),
    )


def _binseg_oracle() -> str:
    """Two-level Pettitt binary segmentation: the rank U-statistic CTE
    template is instantiated for the full series, then for each half
    split at the stage-1 argmax. MATERIALIZED throughout — each stage's
    frame is referenced more than once."""
    stage = """
{name}_rk AS MATERIALIZED (
    SELECT d.day, d.y,
           (SELECT COUNT(*) FROM {src} b WHERE b.y < d.y)
             + ((SELECT COUNT(*) FROM {src} c WHERE c.y = d.y) + 1)
               / CAST(2 AS DOUBLE) AS midrank
    FROM {src} d
),
{name}_run AS MATERIALIZED (
    SELECT day,
           CAST(SUM(CAST(round(midrank, 1) AS DECIMAL(38,1)))
                OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS r_cum,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM {name}_rk
),
{name}_pick AS MATERIALIZED (
    SELECT day, abs(2 * r_cum - CAST(t AS DOUBLE) * (n + 1)) AS k
    FROM {name}_run WHERE t < n
    ORDER BY abs(2 * r_cum - CAST(t AS DOUBLE) * (n + 1)) DESC, day
    LIMIT 1
)"""
    return (
        """
WITH daily AS MATERIALIZED (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),"""
        + stage.format(name="s1", src="daily")
        + ","
        + """
left_h AS MATERIALIZED (
    SELECT * FROM daily WHERE day <= (SELECT day FROM s1_pick)
),
right_h AS MATERIALIZED (
    SELECT * FROM daily WHERE day > (SELECT day FROM s1_pick)
),"""
        + stage.format(name="s2", src="left_h")
        + ","
        + stage.format(name="s3", src="right_h")
        + """
SELECT 'primary' AS stage, day AS changepoint_day, round(k, 1) AS k_stat
FROM s1_pick
UNION ALL
SELECT 'left', day, round(k, 1) FROM s2_pick
UNION ALL
SELECT 'right', day, round(k, 1) FROM s3_pick
"""
    )


@query("ts_binary_segmentation_pettitt", oracle=_binseg_oracle())
def ts_binary_segmentation_pettitt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary segmentation for MULTIPLE changepoints: run Pettitt's
    rank test on the full daily-revenue series, split at its argmax,
    and re-run on each half — the standard recursion that turns any
    single-changepoint test into a multi-changepoint detector (here
    one level = up to 3 changepoints; production recurses until the
    statistic drops below significance). Each stage is the same
    bounded shape: midranks from a value-counts pass, one day-ordered
    rank cumsum, argmax via TakeOrdered — on frames that HALVE per
    level; the daily series is checkpointed once and each half filters
    against the broadcast 1-row split day. Segment data stay
    distributed throughout."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(
        load_table(spark, sf_dir, "orders"), "y"
    ).localCheckpoint(eager=True)

    def pettitt_pick(seg, tag):
        vc = seg.groupBy("y").agg(
            F.count(F.lit(1)).cast("long").alias("l")
        )
        rk = vc.select(
            "y",
            "l",
            (
                F.sum("l").over(
                    Win.orderBy("y").rowsBetween(
                        Win.unboundedPreceding, Win.currentRow
                    )
                )
                - F.col("l")
            )
            .cast("long")
            .alias("cum_before"),
        )
        ranked = seg.join(rk, "y").select(
            "day",
            (
                F.col("cum_before") + (F.col("l") + 1) / F.lit(2.0)
            ).alias("midrank"),
        )
        wd = Win.orderBy("day")
        run = ranked.select(
            "day",
            F.sum(F.round("midrank", 1).cast("decimal(38,1)"))
            .over(wd.rowsBetween(Win.unboundedPreceding, Win.currentRow))
            .cast("double")
            .alias("r_cum"),
            F.row_number().over(wd).cast("long").alias("t"),
            F.count(F.lit(1))
            .over(Win.partitionBy())
            .cast("long")
            .alias("n"),
        )
        k = F.abs(
            2 * F.col("r_cum")
            - F.col("t").cast("double") * (F.col("n") + 1)
        )
        return (
            run.where(F.col("t") < F.col("n"))
            .orderBy(k.desc(), "day")
            .limit(1)
            .select(
                F.lit(tag).alias("stage"),
                F.col("day").alias("changepoint_day"),
                F.round(k, 1).alias("k_stat"),
            )
            .localCheckpoint(eager=True)
        )

    s1 = pettitt_pick(daily, "primary")
    split = s1.select(F.col("changepoint_day").alias("split_day"))
    left = daily.crossJoin(F.broadcast(split)).where(
        F.col("day") <= F.col("split_day")
    ).select("day", "y")
    right = daily.crossJoin(F.broadcast(split)).where(
        F.col("day") > F.col("split_day")
    ).select("day", "y")
    s2 = pettitt_pick(left, "left")
    s3 = pettitt_pick(right, "right")
    return s1.unionByName(s2).unionByName(s3)


_MARKOV_NEXT_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
    FROM events
),
trans AS (
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
pred AS (
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY c DESC, next_type) AS BIGINT) AS rnk,
           next_type AS predicted
    FROM trans
),
top1 AS (SELECT event_type, predicted FROM pred WHERE rnk = 1),
scored AS (
    SELECT s.event_type, s.next_type, t.predicted
    FROM seq s JOIN top1 t ON t.event_type = s.event_type
    WHERE s.next_type IS NOT NULL
)
SELECT event_type,
       ANY_VALUE(predicted) AS predicted_next,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(SUM(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS top1_accuracy
FROM scored GROUP BY event_type
"""


@query("ts_markov_next_event_accuracy", oracle=_MARKOV_NEXT_ORACLE)
def ts_markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov next-event baseline: predict each user's next
    event type as the globally most common successor of the current
    type, and score top-1 accuracy per current type — the sanity
    baseline every sequence model (session transformers, next-action
    recommenders) must beat before its lift means anything, and the
    argmax readout of the transition matrix `ts_markov_entropy_rate`
    measures in bits. One user-ordered lead window (same exchange as
    sessionization), a 25-cell transition count, a broadcast of the
    per-type argmax back onto the transitions; ties in the argmax
    break lexicographically so the predictor is deterministic."""
    from pyspark.sql import Window as Win, functions as F

    ev = load_table(spark, sf_dir, "events")
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull()).localCheckpoint(eager=True)
    trans = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wp = Win.partitionBy("event_type").orderBy(
        F.col("c").desc(), "next_type"
    )
    top1 = (
        trans.select(
            "event_type",
            F.col("next_type").alias("predicted"),
            F.row_number().over(wp).alias("rnk"),
        )
        .where(F.col("rnk") == 1)
        .drop("rnk")
    )
    scored = seq.join(F.broadcast(top1), "event_type")
    return scored.groupBy("event_type").agg(
        F.any_value("predicted").alias("predicted_next"),
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(
            F.when(F.col("next_type") == F.col("predicted"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("next_type") == F.col("predicted"), 1)
                .otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("top1_accuracy"),
    )


_DRAWDOWN_DEMEANED_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM daily_src GROUP BY 1
),
dev AS (
    SELECT day,
           CAST(round(y - (SELECT CAST(SUM(CAST(round(y2.y, 2)
                AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) FROM daily y2),
                2) AS DECIMAL(38,2)) AS d
    FROM daily
),
cum AS (
    SELECT day,
           CAST(SUM(d) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS equity
    FROM dev
),
dd AS (
    SELECT day, equity,
           MAX(equity) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
    FROM cum
)
SELECT day AS trough_day,
       round(equity, 2) AS equity,
       round(peak, 2) AS peak,
       round(peak - equity, 2) AS drawdown
FROM dd
ORDER BY peak - equity DESC, day
LIMIT 1
"""


@query(
    "ts_max_drawdown_demeaned",
    oracle=_DRAWDOWN_DEMEANED_ORACLE.replace("daily_src", "orders"),
)
def ts_max_drawdown_demeaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the demeaned cumulative-revenue curve: the
    deepest peak-to-trough drop of the equity line (daily revenue minus
    its mean, cumulated — demeaning makes the curve mean-reverting so
    drawdown measures SLUMPS rather than the trivial end-of-series
    drift), the quant risk metric and the business-view of 'worst
    sustained shortfall vs run-rate'. Same two-stacked-window kernel
    as the clamped balance — prefix sum, then running max, then
    TakeOrdered(1) argmax of the gap — one day exchange; deviations
    quantized at 2 dp so the cumulative decimal sums are exact."""
    from pyspark.sql import Window as Win, functions as F

    daily = daily_revenue(
        load_table(spark, sf_dir, "orders"), "y"
    ).localCheckpoint(eager=True)
    mean = daily.agg(
        (
            F.sum(F.round("y", 2).cast("decimal(38,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mean)).select(
        "day",
        F.round(F.col("y") - F.col("mu"), 2)
        .cast("decimal(38,2)")
        .alias("d"),
    )
    wd = Win.orderBy("day").rowsBetween(Win.unboundedPreceding, 0)
    cum = dev.select(
        "day", F.sum("d").over(wd).cast("double").alias("equity")
    )
    dd = cum.select(
        "day",
        "equity",
        F.max("equity").over(wd).alias("peak"),
    )
    return (
        dd.orderBy((F.col("peak") - F.col("equity")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("trough_day"),
            F.round("equity", 2).alias("equity"),
            F.round("peak", 2).alias("peak"),
            F.round(F.col("peak") - F.col("equity"), 2).alias(
                "drawdown"
            ),
        )
    )


_RETENTION_DECAY_ORACLE = f"""
WITH firsts AS (
    SELECT user_id,
           MIN(CAST(epoch_us(ts) // {_WEEK_US} AS BIGINT)) AS w0
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id,
           CAST(epoch_us(e.ts) // {_WEEK_US} AS BIGINT) - f.w0 AS k
    FROM events e JOIN firsts f ON f.user_id = e.user_id
),
base AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n0 FROM firsts),
ret AS (
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           round(ln(COUNT(*) / (SELECT n0 FROM base)), 6) AS ln_r
    FROM activity WHERE k >= 1 GROUP BY k
),
fit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m,
           CAST(SUM(k) AS DOUBLE) AS sk,
           CAST(SUM(CAST(ln_r AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(k * k) AS DOUBLE) AS skk,
           CAST(SUM(CAST(round(k * ln_r, 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sky
    FROM ret
)
SELECT CAST(m AS BIGINT) AS n_weeks,
       round((m * sky - sk * sy) / (m * skk - sk * sk), 6)
           AS decay_rate_per_week,
       CASE WHEN (m * sky - sk * sy) / (m * skk - sk * sk) < 0
            THEN round(-0.693147
                 / ((m * sky - sk * sy) / (m * skk - sk * sk)), 6)
            ELSE CAST(-1.0 AS DOUBLE) END AS half_life_weeks
FROM fit
"""


@query("ts_retention_decay_fit", oracle=_RETENTION_DECAY_ORACLE)
def ts_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: weekly cohort-free retention
    r_k = active(week k since first activity)/all users, log-linear
    OLS ln r_k ~ k → the decay rate and half-life — the ONE-number
    retention summary that turns the curve `window_cohort_retention`
    tabulates into a forecastable constant (LTV projections and
    payback models consume the half-life directly). Distinct
    (user, week-offset) collapse, a ≤weeks-count retention frame,
    closed-form OLS on quantized ln ratios — integer sums everywhere
    else."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    wk = (F.unix_micros("ts") / F.lit(_WEEK_US)).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("w0"))
    activity = (
        ev.select("user_id", wk.alias("w"))
        .join(firsts, "user_id")
        .select("user_id", (F.col("w") - F.col("w0")).alias("k"))
        .distinct()
    )
    base = firsts.agg(F.count(F.lit(1)).cast("double").alias("n0"))
    ret = (
        activity.where(F.col("k") >= 1)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .crossJoin(F.broadcast(base))
        .select(
            "k",
            F.round(
                F.log(F.col("n_active") / F.col("n0")), 6
            ).alias("ln_r"),
        )
    )
    fit = ret.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("k").cast("double").alias("sk"),
        F.sum(F.col("ln_r").cast("decimal(38,6)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.col("k") * F.col("k")).cast("double").alias("skk"),
        F.sum(
            F.round(F.col("k") * F.col("ln_r"), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sky"),
    )
    m, sk, sy, skk, sky = (
        F.col("m"),
        F.col("sk"),
        F.col("sy"),
        F.col("skk"),
        F.col("sky"),
    )
    slope = (m * sky - sk * sy) / (m * skk - sk * sk)
    # Non-negative slope = no measurable decay (the synthetic fixture's
    # users are active every week) — the half-life is undefined, so a
    # -1.0 sentinel replaces the division both here and in the oracle.
    half_life = F.when(
        slope < 0, F.round(-0.693147 / slope, 6)
    ).otherwise(F.lit(-1.0))
    return fit.select(
        m.cast("long").alias("n_weeks"),
        F.round(slope, 6).alias("decay_rate_per_week"),
        half_life.alias("half_life_weeks"),
    )


_BOLLINGER_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev,
           (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 100 AS BIGINT)
            // 100) AS rev_d
    FROM orders GROUP BY 1
),
w AS (
    SELECT day, rev,
           CAST(SUM(rev_d) OVER win AS BIGINT) AS s1,
           CAST(SUM(rev_d * rev_d) OVER win AS BIGINT) AS s2,
           CAST(COUNT(*) OVER win AS BIGINT) AS n
    FROM daily
    WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
b AS (
    SELECT day, rev, n,
           CAST(s1 AS DOUBLE) / n AS mid,
           sqrt(greatest((CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                         / n, 0)) AS sd
    FROM w
)
SELECT day, rev, n,
       mid,
       mid + 2 * sd AS upper_band,
       mid - 2 * sd AS lower_band,
       CAST(CASE WHEN n = 7 AND (rev > mid + 2 * sd OR rev < mid - 2 * sd)
            THEN 1 ELSE 0 END AS INT) AS is_breakout
FROM b
"""


@query("window_bollinger_bands", oracle=_BOLLINGER_ORACLE)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily revenue: 7-day rolling mean ± 2 rolling
    population std-devs, with a breakout flag once the window is full —
    the band-based anomaly monitor (complementing `ts_rolling_zscore`,
    which scores points; bands expose the envelope itself for charting
    and flag only full-window excursions). Numeric discipline, learned
    the hard way in this query: the band math runs on WHOLE-DOLLAR
    (floor-of-cents) daily revenue, an explicit part of the operator
    contract, because that is the exactly-representable domain — rev²
    sums in cents exceed both int64 (overflow at sf0.1) and 2^53 (the
    threshold past which int/decimal→double casts stop being
    deterministic cross-engine: the JVM rounds once via BigDecimal
    while DuckDB's int128→double path double-rounds, observed as ~1e-8
    band drift). Dollar-quantized squares stay under 2^53 through
    sf≈0.5, every conversion is exact, and every downstream op is IEEE
    double arithmetic on identical inputs — bit-identical with NO
    in-query rounding (round(x, 6) itself splits on 7th-digit-5 ties,
    also observed here). One window sort over one series of daily
    rows; at 100 TB the identical plan runs per entity with
    partitionBy."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    rev_dec = F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            rev_dec.cast("double").alias("rev"),
            (rev_dec * 100).cast("long").alias("rev_c"),
        )
        .select(
            "day", "rev", F.expr("rev_c div 100").alias("rev_d")
        )
    )
    win = Win.orderBy("day").rowsBetween(-6, Win.currentRow)
    w = daily.select(
        "day",
        "rev",
        F.sum("rev_d").over(win).cast("long").alias("s1"),
        F.sum(F.col("rev_d") * F.col("rev_d"))
        .over(win)
        .cast("long")
        .alias("s2"),
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
    )
    mid = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * F.col("s1").cast("double")
                / F.col("n")
            )
            / F.col("n"),
            F.lit(0.0),
        )
    )
    b = w.select("day", "rev", "n", mid.alias("mid"), sd.alias("sd"))
    return b.select(
        "day",
        "rev",
        "n",
        F.col("mid"),
        (F.col("mid") + 2 * F.col("sd")).alias("upper_band"),
        (F.col("mid") - 2 * F.col("sd")).alias("lower_band"),
        F.when(
            (F.col("n") == 7)
            & (
                (F.col("rev") > F.col("mid") + 2 * F.col("sd"))
                | (F.col("rev") < F.col("mid") - 2 * F.col("sd"))
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_breakout"),
    )


_SAX_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 100 AS BIGINT)
            // 100000) AS rev_k
    FROM orders GROUP BY 1
),
seq AS (
    SELECT rev_k,
           CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS t
    FROM daily
),
stats AS (
    SELECT CAST(SUM(rev_k) AS BIGINT) AS s1,
           CAST(SUM(rev_k * rev_k) AS BIGINT) AS s2,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM seq
),
paa AS (
    SELECT t // 7 AS seg,
           CAST(SUM(rev_k) AS BIGINT) AS seg_s,
           CAST(COUNT(*) AS BIGINT) AS seg_n
    FROM seq GROUP BY 1
),
z AS (
    SELECT seg, seg_n,
           ((CAST(seg_s AS DOUBLE) / seg_n) - (CAST(s1 AS DOUBLE) / n))
               / sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                                     * CAST(s1 AS DOUBLE) / n) / n, 0))
               AS zval
    FROM paa, stats
)
SELECT CAST(seg AS BIGINT) AS seg, seg_n,
       zval AS paa_z,
       CASE WHEN zval < CAST(-0.6745 AS DOUBLE) THEN 'a'
            WHEN zval < CAST(0 AS DOUBLE) THEN 'b'
            WHEN zval < CAST(0.6745 AS DOUBLE) THEN 'c'
            ELSE 'd' END AS symbol
FROM z
"""


@query("ts_sax_symbolic", oracle=_SAX_ORACLE)
def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. DMKD'07) of the
    daily-revenue series: z-normalize against the global mean/std, PAA
    into weekly segments (mean of 7 days), then map each segment to a
    4-symbol alphabet at the standard-normal quartile breakpoints
    (±0.6745, 0) — the discretization that turns a numeric series into a
    string for motif discovery, hashing, and suffix-based similarity.
    Global stats come from one DECIMAL-exact pass and broadcast to the
    segment aggregation; both engines derive identical doubles so the
    breakpoint comparisons agree bitwise. The series is quantized to
    whole-k$ daily revenue as part of the operator contract — the SAX
    symbols are a coarse shape code, so kilo-dollar granularity loses
    nothing, and it keeps every sum and square exactly representable
    (≤2^53) at any realistic scale; see window_bollinger_bands for why
    wider integers/decimals are NOT cross-engine deterministic through
    a double cast. Two partial-aggregable shuffles (daily rollup,
    segment rollup) — scale-safe."""
    from pyspark.sql import Window as Win, functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * 100)
            .cast("long")
            .alias("rev_c")
        )
        .select("day", F.expr("rev_c div 100000").alias("rev_k"))
    )
    seq = daily.select(
        "rev_k",
        (F.row_number().over(Win.orderBy("day")) - 1)
        .cast("long")
        .alias("t"),
    )
    stats = seq.agg(
        F.sum("rev_k").cast("long").alias("s1"),
        F.sum(F.col("rev_k") * F.col("rev_k")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    paa = seq.groupBy(
        (F.col("t") / 7).cast("long").alias("seg")
    ).agg(
        F.sum("rev_k").cast("long").alias("seg_s"),
        F.count(F.lit(1)).cast("long").alias("seg_n"),
    )
    s1d = F.col("s1").cast("double")
    zval = (
        (F.col("seg_s").cast("double") / F.col("seg_n"))
        - (s1d / F.col("n"))
    ) / F.sqrt(
        F.greatest(
            (F.col("s2").cast("double") - s1d * s1d / F.col("n"))
            / F.col("n"),
            F.lit(0.0),
        )
    )
    return paa.crossJoin(F.broadcast(stats)).select(
        "seg",
        "seg_n",
        zval.alias("paa_z"),
        F.when(zval < -0.6745, "a")
        .when(zval < 0.0, "b")
        .when(zval < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    )


_VWAP_ORACLE = """
WITH d AS (
    SELECT CAST(l_shipdate AS DATE) AS day,
           date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) * 100
                AS BIGINT) AS px_c,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1, 2
),
r AS (
    SELECT day, month, qty,
           CAST(SUM(px_c) OVER w AS BIGINT) AS run_px_c,
           CAST(SUM(qty) OVER w AS BIGINT) AS run_qty
    FROM d
    WINDOW w AS (PARTITION BY month ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, qty, run_qty,
       CAST(run_px_c AS DOUBLE) / run_qty / 100 AS anchored_vwap
FROM r
"""


@query("window_anchored_vwap", oracle=_VWAP_ORACLE)
def window_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP (volume-weighted average price), re-anchored each
    month: running Σ(extended price)/Σ(quantity) within the month
    partition — the execution-quality benchmark from trading applied to
    the retail fact table (is today's average selling price above or
    below the month-to-date volume-weighted mean?). The fact table
    collapses to a per-day rollup FIRST (partial-aggregable shuffle),
    so the window sorts days, not line items; price sums run in exact
    integer cents and quantities in int64, so the running ratio is
    identical IEEE arithmetic on both engines. At 100 TB the same plan
    partitions by (symbol, month)."""
    from pyspark.sql import Window as Win, functions as F

    li = load_table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_shipdate").cast("date").alias("day"),
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias(
            "month"
        ),
    ).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(38,6)")) * 100)
        .cast("long")
        .alias("px_c"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    w = (
        Win.partitionBy("month")
        .orderBy("day")
        .rowsBetween(Win.unboundedPreceding, Win.currentRow)
    )
    r = d.select(
        "day",
        "qty",
        F.sum("px_c").over(w).cast("long").alias("run_px_c"),
        F.sum("qty").over(w).cast("long").alias("run_qty"),
    )
    return r.select(
        "day",
        "qty",
        "run_qty",
        (F.col("run_px_c").cast("double") / F.col("run_qty") / 100).alias(
            "anchored_vwap"
        ),
    )


_SLIDING_TOPK_ORACLE = f"""
WITH assigned AS (
    SELECT event_type,
           (epoch_us(ts) // {_HALF_US} - k) * {_HALF_US} AS start_us
    FROM events, (SELECT unnest(range(0, 2)) AS k)
),
counts AS (
    SELECT start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM assigned GROUP BY start_us, event_type
),
ranked AS (
    SELECT start_us, event_type, n_events,
           row_number() OVER (PARTITION BY start_us
                              ORDER BY n_events DESC, event_type)
               AS rnk
    FROM counts
)
SELECT make_timestamp(start_us) AS window_start,
       make_timestamp(start_us + {_HOUR_US}) AS window_end,
       event_type, n_events, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 2
"""


@query("stream_sliding_topk_types", oracle=_SLIDING_TOPK_ORACLE)
def stream_sliding_topk_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-2 event types per sliding window (1 h window, 30 min slide) —
    the trending-now leaderboard: the SAME declarative definition runs
    under readStream with a watermark (the builder is
    `streaming.windows.sliding_counts`; under streaming, rank-per-
    closed-window runs in the foreachBatch sink since windowed rank is
    not incrementally maintainable — the documented pattern for
    post-aggregation ranking). Batch mode ranks within window after
    the partial-aggregable count; ties break on event_type for a total
    order."""
    from pyspark.sql import Window as Win, functions as F

    counts = W.sliding_counts(load_table(spark, sf_dir, "events"))
    ranked = counts.withColumn(
        "rnk",
        F.row_number().over(
            Win.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), "event_type"
            )
        ),
    )
    return ranked.where(F.col("rnk") <= 2).select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        F.col("rnk").cast("int").alias("rnk"),
    )


_THEIL_SEN_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
    SELECT CAST(b.n - a.n AS DOUBLE)
             / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope,
           a.day AS d1, b.day AS d2
    FROM daily a JOIN daily b ON a.day < b.day
),
ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope, d1, d2) AS rk,
           COUNT(*) OVER () AS n_pairs
    FROM pairs
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       slope AS theil_sen_slope
FROM ranked WHERE rk = (n_pairs + 1) // 2
"""


@query("ts_theil_sen_daily_trend", oracle=_THEIL_SEN_ORACLE)
def ts_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event volume: the LOWER
    median of all pairwise slopes (n_j − n_i)/(day_j − day_i), the
    outlier-proof alternative to an OLS slope (breakdown point 29%) —
    the right trend estimate for volume series with incident spikes.

    Deterministic by construction: each slope is ONE exact-int
    difference divided once (IEEE-correct, bit-identical both engines),
    and the median is a RANK pick (slope, d1, d2 total order) — never an
    average of two middles, so no float addition whose rounding could
    differ. Scale: pairs are quadratic in DAYS, not rows — the daily
    rollup is the only corpus-wide pass; a calendar is bounded, so the
    O(days²) stage is a constant-size tail (435 pairs for a month,
    ~66k for a decade)."""
    from pyspark.sql import Window as W, functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("n").alias("n1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("n").alias("n2")
    )
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("n2") - F.col("n1")).cast("double")
            / F.datediff(F.col("d2"), F.col("d1")).cast("double")
        ).alias("slope"),
        "d1",
        "d2",
    )
    w = W.orderBy("slope", "d1", "d2")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("n_pairs"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        ranked.where(
            F.col("rk")
            == F.floor((F.col("n_pairs") + F.lit(1)) / F.lit(2))
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope").alias("theil_sen_slope"),
        )
    )


_POISSON_TAIL_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY CAST(ts AS DATE)
),
lam AS (
    SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS lam FROM daily
)
SELECT day, n,
       -lam + CAST(n AS DOUBLE)
            * (CAST(1.0 AS DOUBLE) + round(ln(lam), 6)
               - round(ln(CAST(n AS DOUBLE)), 6)) AS ln_p_bound
FROM daily, lam
WHERE CAST(n AS DOUBLE) > lam
  AND -lam + CAST(n AS DOUBLE)
           * (CAST(1.0 AS DOUBLE) + round(ln(lam), 6)
              - round(ln(CAST(n AS DOUBLE)), 6)) <= -3.0
"""


@query("ts_poisson_tail_anomalies", oracle=_POISSON_TAIL_ORACLE)
def ts_poisson_tail_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume is a PRINCIPLED Poisson anomaly: the
    Chernoff upper-tail bound ln P(X ≥ k) ≤ −λ + k(1 + ln λ − ln k)
    under a homogeneous rate λ (the MLE daily mean), flagging days with
    ln-probability ≤ −3 — a rate-model alternative to the z-score cut
    (`ts_anomalous_days`) that is exact for counts and needs no variance
    estimate. Float discipline: ln outputs quantized to the 6-dp grid
    (the only non-correctly-rounded ops); everything else is a fixed
    IEEE dag on exact ints, so both engines produce bit-identical
    bounds. One corpus pass (the daily rollup); the bound itself is a
    narrow map over day rows."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lam_row = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("lam")
    )
    j = daily.crossJoin(F.broadcast(lam_row))
    k = F.col("n").cast("double")
    lnp = -F.col("lam") + k * (
        F.lit(1.0)
        + F.round(F.log(F.col("lam")), 6)
        - F.round(F.log(k), 6)
    )
    return (
        j.where((k > F.col("lam")) & (lnp <= F.lit(-3.0)))
        .select("day", F.col("n").cast("long").alias("n"), lnp.alias("ln_p_bound"))
    )


_KALMAN_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1
),
o AS (SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
kal AS (
    SELECT rn, day, y, y AS x, CAST(1.0 AS DOUBLE) AS p,
           CAST(NULL AS DOUBLE) AS g
    FROM o WHERE rn = 1
    UNION ALL
    SELECT o.rn, o.day, o.y,
           kal.x + ((kal.p + 0.01) / ((kal.p + 0.01) + 4.0))
                   * (o.y - kal.x),
           (1.0 - ((kal.p + 0.01) / ((kal.p + 0.01) + 4.0)))
               * (kal.p + 0.01),
           (kal.p + 0.01) / ((kal.p + 0.01) + 4.0)
    FROM kal JOIN o ON o.rn = kal.rn + 1
)
SELECT day, y, round(x, 6) AS level, round(p, 6) AS variance,
       round(g, 6) AS gain
FROM kal
"""


@query("ts_kalman_level_filter", oracle=_KALMAN_ORACLE)
def ts_kalman_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman level filter over the daily event-count series (local
    level model, process noise q=0.01, observation noise r=4): per day
    the filtered level, its posterior variance, and the Kalman gain —
    the state-space smoother whose gain ADAPTS (high after gaps or at
    series start, low once the level is learned), unlike the fixed-α
    EWMA family. The recursion divides by the predicted variance each
    step, so unlike Brown's smoothing (`ts_holt_linear_forecast`) it
    has NO window-sum closed form: the distributed pass is the daily
    aggregation (the part that scales with data volume), and the O(days)
    recursion runs as a bounded driver fold over ≤ a-few-thousand daily
    rows — the same bounded-driver-loop pattern as the BPE merge loop
    and the adaptive union-find. Per-entity filtering at scale runs the
    identical fold inside applyInPandas keyed by entity. Both engines
    execute the identical IEEE expression tree per step (the oracle is
    the same recursion as a recursive CTE), so values match to the
    rounded 6 decimals and beyond."""
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    rows = daily.orderBy("day").collect()  # bounded: one row per DAY
    if not rows:
        return spark.createDataFrame(
            [],
            "day date, y double, level double, variance double, "
            "gain double",
        )
    x = rows[0].y
    p = 1.0
    out = [(rows[0].day, rows[0].y, x, p, None)]
    for r in rows[1:]:
        pp = p + 0.01
        g = pp / (pp + 4.0)
        x = x + g * (r.y - x)
        p = (1.0 - g) * pp
        out.append((r.day, r.y, x, p, g))
    df = spark.createDataFrame(
        out,
        "day date, y double, level double, variance double, gain double",
    )
    return df.select(
        "day",
        "y",
        F.round("level", 6).alias("level"),
        F.round("variance", 6).alias("variance"),
        F.round("gain", 6).alias("gain"),
    )


_RTS_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1
),
o AS (SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
fwd AS (
    SELECT rn, day, y, y AS x, CAST(1.0 AS DOUBLE) AS p
    FROM o WHERE rn = 1
    UNION ALL
    SELECT o.rn, o.day, o.y,
           fwd.x + ((fwd.p + 0.01) / ((fwd.p + 0.01) + 4.0))
                   * (o.y - fwd.x),
           (1.0 - ((fwd.p + 0.01) / ((fwd.p + 0.01) + 4.0)))
               * (fwd.p + 0.01)
    FROM fwd JOIN o ON o.rn = fwd.rn + 1
),
mx AS (SELECT MAX(rn) AS t FROM o),
bwd AS (
    SELECT f.rn, f.day, f.y, f.x, f.p, f.x AS xs, f.p AS ps
    FROM fwd f, mx WHERE f.rn = mx.t
    UNION ALL
    SELECT f.rn, f.day, f.y, f.x, f.p,
           f.x + (f.p / (f.p + 0.01)) * (bwd.xs - f.x),
           f.p + (f.p / (f.p + 0.01)) * (f.p / (f.p + 0.01))
               * (bwd.ps - (f.p + 0.01))
    FROM bwd JOIN fwd f ON f.rn = bwd.rn - 1
)
SELECT day, y, round(x, 6) AS level_filtered,
       round(xs, 6) AS level_smoothed,
       round(ps, 6) AS variance_smoothed
FROM bwd
"""


@query("ts_kalman_rts_smoother", oracle=_RTS_ORACLE)
def ts_kalman_rts_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rauch–Tung–Striebel smoother over the daily event-count series:
    the BACKWARD pass on top of `ts_kalman_level_filter`'s forward
    local-level Kalman (q=0.01, r=4) — per day both the causal filtered
    level and the two-sided smoothed level x_s[t] = x_f[t] +
    C_t·(x_s[t+1] − x_f[t]) with C_t = p_f[t]/(p_f[t]+q), plus the
    smoothed variance. The smoother is what offline analysis wants (it
    uses the WHOLE series; the filter is what streaming wants), and the
    gap |x_s − x_f| localizes regime changes the causal filter lagged
    on. Like the filter, the recursion divides by a running variance,
    so there is no window-sum closed form: the distributed pass is the
    daily aggregation; both O(days) recursions run as a bounded driver
    fold (per-ENTITY smoothing at width would run the same fold inside
    the `ts_kalman_entity_level` bucketed applyInPandas). The oracle
    runs the identical forward + backward recursions as chained
    recursive CTEs; every step is the same fixed IEEE dag, so values
    match bit-for-bit before the 6-dp display rounding."""
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    rows = daily.orderBy("day").collect()  # bounded: one row per DAY
    schema = (
        "day date, y double, level_filtered double, "
        "level_smoothed double, variance_smoothed double"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    xf = [rows[0].y]
    pf = [1.0]
    for r in rows[1:]:
        pp = pf[-1] + 0.01
        g = pp / (pp + 4.0)
        xf.append(xf[-1] + g * (r.y - xf[-1]))
        pf.append((1.0 - g) * pp)
    n = len(rows)
    xs = [0.0] * n
    ps = [0.0] * n
    xs[n - 1] = xf[n - 1]
    ps[n - 1] = pf[n - 1]
    for t in range(n - 2, -1, -1):
        c = pf[t] / (pf[t] + 0.01)
        xs[t] = xf[t] + c * (xs[t + 1] - xf[t])
        ps[t] = pf[t] + c * c * (ps[t + 1] - (pf[t] + 0.01))
    out = [
        (rows[t].day, rows[t].y, xf[t], xs[t], ps[t]) for t in range(n)
    ]
    df = spark.createDataFrame(out, schema)
    return df.select(
        "day",
        "y",
        F.round("level_filtered", 6).alias("level_filtered"),
        F.round("level_smoothed", 6).alias("level_smoothed"),
        F.round("variance_smoothed", 6).alias("variance_smoothed"),
    )
