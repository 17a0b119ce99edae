"""Time-series regularization queries over the events table (training-
pipeline extension, same §2.10 class as the streaming twins: the
reference has no time-series surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.plans.registry import register, table as _t


@register(
    "ts_gapfill_interpolate",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hh,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, min(hh) AS lo, max(hh) AS hi FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT s.event_type, g.hh
      FROM spans s, LATERAL (
        SELECT unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS hh
      ) g
    ),
    joined AS (
      SELECT g.event_type, g.hh, h.v FROM grid g
      LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hh = g.hh
    ),
    nbr AS (
      SELECT event_type, hh, v,
             last_value(v IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN v IS NOT NULL THEN hh END IGNORE NULLS)
               OVER wb AS prev_t,
             first_value(v IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN v IS NOT NULL THEN hh END IGNORE NULLS)
               OVER wf AS next_t
      FROM joined
      WINDOW wb AS (PARTITION BY event_type ORDER BY hh
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY event_type ORDER BY hh
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hh,
           -- Same fixed operand order as the Spark side
           -- (prev + (next-prev)*frac): identical IEEE doubles in, so
           -- identical doubles out — see operators/timeseries.py.
           CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v) *
                     (CAST(date_diff('second', prev_t, hh) AS DOUBLE) /
                      CAST(date_diff('second', prev_t, next_t) AS DOUBLE))
           END AS v,
           CAST(v IS NULL AS INTEGER) AS is_gap
    FROM nbr
    """,
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize the hourly per-event-type value series onto a dense
    grid: interior gaps linearly interpolated between neighboring
    observations, edge gaps back-/forward-filled (the metrics/feature
    regularization step before windowed training). At sf0.01 the grid
    is 5×720 hours with ~215 real gaps; at dense scales the operator
    degrades gracefully to identity. The hourly base values are exact
    decimal sums surfaced as doubles, and the interpolation arithmetic
    is written in one fixed operand order on both engines, so the
    oracle hash-matches bit-for-bit (see operators/timeseries.py)."""
    from panditya_spark.operators.timeseries import gapfill_interpolate

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hh")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    return gapfill_interpolate(hourly, "event_type", "hh", "v", "1 hour")


@register("ts_time_decay")
def ts_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted activity score over the events log
    (24h half-life) — the time-decayed feature column of a training
    pipeline. Rows-only (distributed float sums); the exact weighting
    semantics are pinned against a sequential Python mirror in
    tests/test_timeseries.py::test_time_decayed_agg_matches_python."""
    from panditya_spark.operators.timeseries import time_decayed_agg

    ev = _t(spark, sf_dir, "events")
    return time_decayed_agg(ev, "user_id", "ts", "value", 24.0)


@register(
    "ts_decay_range",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 AS INTEGER) AS in_range
    FROM events GROUP BY user_id
    """,
)
def ts_decay_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level driver row for the time-decay operator (VERDICT r7
    rows-only list — ts_time_decay's twin): a decayed score is a
    POSITIVELY-weighted mean, so it must lie inside [min(value),
    max(value)] for every key — the invariant a broken normalization
    (a dropped Σw divisor, a sign flip in the exponent, an
    overflowing weight) violates immediately. The query runs the real
    operator and surfaces the per-user integer in-range flag next to
    the exact event count; the oracle pins counts and all-ones flags.
    The float score itself stays rows-only on ts_time_decay (exact
    weighting pinned against a sequential Python mirror in
    tests/test_timeseries.py)."""
    from panditya_spark.operators.timeseries import time_decayed_agg

    ev = _t(spark, sf_dir, "events")
    scored = time_decayed_agg(ev, "user_id", "ts", "value", 24.0)
    bounds = ev.groupBy("user_id").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    # Tiny relative epsilon on the bounds (ADVICE r8): distributed
    # float summation can land an all-near-equal group's weighted mean
    # a few ULPs outside [vmin, vmax]; the margin absorbs
    # accumulation-order noise without weakening the invariant (a
    # dropped divisor or a sign flip misses by orders of magnitude).
    eps_lo = F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("vmin")))
    eps_hi = F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("vmax")))
    return scored.join(bounds, "user_id").select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("decayed_score")
        .between(F.col("vmin") - eps_lo, F.col("vmax") + eps_hi)
        .cast("int")
        .alias("in_range"),
    )


@register(
    "ts_rolling_zscore",
    oracle="""
    WITH scored AS (
      -- m/sd rounded to 6 decimals BEFORE the 3-sigma comparison on
      -- both engines: accumulation-order ulp divergence must not flip
      -- the integer flag (see operators/timeseries.py).
      SELECT event_type, ts, event_id, value,
             round(avg(value) OVER w, 6) AS m,
             round(stddev_samp(value) OVER w, 6) AS sd,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, epoch_us(ts) AS ts_us, value,
           CAST(n AS BIGINT) AS baseline_n,
           CAST(n >= 24 AND sd IS NOT NULL
                AND abs(value - m) > 3.0 * sd AS INTEGER) AS is_anomaly
    FROM scored
    """,
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags per event-type series
    (operators/timeseries.rolling_zscore_anomalies): strictly-trailing
    24-row baseline, |v − mean| > 3σ, integer flags. ONE analytic
    window = one shuffle per series key; the oracle replays the same
    ROWS frame. event_id breaks same-timestamp ordering ties so both
    engines walk the identical sequence; timestamps surface as
    epoch-micros BIGINTs (the stream_record_high convention)."""
    from panditya_spark.operators.timeseries import rolling_zscore_anomalies

    ev = _t(spark, sf_dir, "events")
    out = rolling_zscore_anomalies(
        ev,
        key_col="event_type",
        time_col="ts",
        value_col="value",
        window_rows=24,
        threshold=3.0,
        order_tiebreak=["event_id"],
    )
    return out.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        "baseline_n",
        "is_anomaly",
    )
