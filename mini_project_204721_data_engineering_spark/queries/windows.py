"""Event-time window queries (batch form of the streaming surface).

Each is the batch-executable equivalent of a streaming operator in
:mod:`mini_project_204721_data_engineering_spark.streaming.events` — same window semantics,
DuckDB-oracle-checkable.  Window starts are emitted as formatted strings
(timestamp wire formats differ between engines; strings don't).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_project_204721_data_engineering_spark.catalog import load_table

__all__ = ["QUERIES", "ORACLES"]

_FMT = "yyyy-MM-dd HH:mm:ss"


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via Spark's window() — count + value sum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


def events_tumbling_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling windows (epoch-aligned, same as streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "n",
        )
    )


EVENTS_TUMBLING_15M_SQL = """
SELECT strftime(to_timestamp((epoch_us(ts) // (900 * 1000000)) * 900),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n
FROM events
GROUP BY 1
"""


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min silence closes a session), the
    window-function form: lag → new-session flag → running sum as session
    id → per-session aggregate.  Same result as streaming session_window
    on closed sessions."""
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = 30 * 60 * 1_000_000
    # timestamp_diff works on TIMESTAMP and TIMESTAMP_NTZ alike; unix_micros
    # rejects NTZ, which is what parquet TIMESTAMP(isAdjustedToUTC=false)
    # columns resolve to under Spark's inferTimestampNTZ default
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.timestamp_diff("MICROSECOND", F.lag("ts").over(w_user), F.col("ts")) > gap_us,
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    ).withColumn("sess_id", F.sum("new_sess").over(w_user))
    return (
        flagged.groupBy("user_id", "sess_id")
        .agg(
            F.date_format(F.min("ts"), _FMT).alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            (F.timestamp_diff("MICROSECOND", F.min("ts"), F.max("ts")) / 1_000_000.0).alias(
                "duration_sec"
            ),
        )
        .select("user_id", "sess_id", "session_start", "n_events", "duration_sec")
    )


EVENTS_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sess AS (
  SELECT user_id, ts, new_sess,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       CAST(sess_id AS BIGINT) AS sess_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_sec
FROM sess
GROUP BY user_id, sess_id
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): every event lands in 4
    windows — Spark's window() with a slide duration."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n",
        )
    )


# oracle: the 4 slide-aligned window starts containing each event are
# base - k·900s for k = 0..3 where base is the event's 15-min bucket
EVENTS_SLIDING_SQL = """
SELECT strftime(to_timestamp(((epoch_us(ts) // (900 * 1000000)) - k.k) * 900),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n
FROM events CROSS JOIN (SELECT * FROM range(4) t(k)) k
GROUP BY 1, 2
"""


def salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 via two-phase salted aggregation (operators/skew.py): identical
    result to the direct groupBy — the oracle proves the salting is
    semantics-preserving.  The factor comes from the measured key-skew
    profile (``recommend_salt``: one count-per-group diagnostic + a
    1-row collect), closing the measure→act loop: uniform keys
    degenerate to the plain two-phase grouping, a planted hot key gets
    exactly the split its reducer overload implies."""
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
        salted_agg,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id", "event_type", "event_id"
    )
    keys = ["day", "user_id", "event_type"]
    return salted_agg(
        ev,
        keys=keys,
        salt_from="event_id",
        partials={"count_of_disasters": (F.count(F.lit(1)), F.sum("count_of_disasters"))},
        n_salts=recommend_salt(ev, keys),
    )


SALTED_COUNTS_SQL = """
SELECT CAST(ts AS DATE) AS day, user_id, event_type,
       count(*) AS count_of_disasters
FROM events
GROUP BY 1, 2, 3
"""


def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function analytics (extension — the reference has NO window
    functions, SURVEY §2.5): per-type daily counts with day-over-day delta
    (lag) and a 7-row moving average.  The window partitions by event_type,
    so at scale each type's series sorts independently after one shuffle —
    no global sort."""
    ev = load_table(spark, sf_dir, "events")
    day = (
        ev.groupBy(F.col("event_type"), F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    return day.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        (F.col("n") - F.lag("n").over(w)).alias("delta"),
        F.round(F.avg("n").over(w7), 4).alias("ma7"),
    )


DAILY_ACTIVITY_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS day,
       n,
       n - lag(n) OVER w AS delta,
       round(avg(n) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


#: keyset-pagination cursor (last seen sort key) — deep pages at 100 TB
#: filter on the cursor instead of scanning `offset` rows (SCALE.md)
KEYSET_CURSOR = "2024-01-20 00:00:00"


def list_events_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 at scale: keyset pagination — the page after a cursor is a
    pushed-down range filter + top-k, never an offset scan.  The filter
    reaches the parquet scan (partition pruning on a date-partitioned
    fact); the sort compiles to TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") > F.lit(KEYSET_CURSOR).cast("timestamp"))
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
        .select(
            "event_id",
            F.date_format("ts", _FMT).alias("ts"),
            "user_id",
            "event_type",
        )
    )


LIST_EVENTS_KEYSET_SQL = f"""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type
FROM events
WHERE ts > TIMESTAMP '{KEYSET_CURSOR}'
ORDER BY ts, event_id
LIMIT 100
"""


def events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (operators/rollup.py): raw → hourly
    rollup → daily reaggregation.  The oracle computes daily DIRECTLY from
    raw events — matching proves the cascade is exact, which is what lets
    a 100 TB store serve daily/weekly views from the hourly rollup
    without rescanning raw data."""
    from mini_project_204721_data_engineering_spark.operators.rollup import reaggregate, rollup_time

    ev = load_table(spark, sf_dir, "events")
    hourly = rollup_time(ev, "ts", "value", ["event_type"], "hour")
    daily = reaggregate(hourly, ["event_type"], "day")
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        F.round("value_sum", 4).alias("value_sum"),
    )


EVENTS_ROLLUP_DAILY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


def type_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user count per event type.  (The scale path swaps in
    ``approx_count_distinct`` — one pass, fixed memory, no expand —
    asserted within 5% by tests/test_operators.py.)"""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


TYPE_USER_CARDINALITY_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "events_hourly": events_hourly,
    "daily_activity": daily_activity,
    "list_events_keyset": list_events_keyset,
    "events_rollup_daily": events_rollup_daily,
    "type_user_cardinality": type_user_cardinality,
    "events_tumbling_15m": events_tumbling_15m,
    "events_sessions": events_sessions,
    "events_sliding": events_sliding,
    "salted_counts": salted_counts,
}


ORACLES = {
    "events_hourly": EVENTS_HOURLY_SQL,
    "daily_activity": DAILY_ACTIVITY_SQL,
    "list_events_keyset": LIST_EVENTS_KEYSET_SQL,
    "events_rollup_daily": EVENTS_ROLLUP_DAILY_SQL,
    "type_user_cardinality": TYPE_USER_CARDINALITY_SQL,
    "events_tumbling_15m": EVENTS_TUMBLING_15M_SQL,
    "events_sessions": EVENTS_SESSIONS_SQL,
    "events_sliding": EVENTS_SLIDING_SQL,
    "salted_counts": SALTED_COUNTS_SQL,
}
