"""Flagship dashboard query (reference ``GET /list_data_graph``,
``backend/app/main.py:682-731`` + ``estimateProbability``,
``frontend/app/page.tsx:66-83``).

The reference's shape: rain ⋈ₗ province ⋈ₗ district ⋈ₗ risk ⋈ₗ incidents,
with the **date predicate inside the incidents join condition** (not the
WHERE clause — preserving left-join semantics, ``main.py:709-710``), then a
per-district landslide-probability score.

Synthetic mapping: customer = district, nation = province,
orders-aggregate = rain fact, acctbal bins = risk level, error events =
incidents.  The probability formula C16 is promoted into the engine.

The query is ONE ``spark.sql`` statement with the incident day as the
named parameter ``:day``, over the catalog's version-keyed views
(``catalog.served_sql``), so a build costs one parse and one Catalyst
analysis instead of one re-analysis per DataFrame step.  The dashboard
takes no request parameters, so every request after the first in a
table version reuses the first one's persisted result.  The
C16/C17 formulas and ``portable_round`` are spliced in from their single
SQL-text definitions (``functions/binning.py``, ``functions/parity.py``).

Scale notes: the per-key aggregates reduce the facts BEFORE the joins
(same dataflow-design choice the reference makes, SURVEY §4.1); nation is
broadcast through a ``BROADCAST(n)`` hint in the SELECT that owns its
join; customer⋈aggregates co-partition on the key via one shuffle (or
AQE broadcasts the small aggregates).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from mini_project_204721_data_engineering_spark.catalog import served_sql
from mini_project_204721_data_engineering_spark.functions.binning import (
    estimate_probability_sql,
    probability_color_sql,
    risk_label_sql,
)
from mini_project_204721_data_engineering_spark.functions.parity import portable_round_sql

__all__ = ["QUERIES", "ORACLES", "dashboard_probability"]

#: the dashboard's date slice (reference `date_filter`, main.py:710)
INCIDENT_DAY = "2024-01-15"

# "rain" fact: mean order value per customer, scaled into a mm-like range.
# Two float-parity rules at once: (1) keep the raw average for the
# probability input — rounding first then halving manufactures .xxxx5
# halfway values; (2) sum exact integer CENTS, not doubles — the 2-dp
# prices are exact after round(x*100), so the long sum is order-independent
# and both engines derive the identical double, like the r2 decimal(18,2)
# sum but codegen-cheap (no per-row BigDecimal aggregation buffer).
# round() before the BIGINT cast is load-bearing: Spark's double→long cast
# truncates while DuckDB's rounds, and the double product of an exact-2dp
# price ×100 sits ~1e-9 off the integer on either side.  Halfway cases
# can't occur (true cents are integers), so Spark HALF_UP and DuckDB round
# agree bit-for-bit.
#
# "risk" level: per-row deterministic bin of the account balance, computed
# in the customer projection.  The oracle writes it as a LEFT JOIN of
# customer to a customer-derived projection, but c_custkey is the table's
# unique non-null key, so that self-join matches every row exactly once —
# computing it inline removes a second customer scan and a whole-table
# broadcast.
#
# portable_round, not round(x, 4): the cents averages land exactly on 4-dp
# halfway points for ~1e-4 of customers, where Spark HALF_UP and DuckDB
# scaled rounding disagree (functions/parity.py).
_STATEMENT = f"""
WITH rain AS (
  SELECT o_custkey AS c_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0D / count(1) / 5000.0D AS rain_raw
  FROM {{orders}}
  GROUP BY o_custkey
), incidents AS (
  SELECT CAST(user_id AS BIGINT) AS i_custkey, CAST(ts AS DATE) AS day,
         count(1) AS count_of_disasters
  FROM {{events}}
  WHERE event_type = 'error'
  GROUP BY CAST(user_id AS BIGINT), CAST(ts AS DATE)
), scored AS (
  SELECT /*+ BROADCAST(n) */
         c.c_custkey, c.c_name AS district_name, n.n_name AS province_name,
         r.rain_raw,
         CAST(CASE WHEN c.c_acctbal < 2000.0D THEN 1
                   WHEN c.c_acctbal < 6000.0D THEN 2
                   ELSE 3 END AS INT) AS risk_level,
         i.count_of_disasters
  FROM {{customer}} c
  LEFT JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN rain r ON c.c_custkey = r.c_custkey
  -- J11's signature: the date predicate lives IN the join condition
  LEFT JOIN incidents i ON c.c_custkey = i.i_custkey AND i.day = :day
), probable AS (
  SELECT *,
         {portable_round_sql(estimate_probability_sql("rain_raw", "risk_level", "count_of_disasters"), 4)}
           AS probability
  FROM scored
)
SELECT c_custkey AS district_id,
       district_name,
       province_name,
       {portable_round_sql("coalesce(rain_raw, 0.0D)", 4)} AS rain_mm_wmean,
       coalesce(risk_level, 0) AS risk_level,
       coalesce(count_of_disasters, 0) AS count_of_disasters,
       probability,
       {probability_color_sql("probability")} AS prob_color,
       {risk_label_sql("risk_level")} AS risk_label_en
FROM probable
"""


def dashboard_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 4-way left join + C16 probability + C17 binning, as one
    statement (see the module docstring)."""
    return served_sql(
        spark,
        sf_dir,
        _STATEMENT,
        ("customer", "nation", "orders", "events"),
        args={"day": datetime.date.fromisoformat(INCIDENT_DAY)},
    )


DASHBOARD_PROBABILITY_SQL = f"""
WITH rain AS (
  SELECT o_custkey AS c_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 / count(*) / 5000.0 AS rain_raw
  FROM orders GROUP BY o_custkey
), risk AS (
  SELECT c_custkey,
         CAST(CASE WHEN c_acctbal < 2000.0 THEN 1
                   WHEN c_acctbal < 6000.0 THEN 2
                   ELSE 3 END AS INT) AS risk_level
  FROM customer
), incidents AS (
  SELECT user_id AS c_custkey, CAST(ts AS DATE) AS day, count(*) AS count_of_disasters
  FROM events WHERE event_type = 'error'
  GROUP BY 1, 2
), joined AS (
  SELECT c.c_custkey AS district_id,
         c.c_name AS district_name,
         n.n_name AS province_name,
         round(coalesce(r.rain_raw, 0.0) * 10000.0) / 10000.0 AS rain_mm_wmean,
         coalesce(k.risk_level, 0) AS risk_level,
         coalesce(i.count_of_disasters, 0) AS count_of_disasters,
         round((CASE
           WHEN coalesce(i.count_of_disasters, 0) > 0 THEN
             least(100.0, greatest(80.0,
               coalesce(r.rain_raw, 0.0) / 2.0
               + coalesce(k.risk_level, 0) * 10.0
               + coalesce(i.count_of_disasters, 0) * 5.0))
           ELSE least(100.0,
               coalesce(r.rain_raw, 0.0) / 2.0
               + coalesce(k.risk_level, 0) * 10.0)
         END) * 10000.0) / 10000.0 AS probability
  FROM customer c
  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN rain r ON c.c_custkey = r.c_custkey
  LEFT JOIN risk k ON c.c_custkey = k.c_custkey
  LEFT JOIN incidents i
    ON c.c_custkey = i.c_custkey AND i.day = DATE '{INCIDENT_DAY}'
)
SELECT district_id, district_name, province_name,
       rain_mm_wmean, risk_level, count_of_disasters, probability,
       CASE WHEN probability >= 75 THEN 'red'
            WHEN probability >= 50 THEN 'amber'
            ELSE 'green' END AS prob_color,
       CASE WHEN risk_level = 1 THEN 'Low'
            WHEN risk_level = 2 THEN 'Medium'
            WHEN risk_level = 3 THEN 'High'
            ELSE 'Unknown' END AS risk_label_en
FROM joined
"""


QUERIES = {"dashboard_probability": dashboard_probability}
ORACLES = {"dashboard_probability": DASHBOARD_PROBABILITY_SQL}
