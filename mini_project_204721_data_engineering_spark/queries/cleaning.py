"""Normalization / conditional-update operator queries (C1/C2, F9) and
the incidents-style list page — closing the SURVEY §2 serving surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery

__all__ = ["QUERIES", "ORACLES"]


def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 shape over documents: newline→space, whitespace collapse,
    prefix strip, trim — the reference's clean_text/normalize_th chain
    (minus NFC, identical on both engines only through a UDF; covered by
    unit tests instead)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.regexp_replace(F.col("text"), r"[\r\n]+", " ")
    c = F.regexp_replace(c, "จังหวัด", "")
    c = F.regexp_replace(c, r"^the ", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return docs.select("doc_id", c.alias("clean_text"))


TEXT_CLEAN_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(
               regexp_replace(regexp_replace(text, '[\r\n]+', ' '),
                              'จังหวัด', ''),
               '^the ', ''),
           '\s+', ' ', 'g')) AS clean_text
FROM documents
"""


def special_fix_masked_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 masked conditional overwrite + the C4 WORD and CLAMP branches,
    driver-checked on one cheap dim-table query: keys outside a known set
    are rewritten to a fixed default (the reference's special_fix →
    Uttaradit, ``utils.py:321-332``); a Thai risk word derived from the
    fixed segment goes through the real :func:`class_to_num` word mapping
    (``utils.py:255-260``); and the integer nation key goes through its
    round-and-clamp branch (``utils.py:268``; integer input keeps
    HALF_EVEN-vs-half-away out of the oracle compare)."""
    from mini_project_204721_data_engineering_spark.functions.binning import class_to_num

    cust = load_table(spark, sf_dir, "customer")
    known = ["BUILDING", "AUTOMOBILE", "MACHINERY"]
    fixed = (
        F.when(~F.col("c_mktsegment").isin(known), F.lit("OTHER"))
        .otherwise(F.col("c_mktsegment"))
    )
    word = (
        F.when(fixed == "BUILDING", F.lit("สูง"))
        .when(fixed == "AUTOMOBILE", F.lit("ปานกลาง"))
        .when(fixed == "MACHINERY", F.lit("ต่ำ"))
        .otherwise(F.lit("very low"))
    )
    worded = cust.select(
        "c_custkey", "c_nationkey", fixed.alias("segment_fixed"), word.alias("risk_word")
    )
    return worded.select(
        "c_custkey",
        "segment_fixed",
        "risk_word",
        class_to_num("risk_word").alias("class_from_word"),
        class_to_num("c_nationkey").alias("natkey_clamped"),
    )


SPECIAL_FIX_SQL = """
WITH fixed AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
              THEN 'OTHER' ELSE c_mktsegment END AS segment_fixed
  FROM customer
), worded AS (
  SELECT c_custkey, c_nationkey, segment_fixed,
         CASE segment_fixed WHEN 'BUILDING' THEN 'สูง'
                            WHEN 'AUTOMOBILE' THEN 'ปานกลาง'
                            WHEN 'MACHINERY' THEN 'ต่ำ'
                            ELSE 'very low' END AS risk_word
  FROM fixed
)
SELECT c_custkey, segment_fixed, risk_word,
       CASE risk_word WHEN 'สูง' THEN 3 WHEN 'ปานกลาง' THEN 2
                      WHEN 'ต่ำ' THEN 1 WHEN 'very low' THEN 1 END AS class_from_word,
       CAST(CASE WHEN c_nationkey >= 0 AND c_nationkey <= 1 THEN
                 CASE WHEN c_nationkey < 1.0/3.0 THEN 1
                      WHEN c_nationkey < 2.0/3.0 THEN 2 ELSE 3 END
            ELSE least(greatest(c_nationkey, 1), 3)
            END AS INT) AS natkey_clamped
FROM worded
"""


def list_events_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incidents-list endpoint shape (``main.py:583-632``): F5 type
    filter + F6 range + O1 sort + O3 page over the event log."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.col("ts").cast("date").alias("day"),
        "user_id",
        "event_type",
        "value",
    )
    q = ListQuery(
        base=base,
        sortable={"value": F.col("value"), "day": F.col("day")},
        default_order="day",
        tiebreaker=F.col("event_id"),
    )
    q.eq(F.col("event_type"), "error")
    q.date_range(F.col("day"), "2024-01-05", "2024-01-25")
    return q.page_df(page=2, page_size=100, order_by="value", order_type="desc")


LIST_EVENTS_PAGE_SQL = """
SELECT event_id, CAST(ts AS DATE) AS day, user_id, event_type, value
FROM events
WHERE event_type = 'error'
  AND CAST(ts AS DATE) >= DATE '2024-01-05'
  AND CAST(ts AS DATE) <= DATE '2024-01-25'
ORDER BY value DESC, event_id ASC
LIMIT 100 OFFSET 100
"""


QUERIES = {
    "text_clean": text_clean,
    "special_fix_masked_update": special_fix_masked_update,
}

ORACLES = {
    "text_clean": TEXT_CLEAN_SQL,
    "special_fix_masked_update": SPECIAL_FIX_SQL,
}

def incident_dates_be(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buddhist-era date coercion demo (`functions/thaidates.py`): order
    dates re-spelled as BE strings (year + 543 — what a real Thai
    workbook carries) parse back through the opt-in BE path to the
    exact CE dates; yearly counts prove every row round-tripped,
    Feb 29s included (the BE string ' 2535-02-29' for 1992-02-29 only
    parses if the 543-year shift happens BEFORE Gregorian validation).
    The strict default path is unchanged — reference parity
    (utils.py:520-524)."""
    from mini_project_204721_data_engineering_spark.catalog import load_table
    from mini_project_204721_data_engineering_spark.functions.thaidates import (
        parse_be_date,
    )

    orders = load_table(spark, sf_dir, "orders")
    be_strings = orders.select(
        F.concat(
            F.lpad((F.year("o_orderdate") + 543).cast("string"), 4, "0"),
            F.date_format("o_orderdate", "-MM-dd"),
        ).alias("be_date")
    )
    return (
        be_strings.select(parse_be_date(F.col("be_date")).alias("ce_date"))
        .groupBy(F.year("ce_date").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("ce_date").alias("n_parsed"),  # == n: zero nulls
        )
        .orderBy("year")
    )


INCIDENT_DATES_BE_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
       count(*) AS n,
       count(*) AS n_parsed
FROM orders
GROUP BY 1
ORDER BY 1
"""


# O3-variant demo over events — same ListQuery operator as
# list_orders_page; kept out of the driver's 50-query budget
EXTRA_QUERIES = {
    "list_events_page": list_events_page,
    "incident_dates_be": incident_dates_be,
}
EXTRA_ORACLES = {
    "list_events_page": LIST_EVENTS_PAGE_SQL,
    "incident_dates_be": INCIDENT_DATES_BE_SQL,
}
