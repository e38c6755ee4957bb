"""Property/boundary tests for the scalar library (SURVEY §5.3).

Boundary values chosen from the reference: class_to_num tertiles at 1/3 and
2/3 and clamp at [1,3] (``backend/app/utils.py:255-274``), avg_to_level at
1.5/2.1 (``utils.py:360-366``), estimateProbability clamp at 80/100 with
count ≷ 0 (``frontend/app/page.tsx:66-83``).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.functions.binning import (
    avg_to_level,
    class_to_num,
    estimate_probability,
)
from mini_project_204721_data_engineering_spark.functions.text import (
    clean_text,
    normalize_sheet_name,
    normalize_th,
)


def _vals(spark, data, expr):
    df = spark.createDataFrame([Row(x=v) for v in data])
    return [r[0] for r in df.select(expr(F.col("x"))).collect()]


def test_class_to_num_words(spark):
    got = _vals(spark, ["ต่ำ", "ปานกลาง", "สูง", "สูงมาก", "Low", "HIGH", "junk"], class_to_num)
    assert got == [1, 2, 3, 3, 1, 3, None]


def test_class_to_num_fraction_bins(spark):
    got = _vals(spark, ["0.0", "0.33", "0.34", "0.66", "0.67", "1.0"], class_to_num)
    assert got == [1, 1, 2, 2, 3, 3]


def test_class_to_num_clamp(spark):
    got = _vals(spark, ["5", "2", "-3", "1.4", "2.5"], class_to_num)
    # out-of-[0,1] numerics: HALF_EVEN round then clamp to [1,3]
    # (reference int(round(2.5)) == 2, utils.py:268)
    assert got == [3, 2, 1, 1, 2]


def test_avg_to_level_boundaries(spark):
    got = _vals(spark, [1.5, 1.51, 2.1, 2.11, None], avg_to_level)
    assert got == [1, 2, 2, 3, None]


def test_estimate_probability_branches(spark):
    rows = [
        # (rain, risk, count) -> expected
        (0.0, 0, 0, 0.0),          # empty everything
        (40.0, 3, 0, 50.0),        # base = 20 + 30, no incidents
        (1000.0, 3, 0, 100.0),     # min(100, base)
        (0.0, 1, 1, 80.0),         # incidents floor at 80
        (100.0, 3, 5, 100.0),      # incidents cap at 100
        (None, None, None, 0.0),   # null-safe
    ]
    df = spark.createDataFrame(
        [Row(rain=r, risk=k, cnt=c, want=w) for r, k, c, w in rows],
        "rain double, risk int, cnt int, want double",
    )
    got = df.select(
        estimate_probability(F.col("rain"), F.col("risk"), F.col("cnt")).alias("p"),
        "want",
    ).collect()
    for r in got:
        assert r["p"] == r["want"]


def test_clean_text_reference_fixes(spark):
    data = [
        "จังหวัดเชียงใหม่",
        "อำเภอ เมือง",
        "กิ่งอำเภอแม่ออน",
        "K. Muang",
        "Wieng Sa",
        "a\nb",
        None,
    ]
    got = _vals(spark, data, clean_text)
    assert got == ["เชียงใหม่", "เมือง", "แม่ออน", "Mueang", "Wiang Sa", "a b", None]


def test_clean_text_idempotent(spark):
    data = ["จังหวัดเชียงใหม่", "  x   y  ", "Muang Muang"]
    once = _vals(spark, data, clean_text)
    twice = _vals(spark, once, clean_text)
    assert once == twice


def test_normalize_th(spark):
    got = _vals(spark, ["  จ.น่าน ", "อ.เมือง  น่าน", "a   b"], normalize_th)
    assert got == ["น่าน", "เมือง น่าน", "a b"]


def test_normalize_sheet_name():
    assert normalize_sheet_name("Incidents 2566") == "incidents"
    assert normalize_sheet_name("รายงาน-2023 ") == "รายงาน"
    assert normalize_sheet_name("My Sheet!") == "mysheet"


# ---------------------------------------------------------------------------
# Buddhist-era date coercion (functions/thaidates.py) — opt-in BE→CE
# ---------------------------------------------------------------------------


class TestThaiDates:
    def _parse(self, spark, values):
        from mini_project_204721_data_engineering_spark.functions.thaidates import (
            parse_be_date,
        )

        df = spark.createDataFrame([(v,) for v in values], "s string")
        return [
            r["d"]
            for r in df.select(parse_be_date(F.col("s")).alias("d"))
            .collect()
        ]

    def test_be_years_shift_543(self, spark):
        import datetime

        got = self._parse(
            spark,
            ["2566-05-04", "2023-05-04", "2500-01-01", "1957-01-01"],
        )
        assert got == [
            datetime.date(2023, 5, 4),
            datetime.date(2023, 5, 4),
            datetime.date(1957, 1, 1),
            datetime.date(1957, 1, 1),
        ]

    def test_boundary_2400(self, spark):
        import datetime

        # 2400 IS BE (1857 CE); 2399 is taken as CE verbatim
        got = self._parse(spark, ["2400-06-15", "2399-06-15"])
        assert got == [
            datetime.date(1857, 6, 15),
            datetime.date(2399, 6, 15),
        ]

    def test_be_leap_day_shift_before_parse(self, spark):
        import datetime

        # 2559 BE = 2016 CE (leap): valid ONLY if shifted before parsing
        # 2560 BE = 2017 CE (not leap): must null
        got = self._parse(spark, ["2559-02-29", "2560-02-29"])
        assert got == [datetime.date(2016, 2, 29), None]

    def test_malformed_still_coerces_null(self, spark):
        got = self._parse(
            spark,
            ["nonsense", "2566-13-01", "29-02-2559", "", None, "25660504"],
        )
        assert got == [None] * 6

    def test_typed_be_to_ce(self, spark):
        import datetime

        from mini_project_204721_data_engineering_spark.functions.thaidates import (
            be_to_ce,
        )

        df = spark.createDataFrame(
            [
                (datetime.date(2566, 5, 4),),
                (datetime.date(2023, 5, 4),),
                (datetime.date(2399, 1, 1),),
            ],
            "d date",
        )
        got = [r["c"] for r in df.select(be_to_ce(F.col("d")).alias("c")).collect()]
        assert got == [
            datetime.date(2023, 5, 4),
            datetime.date(2023, 5, 4),
            datetime.date(2399, 1, 1),
        ]

    def test_property_roundtrip_both_eras(self, spark):
        """Any real CE date formatted as a BE string parses back to
        itself; formatted as a CE string likewise — one batched check
        over the deterministic date spine (covers leap days, month
        lengths, and the 2400/2500 bands)."""
        from mini_project_204721_data_engineering_spark.functions.thaidates import (
            parse_be_date,
        )

        spine = spark.sql(
            "SELECT explode(sequence(DATE'1950-01-01', DATE'2100-12-31',"
            " INTERVAL 97 DAY)) AS d"
        )
        checked = spine.select(
            "d",
            parse_be_date("date_format(d, 'yyyy-MM-dd')").alias("ce"),
            parse_be_date(
                "concat(lpad(CAST(year(d) + 543 AS STRING), 4, '0'), date_format(d, '-MM-dd'))"
            ).alias("be"),
        )
        bad = checked.filter(
            (F.col("ce") != F.col("d")) | (F.col("be") != F.col("d"))
        ).count()
        assert bad == 0

    def test_pipeline_optin_and_strict_default(self, spark):
        from mini_project_204721_data_engineering_spark.pipelines.incidents import (
            ingest_incidents,
        )

        province = spark.createDataFrame(
            [(1, "Chiang Mai")], "province_id int, province_name string"
        )
        district = spark.createDataFrame(
            [(10, 1, "Mueang")],
            "district_id int, province_id int, district_name string",
        )
        wb = spark.createDataFrame(
            [
                ("2566-05-04", "Chiang Mai", "Mueang"),  # BE
                ("2023-05-04", "Chiang Mai", "Mueang"),  # CE
            ],
            "`Disaster Date` string, Province string, District string",
        )
        strict = ingest_incidents(wb, province, district)
        # strict default: the BE row parses as literal year 2566
        assert sorted(r["year"] for r in strict.collect()) == [2023, 2566]
        be = ingest_incidents(wb, province, district, be_years=True)
        rows = be.collect()
        # both rows coerce to the SAME CE date and aggregate together
        assert len(rows) == 1
        assert rows[0]["year"] == 2023
        assert rows[0]["count_of_disasters"] == 2

    def test_typed_be_leap_day_nulls_not_clamps(self, spark):
        """BE leap years are ≡ 0 (mod 4) → CE = BE−543 ≡ 1 (mod 4),
        never leap: a typed BE Feb 29 is not a real Thai date and must
        NULL (matching the string path), never clamp to Feb 28."""
        import datetime

        from mini_project_204721_data_engineering_spark.functions.thaidates import (
            be_to_ce,
        )

        df = spark.createDataFrame(
            [
                (datetime.date(2560, 2, 29),),  # valid Gregorian, bogus BE
                (datetime.date(2560, 2, 28),),  # fine: 2017-02-28
            ],
            "d date",
        )
        got = [r["c"] for r in df.select(be_to_ce(F.col("d")).alias("c")).collect()]
        assert got == [None, datetime.date(2017, 2, 28)]


def test_normalize_th_strips_and_collapses_python_whitespace(spark):
    """Every character Python's ``re`` ``\\s`` / ``str.isspace`` treats
    as whitespace (tab, NBSP, U+1C-1F, U+3000 …) collapses and strips
    as in the reference's ``normalize_th``; U+200B is not whitespace."""
    import re
    import sys

    def reference(s):
        s = re.sub(r"\s+", " ", s.strip())
        return re.sub(r"^อ\.", "", re.sub(r"^จ\.", "", s)).strip()

    spaces = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    data = [f"{w}จ.a{w}{w}b{w}" for w in spaces] + ["\u200ba\u200b b"]
    got = _vals(spark, data, normalize_th)
    assert got == [reference(s) for s in data]
    assert got[:-1] == ["a b"] * len(spaces)
