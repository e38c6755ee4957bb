"""Side uploads — DBF risk tables and xlsx incident logs — pinned row for
row.  Each expected frame below was produced by the DataFrame pipelines
the driver-side ones replaced, on exactly these inputs, so any drift in
key normalization (C2), class mapping (C4/C5), date parsing (C6/C7),
district matching and fill (J6–J8/J12), keep-first (A9), counting
(A4/A5) or the idempotent anti-join (J9) shows up here.  Key
normalization strips Python's whitespace (tab and NBSP too), as the
reference's ``str.strip()`` / ``re`` ``\\s`` do.  The job-count
guards pin the cost: a side upload is a handful of Spark jobs, not a
multi-join plan of fifteen."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest

from mini_project_204721_data_engineering_spark.pipelines.dims import build_dims
from mini_project_204721_data_engineering_spark.pipelines.incidents import ingest_incidents
from mini_project_204721_data_engineering_spark.pipelines.risk import ingest_risk_dbf
from mini_project_204721_data_engineering_spark.sources.snapshots import (
    read_snapshot,
    snapshot_append,
)
from test_catalog import _jobs_started

D = datetime.date
NBSP = "\u00a0"

PROVINCE_DDL = "province_id int, province_name string, province_name_en string"
DISTRICT_DDL = "district_id int, district_name string, district_name_en string, province_id int"
RISK_DDL = "struct<upload_risk_id:int,province_id:int,district_id:int,risk_level:int>"
INCIDENTS_DDL = (
    "struct<disaster_date:date,year:int,province_id:int,district_id:int,count_of_disasters:int>"
)


@pytest.fixture(scope="module")
def dims(spark):
    province = spark.createDataFrame(
        [(1, "เชียงใหม่", "Chiang Mai"), (2, "อุตรดิตถ์", "Uttaradit")], PROVINCE_DDL
    )
    district = spark.createDataFrame(
        [
            (10, "เมืองเชียงใหม่", "Mueang Chiang Mai", 1),
            (11, "แม่ริม", "Mae Rim", 1),
            (12, "ดอย สะเก็ด", "Doi Saket", 1),
            (13, " สันทราย ", "San Sai", 1),
            (20, "เมืองอุตรดิตถ์", "Mueang Uttaradit", 2),
            (21, "ลับแล", "Laplae", 2),
        ],
        DISTRICT_DDL,
    )
    return province, district


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _risk(spark, dims, rows, **kw):
    dbf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["prov_nam_t", "amphoe_t", "class"])
    )
    out = ingest_risk_dbf(dbf, *dims, **kw)
    assert out.schema.simpleString() == RISK_DDL
    return _rows(out)


def _wb(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["Disaster Date", "Province", "District"])
    )


def _incidents(spark, dims, wb, **kw):
    out = ingest_incidents(wb, *dims, **kw)
    assert out.schema.simpleString() == INCIDENTS_DDL
    return _rows(out)


# --------------------------------------------------------------------------
# risk (DBF)
# --------------------------------------------------------------------------

def test_risk_keys_classes_and_fill(spark, dims):
    got = _risk(
        spark,
        dims,
        [
            # จ./อ. prefixes, surrounding spaces and a tab all normalize away
            ("จ.เชียงใหม่", "อ.เมืองเชียงใหม่", "สูง"),
            (" เชียงใหม่\t", "เมืองเชียงใหม่ ", "0.2"),
            # a run of whitespace collapses to the dims' single space
            ("เชียงใหม่", "ดอย   สะเก็ด", "0.3333333333333333"),
            ("เชียงใหม่", "ดอย\tสะเก็ด", "0.6666666666666666"),
            ("เชียงใหม่", "ดอย สะเก็ด", "2.5"),
            # dims names are normalized too (" สันทราย ")
            ("เชียงใหม่", "สันทราย", "3.5"),
            ("เชียงใหม่", "สันทราย", "-1"),
            ("เชียงใหม่", "สันทราย", "HIGH "),
            # NBSP is whitespace, as to Python's re: it collapses to the
            # single space, so no match for the space-free dims name
            ("เชียงใหม่", f"แม่{NBSP}ริม", "สูง"),
            # unmapped classes drop before the mean
            ("เชียงใหม่", "แม่ริม", "junk"),
            ("เชียงใหม่", "แม่ริม", "very  high"),
            ("เชียงใหม่", "แม่ริม", None),
            # unknown district, unknown province
            ("เชียงใหม่", "ไม่มีอำเภอนี้", "3"),
            ("กรุงเทพมหานคร", "ดุสิต", "3"),
        ],
        upload_risk_id=3,
    )
    assert got == [(3, 1, 10, 2), (3, 1, 11, 1), (3, 1, 12, 3), (3, 1, 13, 3)]


def test_risk_numeric_classes_half_even_and_duplicates(spark, dims):
    got = _risk(
        spark,
        dims,
        [
            ("อุตรดิตถ์", "ลับแล", 2.5),
            ("อุตรดิตถ์", "ลับแล", 2.5),  # duplicate rows both count
            ("อุตรดิตถ์", "ลับแล", 1.0),
            ("อุตรดิตถ์", "เมืองอุตรดิตถ์", 0.5),
            ("อุตรดิตถ์", "เมืองอุตรดิตถ์", 1.5),
        ],
        upload_risk_id=7,
    )
    assert got == [(7, 2, 20, 2), (7, 2, 21, 3)]


def test_risk_special_fix_maps_unknown_provinces_to_uttaradit(spark, dims):
    rows = [
        ("ไม่มีจังหวัดนี้", "ลับแล", "สูง"),
        ("อ.ไม่รู้จัก", "ลับแล", "ปานกลาง"),
        (None, "เมืองอุตรดิตถ์", "สูง"),  # a null key stays null
        ("เชียงใหม่", "แม่ริม", "low"),
    ]
    assert _risk(spark, dims, rows, special_fix=True) == [
        (1, 1, 10, 1),
        (1, 1, 11, 1),
        (1, 1, 12, 1),
        (1, 1, 13, 1),
        (1, 2, 20, 1),
        (1, 2, 21, 3),
    ]
    assert _risk(spark, dims, rows) == [(1, 1, 10, 1), (1, 1, 11, 1), (1, 1, 12, 1), (1, 1, 13, 1)]


def test_risk_all_dropped_keeps_schema(spark, dims):
    got = _risk(
        spark,
        dims,
        [("กรุงเทพมหานคร", "ดุสิต", "3"), ("เชียงใหม่", "แม่ริม", "junk")],
    )
    assert got == []


# --------------------------------------------------------------------------
# incidents (xlsx)
# --------------------------------------------------------------------------

INCIDENT_ROWS = [
    ("2023-06-01", " เชียงใหม่ ", "เมืองเชียงใหม่"),
    ("2023-06-01", "เชียงใหม่", " เมืองเชียงใหม่"),  # duplicate after trim
    ("2023-06-01", "เชียงใหม่", "แม่ริม"),
    ("2023-06-02", "เชียงใหม่", "ดอย สะเก็ด"),
    ("2023-06-02", "เชียงใหม่", "สันทราย"),  # dims name trims to match
    ("2023-06-03", "อุตรดิตถ์", "ลับแล"),
    # malformed dates coerce to null and drop
    ("2023-6-3", "อุตรดิตถ์", "ลับแล"),
    ("2023-02-29", "อุตรดิตถ์", "ลับแล"),
    ("2023-06-04 10:00:00", "อุตรดิตถ์", "ลับแล"),
    ("garbage", "อุตรดิตถ์", "ลับแล"),
    ("nan", "อุตรดิตถ์", "ลับแล"),
    # a tab or NBSP strips like any whitespace: both rows match
    ("2023-06-05", "เชียงใหม่\t", "แม่ริม"),
    ("2023-06-05", "เชียงใหม่", f"แม่ริม{NBSP}"),
    # unknown province, unknown district, district of another province
    ("2023-06-05", "กรุงเทพมหานคร", "ดุสิต"),
    ("2023-06-05", "เชียงใหม่", "ไม่มีอำเภอนี้"),
    ("2023-06-05", "อุตรดิตถ์", "แม่ริม"),
    ("2023-06-05", "None", "None"),
]


def test_incidents_keys_dates_and_counts(spark, dims):
    assert _incidents(spark, dims, _wb(spark, INCIDENT_ROWS)) == [
        (D(2023, 6, 1), 2023, 1, 10, 2),
        (D(2023, 6, 1), 2023, 1, 11, 1),
        (D(2023, 6, 2), 2023, 1, 12, 1),
        (D(2023, 6, 2), 2023, 1, 13, 1),
        (D(2023, 6, 3), 2023, 2, 21, 1),
        (D(2023, 6, 5), 2023, 1, 11, 2),
    ]


def test_incidents_existing_partly_overlapping(spark, dims):
    existing = spark.createDataFrame(
        [
            (D(2023, 6, 1), 2023, 1, 10, 9),  # overlaps: excluded
            (D(2023, 6, 2), 2023, 1, 12, 4),  # overlaps: excluded
            (D(2023, 6, 2), 2023, 2, 20, 1),  # same day, other district
            (D(2020, 1, 1), 2020, 1, 11, 1),  # outside the upload's dates
        ],
        "disaster_date date, year int, province_id int, district_id int, "
        "count_of_disasters int",
    )
    got = _incidents(spark, dims, _wb(spark, INCIDENT_ROWS), existing=existing)
    assert got == [
        (D(2023, 6, 1), 2023, 1, 11, 1),
        (D(2023, 6, 2), 2023, 1, 13, 1),
        (D(2023, 6, 3), 2023, 2, 21, 1),
        (D(2023, 6, 5), 2023, 1, 11, 2),
    ]
    # re-uploading against its own output adds nothing
    first = ingest_incidents(_wb(spark, INCIDENT_ROWS), *dims)
    again = _incidents(spark, dims, _wb(spark, INCIDENT_ROWS), existing=first)
    assert again == []


def test_incidents_date_typed_cells(spark, dims):
    dated = _wb(
        spark,
        [
            (D(2023, 6, 1), "เชียงใหม่", "แม่ริม"),
            (D(2566, 6, 1), "เชียงใหม่", "แม่ริม"),
            (D(2568, 2, 29), "เชียงใหม่", "แม่ริม"),  # BE leap day: no CE twin
            (None, "เชียงใหม่", "แม่ริม"),
        ],
    )
    assert _incidents(spark, dims, dated) == [
        (D(2023, 6, 1), 2023, 1, 11, 1),
        (D(2566, 6, 1), 2566, 1, 11, 1),
        (D(2568, 2, 29), 2568, 1, 11, 1),
    ]
    assert _incidents(spark, dims, dated, be_years=True) == [(D(2023, 6, 1), 2023, 1, 11, 2)]
    stamped = spark.createDataFrame(
        [
            (datetime.datetime(2023, 6, 1, 23, 30), "เชียงใหม่", "แม่ริม"),
            (datetime.datetime(2023, 6, 2, 0, 0), "เชียงใหม่", "แม่ริม"),
        ],
        "`Disaster Date` timestamp, Province string, District string",
    )
    assert _incidents(spark, dims, stamped) == [
        (D(2023, 6, 1), 2023, 1, 11, 1),
        (D(2023, 6, 2), 2023, 1, 11, 1),
    ]


def test_incidents_be_year_strings(spark, dims):
    wb = _wb(
        spark,
        [
            ("2566-06-01", "เชียงใหม่", "แม่ริม"),
            ("2023-06-01", "เชียงใหม่", "แม่ริม"),
            (" 2559-02-29 ", "เชียงใหม่", "แม่ริม"),
            ("2560-02-29", "เชียงใหม่", "แม่ริม"),
            ("2566-6-1", "เชียงใหม่", "แม่ริม"),
        ],
    )
    assert _incidents(spark, dims, wb, be_years=True) == [
        (D(2016, 2, 29), 2016, 1, 11, 1),
        (D(2023, 6, 1), 2023, 1, 11, 2),
    ]
    assert _incidents(spark, dims, wb) == [
        (D(2023, 6, 1), 2023, 1, 11, 1),
        (D(2560, 2, 29), 2560, 1, 11, 1),
        (D(2566, 6, 1), 2566, 1, 11, 1),
    ]


def test_incidents_all_dropped_keeps_schema(spark, dims):
    wb = _wb(spark, [("garbage", "เชียงใหม่", "แม่ริม"), ("2023-06-01", "x", "y")])
    assert _incidents(spark, dims, wb) == []
    covered = ingest_incidents(_wb(spark, INCIDENT_ROWS[:3]), *dims)
    assert _incidents(spark, dims, _wb(spark, INCIDENT_ROWS[:3]), existing=covered) == []


# --------------------------------------------------------------------------
# whitespace: both pipelines strip what Python's str.strip() / re \s strip
# --------------------------------------------------------------------------

def test_unicode_whitespace_pads_match_like_python(spark, dims):
    """Tab-, NBSP- and ideographic-space-padded names match, as in the
    reference's Python ``normalize_th`` and ``str.strip()``; a
    zero-width space is not whitespace to Python and still drops."""
    got = _risk(
        spark,
        dims,
        [
            ("เชียงใหม่\t", f"แม่ริม{NBSP}", "สูง"),
            ("\u3000เชียงใหม่", f"ดอย{NBSP}สะเก็ด", "สูง"),  # inner NBSP collapses
            ("เชียงใหม่", "\u2009เมืองเชียงใหม่\u202f", "สูง"),
            ("เชียงใหม่", "\u200bสันทราย", "สูง"),
        ],
        upload_risk_id=5,
    )
    assert got == [(5, 1, 10, 3), (5, 1, 11, 3), (5, 1, 12, 3), (5, 1, 13, 1)]
    wb = _wb(
        spark,
        [
            ("2023-06-01", "เชียงใหม่\t", "แม่ริม"),
            ("2023-06-01", "เชียงใหม่", f"แม่ริม{NBSP}"),
            ("2023-06-01", "\u3000เชียงใหม่\x1f", "\u2009เมืองเชียงใหม่\u202f"),
            # str.strip() keeps inner whitespace: no match, as in Python
            ("2023-06-01", "เชียงใหม่", f"ดอย{NBSP}สะเก็ด"),
            ("2023-06-01", "เชียงใหม่", "\u200bสันทราย"),
        ],
    )
    assert _incidents(spark, dims, wb) == [
        (D(2023, 6, 1), 2023, 1, 10, 1),
        (D(2023, 6, 1), 2023, 1, 11, 2),
    ]


# --------------------------------------------------------------------------
# cost: Spark jobs per upload, pipeline + snapshot_append
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def cached_dims(spark):
    """Dims as the ingest writer holds them: built, cached, materialized."""
    adm2 = spark.createDataFrame(
        [
            ("Chiang Mai", "จังหวัดเชียงใหม่", "Muang", "อำเภอเมือง"),
            ("Chiang Mai", "จังหวัดเชียงใหม่", "Mae Rim", "อำเภอแม่ริม"),
            ("Uttaradit", "จังหวัดอุตรดิตถ์", "Laplae", "อำเภอลับแล"),
        ],
        "ADM1_EN string, ADM1_TH string, ADM2_EN string, ADM2_TH string",
    )
    province, district = (d.cache() for d in build_dims(adm2))
    province.toPandas(), district.toPandas()
    yield province, district
    province.unpersist(), district.unpersist()


def test_risk_upload_job_count(spark, cached_dims, tmp_path):
    table = str(tmp_path / "risk")
    rows = pd.DataFrame(
        {
            "prov_nam_t": ["เชียงใหม่", "จ.เชียงใหม่", "อุตรดิตถ์"],
            "amphoe_t": ["เมือง", "แม่ริม", "ลับแล"],
            "class": ["สูง", "0.5", "2"],
        }
    )

    def upload(i):
        dbf = spark.createDataFrame(rows)
        man = snapshot_append(ingest_risk_dbf(dbf, *cached_dims, upload_risk_id=i), table)
        assert man["meta"]["added_files"] == 1

    upload(1)  # the table's first commit
    assert _jobs_started(spark, "side-upload-risk", lambda: upload(2)) <= 5
    assert len(read_snapshot(spark, table).collect()) == 2 * 3


def test_incidents_upload_job_count(spark, cached_dims, tmp_path):
    table = str(tmp_path / "incidents")

    def upload(rows, existing):
        out = ingest_incidents(_wb(spark, rows), *cached_dims, existing=existing)
        assert snapshot_append(out, table)["meta"]["added_files"] == 1

    first = [("2023-06-01", "เชียงใหม่", "เมือง"), ("2023-06-02", "อุตรดิตถ์", "ลับแล")]
    upload(first, None)
    more = first + [("2023-06-02", "เชียงใหม่", "แม่ริม"), ("2023-06-03", "เชียงใหม่", "เมือง")]
    existing = read_snapshot(spark, table)
    assert _jobs_started(spark, "side-upload-incidents", lambda: upload(more, existing)) <= 6
    assert len(read_snapshot(spark, table).collect()) == 4
