"""Native Spark format surface, pinned by test: ORC, XML (Spark 4
built-in), and CSV's malformed-row modes.  These need no clean-room
reader — the point of this file is to make the engine's FORMAT STORY
explicit and tested: native parquet/orc/csv/json/xml/text via
``spark.read``/``spark.write``, plus the clean-room binary family
(netcdf/hdf5/xlsx/xls/dbf/shp) where Spark has no reader.  A format
silently missing from the classpath (as avro is here) would flip one
of these tests, not surface as a mystery downstream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_orc_roundtrip_with_predicate_pushdown(spark, tmp_path):
    p = str(tmp_path / "orc")
    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    df.write.orc(p)
    back = spark.read.orc(p).filter(F.col("g") == 3)
    assert back.count() == df.filter(F.col("g") == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "g" in plan  # filters reach the scan


def test_xml_roundtrip(spark, tmp_path):
    p = str(tmp_path / "xml")
    df = spark.createDataFrame(
        [(1, "a & b"), (2, "läng <tag>")], "id long, txt string"
    )
    df.write.format("xml").option("rootTag", "rows").option("rowTag", "row").save(p)
    back = spark.read.format("xml").option("rowTag", "row").load(p)
    got = {r["id"]: r["txt"] for r in back.collect()}
    assert got == {1: "a & b", 2: "läng <tag>"}  # entities round-trip


def test_csv_malformed_row_modes(spark, tmp_path):
    """The three CSV corruption disciplines: PERMISSIVE nulls + captures
    the raw line, DROPMALFORMED skips, FAILFAST raises — the contract a
    landing pipeline picks from explicitly."""
    p = str(tmp_path / "in.csv")
    with open(p, "w") as fh:
        fh.write("1,alpha,2.5\n2,beta,not_a_number\n3,gamma,9.75\n")
    ddl = "id int, name string, v double, _corrupt_record string"
    perm = (
        spark.read.schema(ddl)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
    )
    rows = {r["id"]: r for r in perm.collect()}
    assert rows[1]["v"] == 2.5 and rows[1]["_corrupt_record"] is None
    assert rows[2]["v"] is None
    assert "not_a_number" in rows[2]["_corrupt_record"]
    dropped = (
        spark.read.schema("id int, name string, v double")
        .option("mode", "DROPMALFORMED")
        .csv(p)
    )
    assert {r["id"] for r in dropped.collect()} == {1, 3}
    with pytest.raises(Exception):
        (
            spark.read.schema("id int, name string, v double")
            .option("mode", "FAILFAST")
            .csv(p)
            .collect()
        )
