"""Column-expression builders for the reference's scalar surface (SURVEY §2.8).

Everything here returns a :class:`pyspark.sql.Column` built from JVM-side
built-ins (whole-stage-codegen friendly); the single exception is NFC
Unicode normalization, which has no Spark built-in and ships as a tiny
Arrow-batched pandas UDF.
"""

from mini_project_204721_data_engineering_spark.functions.text import (
    clean_text,
    nfc_normalize,
    normalize_th,
    normalize_sheet_name,
)
from mini_project_204721_data_engineering_spark.functions.binning import (
    avg_to_level,
    class_to_num,
    estimate_probability,
)

__all__ = [
    "clean_text",
    "nfc_normalize",
    "normalize_th",
    "normalize_sheet_name",
    "avg_to_level",
    "class_to_num",
    "estimate_probability",
]
