"""Distributed operator library (SURVEY §2.2-§2.7): the joins, dedup,
aggregates, rollups, skew handling, bloom pruning, diff and pagination
that the declared queries and snapshot tables call."""

from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery, Page
from mini_project_204721_data_engineering_spark.operators.joins import anti_join, semi_join
from mini_project_204721_data_engineering_spark.operators.aggregates import weighted_mean
from mini_project_204721_data_engineering_spark.operators.dedup import dedup_keep_first

__all__ = [
    "ListQuery",
    "Page",
    "anti_join",
    "semi_join",
    "weighted_mean",
    "dedup_keep_first",
]
