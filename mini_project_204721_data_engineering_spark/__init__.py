"""mini_project_204721_data_engineering_spark — a PySpark-native analytics engine.

Brand-new engine with the query and data-processing capabilities of the
reference repo ``l3boykane/Mini-Project-204721-DATA-ENGINEERING`` (a geospatial
ETL + analytics platform: NetCDF/DBF/Excel ingest, star-schema facts,
filter/sort/join/paginate serving queries, and a probability-scoring
dashboard join), re-expressed Spark-first:

- declarative DataFrame/SQL plans (Catalyst handles pushdown/pruning/reorder)
- broadcast hash joins for dimensions, AQE for skew and coalescing
- algebraic aggregates (partial+final) instead of groupby-apply loops
- Structured Streaming for the incremental-ingest surface

See SURVEY.md for the operator-by-operator mapping with reference citations.
"""

__version__ = "0.1.0"
