"""LLM-training-data pipeline operators (mandated extension, SURVEY §7 Phase 5).

Not present in the reference (its surface is geospatial ETL); these are the
operators a 100 TB text/embedding corpus pipeline needs, built Spark-first:

- :mod:`.text` — tokenization, language-ID heuristic, quality scoring,
  document fingerprinting (all JVM-side Column expressions)
- :mod:`.dedup` — exact (hash), n-gram Jaccard, MinHash-LSH, SimHash
- :mod:`.similarity` — embedding cosine top-k (brute-force baseline +
  label-cell IVF scale path)

They serve the 11 LLM queries of the driver contract
(``queries/llm_queries.py``).
"""
