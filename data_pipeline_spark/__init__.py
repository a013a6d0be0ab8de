"""data_pipeline_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (project-lux/data-pipeline,
surveyed in SURVEY.md): harvest -> map -> reconcile -> merge -> reidentify ->
extract -> export, plus a relational query surface, a search-DSL planner,
and large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing).

Everything is declarative DataFrame/SQL so Catalyst+AQE pick physical plans;
Python UDFs appear only where semantics genuinely require them (free-text
date parsing, every row of it, and minhash permutations) and are
Arrow-vectorized.
"""

__version__ = "0.1.0"
