"""etl_dashboard_project_1_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``Arustico/etl-dashboard-project-1`` (a single-node pandas
ETL + dashboard-prep pipeline), extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing, streaming).

Design principles (see SURVEY.md):
- Declarative DataFrame/SQL plans; Catalyst does the optimizing.
- Built-in ``pyspark.sql.functions`` in every hot path; Pandas UDFs only
  where semantics genuinely require Python (difflib ratio, model stubs).
- Broadcast tiny dimensions, partition-aware windows (never a global
  unpartitioned window on a data-sized path), AQE on.
- Config-sized expressions (CASE tables, IN lists, column families) are
  rendered as SQL text and parsed once with ``F.expr``
  (``functions/sqltext.py``): each Column call is a Py4J round-trip, and
  the 49-branch D6 CASE built call by call cost 5,267 of them (0.71 s)
  against 3 (0.6 ms) parsed.
"""

__version__ = "0.1.0"
