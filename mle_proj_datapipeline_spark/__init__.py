"""mle_proj_datapipeline_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (brsse/mle_proj_datapipeline): the
medallion ETL operator surface (scan/filter/project/impute/encode/join/
agg/window/sort), the metrics-analytics SQL surface, the weekly
micro-batch semantics (as Structured Streaming), plus the large-scale
training-data-pipeline extensions (dedup, similarity search, multimodal
columns, text analysis).

Design stance (see SURVEY.md §7):
- One long-lived SparkSession, lazy end-to-end logical plans; Catalyst
  picks physical strategy (broadcast vs sort-merge, AQE re-plans).
- Declared StructType schemas everywhere — never inferSchema.
- Hive-style partitioned parquet, dynamic partition overwrite.
- No Python row UDFs in hot paths: built-in expressions first, Arrow
  pandas_udf only where semantics genuinely require Python.
- Designed for 100 TB / 1000 executors; tested on local[32].
"""

__version__ = "0.1.0"
