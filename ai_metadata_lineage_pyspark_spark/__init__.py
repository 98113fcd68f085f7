"""PySpark-native analytics engine with the query and data-processing
capabilities of rohit2101991/ai-metadata-lineage-pyspark.

Built Spark-first from public knowledge (Apache Spark / PySpark APIs); the
reference repo at /root/reference is used only as a behavioral spec
(see SURVEY.md). Nothing here is a translation of reference code.

Layout:
  session.py    — tuned SparkSession builder (AQE, shuffle partitions, Arrow)
  registry.py   — (name -> spark query, oracle SQL) registry used by
                  __spark_entry__.py and bench.py
  operators/    — relational + training-data operators (dedup, similarity,
                  text analysis, merge, graph closure)
  lineage/      — the reference's engine-internal surface re-expressed as
                  Spark jobs (AST extraction, edges, stitching, corpus, QA)
  sources/      — script-corpus sources (read a repo of .py files as a table)
  functions/    — reusable column-level helpers (JVM-side first);
                  functions/io.py owns every fixture-table read (one
                  schema inference per table path per process)
  streaming/    — Structured Streaming equivalents (sessionization)
"""

__version__ = "0.1.0"
