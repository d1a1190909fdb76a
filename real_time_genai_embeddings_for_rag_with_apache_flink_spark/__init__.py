"""PySpark-native analytics + streaming-embedding engine.

A from-scratch re-expression of the capability surface of
``aws-samples/real-time-genai-embeddings-for-rag-with-apache-flink``
(see SURVEY.md) on idiomatic Spark: DataFrame/SQL for the relational
surface, Structured Streaming for the dataflow pipeline, Arrow-batched
pandas UDFs only where built-in operators cannot express the semantics
(the pluggable embedder, reference operator A1).

Layout
------
- ``session``    SparkSession factory tuned for the target cluster shape
- ``worker_daemon`` the PySpark daemon its Python workers fork from
- ``config``     pipeline configuration (mirror of FlinkApplicationProperties)
- ``schemas``    per-stage StructTypes (RAW -> MSG -> DOC -> EMB)
- ``sources``    batch parquet table registry + streaming sources
- ``operators``  the dataflow operators (normalize, filter, embed, dedup, ...)
- ``functions``  column-level helpers (vector math, text analysis, json)
- ``plans``      the declared query catalog (SURVEY.md section 2B) with
                 paired DuckDB oracle SQL
- ``streaming``  Structured Streaming pipeline + windowed/stateful ops
"""

__version__ = "0.1.0"
