"""etl_ai_assistent_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference document-ETL + RAG pipeline
(MustafaAushev/etl-ai-assistent), extended with the LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
required at 100 TB scale.

Layout:
    session      SparkSession factory (AQE + Arrow on, UTC, tuned shuffle)
    schemas      testdata table names and the two declared schemas
    io           parquet/JSON/CSV source + sink wrappers
    functions/   column-level building blocks (vector math, text ops)
    operators/   composite dataflow operators (sectionize, chunk, embed,
                 dedup, similarity, as-of join, sessionize, multimodal)
    streaming/   Structured Streaming pipelines
    registry     the queries()/oracle_sql() registry consumed by
                 __spark_entry__.py
"""

__version__ = "0.1.0"
