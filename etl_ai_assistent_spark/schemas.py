"""The testdata table names and the two schemas the engine declares.

Batch reads of the testdata tables infer their schemas from the parquet
footers (`io.load_table`). The fixture timestamps `o_orderdate`,
`l_shipdate` and `ts` are parquet timestamp[us] without a time zone, so
Spark reads them as TIMESTAMP_NTZ; `io.ts_us_col` also accepts a legacy
int64-nanosecond or a UTC-adjusted `ts`. A schema is declared only where
a source cannot take one from a footer:

- DOCUMENTS, for the documents file stream (a streaming source needs its
  schema up front);
- QA_DATASET, for the reference's QA JSON dataset (make_ragas_dataset.py:
  61-69): JSON inference would scan the data and order the fields
  alphabetically.
"""

from __future__ import annotations

from pyspark.sql import types as T

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

QA_DATASET = T.StructType(
    [
        T.StructField("question", T.StringType()),
        T.StructField("answer", T.StringType()),
        T.StructField("ground_truth", T.StringType()),
        T.StructField("contexts", T.ArrayType(T.StringType())),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
