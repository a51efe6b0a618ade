"""JSONL document source — the de-facto interchange format for LLM
training corpora (one JSON document per line).

Mirrors the CSV source's posture: explicit schema, PERMISSIVE parse
with corrupt-record capture (malformed lines become data feeding a
`failed`/quarantine path, never exceptions) and partitioned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typical LLM-corpus document shape; callers pass their own schema for
# other layouts.
DOCUMENT_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def read_jsonl_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENT_JSONL_SCHEMA,
) -> DataFrame:
    """Partitioned JSONL scan with corrupt-record capture."""
    if "_corrupt_record" not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split on the corrupt-record column — the
    document-corpus analogue of the ingest pipeline's failed path.

    Persists the parsed frame first: Spark disallows plans that read
    only `_corrupt_record` from a raw JSON scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the split reads the parse
    result twice anyway.
    """
    df = df.persist()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad

