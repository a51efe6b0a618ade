"""CSV directory source — operator S1 in SURVEY.md §2a.

Reference behavior (``/root/reference/csv-processor-function/main.py:39-41,
116-121``): a new object in the bucket triggers processing; content is
downloaded as one text blob and split on newlines. Spark-first
re-expression:

- typed access:      ``spark.read.csv(dir, header=True, mode=PERMISSIVE)``
  with `_corrupt_record` capture so malformed rows become data, and
  partitioned scans instead of whole-file-in-memory download.
- file-granularity:  the hidden ``_metadata`` struct + ``input_file_name``
  gives (file_name, file_size, file_modification_time) without reading
  row content twice — the reference fetches the same triple via a GCS
  metadata RPC (``main.py:43-47``).
- event-driven:      ``file_lines`` also projects a ``spark.readStream``
  text source (streaming.ingest_stream), which reproduces "new file
  appears → gets processed" (``ARCHITECTURE.md:10-16``).

At 100 TB scale the batch reader splits large CSVs across tasks
(``spark.sql.files.maxPartitionBytes``) and compacts small files per task
(``openCostInBytes``); nothing is ever collected to the driver.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """Typed, partitioned CSV scan with corrupt-record capture.

    PERMISSIVE mode + `_corrupt_record` turns the reference's
    exception-driven failure path (main.py:126-127 raise) into a data
    path: bad rows survive the scan and can be routed to `failed`.
    """
    reader = spark.read.option("header", str(header).lower()).option("mode", "PERMISSIVE")
    if schema is not None:
        if "_corrupt_record" not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
            )
        reader = reader.schema(schema).option("columnNameOfCorruptRecord", "_corrupt_record")
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def file_lines(text: DataFrame) -> DataFrame:
    """Per-line rows of a text-source frame, batch or streaming, each
    carrying its file's identity: (file_name, file_size, time_created,
    line, bucket_name) — the triple the reference fetches per blob
    (main.py:43-47) comes from Spark's `_metadata` hidden column, so the
    file is listed, not parsed.
    """
    return text.select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.file_size").alias("file_size"),
        F.col("_metadata.file_modification_time").alias("time_created"),
        F.col("value").alias("line"),
        # bucket_name := parent directory (object-store bucket stand-in)
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2).alias("bucket_name"),
    )


def read_csv_file_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Batch per-line view of a bucket directory (see `file_lines`).

    Spark's file scans skip zero-length files, so each one is added as a
    single row with `file_size` 0 and a null `line`, found by one
    `os.scandir` pass: a local-FS listing, like `read_ledger`'s glob.
    """
    lines = file_lines(spark.read.format("text").load(path))
    # the names Spark's file index lists: no `.`- or `_`-prefixed files
    empty = [
        e
        for e in (os.scandir(path) if os.path.isdir(path) else ())
        if e.is_file() and e.name[0] not in "._" and e.stat().st_size == 0
    ]
    if not empty:
        return lines
    # bucket_name from the directory in `_metadata.file_path`'s URI form
    uri = spark._jvm.org.apache.hadoop.fs.Path(os.path.abspath(path)).toUri().toString()
    # from an Arrow table createDataFrame plans a LocalRelation, which adds
    # no tasks to the scan stage (a Python list becomes an RDD)
    zero = spark.createDataFrame(
        pa.table(
            {
                "file_name": [e.name for e in empty],
                "mtime_ms": [e.stat().st_mtime_ns // 1_000_000 for e in empty],
            }
        )
    ).select(
        "file_name",
        F.lit(0).cast("long").alias("file_size"),
        F.timestamp_millis("mtime_ms").alias("time_created"),
        F.lit(None).cast("string").alias("line"),
        F.lit(uri.rsplit("/", 1)[-1]).alias("bucket_name"),
    )
    return lines.unionByName(zero)
