"""Engine schemas, declared up front (the reference's schemas are implicit;
see SURVEY.md §1 and FIXTURES.md for the derivation, with reference
citations ``main.py:61-68`` (ledger), ``main.py:74-78`` (queue message),
``ARCHITECTURE.md:64-79`` (DLQ retry cap)).
"""

from __future__ import annotations

from pyspark.sql import types as T

# uploads_ledger — reference Firestore doc schema, ARCHITECTURE.md:86-101.
# Append-model adds `ts` (transition time) for latest-wins reads.
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("upload_id", T.StringType(), False),
        T.StructField("bucket_name", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("file_size", T.LongType()),
        T.StructField("status", T.StringType(), False),  # pending|processing|done|failed
        T.StructField("queued_at", T.TimestampType()),
        T.StructField("processing_started_at", T.TimestampType()),
        T.StructField("processing_completed_at", T.TimestampType()),
        T.StructField("failed_at", T.TimestampType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("lines_processed", T.LongType()),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Pub/Sub-equivalent queue message — reference main.py:74-78
QUEUE_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("upload_id", T.StringType(), False),
        T.StructField("bucket_name", T.StringType()),
        T.StructField("file_name", T.StringType()),
    ]
)

MAX_DELIVERY_ATTEMPTS = 5  # DLQ retry cap, ARCHITECTURE.md:75
