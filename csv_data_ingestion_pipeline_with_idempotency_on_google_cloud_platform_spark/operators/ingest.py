"""Batch ingest pipeline — the reference's entire write path as one
declarative Spark job (SURVEY.md §3.4, phase 0).

Reference dataflow (``main.py:21-157``, two serverless functions joined
by Pub/Sub):

    object.finalized → suffix filter → metadata fetch → upload_id →
    idempotency check → ledger 'pending' → queue hop →
    ledger 'processing' → download → split lines → validate →
    ledger 'done'|'failed'

Spark re-expression — every RPC boundary becomes a stage inside one
job; Catalyst fuses the filters/projections into the scan:

    csv file listing (S1) → endswith('.csv') filter (F1) →
    upload_id (K1) → LEFT ANTI JOIN ledger[status=done] (F2) →
    per-file line counts (A1) → validation (V1) →
    append done/failed transition rows (S3/T1)

Exactly-once *effect* comes from the anti-join gate (content-addressed
key) rather than a read-check-write race — the reference's TOCTOU window
(SURVEY §3.2) does not exist here because the gate and the append happen
in the same batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import upload_id_col
from ..sources.csv_source import read_csv_file_metadata
from .dlq import route_to_dlq
from .ledger import latest_wins, read_ledger, upsert_append

# Engine validation semantics (documented divergence from the reference's
# raw `content.split('\n')` count, FIXTURES.md §1): a file must contain
# at least one *parsed data row* (header excluded) to be `done`.
MIN_DATA_ROWS = 1


def _file_facts(lines: DataFrame) -> DataFrame:
    """One row per .csv file: identity tuple + upload_id + line counts."""
    # F1: case-insensitive suffix filter (main.py:34-36). Applied before
    # anything else so non-CSV files never reach hashing or counting.
    lines = lines.filter(F.lower(F.col("file_name")).endswith(".csv"))
    per_file = lines.groupBy("bucket_name", "file_name", "file_size", "time_created").agg(
        # count(*) reads no line values; a 0-byte file's one row -> 0 data rows
        F.count("*").alias("n_lines")
    )
    return per_file.withColumn(
        "upload_id",
        upload_id_col("bucket_name", "file_name", "file_size", "time_created"),
    ).withColumn(
        # header-aware data-row count; a completely empty file lists 0 lines
        "data_rows",
        F.greatest(F.col("n_lines") - 1, F.lit(0)),
    )


def terminal_upload_ids(ledger: DataFrame) -> DataFrame:
    """upload_ids the ingest gate must never re-attempt: latest status
    `done` (F2 idempotency) OR failed >= MAX_DELIVERY_ATTEMPTS times
    (E2 terminal gate — the reference's DLQ retry cap,
    ARCHITECTURE.md:75). Below the cap, failed files re-attempt and a
    success overwrites `failed` with `done` (redelivery semantics,
    SURVEY §3.2)."""
    done = latest_wins(ledger).filter(F.col("status") == "done").select("upload_id")
    # Catalyst prunes route_to_dlq's unused aggregates down to its count
    exhausted = route_to_dlq(ledger).filter("terminal").select("upload_id")
    return done.unionByName(exhausted)


def ingest_lines(lines: DataFrame, ledger_dir: str) -> None:
    """The one write path, batch and streaming alike: per-line file rows
    (sources.csv_source.file_lines) → per-file facts → gate → transition
    rows → `upsert_append` onto the ledger."""
    candidates = _file_facts(lines)

    skip = terminal_upload_ids(read_ledger(lines.sparkSession, ledger_dir))
    # F2: idempotency gate. The ledger side is tiny relative to the scan
    # at scale — broadcast it so the gate is shuffle-free.
    fresh = candidates.join(F.broadcast(skip), "upload_id", "left_anti")

    ok = F.col("data_rows") >= MIN_DATA_ROWS
    now = F.current_timestamp()
    transitions = fresh.select(
        "upload_id",
        "bucket_name",
        "file_name",
        "file_size",
        F.when(ok, F.lit("done")).otherwise(F.lit("failed")).alias("status"),
        now.alias("queued_at"),
        now.alias("processing_started_at"),
        F.when(ok, now).alias("processing_completed_at"),
        F.when(~ok, now).alias("failed_at"),
        F.when(
            ~ok, F.concat(F.lit("CSV file has no data rows: "), F.col("file_name"))
        ).alias("error_message"),
        F.when(ok, F.col("n_lines")).alias("lines_processed"),
        now.alias("ts"),
    )
    upsert_append(transitions, ledger_dir)


def ingest_batch(spark: SparkSession, csv_dir: str, ledger_dir: str) -> DataFrame:
    """Run one ingest pass; returns the latest-wins ledger view after it.

    Idempotent by construction: a re-run on the same directory appends
    nothing for an upload that is `done` (F2) or has reached the retry
    cap (E2). A failed upload below the cap is re-attempted and gets one
    more row, so a success overwrites `failed` with `done` — the
    reference's redelivery semantics (SURVEY §3.2).
    """
    ingest_lines(read_csv_file_metadata(spark, csv_dir), ledger_dir)
    return latest_wins(read_ledger(spark, ledger_dir))
