"""Streaming-parity tests (SURVEY.md §7 phase 2): the event-driven
trigger via the Structured Streaming file source + foreachBatch, with
exactly-once effect across restarts and late-arriving files.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators import (
    latest_wins,
    read_ledger,
)
from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.streaming import (
    start_ingest_stream,
)

GOOD = "id,name\n1,a\n2,b\n"
BAD = "id,name"


def _wait_idle(query, timeout=60):
    query.processAllAvailable()


def test_stream_ingest_and_late_file(spark, tmp_path):
    csv_dir = tmp_path / "in"
    csv_dir.mkdir()
    (csv_dir / "one.csv").write_text(GOOD)
    (csv_dir / "skip.txt").write_text("nope\n")
    ledger_dir = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    q = start_ingest_stream(spark, str(csv_dir), ledger_dir, ckpt)
    try:
        _wait_idle(q)
        view = latest_wins(read_ledger(spark, ledger_dir))
        rows = {r["file_name"]: r["status"] for r in view.collect()}
        assert rows == {"one.csv": "done"}

        # late-arriving files: one good, one invalid
        (csv_dir / "two.csv").write_text(GOOD)
        (csv_dir / "bad.csv").write_text(BAD)
        _wait_idle(q)
        rows = {
            r["file_name"]: r["status"]
            for r in latest_wins(read_ledger(spark, ledger_dir)).collect()
        }
        assert rows == {"one.csv": "done", "two.csv": "done", "bad.csv": "failed"}
    finally:
        q.stop()

    # restart with same checkpoint: nothing reprocessed, ledger unchanged
    n_before = read_ledger(spark, ledger_dir).count()
    q2 = start_ingest_stream(spark, str(csv_dir), ledger_dir, ckpt)
    try:
        _wait_idle(q2)
    finally:
        q2.stop()
    assert read_ledger(spark, ledger_dir).count() == n_before


def test_stream_retry_cap_stops_permanent_failures(spark, tmp_path):
    """A permanently failing file is re-attempted on each query lifetime
    that re-lists it — but only up to MAX_DELIVERY_ATTEMPTS failed rows
    (the reference's DLQ policy, ARCHITECTURE.md:75); after that the
    exhausted gate makes further lifetimes append nothing."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.schemas import (
        MAX_DELIVERY_ATTEMPTS,
    )

    csv_dir = tmp_path / "in"
    csv_dir.mkdir()
    (csv_dir / "always-bad.csv").write_text(BAD)  # header only -> failed
    ledger_dir = str(tmp_path / "ledger")

    # each fresh checkpoint is a new query lifetime -> one re-delivery
    for attempt in range(MAX_DELIVERY_ATTEMPTS + 2):
        q = start_ingest_stream(
            spark, str(csv_dir), ledger_dir, str(tmp_path / f"ckpt{attempt}")
        )
        try:
            _wait_idle(q)
        finally:
            q.stop()
        n_failed = (
            read_ledger(spark, ledger_dir)
            .filter(F.col("status") == "failed")
            .count()
        )
        assert n_failed == min(attempt + 1, MAX_DELIVERY_ATTEMPTS)


def _ledger_rows(spark, ledger_dir):
    return sorted(
        (r["file_name"], r["status"], r["lines_processed"], r["error_message"])
        for r in read_ledger(spark, ledger_dir).collect()
    )


def _parity_dir(tmp_path):
    d = tmp_path / "bucket-p"
    d.mkdir()
    (d / "good.csv").write_text(GOOD)
    (d / "header-only.csv").write_text(BAD)
    (d / "blank.csv").write_text("\n")
    (d / "decoy.txt").write_text(GOOD)
    return str(d)


def test_stream_and_batch_write_the_same_rows(spark, tmp_path):
    """Batch and stream share one write path, so over the same directory
    they append the same (file_name, status, lines_processed,
    error_message) rows."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators import (
        ingest_batch,
    )

    csv_dir = _parity_dir(tmp_path)
    batch_ledger = str(tmp_path / "batch-ledger")
    stream_ledger = str(tmp_path / "stream-ledger")
    ingest_batch(spark, csv_dir, batch_ledger)
    q = start_ingest_stream(spark, csv_dir, stream_ledger, str(tmp_path / "ckpt"))
    try:
        _wait_idle(q)
    finally:
        q.stop()

    rows = _ledger_rows(spark, batch_ledger)
    assert [r[:3] for r in rows] == [
        ("blank.csv", "failed", None),
        ("good.csv", "done", 3),
        ("header-only.csv", "failed", None),
    ]
    assert _ledger_rows(spark, stream_ledger) == rows


def test_batch_and_stream_append_through_the_ingest_hook(spark, tmp_path, monkeypatch):
    """Both paths write via `operators.ingest.upsert_append`, looked up
    at call time, so patching that one module global sees every append."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators import (
        ingest as ingest_mod,
    )

    calls = []
    real = ingest_mod.upsert_append

    def spy(transitions, ledger_dir):
        calls.append(ledger_dir)
        real(transitions, ledger_dir)

    monkeypatch.setattr(ingest_mod, "upsert_append", spy)
    csv_dir = _parity_dir(tmp_path)
    batch_ledger = str(tmp_path / "batch-ledger")
    ingest_mod.ingest_batch(spark, csv_dir, batch_ledger)
    assert calls == [batch_ledger]

    stream_ledger = str(tmp_path / "stream-ledger")
    q = start_ingest_stream(spark, csv_dir, stream_ledger, str(tmp_path / "ckpt"))
    try:
        _wait_idle(q)
    finally:
        q.stop()
    assert calls == [batch_ledger, stream_ledger]
