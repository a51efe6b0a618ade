"""Event-driven ingest — SURVEY.md §7 phase 2 (streaming parity).

The reference's trigger chain (object.finalized → function → Pub/Sub →
function, ``ARCHITECTURE.md:10-16,103-117``) collapses into ONE
Structured Streaming query: the file source's directory listing replaces
the storage event, `maxFilesPerTrigger` replaces per-event function
invocation, and `foreachBatch` + checkpoint provide the transactional
boundary the Pub/Sub hop only approximates.

Exactly-once effect: the checkpoint guarantees each file is admitted to
exactly one batch per query lifetime, and inside the batch the
idempotency anti-join (F2) re-gates against the ledger — so even a
restart-with-reprocessed-batch appends no duplicate `done` rows. This
strictly improves on the reference's at-least-once + TOCTOU-window
semantics (SURVEY §3.2).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.ingest import ingest_lines
from ..sources.csv_source import file_lines

# files admitted per micro-batch
MAX_FILES_PER_TRIGGER = 100


def start_ingest_stream(spark: SparkSession, csv_dir: str, ledger_dir: str, checkpoint_dir: str):
    """Start the event-driven ingest query; returns the StreamingQuery.

    Each micro-batch's per-line rows (`file_lines` over the streaming
    text source) go through `operators.ingest.ingest_lines`, the batch
    path's own facts → gate → transitions → append code.

    Known gap: the stream cannot see 0-byte files. The file source skips
    them, and a `foreachBatch` frame's `inputFiles()` is empty, so a
    micro-batch cannot tell which 0-byte files arrived with it; the batch
    path's directory listing has no per-batch equivalent here.
    """
    lines = file_lines(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .load(csv_dir)
    )
    return (
        lines.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, _id: ingest_lines(batch, ledger_dir))
        .start()
    )
