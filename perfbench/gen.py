"""Seeded input generators for the benchmark.

Everything the program sees is made here from a seed: the CSV files
landed in a bucket directory and the historical uploads ledger. Both
double as the models the output checks compare against.
The same seed gives byte-identical inputs (file contents and
modification times included).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# Files get integer-second modification times from this epoch, so the
# upload ids the program derives from (bucket, name, size, mtime) are a
# function of the seed alone.
MTIME_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z

# Share of each kind of landed file. 0-byte files are kept on purpose:
# the text scan emits no line for them, so they never get a ledger row
# and count as failed operations.
FILE_KINDS = ("ok", "header_only", "blank_line", "zero_byte", "decoy")
FILE_KIND_P = (0.80, 0.05, 0.04, 0.03, 0.08)
DECOY_SUFFIXES = (".txt", ".json", ".csv.bak", ".tmp")
HEADER = "id,name,email,age,department\n"


@dataclass(frozen=True)
class LandedFile:
    name: str
    kind: str
    data: bytes
    mtime: int

    @property
    def is_csv(self) -> bool:
        return self.name.lower().endswith(".csv")

    @property
    def n_lines(self) -> int:
        """Lines Spark's text source reads from the file."""
        if not self.data:
            return 0
        return self.data.count(b"\n") + (0 if self.data.endswith(b"\n") else 1)

    @property
    def expect(self) -> str | None:
        """Ledger outcome the pipeline's spec calls for: `done` for a
        file with at least one data row, `failed` for any other .csv
        (0-byte included), no row for a non-.csv decoy."""
        if not self.is_csv:
            return None
        return "done" if self.n_lines >= 2 else "failed"


def _body(rng: np.random.Generator, prefix: str, n_rows: int) -> str:
    depts = ("eng", "ops", "sales", "hr", "legal")
    ages = rng.integers(18, 70, size=n_rows)
    picks = rng.integers(0, len(depts), size=n_rows)
    return "".join(
        f"{i},{prefix}_{i},{prefix}_{i}@example.com,{ages[i]},{depts[picks[i]]}\n"
        for i in range(n_rows)
    )


def bucket_batch(seed: int, batch: int, n: int, mtime_base: int) -> list[LandedFile]:
    """`n` new files for landing batch `batch`: mostly valid CSVs of
    skewed size, plus header-only, blank-line ("\\n"), 0-byte and
    non-.csv decoy files."""
    rng = np.random.default_rng([seed, batch])
    kinds = rng.choice(len(FILE_KINDS), size=n, p=FILE_KIND_P)
    out = []
    for i, k in enumerate(kinds):
        kind = FILE_KINDS[k]
        stem = f"b{batch:04d}_{i:05d}"
        name = f"{stem}.csv"
        if kind == "ok":
            # heavy-tailed row counts: most files small, a few large
            n_rows = int(min(2000, 1 + rng.pareto(1.2) * 8))
            data = HEADER + _body(rng, stem, n_rows)
            if rng.random() < 0.05:
                name = f"{stem}.CSV"  # suffix filter is case-insensitive
        elif kind == "header_only":
            data = HEADER
        elif kind == "blank_line":
            data = "\n"
        elif kind == "zero_byte":
            data = ""
        else:
            name = stem + DECOY_SUFFIXES[int(rng.integers(len(DECOY_SUFFIXES)))]
            data = HEADER + _body(rng, stem, int(rng.integers(1, 20)))
        out.append(LandedFile(name, kind, data.encode(), mtime_base + i))
    return out


def land(files: list[LandedFile], directory: str, staging: str | None = None) -> None:
    """Write files into `directory`. With `staging`, write there first
    and rename into place, so a watcher never sees a partial file."""
    os.makedirs(directory, exist_ok=True)
    for f in files:
        final = os.path.join(directory, f.name)
        path = os.path.join(staging, f.name) if staging else final
        with open(path, "wb") as fh:
            fh.write(f.data)
        os.utime(path, (f.mtime, f.mtime))
        if staging:
            os.rename(path, final)


def upload_id(bucket: str, f: LandedFile) -> str:
    """The reference's content-addressed key, computed independently of
    the program: sha256("bucket-name-size-createdISO")[:16]."""
    iso = np.datetime_as_string(np.datetime64(f.mtime, "s"), unit="s")
    return hashlib.sha256(f"{bucket}-{f.name}-{len(f.data)}-{iso}".encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# historical ledger
# --------------------------------------------------------------------------

# Transition histories an upload can have, with their shares:
#   done      pending, processing, done
#   retried   failed x k (1-3), done
#   terminal  failed x 5 (dead-lettered)
#   failing   failed x k (1-4), still retryable
#   inflight  pending, processing
HISTORY_KINDS = ("done", "retried", "terminal", "failing", "inflight")
HISTORY_P = (0.62, 0.12, 0.06, 0.08, 0.12)
LEDGER_DAYS = 30
LEDGER_BUCKET = "archive"


def _statuses(kind: str, k: int) -> list[str]:
    if kind == "done":
        return ["pending", "processing", "done"]
    if kind == "retried":
        return ["failed"] * min(k, 3) + ["done"]
    if kind == "terminal":
        return ["failed"] * 5
    if kind == "failing":
        return ["failed"] * k
    return ["pending", "processing"]


def ledger_history(seed: int, n_uploads: int, start_us: int) -> pa.Table:
    """Transition rows for `n_uploads` uploads spread over LEDGER_DAYS
    daily partitions, in LEDGER_SCHEMA column order. The table itself is
    the model the read checks use."""
    rng = np.random.default_rng([seed, 7])
    kinds = rng.choice(len(HISTORY_KINDS), size=n_uploads, p=HISTORY_P)
    ks = rng.integers(1, 5, size=n_uploads)
    ids = np.unique(rng.integers(0, 2**63, size=n_uploads + 64, dtype=np.int64))
    ids = rng.permutation(ids)[:n_uploads]
    start = start_us + rng.integers(0, LEDGER_DAYS * 86_400_000_000, size=n_uploads)
    sizes = rng.integers(40, 200_000, size=n_uploads)

    patterns = [_statuses(HISTORY_KINDS[kinds[u]], int(ks[u])) for u in range(n_uploads)]
    lens = np.array([len(p) for p in patterns])
    up_idx = np.repeat(np.arange(n_uploads), lens)
    status = np.array([s for p in patterns for s in p])
    first = np.concatenate([[0], np.cumsum(lens)[:-1]])
    gaps = rng.integers(1_000_000, 3_600_000_000, size=len(up_idx))  # 1 s .. 1 h apart
    gaps[first] = 0
    steps = np.cumsum(gaps)
    ts = start[up_idx] + steps - steps[first][up_idx]
    failed, done = status == "failed", status == "done"
    id_str = np.array([f"{x:016x}" for x in ids])[up_idx]
    names = np.array([f"h{u:07d}.csv" for u in range(n_uploads)])[up_idx]

    def tcol(values, mask=None):
        arr = pa.array(values, type=pa.int64(), mask=None if mask is None else ~mask)
        return arr.cast(pa.timestamp("us", tz="UTC"))

    queued = start[up_idx]
    return pa.table(
        {
            "upload_id": id_str,
            "bucket_name": np.full(len(ts), LEDGER_BUCKET),
            "file_name": names,
            "file_size": sizes[up_idx].astype(np.int64),
            "status": status,
            "queued_at": tcol(queued),
            "processing_started_at": tcol(queued, status != "pending"),
            "processing_completed_at": tcol(ts, done),
            "failed_at": tcol(ts, failed),
            "error_message": pa.array(
                np.char.add("CSV file has no data rows: ", names), mask=~failed
            ),
            "lines_processed": pa.array(
                (sizes[up_idx] // 40).astype(np.int64), mask=~done
            ),
            "ts": tcol(ts),
        }
    )
