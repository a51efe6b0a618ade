"""Output checks: models of what the program should produce, compared
with what it did. Nothing here runs inside a timed section.

A check reports per operation: `missing` when the program produced no
output where the model expects one (a 0-byte upload that never gets a
ledger row), `wrong` when it produced an output the model contradicts.
Both count as failed operations; only `wrong` makes a run incorrect.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

from gen import LandedFile

MAX_DELIVERY_ATTEMPTS = 5


@dataclass
class Tally:
    attempted: int = 0
    missing: int = 0
    wrong: int = 0
    notes: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.missing + self.wrong

    def add(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.missing += other.missing
        self.wrong += other.wrong
        self.notes.extend(other.notes[: max(0, 20 - len(self.notes))])

    def record(self, ok: bool, what: str, missing: bool = False) -> None:
        self.attempted += 1
        if ok:
            return
        if missing:
            self.missing += 1
        else:
            self.wrong += 1
        if len(self.notes) < 20:
            self.notes.append(what)


# --------------------------------------------------------------------------
# bucket ingest model (set-up pass and ingest rounds)
# --------------------------------------------------------------------------


class BucketModel:
    """Expected ledger state of one bucket directory after each ingest
    pass: a file with data rows has exactly one `done` row carrying its
    line count; any other .csv gains one `failed` row per pass until
    MAX_DELIVERY_ATTEMPTS; a non-.csv file has no row; a `done` file
    redelivered adds nothing."""

    def __init__(self, bucket: str):
        self.bucket = bucket
        self.files: dict[str, LandedFile] = {}
        self.passes: dict[str, int] = {}

    def land(self, files: list[LandedFile]) -> None:
        for f in files:
            self.files[f.name] = f
            self.passes[f.name] = 0

    def ingest_pass(self) -> None:
        for name in self.passes:
            self.passes[name] += 1

    def expected_rows(self, name: str) -> list[tuple]:
        f = self.files[name]
        if f.expect is None:
            return []
        if f.expect == "done":
            return [("done", f.n_lines)]
        n = min(self.passes[name], MAX_DELIVERY_ATTEMPTS)
        return [("failed", None)] * n

    def check(self, rows: list[tuple]) -> Tally:
        """`rows`: (file_name, status, lines_processed, error_message)
        for every ledger row of this bucket. One operation per file in
        the bucket (a delivery in this pass)."""
        got: dict[str, list[tuple]] = {}
        for name, status, lines, err in rows:
            if status == "failed" and not err:
                status = "failed-without-error"
            got.setdefault(name, []).append((status, lines))
        t = Tally()
        for name in sorted(self.files):
            want = sorted(self.expected_rows(name), key=repr)
            have = sorted(got.pop(name, []), key=repr)
            t.record(
                have == want,
                f"{self.bucket}/{name}: want {want[:2]}x{len(want)} got {have[:2]}x{len(have)}",
                missing=not have and bool(want),
            )
        for name, have in got.items():
            t.record(False, f"{self.bucket}/{name}: unexpected rows {have[:2]}")
        return t


# --------------------------------------------------------------------------
# historical ledger model (the query API)
# --------------------------------------------------------------------------


class LedgerModel:
    """The generated transition history plus rows appended during the
    run; answers the query API the way the program should."""

    def __init__(self, history):
        self.rows = pd.DataFrame(
            {
                "upload_id": history.column("upload_id").to_numpy(),
                "status": history.column("status").to_numpy(),
                "queued_at": history.column("queued_at").cast(pa.int64()).to_numpy(),
                "ts": history.column("ts").cast(pa.int64()).to_numpy(),
            }
        )
        self._current = None

    @staticmethod
    def _frame(rows) -> pd.DataFrame:
        return pd.DataFrame(
            {"upload_id": [r.upload_id for r in rows], "status": [r.status for r in rows],
             "queued_at": np.array([r.q for r in rows], dtype=np.int64),
             "ts": np.array([r.t for r in rows], dtype=np.int64)}
        )

    def append_rows(self, rows) -> None:
        self.rows = pd.concat([self.rows, self._frame(rows)], ignore_index=True)
        self._current = None

    def current(self, cutoff_us: int | None = None) -> pd.DataFrame:
        if cutoff_us is None and self._current is not None:
            return self._current
        rows = self.rows if cutoff_us is None else self.rows[self.rows.ts <= cutoff_us]
        cur = rows.sort_values("ts", kind="mergesort").drop_duplicates("upload_id", keep="last")
        if cutoff_us is None:
            self._current = cur
        return cur

    def lookup(self, upload_id: str):
        cur = self.current()
        hit = cur[cur.upload_id == upload_id]
        return None if hit.empty else hit.iloc[0].status

    def listing(self, status: str | None, limit: int, cutoff_us: int | None = None) -> list[str]:
        cur = self.current(cutoff_us)
        if status is not None:
            cur = cur[cur.status == status]
        top = cur.sort_values(["queued_at", "upload_id"], ascending=[False, True]).head(limit)
        return top.upload_id.tolist()

    def dlq(self) -> tuple[int, int]:
        """(terminal uploads, failed attempts of terminal uploads)."""
        n = self.rows[self.rows.status == "failed"].groupby("upload_id").size()
        terminal = n[n >= MAX_DELIVERY_ATTEMPTS]
        return len(terminal), int(terminal.sum())
