"""Tests of the benchmark's generators and output checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os

import checks
import gen


def _landed(tmp_path, name, seed):
    d = tmp_path / name
    gen.land(gen.bucket_batch(seed, 0, 200, gen.MTIME_EPOCH), str(d))
    return d


def test_bucket_same_seed_is_byte_identical(tmp_path):
    a, b = _landed(tmp_path, "a", 5), _landed(tmp_path, "b", 5)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert [os.stat(a / n).st_mtime for n in names] == [os.stat(b / n).st_mtime for n in names]


def test_bucket_different_seed_differs(tmp_path):
    a, c = _landed(tmp_path, "a", 5), _landed(tmp_path, "c", 6)
    names = sorted(set(os.listdir(a)) & set(os.listdir(c)))
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch or sorted(os.listdir(a)) != sorted(os.listdir(c))


def test_bucket_has_every_file_kind():
    kinds = {f.kind for f in gen.bucket_batch(1, 0, 1000, gen.MTIME_EPOCH)}
    assert kinds == set(gen.FILE_KINDS)
    zero = [f for f in gen.bucket_batch(1, 0, 1000, gen.MTIME_EPOCH) if f.kind == "zero_byte"]
    assert zero and all(f.data == b"" and f.expect == "failed" for f in zero)


def test_ledger_history_seeded():
    a = gen.ledger_history(3, 2000, 0)
    assert a.equals(gen.ledger_history(3, 2000, 0))
    assert not a.equals(gen.ledger_history(4, 2000, 0))
    assert a.num_rows > 2000  # several transitions per upload


def _model_rows(model):
    """The ledger rows a correct program writes for `model`."""
    rows = []
    for name in model.files:
        for status, lines in model.expected_rows(name):
            rows.append((name, status, lines, "err" if status == "failed" else None))
    return rows


def _bucket_model():
    model = checks.BucketModel("landing")
    model.land(gen.bucket_batch(2, 0, 300, gen.MTIME_EPOCH))
    model.ingest_pass()
    model.ingest_pass()
    return model


def test_bucket_check_accepts_correct_rows():
    model = _bucket_model()
    t = model.check(_model_rows(model))
    assert t.failed == 0 and t.attempted == len(model.files)


def test_bucket_check_catches_planted_rows():
    model = _bucket_model()
    good = _model_rows(model)
    done = next(r for r in good if r[1] == "done")
    decoy = next(f for f in model.files.values() if f.kind == "decoy")
    plants = [
        good + [done],  # a redelivered done file appended again
        [r for r in good if r is not done] + [(done[0], "done", done[2] + 1, None)],
        good + [(decoy.name, "failed", None, "err")],  # a decoy ingested
        good + [("never_landed.csv", "done", 3, None)],
    ]
    for rows in plants:
        t = model.check(rows)
        assert t.wrong == 1 and t.missing == 0, t.notes


def test_bucket_check_counts_missing_zero_byte_as_failed_not_wrong():
    model = _bucket_model()
    zero = {f.name for f in model.files.values() if f.kind == "zero_byte"}
    t = model.check([r for r in _model_rows(model) if r[0] not in zero])
    assert zero and t.missing == len(zero) and t.wrong == 0


def test_failed_attempts_stop_at_cap():
    model = _bucket_model()
    for _ in range(10):
        model.ingest_pass()
    bad = next(f.name for f in model.files.values() if f.kind == "header_only")
    assert len(model.expected_rows(bad)) == checks.MAX_DELIVERY_ATTEMPTS


def test_ledger_model_answers():
    lm = checks.LedgerModel(gen.ledger_history(1, 500, 0))
    cur = lm.current()
    uid = cur.upload_id.iloc[0]
    assert lm.lookup(uid) == cur.status.iloc[0]
    assert lm.lookup("0" * 16) is None
    top = lm.listing("done", 10)
    assert len(top) == 10 and set(top) <= set(cur[cur.status == "done"].upload_id)
    terminal, attempts = lm.dlq()
    assert terminal > 0 and attempts == terminal * checks.MAX_DELIVERY_ATTEMPTS
