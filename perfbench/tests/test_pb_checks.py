"""Every output check accepts the right result and rejects a wrong one;
the generators are deterministic in their seed."""

import hashlib
import os

import pytest

from benchlib import inputs
from benchlib.workloads import (
    CheckFailed,
    cep_histogram,
    check_close,
    check_curate,
    check_dedup,
    check_rows,
)


def _digest(root):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_ledger_is_seeded_and_counts_its_dirty_rows(tmp_path):
    a = inputs.write_ledger(str(tmp_path / "a"), 5, 50)
    b = inputs.write_ledger(str(tmp_path / "b"), 5, 50)
    c = inputs.write_ledger(str(tmp_path / "c"), 6, 50)
    assert _digest(a.raw_dir) == _digest(b.raw_dir) != _digest(c.raw_dir)
    assert a.clean_in_month == 200
    assert set(a.injected) == set(inputs.DIRTY_FAMILIES)
    assert all(1 <= k <= 3 for k in a.injected.values())
    with open(os.path.join(a.raw_dir, "sales.csv")) as f:
        n_sales = sum(1 for _ in f) - 1
    dirty_sales = sum(v for k, v in a.injected.items() if k.startswith("sales_"))
    assert n_sales == 50 + dirty_sales


def test_corpus_has_the_sf01_document_statistics(tmp_path):
    import pyarrow.parquet as pq

    c = inputs.write_corpus(str(tmp_path / "d" / "documents.parquet"), 3, 2000)
    assert c.n_docs == 2000 and len(c.injected) == 100 and len(c.exact) == 3
    t = pq.read_table(c.path).to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    assert texts == c.texts
    lens = sorted(len(x.split()) for x in texts.values())
    assert lens[0] >= 10 and lens[-1] <= 101 and 45 <= lens[len(lens) // 2] <= 65
    assert {w for x in texts.values() for w in x.split()} == set(inputs.DOC_WORDS) | {"dup"}
    assert 0.35 <= t["lang"].count("en") / 2000 <= 0.47
    for d in c.injected:
        assert texts[d] == texts[c.source_of[d]] + " dup"
        assert inputs.jaccard(texts[d], texts[c.source_of[d]]) >= 8 / 9
    for d in c.exact:
        assert texts[d] == texts[c.source_of[d]]
    again = inputs.write_corpus(str(tmp_path / "e" / "documents.parquet"), 3, 2000)
    assert again.texts == c.texts


def test_sf_tables_are_seeded(tmp_path):
    inputs.write_sf_tables(str(tmp_path / "a"), 1, 0.001)
    inputs.write_sf_tables(str(tmp_path / "b"), 1, 0.001)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert len(os.listdir(tmp_path / "a")) == 10


def test_close_check(tmp_path):
    L = inputs.Ledger("raw", "ref", "2025-12", clean_in_month=400, injected={"x": 2, "y": 1})
    check_close(L, 400.0, 3, 1234.5600000001, 1234.56)
    with pytest.raises(CheckFailed, match="fact_rows"):
        check_close(L, 399.0, 3, 1.0, 1.0)
    with pytest.raises(CheckFailed, match="dq_exceptions"):
        check_close(L, 400.0, 4, 1.0, 1.0)
    with pytest.raises(CheckFailed, match="total"):
        check_close(L, 400.0, 3, 1234.57, 1234.56)


def test_curate_check():
    audit = [("raw", 10), ("gopher_pass", 9), ("exact_dedup", 9), ("neardup_dedup", 7)]
    check_curate(10, audit, audit, (5, 99), (5, 99))
    with pytest.raises(CheckFailed, match="increase"):
        check_curate(10, [("raw", 10), ("a", 8), ("b", 9)], [("raw", 10), ("a", 8), ("b", 9)], (1, 1), (1, 1))
    with pytest.raises(CheckFailed, match="raw count"):
        check_curate(11, audit, audit, (5, 99), (5, 99))
    with pytest.raises(CheckFailed, match="first round"):
        check_curate(10, audit, audit[:3] + [("neardup_dedup", 8)], (5, 99), (5, 99))
    with pytest.raises(CheckFailed, match="checksum"):
        check_curate(10, audit, audit, (5, 98), (5, 99))


def test_dedup_check(tmp_path):
    c = inputs.write_corpus(str(tmp_path / "d" / "documents.parquet"), 4, 400)
    gate = set(range(c.n_docs))
    kept = gate - set(c.injected) - set(c.exact)
    audit = [("raw", 400), ("gopher_pass", 400), ("exact_dedup", 399), ("neardup_dedup", len(kept))]
    check_dedup(c, audit, gate, kept, 0.7)
    # a unique doc dropped
    with pytest.raises(CheckFailed, match="without a kept duplicate"):
        check_dedup(c, audit[:3] + [("neardup_dedup", len(kept) - 1)], gate, kept - {0}, 0.7)
    # an exact copy kept
    with pytest.raises(CheckFailed, match="exact copies kept"):
        check_dedup(c, audit[:3] + [("neardup_dedup", len(kept) + 1)], gate, kept | {c.exact[0]}, 0.7)
    # most injected copies missed
    missed = kept | set(c.injected[:5])
    with pytest.raises(CheckFailed, match="recall"):
        check_dedup(c, audit[:3] + [("neardup_dedup", len(missed))], gate, missed, 0.7)
    # a kept doc that failed the gate, and an audit that disagrees
    with pytest.raises(CheckFailed, match="quality gate"):
        check_dedup(c, audit, gate - {1}, kept, 0.7)
    with pytest.raises(CheckFailed, match="audit ends"):
        check_dedup(c, audit[:3] + [("neardup_dedup", 1)], gate, kept, 0.7)


def test_read_check():
    check_rows("r", [(2, "b"), (1, "a")], [(1, "a"), (2, "b")])
    with pytest.raises(CheckFailed):
        check_rows("r", [(1, "a")], [(1, "a"), (2, "b")])
    with pytest.raises(CheckFailed):
        check_rows("r", [(1, "a"), (2, "c")], [(1, "a"), (2, "b")])


def test_cep_fold():
    def ev(user, i, kind):
        return {"user_id": user, "event_id": i, "ts": i, "event_type": kind}

    events = [
        ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),  # one completion
        ev(1, 4, "view"), ev(1, 5, "error"), ev(1, 6, "click"),  # reset
        ev(2, 7, "click"), ev(2, 8, "signup"),
    ]
    assert cep_histogram(events) == {1: 1, 0: 1}
    # order is by (ts, event_id), not by input order
    assert cep_histogram(list(reversed(events))) == {1: 1, 0: 1}
