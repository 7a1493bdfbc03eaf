"""Oracle rotation: queries() order derived from the committed driver
records (CORRECTNESS_rNN.json next to __spark_entry__.py)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pytest

import __spark_entry__ as m

RECORDS_DIR = os.path.dirname(os.path.abspath(m.__file__))
WINDOW = 50


def _records() -> dict[int, dict]:
    out = {}
    for fname in os.listdir(RECORDS_DIR):
        hit = m._RECORD_NAME.fullmatch(fname)
        if hit:
            with open(os.path.join(RECORDS_DIR, fname)) as f:
                out[int(hit.group(1))] = json.load(f)
    return out


def _write(path, rows) -> None:
    path.write_text(json.dumps(rows))


def _row(hash_match: bool) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": hash_match,
        "err": None,
    }


def test_committed_records_parse():
    recs = _records()
    assert recs, "no CORRECTNESS_rNN.json next to __spark_entry__.py"
    for rnd, rows in recs.items():
        assert isinstance(rows, dict) and rows, rnd
        assert all(isinstance(r, dict) for r in rows.values()), rnd
    m._latest_rounds()  # raises on any malformed record


def test_record_names_are_registered():
    """A rename would otherwise silently drop a query's check history."""
    unknown = {
        (rnd, name)
        for rnd, rows in _records().items()
        for name in rows
        if name not in m._SPARK
    }
    assert not unknown


def test_queries_keeps_rotation_rule():
    latest = m._latest_rounds()
    names = list(m.queries())
    assert sorted(names) == sorted(m._SPARK)
    pos = {n: i for i, n in enumerate(m._SPARK)}
    keys = [(latest.get(n, 0), pos[n]) for n in names]
    assert keys == sorted(keys)


def test_window_skips_newest_record(tmp_path, monkeypatch):
    """Records are found next to __spark_entry__.py from any cwd."""
    monkeypatch.chdir(tmp_path)
    recs = _records()
    newest = recs[max(recs)]
    green = {n for n, r in newest.items() if r.get("hash_match") is True}
    others = [n for n in m._SPARK if n not in green]
    head = set(list(m.queries())[:WINDOW])
    if len(others) >= WINDOW:
        assert not head & green
    else:
        assert set(others) <= head


def test_rounds_r01_r11_reproduce_hand_typed_tiers(tmp_path):
    """The round tiers once typed by hand covered r1-r11. Derived from
    those records alone, the order of every query with a green row is
    pinned by hash; queries without one lead in registration order."""
    for rnd in range(1, 12):
        fname = f"CORRECTNESS_r{rnd:02d}.json"
        shutil.copy(os.path.join(RECORDS_DIR, fname), tmp_path / fname)
    latest = m._latest_rounds(str(tmp_path))
    order = m._rotation(str(tmp_path))
    never = [n for n in m._SPARK if n not in latest]
    assert order[: len(never)] == never
    checked = "\n".join(order[len(never):])
    assert hashlib.sha256(checked.encode()).hexdigest() == (
        "f21e03815d7ffd7f3a1b3f99754ee29954ca466cba6b801ad2f31894c7836c41"
    )


def test_mismatched_row_does_not_count(tmp_path):
    a, b = list(m._SPARK)[:2]
    _write(tmp_path / "CORRECTNESS_r01.json", {a: _row(True), b: _row(True)})
    _write(tmp_path / "CORRECTNESS_r02.json", {a: _row(True), b: _row(False)})
    assert m._latest_rounds(str(tmp_path)) == {a: 2, b: 1}


def test_round_numbers_compare_as_integers(tmp_path):
    a, b = list(m._SPARK)[:2]
    _write(tmp_path / "CORRECTNESS_r100.json", {a: _row(True)})
    _write(tmp_path / "CORRECTNESS_r11.json", {a: _row(True), b: _row(True)})
    assert m._latest_rounds(str(tmp_path)) == {a: 100, b: 11}
    order = m._rotation(str(tmp_path))
    assert order.index(b) < order.index(a) == len(order) - 1


def test_empty_dir_is_registration_order(tmp_path):
    assert m._rotation(str(tmp_path)) == list(m._SPARK)


@pytest.mark.parametrize("body", ["{not json", "[1, 2]", '{"q": 3}'])
def test_malformed_record_names_file(tmp_path, body):
    (tmp_path / "CORRECTNESS_r07.json").write_text(body)
    with pytest.raises(ValueError, match="CORRECTNESS_r07.json"):
        m._latest_rounds(str(tmp_path))
