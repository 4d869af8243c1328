"""The driver registry's rotation file: a missing file keeps the
registry order, an unreadable one fails loudly."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E  # noqa: E402

QS = {"a": 1, "b": 2, "c": 3}


def test_rotate_orders_by_file(monkeypatch, tmp_path):
    p = tmp_path / "rotation_order.json"
    p.write_text(json.dumps({"order": ["c", "x", "a"]}))
    monkeypatch.setattr(E, "ROTATION_ORDER_PATH", str(p))
    assert list(E._rotate(QS)) == ["c", "a", "b"]


def test_rotate_missing_file_keeps_order(monkeypatch, tmp_path):
    monkeypatch.setattr(E, "ROTATION_ORDER_PATH", str(tmp_path / "absent.json"))
    assert list(E._rotate(QS)) == ["a", "b", "c"]


def test_rotate_corrupt_file_raises(monkeypatch, tmp_path):
    p = tmp_path / "rotation_order.json"
    monkeypatch.setattr(E, "ROTATION_ORDER_PATH", str(p))
    for text, err in (
        ('{"order": ["a", "b"', json.JSONDecodeError),  # truncated
        ('{"ord": []}', KeyError),  # no "order" key
    ):
        p.write_text(text)
        with pytest.raises(err):
            E._rotate(QS)
