"""The comparison helpers catch a single corrupted expected row."""

from __future__ import annotations

import oracle
import pandas as pd
import pyarrow as pa


def test_diff_tables_bag_equality_and_corruption():
    con = oracle.connect()
    got = pa.table({"k": [1, 2, 2], "s": ["a", "b", "b"]})
    want = "SELECT * FROM (VALUES (2, 'b'), (1, 'a'), (2, 'b')) t(k, s)"
    assert oracle.diff_tables(con, got, want, "t") is None
    assert oracle.diff_tables(con, got, want, "t", corrupt=True) is not None
    fewer = "SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, s)"
    assert oracle.diff_tables(con, got, fewer, "t") is not None


def test_diff_frames_normalises_and_detects():
    got = pd.DataFrame({"lang": ["en", "de"], "doc_id": [5, 7]})
    want = pd.DataFrame({"doc_id": [7, 5], "lang": ["de", "en"]})
    assert oracle.diff_frames(got, want, "m") is None
    assert oracle.diff_frames(got, want, "m", corrupt=True) is not None
    as_float = want.astype({"doc_id": "float64"})
    assert "dtype-class" in oracle.diff_frames(got, as_float, "m")
