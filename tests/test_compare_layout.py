"""Cross-engine compare operators + layout kernels."""

from __future__ import annotations

import numpy as np
import pandas as pd

from barks_ocr_spark.kernels import layout
from barks_ocr_spark.operators import compare


def _groups(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "panel_num", "pos", "text"])
    )


def test_positional_compare(spark):
    a = _groups(spark, [("d1", 1, 0, "HELLO THERE"), ("d1", 1, 1, "GONE"), ("d1", 2, 0, "ONLY A")])
    b = _groups(spark, [("d1", 1, 0, "HELLO THERE"), ("d1", 1, 1, "GONE?"), ("d1", 3, 0, "ONLY B")])
    out = {(r["doc_id"], r["panel_num"], r["pos"]): r for r in compare.positional_compare(a, b).collect()}
    assert out[("d1", 1, 0)]["status"] == "match"
    assert out[("d1", 1, 1)]["status"] == "mismatch"
    assert 0.8 < out[("d1", 1, 1)]["ratio"] < 1.0
    assert out[("d1", 2, 0)]["status"] == "a_only"
    assert out[("d1", 3, 0)]["status"] == "b_only"


def test_compare_counters_and_queue(spark):
    a = _groups(spark, [("d1", 1, 0, "X"), ("d1", 1, 1, "Y"), ("d2", 1, 0, "Z")])
    b = _groups(spark, [("d1", 1, 0, "X"), ("d1", 1, 1, "W"), ("d2", 2, 0, "Z")])
    cmp_df = compare.positional_compare(a, b)
    counters = {r["doc_id"]: r for r in compare.compare_counters(cmp_df).collect()}
    assert counters["d1"]["perfect_matches"] == 1
    assert counters["d1"]["mismatches"] == 1
    assert counters["d2"]["engine_only"] == 2
    q = compare.mismatch_queue(cmp_df).collect()
    assert [(r["doc_id"], r["panel_num"], r["pos"]) for r in q] == sorted(
        [("d1", 1, 1), ("d2", 1, 0), ("d2", 2, 0)]
    )


def test_best_fuzzy_match(spark):
    a = _groups(spark, [("d1", 1, 0, "THE QUICK BROWN FOX")])
    b = _groups(
        spark,
        [("d1", 1, 0, "totally unrelated words"), ("d1", 1, 1, "THE QUICK BROWN FOX!")],
    )
    out = compare.best_fuzzy_match(a, b).collect()
    assert len(out) == 1
    assert out[0]["pos_b"] == 1
    assert out[0]["ratio"] >= 0.9


def test_similarity_ratio_matches_difflib(spark):
    from difflib import SequenceMatcher

    from pyspark.sql import functions as F

    pairs = [
        (None, "ABC"),
        ("ABC", None),
        ("", ""),
        ("", "ABC"),
        ("HELLO THERE", "HELLO THERE"),
        ("HELLO THERE", "HELLO THERE!"),
        ("THE QUICK BROWN FOX", "totally unrelated words"),
    ]
    df = spark.createDataFrame(
        [(i, p, q) for i, (p, q) in enumerate(pairs)], "i int, a string, b string"
    )
    got = [
        r["r"]
        for r in df.select(
            "i", compare.similarity_ratio(F.col("a"), F.col("b")).alias("r")
        )
        .orderBy("i")
        .collect()
    ]
    # a missing side scores 0.0; everything else is difflib's own ratio
    want = [
        0.0 if p is None or q is None else SequenceMatcher(None, p, q).ratio()
        for p, q in pairs
    ]
    assert got == want


def test_rewrap_to_pattern():
    out = layout.rewrap_to_pattern("a b c d e f", "x x\nx x\nx x")
    assert out == "a b\nc d\ne f"
    # last line absorbs remainder
    out = layout.rewrap_to_pattern("a b c d e f g", "x x\nx")
    assert out == "a b\nc d e f g"
    assert layout.rewrap_to_pattern("words here", "") == "words here"


def test_text_fits_box():
    assert layout.text_fits_box("HI", 200, 48)
    assert not layout.text_fits_box("M" * 200, 100, 48)
    # loose tolerance rescues wide sound effects: 11 Ms at font 36 render
    # 396px — over the strict 150px budget, inside the loose 400px one
    assert not layout.text_fits_box("M" * 11, 100, 48)
    assert layout.text_fits_box("M" * 11, 100, 48, loose=True)


def test_split_columns_and_blockquotes():
    xs = np.array([50, 52, 51, 300, 302, 301], dtype=float)
    cols = layout.split_columns(xs, page_width=600)
    assert cols.tolist() == [0, 0, 0, 1, 1, 1]
    # 0.30*200=60 < 100 → threshold 60, jump of 250 still splits
    cols2 = layout.split_columns(xs, page_width=200)
    assert cols2.tolist() == [0, 0, 0, 1, 1, 1]
    xs_bq = np.array([50, 50, 70, 50, 300, 300, 330], dtype=float)
    cols_bq = np.array([0, 0, 0, 0, 1, 1, 1])
    flags = layout.blockquote_flags(xs_bq, cols_bq)
    assert flags.tolist() == [False, False, True, False, False, False, True]


def _items(rows):
    return pd.DataFrame(rows, columns=["doc_id", "pos", "text", "is_footnote"])


def test_fold_footnotes_kernel():
    # Reference behavior (_group_footnote_items/_merge_footnote_continuations):
    # marker starts a group; marker-less footnotes continue the current one;
    # the doc's first footnote starts a group even without a marker.
    items = _items([
        ("d1", 0, "body text", False),
        ("d1", 1, "\\* first note ", True),
        ("d1", 2, "  continues here", True),
        ("d1", 3, "* second note", True),
        ("d1", 4, "more body", False),
        ("d2", 0, "no marker yet still head", True),
        ("d2", 1, "tail", True),
    ])
    out = layout.fold_footnotes(items)
    d1 = out[out.doc_id == "d1"]["text"].tolist()
    assert d1 == ["body text", "\\* first note continues here", "* second note", "more body"]
    # rstrip(head)+' '+lstrip(tail) exactly — interior spacing collapsed once
    d2 = out[out.doc_id == "d2"]["text"].tolist()
    assert d2 == ["no marker yet still head tail"]
    # continuation never leaks across documents
    assert len(out) == 5


def test_fold_footnotes_passthrough_and_empty():
    items = _items([("d1", 0, "a", False), ("d1", 1, "b", False)])
    pd.testing.assert_frame_equal(layout.fold_footnotes(items), items)
    empty = _items([])
    assert len(layout.fold_footnotes(empty)) == 0


def test_fold_footnote_items_spark(spark):
    from barks_ocr_spark.operators import extraction

    items = _items([
        ("d1", 0, "\\* note", True),
        ("d1", 1, "cont a", True),
        ("d1", 2, "body", False),
        ("d2", 0, "* other", True),
        ("d2", 1, "cont b", True),
    ])
    df = spark.createDataFrame(items)
    out = extraction.fold_footnote_items(df).orderBy("doc_id", "pos").collect()
    got = [(r.doc_id, r.pos, r.text) for r in out]
    assert got == [
        ("d1", 0, "\\* note cont a"),
        ("d1", 2, "body"),
        ("d2", 0, "* other cont b"),
    ]
