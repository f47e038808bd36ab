"""Confusable skeleton: Python/Column twin parity, mapping coverage,
invisible stripping, group collapse and ordered dup marking."""

from __future__ import annotations

from pyspark.sql import functions as F

from bid_evaluation_ext.operators.confusable import (
    CONFUSABLE_FROM,
    CONFUSABLE_TO,
    homoglyph_groups,
    mark_homoglyph_dups,
    skeleton_col,
    skeleton_py,
)

OBFUSCATED = "Frее Mоnеy​ Ｎｏｗ"          # Cyrillic е/о, ZWSP, fullwidth
PLAIN = "free money now"


def test_mapping_table_shape():
    assert len(CONFUSABLE_FROM) == len(CONFUSABLE_TO)
    assert len(set(CONFUSABLE_FROM)) == len(CONFUSABLE_FROM)
    # every source char is non-ASCII, every target is ASCII
    assert all(ord(c) > 127 for c in CONFUSABLE_FROM)
    assert all(ord(c) < 128 for c in CONFUSABLE_TO)


def test_skeleton_py():
    assert skeleton_py(OBFUSCATED) == PLAIN
    assert skeleton_py("ｃａｌｌ ０８００") == "call 0800"
    assert skeleton_py("soft­hyphen") == "softhyphen"
    assert skeleton_py(None) == ""
    assert skeleton_py("already plain") == "already plain"


def test_column_twin_matches_python(spark):
    rows = [(i, t) for i, t in enumerate(
        [OBFUSCATED, "ｃａｌｌ ０８００", "Ηеllо Wоrld", "plain text",
         "ΑΒΓ ον", "сРАсіВо", "mixed Ｅе⁠е"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select("text", skeleton_col(F.col("text")).alias("sk")) \
        .collect()
    for r in got:
        assert r["sk"] == skeleton_py(r["text"]), r["text"]


def test_homoglyph_groups_and_marking(spark):
    rows = [(0, PLAIN), (1, OBFUSCATED), (2, "Frее Mоnеy Ｎｏｗ"),
            (3, "unrelated text"), (4, "FREE MONEY NOW")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {r["skeleton"]: r for r in homoglyph_groups(df).collect()}
    g = groups[PLAIN]
    assert g["n_docs"] == 4 and g["canonical_id"] == 0
    # case-only row 4 is NOT obfuscated; Cyrillic/fullwidth rows are
    assert g["n_obfuscated"] == 2
    assert groups["unrelated text"]["n_docs"] == 1

    marks = {r["doc_id"]: (r["is_dup"], r["dup_of"])
             for r in mark_homoglyph_dups(df).collect()}
    assert marks[0] == (False, None)
    assert marks[1] == (True, 0) and marks[2] == (True, 0)
    assert marks[3] == (False, None)
    assert marks[4] == (True, 0)          # case variant is still a dup
