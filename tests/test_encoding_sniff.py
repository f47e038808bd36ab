"""Charset sniffing ladder: BOM precedence (UTF-32-LE's BOM contains
UTF-16-LE's), strict-UTF-8 gating, cp1252 vs latin-1 fallback,
totality, and the kernel path."""

import codecs

import pytest

from bid_evaluation_ext.operators.encoding import (
    detect_decode_text,
    sniff_decode,
)


def test_bom_precedence_and_labels():
    assert sniff_decode(codecs.BOM_UTF16_LE + "hé".encode("utf-16-le")) \
        == ("utf-16-le", "hé")
    assert sniff_decode(codecs.BOM_UTF16_BE + "hé".encode("utf-16-be")) \
        == ("utf-16-be", "hé")
    # UTF-32-LE BOM = FF FE 00 00 starts with the UTF-16-LE BOM — the
    # longer BOM must win
    assert sniff_decode(codecs.BOM_UTF32_LE + "x".encode("utf-32-le")) \
        == ("utf-32-le", "x")
    assert sniff_decode(codecs.BOM_UTF8 + "ok".encode()) \
        == ("utf-8-sig", "ok")
    # a BOM-looking prefix on garbage falls through the ladder
    enc, text = sniff_decode(codecs.BOM_UTF16_LE + b"\x00")
    assert enc in ("cp1252", "latin-1") and text


def test_utf8_gate_and_fallbacks():
    assert sniff_decode(b"plain ascii") == ("ascii", "plain ascii")
    assert sniff_decode("naïve".encode()) == ("utf-8", "naïve")
    # invalid UTF-8 with cp1252 smart quotes
    assert sniff_decode(b"he said \x93hi\x94") \
        == ("cp1252", "he said “hi”")
    # bytes cp1252 leaves undefined → latin-1 rung
    assert sniff_decode(b"ctrl \x81 byte")[0] == "latin-1"
    # totality: every byte string decodes
    for i in range(0, 256, 17):
        enc, text = sniff_decode(bytes([i, 255 - i, i]))
        assert isinstance(text, str)
    assert sniff_decode(b"") == ("ascii", "")


def test_kernel(spark):
    rows = [(1, bytearray(b"abc")), (2, bytearray("zoë".encode())),
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in detect_decode_text(df).collect()}
    assert got[1]["encoding"] == "ascii" and got[1]["n_bytes"] == 3
    assert got[2]["encoding"] == "utf-8" and got[2]["text"] == "zoë"
    assert got[3]["encoding"] == "ascii" and got[3]["text"] == ""
