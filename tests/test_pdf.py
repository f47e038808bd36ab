"""PDF text extraction: escape round-trips, multi-page assembly, the
/Length-over-EOL-stripping contract (compressed data legally ends in
newline bytes), unsupported-filter skipping, kernel + null paths."""

import re
import zlib

import pytest

from bid_evaluation_ext.operators.pdf import (
    encode_pdf,
    extract_pdf_text,
    extract_pdf_text_features,
)


def test_roundtrip_pages_lines_escapes():
    pages = ["hello world\nsecond line",
             "page two with (parens) and back\\slash",
             "tabs\tand\x08ctrl survive as written"]
    n_pages, n_streams, text = extract_pdf_text(encode_pdf(pages))
    assert (n_pages, n_streams) == (3, 3)
    assert text == "\n\n".join(pages)


def test_length_beats_eol_stripping():
    """~1% of Flate streams end in 0x0A/0x0D; the extractor must slice
    by /Length, never strip. Find a text whose compressed stream ends
    in a newline byte and demand an exact roundtrip."""
    for i in range(500):
        page = f"probe {i} " + "x" * (i % 37)
        raw = zlib.compress(
            b"BT (" + page.encode() + b") Tj ET")
        if raw[-1:] in (b"\n", b"\r"):
            _, n_streams, text = extract_pdf_text(encode_pdf([page]))
            assert n_streams == 1 and text == page
            break
    else:  # pragma: no cover
        pytest.skip("no newline-terminated stream found (unexpected)")


def test_octal_and_tj_arrays_and_unsupported_filters():
    # hand-built minimal PDF: one plain stream with TJ array + octal
    content = b"BT [(ab) (cd)] TJ T* (\\101\\102) Tj ET"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n2 0 obj\n"
           + b"<< /Length %d >>\nstream\n" % len(content)
           + content + b"\nendstream\nendobj\n%%EOF")
    n_pages, n_streams, text = extract_pdf_text(pdf)
    assert n_pages == 1 and n_streams == 1
    assert text == "abcd\nAB"  # octal \101\102 = AB, T* = newline
    # unsupported filter → stream skipped, not garbled
    pdf2 = pdf.replace(b"<< /Length %d >>" % len(content),
                       b"<< /Length %d /Filter /LZWDecode >>"
                       % len(content))
    assert extract_pdf_text(pdf2)[1:] == (0, "")
    with pytest.raises(ValueError):
        extract_pdf_text(b"not a pdf")


def test_kernel_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, bytearray(encode_pdf(["alpha", "beta"]))),
         (2, bytearray(b"junk bytes"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           extract_pdf_text_features(df).collect()}
    assert got[1]["n_pages"] == 2 and got[1]["text"] == "alpha\n\nbeta"
    assert got[1]["n_chars"] == len("alpha\n\nbeta")
    assert got[2]["text"] is None
    with pytest.raises(Exception):
        extract_pdf_text_features(df, strict=True).collect()
