"""HTML text extraction: normalization contract, skip subtrees,
entity decoding, nesting/malformed tolerance, kernel + null paths."""

import pytest

from bid_evaluation_ext.operators.html import (
    extract_html_features,
    extract_html_text,
)


def test_blocks_entities_and_skips():
    h = ("<html><head><title>My  Page</title><style>p{x}</style></head>"
         "<body><h1>Head line</h1>"
         "<p>first   para with <b>bold</b> and <a href='/x'>a link</a>.</p>"
         "<script>var x = '<p>not text</p>';</script>"
         "<p>second &amp; final &lt;para&gt;</p>"
         "<img src='i.png'><div></div></body></html>")
    out = extract_html_text(h)
    assert out["title"] == "My Page"
    assert out["text"] == ("Head line\nfirst para with bold and a link."
                           "\nsecond & final <para>")
    assert out["n_links"] == 1 and out["n_images"] == 1
    # anchor without href is not a link
    assert extract_html_text("<a name='x'>t</a>")["n_links"] == 0


def test_nested_skips_and_malformed():
    # nested script-in-noscript must stay skipped through BOTH closes
    h = "<noscript>a<script>b</script>c</noscript><p>keep</p>"
    assert extract_html_text(h)["text"] == "keep"
    # stdlib parser tolerates unclosed tags / bare text
    assert extract_html_text("<p>open<p>again")["text"] == "open\nagain"
    assert extract_html_text("just text, no tags")["text"] \
        == "just text, no tags"
    assert extract_html_text("")["text"] == ""
    assert extract_html_text(None)["text"] == ""
    # inline elements do NOT break blocks; <br> does
    assert extract_html_text("<p>a<span>b</span>c<br>d</p>")["text"] \
        == "abc\nd"


def test_kernel_and_nulls(spark):
    rows = [(1, "<title>t</title><p>alpha</p><p>beta</p>"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r for r in extract_html_features(df).collect()}
    assert got[1]["text"] == "alpha\nbeta" and got[1]["title"] == "t"
    assert got[1]["n_chars"] == len("alpha\nbeta")
    assert got[2]["text"] == ""  # None html → empty doc, not a failure
