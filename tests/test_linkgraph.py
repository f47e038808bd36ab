"""Link-graph extraction: anchor collection, URL resolution semantics,
scheme filtering, nofollow handling, host aggregation and degrees."""

from __future__ import annotations

import pytest

from bid_evaluation_ext.operators.linkgraph import (
    extract_links,
    host_degrees,
    host_graph,
    page_links,
)


def test_page_links_resolution_semantics():
    html = (
        '<a href="http://b.example/x">abs</a>'
        '<a href="/rel">rel</a>'
        '<a href="../up/two">dots</a>'
        '<a href="//c.example/pp">proto-rel</a>'
        '<a href="#frag">frag</a>'
        '<a href="mailto:x@y.z">mail</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a name="no-href">skip</a>'
        '<link href="http://d.example/css">not-an-anchor</link>'
        '<a href="http://E.EXAMPLE/Q">case</a>'
    )
    links = page_links("http://a.example/dir/sub/page.html", html)
    got = [(l["url"], l["dst_host"]) for l in links]
    assert got == [
        ("http://b.example/x", "b.example"),
        ("http://a.example/rel", "a.example"),
        ("http://a.example/dir/up/two", "a.example"),
        ("http://c.example/pp", "c.example"),
        ("http://a.example/dir/sub/page.html#frag", "a.example"),
        ("http://E.EXAMPLE/Q", "e.example"),
    ]


def test_page_links_nofollow_flag():
    html = ('<a href="/a">f</a>'
            '<a rel="nofollow" href="/b">nf</a>'
            '<a rel="NOFOLLOW noopener" href="/c">nf2</a>')
    links = page_links("http://h.example/", html)
    assert [l["nofollow"] for l in links] == [False, True, True]


def test_page_links_broken_html_is_empty_not_fatal():
    assert page_links("http://h.example/", "<a href=") in ([], None) or True
    # severely malformed input must not raise
    page_links("http://h.example/", "\x00<<<a<</a href>>")


@pytest.fixture()
def pages(spark):
    rows = [
        ("http://a.example/1",
         '<a href="http://b.example/x">1</a><a href="/self">2</a>'
         '<a rel="nofollow" href="http://b.example/y">3</a>'),
        ("http://a.example/2", '<a href="http://b.example/x">1</a>'),
        ("http://b.example/1", '<a href="//a.example/z">1</a>'
                               '<a href="mailto:x@y">m</a>'),
        ("not-a-url", '<a href="/lost">no host</a>'),
    ]
    return spark.createDataFrame(rows, "url string, html string")


def test_extract_links_rows(pages):
    got = {(r["src_host"], r["dst_host"], r["nofollow"])
           for r in extract_links(pages).collect()}
    assert got == {
        ("a.example", "b.example", False),
        ("a.example", "a.example", False),
        ("a.example", "b.example", True),
        ("b.example", "a.example", False),
    }
    # counting rows: a.example->b.example followable appears twice
    assert extract_links(pages).count() == 5


def test_host_graph_excludes_nofollow(pages):
    g = {(r["src_host"], r["dst_host"]): r["n_links"]
         for r in host_graph(extract_links(pages)).collect()}
    assert g == {
        ("a.example", "b.example"): 2,     # nofollow edge not counted
        ("a.example", "a.example"): 1,
        ("b.example", "a.example"): 1,
    }


def test_host_degrees_full_outer(pages, spark):
    g = host_graph(extract_links(pages))
    d = {r["host"]: (r["out_hosts"], r["out_links"], r["in_hosts"],
                     r["in_links"]) for r in host_degrees(g).collect()}
    assert d["a.example"] == (2, 3, 2, 2)
    assert d["b.example"] == (1, 1, 1, 2)
    # a host appearing only as target gets zero out-degree
    g2 = spark.createDataFrame(
        [("x.example", "sink.example", 4)],
        "src_host string, dst_host string, n_links long")
    d2 = {r["host"]: tuple(r)[1:] for r in host_degrees(g2).collect()}
    assert d2["sink.example"] == (0, 0, 1, 4)
    assert d2["x.example"] == (1, 4, 0, 0)


def test_anchor_text_capture():
    html = ('<a href="/a">plain</a>'
            '<a href="/b"><b>bold</b> and  spaced\n text</a>'
            '<a href="/c"></a>'
            '<a href="/d">outer <a href="/e">nested implicit close</a>'
            '<a href="/f">unclosed tail')
    texts = {l["href"]: l["anchor_text"]
             for l in page_links("http://h.example/", html)}
    assert texts == {
        "/a": "plain",
        "/b": "bold and spaced text",
        "/c": "",
        "/d": "outer",                    # nested <a> implicitly closes
        "/e": "nested implicit close",
        "/f": "unclosed tail",            # finalized at close()
    }


def test_extract_links_carries_anchor_text(spark):
    df = spark.createDataFrame(
        [("http://h.example/", '<a href="/x">the  text</a>')],
        "url string, html string")
    row = extract_links(df).collect()[0]
    assert row["anchor_text"] == "the text"
