"""Sitemap protocol parsing: urlset/sitemapindex kinds, namespace
tolerance, gzip sniffing, bad-entry accounting, corrupt-input nulls,
and the Spark entry kernel."""

from __future__ import annotations

import gzip

from bid_evaluation_ext.operators.sitemap import (
    parse_sitemap,
    sitemap_entries,
    write_sitemapindex,
    write_urlset,
)


def test_urlset_roundtrip_with_all_fields():
    urls = [
        {"loc": "http://a.example/1", "lastmod": "2026-01-02",
         "changefreq": "daily", "priority": 0.75},
        {"loc": "http://a.example/2"},
    ]
    got = parse_sitemap(write_urlset(urls))
    assert got["kind"] == "urlset" and got["n_bad"] == 0
    assert got["entries"][0] == {"loc": "http://a.example/1",
                                 "lastmod": "2026-01-02",
                                 "changefreq": "daily", "priority": 0.75}
    assert got["entries"][1]["priority"] is None


def test_sitemapindex_kind():
    got = parse_sitemap(write_sitemapindex(
        ["http://a.example/s1.xml", "http://a.example/s2.xml"]))
    assert got["kind"] == "sitemapindex"
    assert [e["loc"] for e in got["entries"]] == [
        "http://a.example/s1.xml", "http://a.example/s2.xml"]
    assert all(e["priority"] is None for e in got["entries"])


def test_gzip_sniffed_and_deterministic():
    urls = [{"loc": "http://a.example/z"}]
    gz = write_urlset(urls, compress=True)
    assert gz[:2] == b"\x1f\x8b"
    assert gz == write_urlset(urls, compress=True)
    assert parse_sitemap(gz) == parse_sitemap(write_urlset(urls))


def test_namespace_tolerance_and_foreign_children():
    raw = (b'<urlset xmlns:img="http://x/image">'
           b"<url><loc>http://a.example/p</loc>"
           b"<img:image><img:loc>http://a.example/i.png</img:loc>"
           b"</img:image></url>"
           b"<other>ignored</other></urlset>")
    got = parse_sitemap(raw)
    assert got["kind"] == "urlset"
    assert [e["loc"] for e in got["entries"]] == ["http://a.example/p"]


def test_bad_entries_counted_not_fatal():
    raw = (b"<urlset>"
           b"<url><loc>http://a.example/ok</loc></url>"
           b"<url><lastmod>2026-01-01</lastmod></url>"     # no loc
           b"<url><loc>  </loc></url>"                     # blank loc
           b"<url><loc>http://a.example/p2</loc>"
           b"<priority>high</priority></url>"              # bad priority
           b"</urlset>")
    got = parse_sitemap(raw)
    assert got["n_bad"] == 2
    assert [e["loc"] for e in got["entries"]] == [
        "http://a.example/ok", "http://a.example/p2"]
    assert got["entries"][1]["priority"] is None


def test_corrupt_inputs_yield_null_kind():
    for payload in (b"not xml <", b"<html><body/></html>",
                    b"\x1f\x8b\x08broken-gzip", b""):
        got = parse_sitemap(payload)
        assert got == {"kind": None, "entries": [], "n_bad": 0}


def test_sitemap_entries_kernel(spark):
    rows = [
        (1, write_urlset([{"loc": "http://a.example/1",
                           "priority": 0.5},
                          {"loc": "http://b.example/2"}])),
        (2, write_sitemapindex(["http://a.example/s.xml"],
                               compress=True)),
        (3, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "sitemap_id long, payload binary")
    got = {(r["sitemap_id"], r["kind"], r["loc"], r["priority"])
           for r in sitemap_entries(df).collect()}
    assert got == {
        (1, "urlset", "http://a.example/1", 0.5),
        (1, "urlset", "http://b.example/2", None),
        (2, "sitemapindex", "http://a.example/s.xml", None),
        (3, None, None, None),             # corrupt stays visible
    }


def test_writer_escapes_special_chars_roundtrip():
    from bid_evaluation_ext.operators.sitemap import (
        parse_sitemap, write_sitemapindex, write_urlset)
    urls = [{"loc": "https://e.com/s?a=1&b=<2>", "changefreq": "daily"},
            {"loc": 'https://e.com/"q"&x'}]
    parsed = parse_sitemap(write_urlset(urls))
    assert parsed["kind"] == "urlset" and parsed["n_bad"] == 0
    assert [e["loc"] for e in parsed["entries"]] == [u["loc"] for u in urls]
    idx = parse_sitemap(write_sitemapindex(["https://e.com/a&b.xml"]))
    assert idx["kind"] == "sitemapindex"
    assert idx["entries"][0]["loc"] == "https://e.com/a&b.xml"
