"""Web link-graph extraction — the crawl-frontier / PageRank-input leg
of the web-ingest family (WARC → charset → robots → HTML-text → LINKS).

Reference parity note: the reference engine has no web path at all;
this belongs to the beyond-reference training-data mandate next to
:mod:`.html` / :mod:`.robots` / :mod:`.warc`.

Spark shape: anchor parsing + URL resolution are necessarily per-row
Python (stdlib ``html.parser`` + ``urllib.parse``) and run inside one
Arrow-batched ``mapInPandas`` kernel over (url, html) projections —
constant work per page, no shuffle. Everything after extraction is
plain DataFrame aggregation: the host-level edge list is one
``groupBy(src_host, dst_host)``, degrees one more groupBy — exactly
the shapes that scale by adding executors, and the edge list is
orders of magnitude smaller than the page corpus.

Link semantics (the part worth pinning, all tested):

- only ``<a href=...>`` anchors count (not ``<link>``/``<img>``);
- resolution against the PAGE URL via ``urllib.parse.urljoin`` —
  relative paths, ``..`` traversal, and protocol-relative ``//host``
  forms all resolve;
- non-HTTP(S) schemes (``mailto:``, ``javascript:``, ``data:``...)
  are dropped;
- fragment-only links (``#sec``) resolve to the page itself and are
  kept (they are real self-edges at host granularity — callers who
  don't want self-loops filter ``src_host != dst_host``);
- ``rel="nofollow"`` anchors are extracted with ``nofollow=true`` and
  EXCLUDED from :func:`host_graph` (the crawl-politeness default);
- hosts are lowercased; an empty resolved host (relative link on a
  page whose own URL has no host) drops the edge.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator, List, Optional, Tuple
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_SCHEMES = ("http", "https")


class _AnchorCollector(HTMLParser):
    """Collects ``(href, nofollow, anchor_text)`` triples. Anchor text —
    the data between ``<a href>`` and its ``</a>`` — is the classic
    weak-supervision signal of link corpora, so it rides along with the
    edge. Nested ``<a>`` is illegal HTML; browsers (and this collector)
    implicitly close the open anchor when a new one starts. Text inside
    nested non-anchor tags (``<a><b>bold</b></a>``) is kept; whitespace
    runs collapse to single spaces and ends are stripped."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.anchors: List[Tuple[str, bool, str]] = []
        self._open: Optional[Tuple[str, bool]] = None
        self._text: List[str] = []

    def _finish(self):
        if self._open is not None:
            href, nofollow = self._open
            text = " ".join("".join(self._text).split())
            self.anchors.append((href, nofollow, text))
        self._open, self._text = None, []

    def handle_starttag(self, tag, attrs):
        if tag != "a":
            return
        self._finish()                       # implicit close of nested <a>
        d = dict(attrs)
        href = d.get("href")
        if href is None:
            return
        rel = (d.get("rel") or "").lower().split()
        self._open = (href, "nofollow" in rel)

    def handle_endtag(self, tag):
        if tag == "a":
            self._finish()

    def handle_data(self, data):
        if self._open is not None:
            self._text.append(data)

    def close(self):
        super().close()
        self._finish()                       # unclosed trailing anchor


def page_links(page_url: str, html: str) -> List[dict]:
    """Resolved HTTP(S) links of one page: ``[{href, url, dst_host,
    nofollow, anchor_text}]`` per the module contract."""
    parser = _AnchorCollector()
    try:
        parser.feed(html or "")
        parser.close()
    except Exception:
        return []
    out = []
    for href, nofollow, text in parser.anchors:
        try:
            resolved = urljoin(page_url or "", href)
            parts = urlsplit(resolved)
        except ValueError:
            continue
        if parts.scheme.lower() not in _SCHEMES or not parts.hostname:
            continue
        out.append({"href": href, "url": resolved,
                    "dst_host": parts.hostname.lower(),
                    "nofollow": nofollow, "anchor_text": text})
    return out


def extract_links(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """One row per resolved anchor: ``(src_host, href, url, dst_host,
    nofollow, anchor_text)``. Pages that fail to parse contribute zero
    rows."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for page_url, html in zip(pdf[url_col], pdf[html_col]):
                try:
                    src_host: Optional[str] = \
                        (urlsplit(page_url or "").hostname or "").lower()
                except ValueError:
                    src_host = ""
                if not src_host:
                    continue
                for link in page_links(page_url, html):
                    rows.append({"src_host": src_host, **link})
            yield pd.DataFrame(
                rows, columns=["src_host", "href", "url", "dst_host",
                               "nofollow", "anchor_text"])

    return df.select(url_col, html_col).mapInPandas(
        kernel,
        "src_host string, href string, url string, dst_host string, "
        "nofollow boolean, anchor_text string")


def host_graph(links: DataFrame) -> DataFrame:
    """Host-level weighted edge list ``(src_host, dst_host, n_links)``
    over followable (non-nofollow) anchors."""
    return (links.filter(~F.col("nofollow"))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links")))


def host_degrees(graph: DataFrame) -> DataFrame:
    """Per-host degree summary from a :func:`host_graph` edge list:
    ``(host, out_hosts, out_links, in_hosts, in_links)`` — full outer
    union of the two directions (a host appearing only as a target has
    zero out-degree, and vice versa)."""
    out = (graph.groupBy(F.col("src_host").alias("host"))
           .agg(F.count(F.lit(1)).alias("out_hosts"),
                F.sum("n_links").alias("out_links")))
    inn = (graph.groupBy(F.col("dst_host").alias("host"))
           .agg(F.count(F.lit(1)).alias("in_hosts"),
                F.sum("n_links").alias("in_links")))
    return (out.join(inn, "host", "full")
            .select("host",
                    F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
                    F.coalesce("out_links", F.lit(0)).alias("out_links"),
                    F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
                    F.coalesce("in_links", F.lit(0)).alias("in_links")))
