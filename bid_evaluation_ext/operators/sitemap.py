"""Sitemap parsing (sitemaps.org protocol) — the crawl-DISCOVERY leg of
the web-ingest family: robots.txt governs what MAY be fetched,
sitemaps declare what EXISTS (with freshness and priority hints), the
link graph is what pages actually reference.

Reference parity note: no web path exists in the reference engine; this
is beyond-reference mandate work next to :mod:`.robots` /
:mod:`.linkgraph`.

Protocol coverage (stdlib ``xml.etree`` + ``gzip``):

- ``<urlset>`` documents: one entry per ``<url>`` with ``loc`` /
  ``lastmod`` / ``changefreq`` / ``priority`` children;
- ``<sitemapindex>`` documents: one entry per child ``<sitemap>``
  (``loc`` / ``lastmod``) — the recursive fetch is the caller's loop,
  parsing never follows URLs;
- gzip payloads (``sitemap.xml.gz``) sniffed by magic;
- namespace-TOLERANT tag matching (localname comparison) — real-world
  sitemaps carry the standard namespace, mutants omit it or use image/
  video extensions; child elements in foreign namespaces are ignored;
- entries missing ``<loc>`` (or with a whitespace-only one) are counted
  in ``n_bad`` and skipped; ``priority`` that does not parse as a float
  becomes null rather than poisoning the entry;
- invalid XML / wrong root / undecodable bytes → ``kind=None`` with
  zero entries (corrupt discovery input must not kill a crawl batch).

Spark shape: parsing is per-row stdlib work inside one Arrow
``mapInPandas`` kernel; everything downstream (per-host URL counts,
freshness histograms) is plain DataFrame aggregation over the much
smaller entry table.
"""

from __future__ import annotations

import gzip
from typing import Iterator, List, Optional
from xml.etree import ElementTree
from xml.sax.saxutils import escape as _xml_escape

import pandas as pd
from pyspark.sql import DataFrame

_KINDS = {"urlset": "url", "sitemapindex": "sitemap"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_sitemap(payload: bytes) -> dict:
    """``{kind, entries, n_bad}`` for one sitemap payload.

    ``kind`` is ``"urlset"`` / ``"sitemapindex"`` / ``None``;
    ``entries`` is a list of ``{loc, lastmod, changefreq, priority}``
    (index entries carry ``changefreq=priority=None``); ``n_bad``
    counts child elements of the right tag that lacked a usable
    ``loc``."""
    if payload[:2] == b"\x1f\x8b":
        try:
            payload = gzip.decompress(payload)
        except (OSError, EOFError):       # truncated members raise EOFError
            return {"kind": None, "entries": [], "n_bad": 0}
    try:
        root = ElementTree.fromstring(payload)
    except ElementTree.ParseError:
        return {"kind": None, "entries": [], "n_bad": 0}
    kind = _local(root.tag)
    if kind not in _KINDS:
        return {"kind": None, "entries": [], "n_bad": 0}
    child_tag = _KINDS[kind]
    entries: List[dict] = []
    n_bad = 0
    for child in root:
        if _local(child.tag) != child_tag:
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None,
                  "priority": None}
        for el in child:
            name = _local(el.tag)
            if name in ("loc", "lastmod", "changefreq"):
                fields[name] = (el.text or "").strip() or None
            elif name == "priority":
                try:
                    fields["priority"] = float((el.text or "").strip())
                except ValueError:
                    fields["priority"] = None
        if not fields["loc"]:
            n_bad += 1
            continue
        entries.append(fields)
    return {"kind": kind, "entries": entries, "n_bad": n_bad}


def sitemap_entries(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "sitemap_id") -> DataFrame:
    """One row per sitemap ENTRY: ``(sitemap_id, kind, loc, lastmod,
    changefreq, priority)``. A corrupt/unrecognized payload still
    yields ONE row (null kind and fields) so discovery failures stay
    visible in the output rather than vanishing."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, payload in zip(pdf[id_col], pdf[payload_col]):
                parsed = parse_sitemap(payload or b"")
                if parsed["kind"] is None or not parsed["entries"]:
                    rows.append({"sitemap_id": int(sid),
                                 "kind": parsed["kind"], "loc": None,
                                 "lastmod": None, "changefreq": None,
                                 "priority": None})
                    continue
                for e in parsed["entries"]:
                    rows.append({"sitemap_id": int(sid),
                                 "kind": parsed["kind"], **e})
            yield pd.DataFrame(rows, columns=[
                "sitemap_id", "kind", "loc", "lastmod", "changefreq",
                "priority"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel,
        "sitemap_id long, kind string, loc string, lastmod string, "
        "changefreq string, priority double")


def write_urlset(urls: List[dict], *, compress: bool = False) -> bytes:
    """Serialize a urlset sitemap (the sink half, used by tests and
    fixtures; byte-deterministic). Each dict may carry ``loc`` plus
    optional ``lastmod``/``changefreq``/``priority``."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<urlset xmlns="http://www.sitemaps.org/schemas/'
             'sitemap/0.9">']
    for u in urls:
        parts.append("<url>")
        parts.append(f"<loc>{_xml_escape(str(u['loc']))}</loc>")
        for k in ("lastmod", "changefreq", "priority"):
            v = u.get(k)
            if v is not None:
                parts.append(f"<{k}>{_xml_escape(str(v))}</{k}>")
        parts.append("</url>")
    parts.append("</urlset>")
    raw = "".join(parts).encode()
    if compress:
        return gzip.compress(raw, mtime=0)
    return raw


def write_sitemapindex(locs: List[str], *,
                       compress: bool = False) -> bytes:
    """Serialize a sitemapindex document (byte-deterministic)."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
             'sitemap/0.9">']
    for loc in locs:
        parts.append(f"<sitemap><loc>{_xml_escape(str(loc))}</loc>"
                     "</sitemap>")
    parts.append("</sitemapindex>")
    raw = "".join(parts).encode()
    if compress:
        return gzip.compress(raw, mtime=0)
    return raw
