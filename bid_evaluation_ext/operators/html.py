"""HTML text extraction — the web-ingest leg of the document seams.

The single highest-volume transform in a web-scale text pipeline is
HTML → text (every crawl-derived corpus starts here). Pure stdlib
(``html.parser``, which also decodes character references): drop
``script``/``style``/``noscript``/``template`` subtrees, treat
block-level elements as line breaks, normalize whitespace runs inside
each block, and surface the ``<title>`` and link/image counts that the
quality and dedup stages key on. This is TAG-STRUCTURE extraction, not
boilerplate removal — readability-style main-content scoring layers on
top (the length/link-density signals here are its inputs).

Deterministic normalization contract (oracles depend on it): within a
block, all whitespace runs collapse to one space and edges are
stripped; blocks are joined by ``\\n``; empty blocks vanish; runs of
blank lines never occur. Kernel shape matches the other document ops:
Arrow-batched ``mapInPandas``, nulls for unparseable payloads unless
``strict`` (the stdlib parser is error-tolerant, so that is rare by
construction).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

HTML_TEXT_SCHEMA = (
    "doc_id long, title string, text string, n_chars long, "
    "n_links long, n_images long"
)

_SKIP = {"script", "style", "noscript", "template"}
_BLOCK = {"p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4",
          "h5", "h6", "tr", "table", "section", "article", "header",
          "footer", "blockquote", "pre", "hr", "form", "title", "body"}
_WS = re.compile(r"\s+")


class _TextExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[list[str]] = [[]]
        self.title_parts: list[str] = []
        self.n_links = 0
        self.n_images = 0
        self._skip_depth = 0
        self._in_title = False

    def _break(self):
        if self.blocks[-1]:
            self.blocks.append([])

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
            return
        if tag == "a" and any(k == "href" for k, _ in attrs):
            self.n_links += 1
        elif tag == "img":
            self.n_images += 1
        if tag == "title":
            self._in_title = True
        if tag in _BLOCK:
            self._break()

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "title":
            self._in_title = False
        if tag in _BLOCK:
            self._break()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if data:
            self.blocks[-1].append(data)

    def result(self) -> tuple[str, str]:
        lines = []
        for block in self.blocks:
            line = _WS.sub(" ", "".join(block)).strip()
            if line:
                lines.append(line)
        title = _WS.sub(" ", "".join(self.title_parts)).strip()
        return title, "\n".join(lines)


def extract_html_text(html: str) -> dict:
    """One document → ``{title, text, n_links, n_images}`` under the
    module's normalization contract."""
    p = _TextExtractor()
    p.feed(html or "")
    p.close()
    title, text = p.result()
    return {"title": title, "text": text, "n_links": p.n_links,
            "n_images": p.n_images}


def extract_html_features(df: DataFrame, html_col: str = "html",
                          id_col: str = "doc_id", *,
                          strict: bool = False) -> DataFrame:
    """Extract text/title/link counts from an HTML column →
    ``HTML_TEXT_SCHEMA`` rows."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, doc in zip(pdf[id_col], pdf[html_col]):
                base = {"doc_id": int(did)}
                try:
                    out = extract_html_text(doc)
                    rows.append({**base, "title": out["title"],
                                 "text": out["text"],
                                 "n_chars": len(out["text"]),
                                 "n_links": out["n_links"],
                                 "n_images": out["n_images"]})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "title": None, "text": None,
                                 "n_chars": None, "n_links": None,
                                 "n_images": None})
            yield pd.DataFrame(rows, columns=[
                "doc_id", "title", "text", "n_chars", "n_links",
                "n_images"])

    return (df.select(id_col, html_col)
            .mapInPandas(kernel, HTML_TEXT_SCHEMA))
