"""Charset sniffing + decoding: crawl bytes → text, deterministically.

Stored crawl payloads are BYTES with unreliable (often absent or
wrong) charset headers; every text pipeline needs a deterministic
bytes→str stage before any tokenizer. This is the WHATWG-shaped
stdlib-only ladder the big public pipelines use in practice:

1. BOM sniff — UTF-8-sig / UTF-16 LE+BE / UTF-32 LE+BE (longest BOM
   first: UTF-32-LE's BOM starts with UTF-16-LE's);
2. strict UTF-8 attempt — labeled ``ascii`` when no high bytes
   survive, ``utf-8`` otherwise (valid UTF-8 is self-synchronizing,
   so a strict success is near-certain to be right);
3. ``cp1252`` fallback — the de-facto meaning of mislabeled
   ``latin-1`` on the web (WHATWG maps the label to windows-1252);
   the five code points cp1252 leaves undefined (0x81 8D 8F 90 9D)
   fall through to ``latin-1`` (C1 controls), labeled as such.

Never raises on content: every byte string decodes under some rung.
"""

from __future__ import annotations

import codecs
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

DECODE_SCHEMA = "doc_id long, encoding string, n_bytes long, text string"

_BOMS = (  # longest-prefix first
    (codecs.BOM_UTF32_LE, "utf-32-le"), (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"), (codecs.BOM_UTF16_BE, "utf-16-be"),
)


def sniff_decode(payload: bytes) -> tuple[str, str]:
    """Bytes → ``(encoding_label, text)`` under the module's ladder."""
    p = payload or b""
    for bom, enc in _BOMS:
        if p.startswith(bom):
            body = p if enc == "utf-8-sig" else p[len(bom):]
            try:
                return enc, body.decode(enc)
            except UnicodeDecodeError:
                break  # BOM-looking prefix on non-BOM data: fall through
    try:
        text = p.decode("utf-8")
        return ("ascii" if text.isascii() else "utf-8"), text
    except UnicodeDecodeError:
        pass
    try:
        return "cp1252", p.decode("cp1252")
    except UnicodeDecodeError:
        return "latin-1", p.decode("latin-1")


def detect_decode_text(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "doc_id") -> DataFrame:
    """Sniff + decode a binary column → ``(doc_id, encoding, n_bytes,
    text)``. Total: every payload decodes (null payload → empty
    ascii)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf[payload_col]):
                p = bytes(p or b"")
                enc, text = sniff_decode(p)
                rows.append({"doc_id": int(did), "encoding": enc,
                             "n_bytes": len(p), "text": text})
            yield pd.DataFrame(rows, columns=["doc_id", "encoding",
                                              "n_bytes", "text"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, DECODE_SCHEMA))
