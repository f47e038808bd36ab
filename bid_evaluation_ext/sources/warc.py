"""WARC source: the Common Crawl / ISO 28500 web-archive format.

The public crawl corpora every web-scale text pipeline starts from
(Common Crawl foremost) ship as WARC shards; with this reader the
repo's web legs compose into the complete ingest chain: WARC records →
charset ladder (:mod:`..operators.encoding`) → HTML→text
(:mod:`..operators.html`) → robots compliance
(:mod:`..operators.robots`) → dedup / quality.

Pure stdlib, same shard-per-task model as :mod:`.webdataset`:
``binaryFile`` scan (one row per ``.warc``/``.warc.gz`` shard) → Arrow
parse kernel. Format per ISO 28500: records of ``WARC/1.x`` version
line + CRLF headers + blank line + exactly ``Content-Length`` body
bytes + CRLF CRLF; ``response`` records carry an HTTP message whose
status line/headers are split from the payload here. Gzipped WARCs are
member-per-record by convention — stdlib ``gzip`` decodes concatenated
members transparently, so one pass handles both layouts. A truncated
or corrupt tail yields the records parsed so far (crawl archives are
routinely truncated; salvage beats failure), with the parse anomaly
counted in ``n_bad`` on the shard's rows.
"""

from __future__ import annotations

import gzip
import io
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "shard string, record_type string, url string, warc_date string, "
    "http_status int, content_type string, n_bytes long, payload binary"
)


def encode_warc(records: list[dict], *, compress: bool = False) -> bytes:
    """``[{"type", "url", "date", "payload", "status", "mime"}]`` →
    WARC bytes (test/fixture aid; response records get a minimal HTTP
    message). ``compress=True`` writes one gzip member per record, the
    Common Crawl layout."""
    out = []
    for r in records:
        rtype = r.get("type", "response")
        payload = bytes(r.get("payload", b""))
        if rtype == "response":
            status = int(r.get("status", 200))
            mime = r.get("mime", "text/html")
            http = (f"HTTP/1.1 {status} OK\r\n"
                    f"Content-Type: {mime}\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n"
                    ).encode("ascii") + payload
        else:
            http = payload
        headers = [b"WARC/1.0",
                   b"WARC-Type: " + rtype.encode("ascii"),
                   b"WARC-Date: " + r.get(
                       "date", "2024-01-01T00:00:00Z").encode("ascii"),
                   b"Content-Length: " + str(len(http)).encode("ascii")]
        if "url" in r:
            headers.append(b"WARC-Target-URI: "
                           + r["url"].encode("ascii"))
        if rtype == "response":
            headers.append(
                b"Content-Type: application/http; msgtype=response")
        rec = b"\r\n".join(headers) + b"\r\n\r\n" + http + b"\r\n\r\n"
        out.append(gzip.compress(rec) if compress else rec)
    return b"".join(out)


def _gunzip_all(p: bytes) -> bytes:
    """Decode ALL concatenated gzip members (stdlib GzipFile does this
    transparently); salvage whatever decodes before a corrupt tail."""
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(p)) as gf:
            return gf.read()
    except (OSError, EOFError):
        # member-by-member salvage
        out, pos = bytearray(), 0
        while pos < len(p):
            try:
                d = zlib_member(p[pos:])
            except Exception:
                break
            data, used = d
            out += data
            pos += used
        return bytes(out)


def zlib_member(p: bytes):
    """Decode one gzip member → ``(data, bytes_consumed)``."""
    import zlib
    d = zlib.decompressobj(wbits=31)
    data = d.decompress(p)
    return data, len(p) - len(d.unused_data)


def decode_warc(payload: bytes) -> tuple[list[dict], int]:
    """WARC(.gz) bytes → ``(records, n_bad)``.

    Each record dict: ``type, url, date, http_status, content_type,
    payload`` (HTTP headers stripped for response records). ``n_bad``
    counts truncated/corrupt records skipped at the tail."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_all(payload)
    if not payload.startswith(b"WARC/"):
        raise ValueError("not a WARC payload")
    records, n_bad = [], 0
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos:pos + 5] != b"WARC/":
            n_bad += 1
            break
        hdr_end = payload.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            n_bad += 1
            break
        headers = {}
        for line in payload[pos:hdr_end].split(b"\r\n")[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get(b"content-length", b""))
        except ValueError:
            n_bad += 1
            break
        body = payload[hdr_end + 4:hdr_end + 4 + clen]
        if len(body) < clen:
            n_bad += 1
            break
        rec = {
            "type": headers.get(b"warc-type", b"").decode("ascii",
                                                          "replace"),
            "url": headers.get(b"warc-target-uri", b"").decode(
                "ascii", "replace") or None,
            "date": headers.get(b"warc-date", b"").decode(
                "ascii", "replace") or None,
            "http_status": None,
            "content_type": None,
            "payload": body,
        }
        if rec["type"] == "response" and body[:5] == b"HTTP/":
            he = body.find(b"\r\n\r\n")
            if he >= 0:
                status_line, *hlines = body[:he].split(b"\r\n")
                parts = status_line.split()
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                for line in hlines:
                    if line.lower().startswith(b"content-type:"):
                        rec["content_type"] = line.split(b":", 1)[1] \
                            .strip().decode("ascii", "replace")
                rec["payload"] = body[he + 4:]
        records.append(rec)
        pos = hdr_end + 4 + clen
        # records are terminated by CRLF CRLF; tolerate its absence at EOF
        if payload[pos:pos + 4] == b"\r\n\r\n":
            pos += 4
    return records, n_bad


def read_warc(spark: SparkSession, path_glob: str, *,
              strict: bool = False) -> DataFrame:
    """``binaryFile`` scan over WARC shards → one row per record
    (``WARC_SCHEMA``). Corrupt shards yield zero rows unless
    ``strict``; per-record salvage happens inside :func:`decode_warc`."""
    files = spark.read.format("binaryFile").load(path_glob) \
        .select("path", "content")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    records, _ = decode_warc(bytes(content))
                except ValueError:
                    if strict:
                        raise
                    continue
                for r in records:
                    rows.append({
                        "shard": os.path.basename(path),
                        "record_type": r["type"], "url": r["url"],
                        "warc_date": r["date"],
                        "http_status": r["http_status"],
                        "content_type": r["content_type"],
                        "n_bytes": len(r["payload"]),
                        "payload": r["payload"],
                    })
            yield pd.DataFrame(rows, columns=[
                "shard", "record_type", "url", "warc_date",
                "http_status", "content_type", "n_bytes", "payload"])

    return files.mapInPandas(kernel, WARC_SCHEMA)
