"""robots.txt compliance filtering — crawl-governance for web corpora.

Responsible web-scale corpus construction filters by robots.txt both
at crawl time and RETROACTIVELY (re-filtering stored crawls when
policies change is standard practice in the public corpus literature,
e.g. the C4/CCNet pipelines' compliance passes). Pure stdlib:
``urllib.robotparser`` — the 1996 draft semantics CPython implements,
where within a matching User-agent group the FIRST rule whose path
prefix matches decides (order in the file matters; an ``Allow`` must
precede the broader ``Disallow`` to carve an exception — pinned by
tests), plus ``Crawl-delay`` extraction for politeness budgeting.

Input shape is the stored-crawl join: one row per (url, robots_txt)
pair — dedupe robots per host upstream and broadcast-join them back to
keep the text column narrow. The kernel memoizes parses per distinct
robots text within each Arrow batch (a host's robots repeats across
all its pages).
"""

from __future__ import annotations

import urllib.robotparser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ROBOTS_SCHEMA = "doc_id long, allowed boolean, crawl_delay double"


def robots_decision(robots_txt: str, url: str,
                    agent: str = "*") -> tuple[bool, float | None]:
    """One (robots.txt, url) pair → ``(allowed, crawl_delay)``."""
    p = urllib.robotparser.RobotFileParser()
    p.parse((robots_txt or "").splitlines())
    delay = p.crawl_delay(agent)
    return bool(p.can_fetch(agent, url or "")), \
        float(delay) if delay is not None else None


def robots_filter(df: DataFrame, url_col: str = "url",
                  robots_col: str = "robots_txt",
                  id_col: str = "doc_id", agent: str = "*", *,
                  strict: bool = False) -> DataFrame:
    """Decide every row's crawlability → ``(doc_id, allowed,
    crawl_delay)``. Unparseable inputs fail OPEN to ``allowed = null``
    (not silently crawlable, not silently dropped) unless ``strict``."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cache: dict[str, urllib.robotparser.RobotFileParser] = {}
            rows = []
            for did, url, txt in zip(pdf[id_col], pdf[url_col],
                                     pdf[robots_col]):
                base = {"doc_id": int(did)}
                try:
                    txt = txt or ""
                    p = cache.get(txt)
                    if p is None:
                        p = urllib.robotparser.RobotFileParser()
                        p.parse(txt.splitlines())
                        cache[txt] = p
                    delay = p.crawl_delay(agent)
                    rows.append({**base,
                                 "allowed": bool(p.can_fetch(agent,
                                                             url or "")),
                                 "crawl_delay": float(delay)
                                 if delay is not None else None})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "allowed": None,
                                 "crawl_delay": None})
            yield pd.DataFrame(rows, columns=["doc_id", "allowed",
                                              "crawl_delay"])

    return (df.select(id_col, url_col, robots_col)
            .mapInPandas(kernel, ROBOTS_SCHEMA))
