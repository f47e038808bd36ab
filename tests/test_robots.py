"""robots.txt filtering: first-matching-rule semantics (order matters),
agent groups, crawl-delay, fail-open-to-null, kernel path."""

import pytest

from bid_evaluation_ext.operators.robots import (
    robots_decision,
    robots_filter,
)

ROBOTS = """User-agent: trainbot
Allow: /data/public
Disallow: /data/
Crawl-delay: 2

User-agent: *
Disallow: /
"""


def test_first_matching_rule_and_agent_groups():
    ok, delay = robots_decision(ROBOTS, "https://x.com/data/public/a",
                                agent="trainbot")
    assert ok and delay == 2.0
    assert not robots_decision(ROBOTS, "https://x.com/data/other",
                               agent="trainbot")[0]
    assert robots_decision(ROBOTS, "https://x.com/else",
                           agent="trainbot")[0]
    # other agents hit the catch-all full disallow
    assert not robots_decision(ROBOTS, "https://x.com/else",
                               agent="otherbot")[0]
    # ORDER is the semantics: Allow after the broader Disallow is dead
    flipped = "User-agent: *\nDisallow: /data/\nAllow: /data/public\n"
    assert not robots_decision(flipped, "https://x.com/data/public/a")[0]
    # empty robots allows everything, no delay
    ok, delay = robots_decision("", "https://x.com/any")
    assert ok and delay is None


def test_kernel_cache_and_nulls(spark):
    rows = [(1, "https://x.com/data/public/a", ROBOTS),
            (2, "https://x.com/data/secret", ROBOTS),
            (3, "https://x.com/any", ""),
            (4, None, None)]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, robots_txt string")
    got = {r["doc_id"]: r for r in
           robots_filter(df, agent="trainbot").collect()}
    assert got[1]["allowed"] is True and got[1]["crawl_delay"] == 2.0
    assert got[2]["allowed"] is False
    assert got[3]["allowed"] is True and got[3]["crawl_delay"] is None
    assert got[4]["allowed"] is True  # empty url+robots → crawlable root
