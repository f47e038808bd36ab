"""Web-crawl curation features (operators/web.py).

Beyond-reference: URL-structure features for crawl stratification. The
reference has no web module; this extends the documents-pipeline suite
(SURVEY.md extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bid_evaluation_ext.operators.web import domain_counts, with_url_features


def _urls(spark):
    return spark.createDataFrame(
        [
            (1, "https://WWW.Example.COM/a/b/c?x=1&y=2"),
            (2, "http://cdn.example.com/"),
            (3, "https://example.org/page?q="),
            (4, "http://sub.deep.host.co.uk/one/two/three/four"),
            (5, "not a url at all"),
            (6, None),
            (7, "https://example.org"),
        ],
        "doc_id long, url string",
    )


def test_url_features_values(spark):
    rows = {r["doc_id"]: r for r in with_url_features(_urls(spark)).collect()}

    r1 = rows[1]
    assert r1["url_host"] == "www.example.com"
    assert r1["url_domain"] == "example.com"
    assert r1["url_path_depth"] == 3
    assert r1["url_n_params"] == 2
    assert r1["url_is_https"] is True

    r2 = rows[2]
    assert r2["url_host"] == "cdn.example.com"
    assert r2["url_domain"] == "example.com"
    assert r2["url_path_depth"] == 0
    assert r2["url_n_params"] == 0
    assert r2["url_is_https"] is False

    # single query param with empty value still counts as one param
    assert rows[3]["url_n_params"] == 1
    assert rows[3]["url_domain"] == "example.org"

    # multi-label public suffix: documented last-two-labels approximation
    assert rows[4]["url_domain"] == "co.uk"
    assert rows[4]["url_path_depth"] == 4

    # no path at all → depth 0, not null
    assert rows[7]["url_path_depth"] == 0


def test_url_features_null_safe(spark):
    """Corrupt/null URLs yield null host and zero depth/params — no raise."""
    rows = {r["doc_id"]: r for r in with_url_features(_urls(spark)).collect()}
    for bad in (5, 6):
        assert rows[bad]["url_host"] is None
        assert rows[bad]["url_domain"] is None
        assert rows[bad]["url_path_depth"] == 0
        assert rows[bad]["url_n_params"] == 0
        assert rows[bad]["url_is_https"] is None


def test_domain_counts_shares(spark):
    out = domain_counts(_urls(spark)).collect()
    by_dom = {r["url_domain"]: r for r in out}
    assert by_dom["example.com"]["n_pages"] == 2
    assert by_dom["example.org"]["n_pages"] == 2
    # null-domain bucket keeps the corruption rate visible
    assert None in by_dom and by_dom[None]["n_pages"] == 2
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-12
    # ordering: count desc, then domain asc (nulls sort per Spark asc rules)
    counts = [r["n_pages"] for r in out]
    assert counts == sorted(counts, reverse=True)


def test_domain_counts_top_k(spark):
    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("http://host"), (F.col("id") % 7).cast("string"),
                 F.lit(".com/")).alias("url"))
    out = domain_counts(df, top_k=3).collect()
    assert len(out) == 3
    assert out[0]["n_pages"] >= out[-1]["n_pages"]


def test_canonical_url_normalizations(spark):
    from bid_evaluation_ext.operators.web import canonical_url

    df = spark.createDataFrame(
        [
            (1, "HTTPS://Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag"),
            (2, "http://example.com:80/"),
            (3, "http://example.com:8080/x"),
            (4, "https://example.com/a//"),
            (5, "https://example.com/?utm_campaign=y&gclid=z"),
            (6, "not a url"),
            (7, None),
            (8, "https://example.com/p?a=1&b=2"),
            (9, "https://example.com/p?b=2&a=1"),
        ],
        "doc_id long, url string")
    out = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", canonical_url(F.col("url")).alias("c"))
           .collect()}
    assert out[1] == "https://example.com/a/b?a=1&b=2"
    assert out[2] == "http://example.com"        # default port + root path
    assert out[3] == "http://example.com:8080/x"  # non-default port kept
    assert out[4] == "https://example.com/a"
    assert out[5] == "https://example.com"        # all params tracking
    assert out[6] is None and out[7] is None
    # argument order never splits identity
    assert out[8] == out[9] == "https://example.com/p?a=1&b=2"


def test_url_dedup_keep_min(spark):
    from bid_evaluation_ext.operators.web import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://example.com/p?a=1&b=2"),
            (2, "https://EXAMPLE.com/p/?b=2&a=1&utm_source=x"),
            (3, "https://example.com/q"),
            (4, "garbage"),
            (5, "also garbage"),
        ],
        "doc_id long, url string")
    kept = url_dedup(df).collect()
    ids = sorted(r["doc_id"] for r in kept)
    # 2 collapses into 1; unparseable rows all survive
    assert ids == [1, 3, 4, 5]
    canon = {r["doc_id"]: r["canonical_url"] for r in kept}
    assert canon[1] == "https://example.com/p?a=1&b=2"
    assert canon[4] is None
