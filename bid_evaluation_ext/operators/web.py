"""Web-crawl curation helpers: URL parsing features and per-domain rollups.

Beyond-reference operators for the crawl-ingest side of a training-data
pipeline: before any text-quality pass, crawl curation filters and
stratifies BY URL STRUCTURE — host/domain mixing, path-depth heuristics
(deep paths correlate with boilerplate/pagination), query-parameter counts
(session ids, trackers). Everything here is built on the JVM ``parse_url``
expression + string functions — map-only, codegen-friendly, no Python in
the path.

Scale shape: :func:`with_url_features` is a pure projection (zero
shuffles); :func:`domain_counts` adds one partially-aggregated ``groupBy``
on the (tiny) domain key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _feature_exprs(u: Column) -> dict:
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    path = F.parse_url(u, F.lit("PATH"))
    query = F.parse_url(u, F.lit("QUERY"))
    labels = F.split(host, r"\.")
    # registrable domain as the last two labels — the PSL-free
    # approximation (multi-label suffixes like co.uk need a suffix list)
    domain = F.when(F.size(labels) >= 2,
                    F.concat_ws(".", F.slice(labels, -2, 2))
                    ).otherwise(host)
    depth = F.size(F.filter(F.split(F.coalesce(path, F.lit("")), "/"),
                            lambda x: x != ""))
    n_params = F.when(query.isNull() | (query == ""), F.lit(0)).otherwise(
        F.size(F.split(query, "&")))
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    return {
        "url_host": host,
        "url_domain": domain,
        "url_path_depth": depth.cast("int"),
        "url_n_params": n_params.cast("int"),
        "url_is_https": (scheme == "https"),
    }


def with_url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append URL-structure feature columns: ``url_host`` (lowercased),
    ``url_domain`` (registrable domain, last-two-labels approximation),
    ``url_path_depth`` (non-empty path segments), ``url_n_params``
    (query parameters), ``url_is_https``. Unparseable URLs yield null
    host/domain/https and 0 depth/params (``parse_url`` is null-safe) —
    corrupt rows never kill the scan. Map-only projection; all
    expressions stay in whole-stage codegen.
    """
    exprs = _feature_exprs(F.col(url_col))
    return df.withColumns(exprs)


def domain_counts(df: DataFrame, url_col: str = "url",
                  top_k: int = 100) -> DataFrame:
    """Top domains by page count with their share of the corpus — the
    crawl-mix diagnostic that decides per-domain caps (one domain owning
    the corpus is the classic crawl failure). One partially-aggregated
    ``groupBy(domain)``; the share denominator comes from a second
    aggregate over the counts table (no corpus rescan). Null/unparseable
    domains count as a row (null domain) so the corruption rate is
    visible. TakeOrdered top-k, count-desc then domain-asc."""
    dom = _feature_exprs(F.col(url_col))["url_domain"]
    counts = df.select(dom.alias("url_domain")).groupBy("url_domain").agg(
        F.count(F.lit(1)).alias("n_pages"))
    total = counts.agg(F.sum("n_pages")).collect()[0][0] or 1
    return (counts
            .withColumn("share", F.col("n_pages") / F.lit(float(total)))
            .orderBy(F.desc("n_pages"), F.asc("url_domain"))
            .limit(top_k))


#: query parameters that never identify content (tracking/session noise)
TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid",
                   "ref_src", "igshid")


def canonical_url(u: Column, extra_tracking: tuple = ()) -> Column:
    """Canonical form of a URL for exact dedup — the crawl-frontier
    normalizer: lowercase scheme/host, default port stripped (``:80`` for
    http, ``:443`` for https; non-default ports kept), trailing path
    slashes stripped (root path → empty), fragment dropped, tracking
    query parameters removed (prefix match on :data:`TRACKING_PARAMS` +
    ``extra_tracking``), remaining parameters SORTED so argument order
    never splits a page into two identities. Null/unparseable URLs (no
    host) yield null. Pure codegen string/array expressions — map-only.
    """
    scheme = F.lower(F.parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    auth = F.parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")))
    path = F.regexp_replace(F.coalesce(F.parse_url(u, F.lit("PATH")),
                                       F.lit("")), r"/+$", "")
    query = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    prefixes = tuple(TRACKING_PARAMS) + tuple(extra_tracking)

    def _keep(p: Column) -> Column:
        bad = p == ""
        for t in prefixes:
            bad = bad | p.startswith(t)
        return ~bad

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    qs = F.concat_ws("&", params)
    out = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")))
    return F.when(host.isNull() | (host == ""), F.lit(None).cast("string")
                  ).otherwise(out)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id",
              extra_tracking: tuple = ()) -> DataFrame:
    """Exact dedup on the canonical URL: keeps the minimum-id row per
    canonical identity (rows with null canonical — unparseable URLs —
    are all kept; dropping them would silently delete the corrupt slice).
    ONE groupBy(canonical) min-agg + one equi-join back — the same
    keep-min shape as content-hash dedup, no window."""
    keyed = df.withColumn("_curl", canonical_url(F.col(url_col),
                                                 extra_tracking))
    firsts = (keyed.filter(F.col("_curl").isNotNull())
              .groupBy("_curl").agg(F.min(id_col).alias("_keep_id")))
    kept = (keyed.join(firsts, ["_curl"], "left")
            .filter(F.col("_curl").isNull()
                    | (F.col(id_col) == F.col("_keep_id")))
            .drop("_keep_id"))
    return kept.withColumnRenamed("_curl", "canonical_url")
