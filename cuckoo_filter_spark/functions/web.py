"""Web/URL column functions — JVM-side expressions only (whole-stage
codegen; no Python in the hot path).

The library's north-star workload is URL membership / dedup over
Common-Crawl-style pages, and crawl URLs arrive in trivially-different
spellings (case-folded hosts, default ports, shuffled query params,
fragments). ``canonical_url`` maps those spellings to one stable dedup
key so membership filters, ``content_hash`` dedup and incremental-crawl
anti joins all agree on what "the same page" means. Same pattern as
functions/text.py: pure ``pyspark.sql.functions`` compositions the
optimizer can push around.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def canonical_url(url) -> Column:
    """RFC-3986-lite URL canonicalization, entirely JVM-side.

    Rules (the common crawl-frontier normalizations):

    * scheme and host lowercased (case-insensitive per RFC 3986 §3.1/§3.2.2)
    * userinfo dropped, default ports stripped (http:80, https:443);
      non-default ports kept
    * empty path → ``/``  (path case is preserved — it is significant)
    * query parameters sorted bytewise (order-insensitive dedup key);
      an empty query string is dropped
    * fragment dropped (never sent to the server)

    Not handled (documented, rare in crawl data): percent-encoding
    normalization and IPv6 bracket literals. Malformed URLs (no
    ``scheme://``) pass through unchanged rather than turning into
    nulls, so a dirty crawl column never silently loses rows.
    """
    u = _col(url)
    scheme = F.try_parse_url(u, F.lit("PROTOCOL"))
    host = F.try_parse_url(u, F.lit("HOST"))  # userinfo + port already stripped
    auth = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)  # '' when absent
    keep_port = (
        (port != "")
        & ~((F.lower(scheme) == "http") & (port == "80"))
        & ~((F.lower(scheme) == "https") & (port == "443"))
    )
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.try_parse_url(u, F.lit("QUERY"))
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    canon = F.concat(
        F.lower(scheme),
        F.lit("://"),
        F.lower(host),
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query.isNotNull() & (query != ""),
               F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )
    # scheme-less / unparseable input: identity, not null
    return F.when(scheme.isNotNull() & host.isNotNull(), canon).otherwise(u)


def host_of(url) -> Column:
    """Lowercased registrable host of a URL (null when unparseable) —
    the partition/skew key for per-host crawl budgeting."""
    return F.lower(F.try_parse_url(_col(url), F.lit("HOST")))
