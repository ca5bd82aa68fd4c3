"""URL canonicalization as pure column expressions.

Common-Crawl-style corpora dedup on the *canonical* URL: the same page is
crawled as ``https://Example.org/post/7/?utm_source=feed#top`` and
``https://example.org/post/7?utm_source=x``, and byte-level url equality
misses the duplicate. The canonical form here:

* fragment stripped;
* scheme and host lowercased (path/query case is preserved — it is
  significant on most servers);
* default ports dropped (``:80`` for http, ``:443`` for https);
* tracking query parameters removed (``utm_*``, ``fbclid``, ``gclid``,
  ``ref``), remaining parameters sorted for order independence;
* single trailing slash stripped from non-root paths.

Everything is built-in JVM expressions (whole-stage codegen, no UDF) and
deliberately avoids regex features that differ between engines: no
lookaround, no backreferences, no captures in replacements — so the DuckDB
oracles restate the identical logic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Query parameters that never identify content. Anchored match against the
#: "name=value" (or bare "name") token.
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$"

#: Host of an absolute URL: an optional ``userinfo@`` (up to the last ``@``
#: of the authority) is skipped, a bracketed IPv6 literal is kept whole,
#: and the port is dropped.
URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?(\[[^\]/?#]*\]|[^/:?#]*)"


def url_host(url: Column | str) -> Column:
    """Lowercased host of an absolute URL, ``""`` when there is none:
    ``https://u:p@Example.com:8080/x`` -> ``example.com``,
    ``http://[2001:db8::1]:8080/`` -> ``[2001:db8::1]``."""
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(u, URL_HOST_RE, 1))


def canonicalize_url(url: Column | str) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, "#.*", "")  # fragment

    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(2_000_000_000))
    prefix = F.lower(prefix)
    prefix = F.when(
        prefix.startswith("https://") & prefix.endswith(":443"),
        F.substring(prefix, 1, F.length(prefix) - 4),
    ).when(
        prefix.startswith("http://") & prefix.endswith(":80"),
        F.substring(prefix, 1, F.length(prefix) - 3),
    ).otherwise(prefix)

    qpos = F.instr(rest, "?")
    path = F.when(qpos > 0, F.substring(rest, 1, qpos - 1)).otherwise(rest)
    query = F.when(
        qpos > 0, F.substring(rest, qpos + 1, F.lit(2_000_000_000))
    ).otherwise(F.lit(""))

    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)

    params = F.array_sort(
        F.filter(
            F.split(query, "&", -1),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qcanon = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))
    ).otherwise(F.lit(""))
    return F.concat(prefix, path, qcanon)
