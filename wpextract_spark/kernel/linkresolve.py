"""Link-resolution key expansion (reference ``extractors/data/link_resolver.py``).

The Spark pipeline resolves each span by probing a broadcast
``url -> linkable`` dict with :func:`resolve_against_map`, inside one
Arrow-batched UDF per span column (``operators/resolve.py``). The probe
tries the candidate keys in order:

1. exact key: the href with a ``preview_id`` query stripped;
2. fallback key: the category-slug-removal heuristic —
   ``/{category}/{slug}/`` -> ``/{slug}/``, preserving a 2-char language
   prefix (``/fr/cat/slug/`` -> ``/fr/slug/``).

The fallback is only consulted when the exact key misses (priority order).
Deliberate non-features, pinned by the reference's skipped tests: relative
hrefs and trailing-slash normalization are NOT resolved.
"""

from __future__ import annotations

from typing import Any, Optional
from urllib.parse import urlparse, urlunparse

from wpextract_spark.functions.text import remove_ends


def preview_stripped_href(href: str) -> str:
    """Strip the whole query if it contains ``preview_id``."""
    try:
        parsed = urlparse(href)
    except ValueError:  # malformed bracket host etc. — nothing to strip
        return href
    if "preview_id" in parsed.query:
        return urlunparse(parsed._replace(query=""))
    return href


def category_heuristic_href(href: str) -> Optional[str]:
    """The category-slug-removal candidate, or None when not applicable.

    ``href`` must already be preview-stripped (the reference derives the
    heuristic from the stripped parse, ``link_resolver.py:26-57``).
    """
    try:
        parsed = urlparse(href)
    except ValueError:  # unparsable href has no derivable heuristic key
        return None
    path_parts = remove_ends(parsed.path, "/").split("/")
    lang = None
    # Case /fr/category/article/
    if len(path_parts) == 3 and len(path_parts[0]) == 2:
        lang = path_parts.pop(0)
    # Case /category/an-article-slug/
    if len(path_parts) == 2:
        path_parts.pop(0)
        if lang is not None:
            path_parts.insert(0, lang)
        whole_path = f"/{'/'.join(path_parts)}/"
        return urlunparse(parsed._replace(path=whole_path))
    return None


def candidate_hrefs(href: Optional[str]) -> list[str]:
    """Lookup keys for a link, in priority order."""
    if href is None:
        return []
    exact = preview_stripped_href(href)
    candidates = [exact]
    heuristic = category_heuristic_href(exact)
    if heuristic is not None:
        candidates.append(heuristic)
    return candidates


def resolve_against_map(
    link: dict[str, Any], registry: dict[str, dict[str, Any]]
) -> dict[str, Any]:
    """Resolve one resolvable-link dict against a url -> linkable map.

    Called per span by ``operators/resolve.py::resolve_span_array``; skips
    links that already carry a destination or have no href.
    """
    if link.get("destination") is not None or link.get("href") is None:
        return link
    for key in candidate_hrefs(link["href"]):
        dest = registry.get(key)
        if dest is not None:
            out = dict(link)
            out["destination"] = dest
            return out
    return link
