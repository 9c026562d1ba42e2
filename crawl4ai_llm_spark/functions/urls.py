"""URL canonicalization + hashing (SURVEY.md §2.7 C1/C2).

Canonicalization is a vectorized pandas UDF (Arrow-batched — the reference
validates URLs per record in Python via pydantic HttpUrl, models.py:27;
here the whole batch crosses the boundary once). Code that already runs in
Python per row, like the crawl's fetch batch, calls the same rule directly
(``_canonical_links``). Hashing is JVM-side murmur3 (``F.hash``) per the
SURVEY §8.3 ruling: the reference's process-salted builtin ``hash()``
(json_storage.py:87) is not reproducible, murmur3 is.
"""

from __future__ import annotations

from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_PORTS = {"http": 80, "https": 443}


def _canonicalize_one(url: str) -> str | None:
    """Lowercase scheme/host, strip default port + fragment, drop empty
    query, resolve trivial dot-segments, ensure non-empty path."""
    if url is None:
        return None
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    port = parts.port
    netloc = host if port is None or DEFAULT_PORTS.get(scheme) == port else f"{host}:{port}"
    path = parts.path or "/"
    # resolve . / .. segments deterministically
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == "." or seg == "":
            continue
        if seg == "..":
            if segs:
                segs.pop()
            continue
        segs.append(seg)
    path = "/" + "/".join(segs)
    if parts.path.endswith("/") and path != "/":
        path += "/"
    query = "&".join(sorted(q for q in parts.query.split("&") if q)) if parts.query else ""
    return urlunsplit((scheme, netloc, path, query, ""))


def _canonical_links(raw: list[str]) -> list[str]:
    """A page's out-links in canonical form, in page order; links that do
    not canonicalize (non-http schemes, no host, unparsable) are dropped —
    the rows ``canonicalize_url`` returns null for. The crawl's fetch batch
    calls this per page, so discovery needs no canonicalization stage."""
    return [c for c in map(_canonicalize_one, raw) if c is not None]


def _canonicalize_series(urls: pd.Series) -> pd.Series:
    return urls.map(_canonicalize_one)


_canonicalize_udf = None


def canonicalize_url(col: Column) -> Column:
    """Vectorized canonicalizer — one Arrow batch per call, no per-row
    Python UDF (driver input_hint mandate). The UDF object is created
    lazily because pandas_udf needs an active SparkSession to parse the
    return type."""
    global _canonicalize_udf
    if _canonicalize_udf is None:
        _canonicalize_udf = pandas_udf(_canonicalize_series, "string")
    return _canonicalize_udf(col)


def url_hash(col: Column) -> Column:
    """32-bit murmur3 (Spark's F.hash), widened to long — the frontier's
    partition + dedup key (C2)."""
    return F.hash(col).cast("long")


def url_hash64(col: Column) -> Column:
    """64-bit tier for 10^10-URL frontiers: xxhash64 keeps the expected
    collision count ~3 per 10^10 keys vs ~10^10 collisions at 32 bits."""
    return F.xxhash64(col)


def host_of(col: Column) -> Column:
    """Host extraction from an already-canonical URL — pure JVM regex."""
    return F.regexp_extract(col, r"^[a-z]+://([^/:]+)", 1)
