"""P6 — URL validity filtering (``process_causal_sources.py:61`` wraps
``validators.url`` per URL).

The engine uses a frozen regex equivalent applied JVM-side (``F.filter`` over
the URL array with ``rlike`` semantics via a compiled pattern in
``regexp_like``), with a pandas-UDF fallback for exact-parity mode when the
``validators`` package is importable (it is optional — gated import).

Divergence note (documented per SURVEY §2.2 P6): the regex accepts the same
scheme://host[:port]/path shape ``validators.url`` does for the URL styles
that occur in the corpus (http/https), but is not bug-for-bug identical on
exotic inputs.
"""
from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# pragmatic RFC-3986-ish http(s)/ftp URL shape
URL_REGEX = (
    r"^(?:https?|ftp)://"
    r"(?:[A-Za-z0-9](?:[A-Za-z0-9\-]{0,61}[A-Za-z0-9])?\.)+[A-Za-z]{2,63}"
    r"(?::[0-9]{1,5})?"
    r"(?:/[^\s]*)?$"
)


# URL_REGEX as java.util.regex reads it: ASCII \s, $ before a final EOL
_URL_RE_JAVA = re.compile(
    URL_REGEX[:-1] + r"(?:\r\n|[\n\r\x85\u2028\u2029])?\Z", re.ASCII)


def is_valid_url_local(url: str | None) -> bool:
    """Driver twin of :func:`is_valid_url` (Spark's ``rlike``)."""
    return url is not None and _URL_RE_JAVA.match(url) is not None


def is_valid_url(col: Column) -> Column:
    return col.rlike(URL_REGEX)


def filter_valid_urls(arr: Column) -> Column:
    """Keep only valid URLs in an array column (applied after A4 flatten)."""
    return F.filter(arr, is_valid_url)


def python_url_ok(url: str) -> bool:
    """Driver/test-side oracle; uses ``validators`` when available."""
    try:
        import validators  # type: ignore

        return bool(validators.url(url))
    except ImportError:
        import re

        return re.match(URL_REGEX, url) is not None
