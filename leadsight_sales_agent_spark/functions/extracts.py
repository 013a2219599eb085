"""Reference-fidelity scalar extraction functions (SURVEY.md §2.8).

Column-expression ports of the reference's regex extractors, preserving
its quirks deliberately (SURVEY.md §4.3.5):

- F1 ``extract_founded`` — 3 prioritized case-INsensitive patterns,
  first-match-wins, returns the WHOLE match (group 0). Reference
  app.py:65-75.
- F2 ``extract_email`` — first match of a case-SENSITIVE class pattern.
  Reference app.py:78-81.
- F3 ``extract_sentence_near_keyword`` — first ``[^.]*kw[^.]*`` span,
  case-insensitive, trimmed. Reference app.py:84-87.

Spark's ``regexp_extract`` returns '' (not null) on miss — every
extractor wraps in ``nullif('')`` to restore the reference's None
semantics. All pure Catalyst expressions: codegen'd, no UDFs.

Each one has an executor-side Python twin (``py_*``) for code that
already runs in a Python crossing (the enrichment map,
operators/enrich.py). The twins compile the same pattern constants
with ``re.ASCII``, which gives Python the JVM's semantics: Java's
``(?i)`` folds ASCII letters only, and its digit and whitespace
classes are ASCII ones. Like the expressions, they trim spaces only
(Spark's ``trim``) and map a missed or empty match, and a null text,
to None.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

FOUNDED_PATTERNS = (
    r"(?i)Founded (in )?(\d{4})",
    r"(?i)Established (in )?(\d{4})",
    r"(?i)Since (\d{4})",
)

EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+"

WHITESPACE_RUN = r"\s+"


def sentence_pattern(keyword: str) -> str:
    """The first dot-delimited span containing ``keyword``, case-insensitive."""
    return r"(?i)[^.]*" + re.escape(keyword) + r"[^.]*"


def _nullif_empty(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def extract_founded(text: Column) -> Column:
    """First match across prioritized founded/established/since patterns."""
    return F.coalesce(
        *[_nullif_empty(F.regexp_extract(text, p, 0)) for p in FOUNDED_PATTERNS]
    )


def extract_email(text: Column) -> Column:
    """First email-shaped substring (case-sensitive, like the reference)."""
    return _nullif_empty(F.regexp_extract(text, EMAIL_PATTERN, 0))


def extract_sentence_near_keyword(text: Column, keyword: str) -> Column:
    """The sentence (dot-delimited span) containing ``keyword``."""
    return _nullif_empty(
        F.trim(F.regexp_extract(text, sentence_pattern(keyword), 0))
    )


def normalize_whitespace(text: Column) -> Column:
    """F4: collapse all whitespace runs to single spaces."""
    return F.regexp_replace(text, WHITESPACE_RUN, " ")


def url_host(url: Column) -> Column:
    """F7: hostname of a URL (reference urlparse().netloc).

    try_ variant: ANSI mode makes plain parse_url THROW on malformed
    input; the reference's urlparse never raises — null is the faithful
    (and pipeline-safe) behavior.
    """
    return F.try_parse_url(url, F.lit("HOST"))


# -- Python twins ------------------------------------------------------------

_FOUNDED_RES = [re.compile(p, re.ASCII) for p in FOUNDED_PATTERNS]
_EMAIL_RE = re.compile(EMAIL_PATTERN, re.ASCII)
_WHITESPACE_RE = re.compile(WHITESPACE_RUN, re.ASCII)


def _first_match(pattern: re.Pattern, text: str | None) -> str | None:
    m = None if text is None else pattern.search(text)
    return (m.group(0) or None) if m else None


def py_extract_founded(text: str | None) -> str | None:
    """Twin of ``extract_founded``."""
    for p in _FOUNDED_RES:
        if (found := _first_match(p, text)) is not None:
            return found
    return None


def py_extract_email(text: str | None) -> str | None:
    """Twin of ``extract_email``."""
    return _first_match(_EMAIL_RE, text)


def py_extract_sentence_near_keyword(text: str | None, keyword: str) -> str | None:
    """Twin of ``extract_sentence_near_keyword``."""
    # re.compile is served from the re module's own pattern cache
    span = _first_match(re.compile(sentence_pattern(keyword), re.ASCII), text)
    return None if span is None else span.strip(" ") or None


def py_normalize_whitespace(text: str | None) -> str | None:
    """Twin of ``normalize_whitespace``."""
    return None if text is None else _WHITESPACE_RE.sub(" ", text)
