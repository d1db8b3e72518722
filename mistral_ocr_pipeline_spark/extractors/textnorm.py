"""Deterministic text normalization shared by every extractor.

Semantics generalize the reference's normalizers (whitespace-collapse +
strip, reference ``compare_results.py:32-37``, ``heading_detector.py:23-26``)
with NFC unicode normalization pinned so that byte-equality between the
Spark engine and the pure-Python oracle is well-defined (SURVEY.md §7.4.1).

The *plain* payload normalization is intentionally expressible in ANSI SQL
(``trim(regexp_replace(nfc_normalize(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g'),
' ')``) so the DuckDB oracle can verify the plain extraction path
end-to-end.  The class is spelled out because RE2's ``\\s`` does not match
``\\v``, and ``trim`` names ``' '`` because DuckDB's one-argument ``trim``
also strips Unicode spaces such as NBSP.
"""

from __future__ import annotations

import re
import unicodedata

# ASCII whitespace only ([ \t\n\r\f\v]) — the set Java's `\s` matches (Spark
# rlike/regexp_replace).  RE2's `\s` (DuckDB) omits `\v`, so the DuckDB twin
# spells the class out as `[ \t\n\v\f\r]` to stay exact.
# Unicode spaces (NBSP, ideographic space) are intentionally NOT collapsed.
_WS_RUN = re.compile(r"\s+", re.ASCII)
# fast-path detector: any non-space ASCII whitespace or a double space means
# the full collapse must run; otherwise strip alone is sufficient
_WS_NEEDS_COLLAPSE = re.compile(r"[\t\n\r\f\v]|  ", re.ASCII)

# References-heading predicate, same regex the reference applies to stop
# page processing at the bibliography (reference utils/utils.py:21-24).
REFERENCES_HEADING_RE = re.compile(
    r"(?im)^\s*(references?|bibliography|works\s+cited)\s*:?\s*$"
)

# Numeric-looking-string predicate used by the sink-side cleanup filter
# (reference utils/utils.py:228-230, 318-324).
NUMERIC_STRING_RE = re.compile(r"^\s*[+-]?(\d+(\.\d+)?|\.\d+)([eE][+-]?\d+)?\s*$")


def nfc(s: str) -> str:
    """NFC-normalize; pinned so oracle and engine agree on composed forms."""
    return unicodedata.normalize("NFC", s)


def collapse_ws(s: str) -> str:
    """Collapse every ASCII-whitespace run (\\r\\n, tabs, spaces) to one
    space and strip — the reference's C3 normalization."""
    if _WS_NEEDS_COLLAPSE.search(s) is None:  # already single-spaced: one C scan
        return s.strip(" ")
    return _WS_RUN.sub(" ", s).strip(" ")  # post-collapse edges are ' ' only; matches SQL trim(x, ' ')


def normalize_plain(s: str) -> str:
    """Extraction for the *plain* payload family: NFC → collapse ws → strip.

    SQL-oracle equivalent (DuckDB):
    ``trim(regexp_replace(nfc_normalize(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g'), ' ')``
    """
    return collapse_ws(nfc(s))


def norm_key(s: str) -> str:
    """Matching key: lowercase + punctuation strip + ws collapse
    (reference compare_results.py:32-37 / heading_detector.py:23-26)."""
    s = nfc(s).lower()
    s = re.sub(r"[^\w\s/\-]", "", s, flags=re.UNICODE)
    return collapse_ws(s)


def is_numeric_string(s: str | None) -> bool:
    if s is None:
        return False
    return NUMERIC_STRING_RE.match(s) is not None
