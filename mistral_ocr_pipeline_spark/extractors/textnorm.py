"""Deterministic text normalization shared by every extractor.

Semantics generalize the reference's normalizers (whitespace-collapse +
strip, reference ``compare_results.py:32-37``, ``heading_detector.py:23-26``)
with NFC unicode normalization pinned so that byte-equality between the
Spark engine and the pure-Python oracle is well-defined (SURVEY.md §7.4.1).

The *plain* payload normalization is intentionally expressible in ANSI SQL
(``trim(regexp_replace(nfc_normalize(text), WS_CLASS || '+', ' ', 'g'),
' ')``) so the DuckDB oracle can verify the plain extraction path
end-to-end, and in ``pyarrow.compute`` so the engine runs it on whole
columns.  ``WS_CLASS`` spells the whitespace class out because RE2's
``\\s`` does not match ``\\v``, and ``trim`` names ``' '`` because DuckDB's
one-argument ``trim`` also strips Unicode spaces such as NBSP.
"""

from __future__ import annotations

import re
import unicodedata

# ASCII whitespace, spelled once: the set Python's `str.strip(ASCII_WS)` and
# ASCII `\s`, and Java's `\s` (Spark rlike/regexp_replace) match.  RE2's `\s`
# (DuckDB, pyarrow.compute) omits `\v`, so every regex below, the Arrow
# routes in plans.extract_pipeline and the DuckDB twins in
# plans.entry_queries use the class derived from it.  Unicode spaces (NBSP,
# ideographic space) are intentionally NOT collapsed.
ASCII_WS = " \t\n\v\f\r"


def _escaped(chars: str) -> str:
    """Hex escapes, read alike by Python re, RE2 and Java in a ``[...]``."""
    return "".join(f"\\x{ord(c):02x}" for c in chars)


WS_CHARS = _escaped(ASCII_WS)  # the members, to build other classes from
WS_CLASS = f"[{WS_CHARS}]"
_WS_BREAK = f"[{_escaped(ASCII_WS.replace(' ', ''))}]"  # whitespace other than ' '
# the runs a collapse changes (a lone space is its own collapse); RE2
# rewriting only these is ~5x cheaper than rewriting every WS_CLASS run
WS_COLLAPSIBLE_RUN = f"{_WS_BREAK}{WS_CLASS}*| {WS_CLASS}+"
_WS_RUN = re.compile(WS_CLASS + "+")
# fast-path detector: any non-space ASCII whitespace or a double space means
# the full collapse must run; otherwise strip alone is sufficient
_WS_NEEDS_COLLAPSE = re.compile(f"{_WS_BREAK}|  ")

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

    SQL-oracle equivalent (DuckDB): ``plans.entry_queries._NORM``.
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
