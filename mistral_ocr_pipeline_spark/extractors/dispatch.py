"""Per-turn payload routing + error capture — the engine's core contract.

One turn in, one extraction record out.  Mirrors the reference's dispatch
(PDF vs page-image fallback, get_annotations.py:189-220) and failure
capture (failed docs recorded, never crash the run, main.py:304-311).

Routing:
* ``tool`` holds a JSON payload with ``kind == "pdf_layout"`` → PDF path
  (tool wins over text, FIXTURES.md §1 edge cases);
* ``tool`` present but unparseable → ``error`` record;
* empty/whitespace ``text`` → ``empty`` record;
* HTML sniff on ``text`` → HTML boilerplate-strip path;
* otherwise → plain normalization.

``extract_turn`` is the scalar reference.  The engine's batch stage
(``plans.extract_pipeline._extract_one``) routes whole Arrow columns first
and calls it only for the rows the columnar rules cannot decide:

* ``tool`` null and ``text`` null or all ``ASCII_WS`` → ``empty``, columnar;
* ``tool`` null and ``text`` without ``<`` (the HTML sniff needs one) →
  ``plain``, columnar (NFC via ``unicodedata`` on non-ASCII rows only);
* any non-null ``tool``, or ``text`` with a ``<`` → ``extract_turn``.

The output record is the golden contract (FIXTURES.md §2):
``(payload_kind, extracted_text, spans, md, error)`` with spans =
``[(start, end, kind, ref)]`` offsets into ``extracted_text``.
"""

from __future__ import annotations

import json
from typing import Any

from mistral_ocr_pipeline_spark.extractors.blocks import assemble
from mistral_ocr_pipeline_spark.extractors.html_extract import (
    extract_html_blocks,
    looks_like_html,
)
from mistral_ocr_pipeline_spark.extractors.pdf_layout import (
    extract_pdf_layout_blocks,
)
from mistral_ocr_pipeline_spark.extractors.textnorm import ASCII_WS, normalize_plain

Span = tuple[int, int, str, str]

KIND_PLAIN = "plain"
KIND_HTML = "html"
KIND_PDF = "pdf_layout"
KIND_EMPTY = "empty"
KIND_ERROR = "error"


def _record(
    kind: str,
    text: str | None,
    spans: list[Span],
    md: str | None,
    error: str | None = None,
) -> dict[str, Any]:
    return {
        "payload_kind": kind,
        "extracted_text": text,
        "spans": spans,
        "md": md,
        "error": error,
    }


# json's C scanner recurses once per nesting level: a payload nested deeper
# than the interpreter's recursion limit raises RecursionError, valid or not
_BAD_JSON = (ValueError, RecursionError)


def _repair_tool_payload(raw: str) -> Any | None:
    """S3 payload repair — the structural-rebuild analog of the reference's
    two-pass PDF repair (utils/utils.py:27-50: pypdf page-by-page rebuild,
    then PyMuPDF garbage-collection; original returned if repair fails).

    Pass 1 — trailing garbage: parse the leading JSON value and discard
    what follows (the moral twin of stripping bad data after the xref).
    Pass 2 — truncation: scan string/escape/bracket state and append the
    missing closers (the rebuild-what-survives pass).  Structurally
    corrupt payloads (e.g. ``[}``) fail both passes and stay on the error
    channel, mirroring the reference's return-original fallback.  Cold
    path only: runs exclusively on rows that already failed json.loads."""
    s = raw.strip()
    try:  # pass 1: valid prefix + trailing garbage
        obj, _end = json.JSONDecoder().raw_decode(s)
        return obj
    except _BAD_JSON:
        pass
    # pass 2: close what truncation left open
    stack: list[str] = []
    in_str = False
    esc = False
    for ch in s:
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch in "{[":
            stack.append("}" if ch == "{" else "]")
        elif ch in "}]":
            if not stack or stack[-1] != ch:
                return None  # mismatched closer: corrupt, not truncated
            stack.pop()
    fixed = s + ('"' if in_str else "")
    tail = fixed.rstrip()
    if tail.endswith(":"):
        fixed = tail + " null"
    elif tail.endswith(","):
        fixed = tail[:-1]
    fixed += "".join(reversed(stack))
    try:
        return json.loads(fixed)
    except _BAD_JSON:
        return None


def extract_turn(text: str | None, tool: str | None) -> dict[str, Any]:
    """Extract one turn's payload; never raises (errors become rows)."""
    if tool is not None and tool.strip():
        try:
            payload = json.loads(tool)
        except _BAD_JSON as e:
            payload = _repair_tool_payload(tool)
            if payload is None:
                return _record(
                    KIND_ERROR, None, [], None,
                    f"invalid tool payload: {type(e).__name__}: {e}",
                )
        if isinstance(payload, dict) and payload.get("kind") == "pdf_layout":
            try:
                blocks = extract_pdf_layout_blocks(payload)
                out_text, spans, md = assemble(blocks)
                return _record(KIND_PDF, out_text, spans, md)
            except Exception as e:  # malformed-but-parseable payload
                return _record(
                    KIND_ERROR, None, [], None,
                    f"pdf_layout extraction failed: {type(e).__name__}: {e}",
                )
        # valid JSON but not a layout payload → fall through to text

    if text is None or not text.strip(ASCII_WS):  # ASCII ws: SQL-oracle aligned
        return _record(KIND_EMPTY, "", [], "")

    if looks_like_html(text):
        try:
            blocks = extract_html_blocks(text)
            out_text, spans, md = assemble(blocks)
            return _record(KIND_HTML, out_text, spans, md)
        except Exception as e:
            return _record(
                KIND_ERROR, None, [], None,
                f"html extraction failed: {type(e).__name__}: {e}",
            )

    out_text = normalize_plain(text)
    spans: list[Span] = [(0, len(out_text), "paragraph", "")] if out_text else []
    return _record(KIND_PLAIN, out_text, spans, out_text)


def extract_turn_golden(text: str | None, tool: str | None) -> dict[str, Any]:
    """Golden-oracle alias: identical code path, named for the test suite."""
    return extract_turn(text, tool)
