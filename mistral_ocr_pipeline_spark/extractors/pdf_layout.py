"""PDF layout-payload extraction: XY-cut ordering, heading detection,
section-cut planning, paragraph clustering.

Generalizes the reference's local layout machinery — the one part of the
reference that is already a local extractor rather than an API call:

* heading likeness + fuzzy section vocab match
  (reference pre_processing/pdf_section_stripper/heading_detector.py:60-164,
  config.py:13-22): length ≤ 80, fontsize ≥ 1.1 × page median, not
  sentence-like, fuzzy score ≥ 70 against the section vocabularies;
* outline (TOC) detection wins over layout detection
  (reference outline_detector.py:41-80, planner.py:9-26);
* cut planning: drop references→end, acknowledgements→references, and
  introduction→methods *only if* a methods heading follows (guarded,
  reference planner.py:29-68 + config.py:22
  ``require_methods_to_drop_intro``), always keep the first page
  (reference planner.py:66-68 ``keep_first_n_pages_always``);
* a cut that lands mid-page yields a zero-length ``redacted`` span marking
  the boundary (the text itself is dropped) — the span analog of the
  reference's redaction rects (planner.py:70-87, writer.py:6-33).

Input payload shape (FIXTURES.md §1.3) models PyMuPDF ``get_text("dict")``::

    {"kind": "pdf_layout",
     "pages": [{"width": W, "height": H,
                "blocks": [{"type": 0, "bbox": [...],
                            "lines": [{"bbox": [...],
                                       "spans": [{"text","size","bbox"}]}]}]}],
     "outline": [[level, title, page], ...]}   # optional

No external fuzz library exists in this environment; the fuzzy scorer is a
pinned difflib-based metric (ratio vs best-window partial ratio, 0-100).
"""

from __future__ import annotations

from dataclasses import dataclass
from difflib import SequenceMatcher
from functools import lru_cache

from mistral_ocr_pipeline_spark.extractors.blocks import (
    HEADING,
    PARAGRAPH,
    REDACTED,
    Block,
)
from mistral_ocr_pipeline_spark.extractors.textnorm import collapse_ws, nfc, norm_key

# --- tunables (mirror reference config.py:13-22 semantics) ----------------
HEADING_MIN_FONTSIZE_RATIO = 1.1
HEADING_MAX_LEN = 80
MIN_HEADING_SCORE = 70.0
KEEP_FIRST_N_PAGES_ALWAYS = 1
REQUIRE_METHODS_TO_DROP_INTRO = True
COLUMN_GAP_PT = 24.0  # min horizontal whitespace to split columns (XY-cut)
PARA_GAP_FACTOR = 1.6  # vertical gap > factor × line height ⇒ new paragraph

SECTION_VOCAB: dict[str, tuple[str, ...]] = {
    "intro": ("introduction", "background"),
    "methods": ("methods", "materials and methods", "methodology", "study design"),
    "ack": ("acknowledgements", "acknowledgments", "acknowledgment", "funding"),
    "refs": ("references", "bibliography", "works cited", "literature cited"),
}


def _token_set_ratio(a: str, b: str) -> float:
    """Sorted-token-set ratio (0-1) on already-normalized keys — the
    word-order-insensitive leg of the reference's scorer: rapidfuzz
    token_set_ratio compares sorted(t1∩t2) against sorted(t1∩t2)+diffs,
    so "materials and methods" ↔ "methods and materials" scores 100."""
    ta, tb = set(a.split()), set(b.split())
    inter = " ".join(sorted(ta & tb))
    if not inter:
        return 0.0
    sa = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sb = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(
        SequenceMatcher(None, sa, sb).ratio(),
        SequenceMatcher(None, inter, sa).ratio(),
        SequenceMatcher(None, inter, sb).ratio(),
    )


def _fuzzy_on_keys(a: str, b: str) -> float:
    """0-100 similarity on already-normalized keys: max of full ratio,
    best-window partial ratio, and sorted-token-set ratio.  Deterministic
    stand-in for rapidfuzz's max(ratio, partial_ratio, token_set_ratio)
    (reference heading_detector.py:44-57)."""
    if not a or not b:
        return 0.0
    if a == b:
        return 100.0
    full = SequenceMatcher(None, a, b).ratio()
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    partial = 0.0
    if len(short) >= 3 and short in long_:
        partial = 1.0
    else:
        m = SequenceMatcher(None, short, long_).find_longest_match(
            0, len(short), 0, len(long_)
        )
        if len(short):
            partial = m.size / len(short)
    return 100.0 * max(full, partial, _token_set_ratio(a, b))


def fuzzy_score(a: str, b: str) -> float:
    """Public scorer on raw strings (normalizes both)."""
    return _fuzzy_on_keys(norm_key(a), norm_key(b))


# vocab normalized ONCE; exact-key lookup handles the overwhelmingly common
# case (headings repeat across millions of documents) without any difflib
_VOCAB_KEYS: list[tuple[str, str]] = [
    (kind, norm_key(v)) for kind, vocab in SECTION_VOCAB.items() for v in vocab
]
_EXACT_KEY_TO_KIND: dict[str, str] = {v: kind for kind, v in _VOCAB_KEYS}


@lru_cache(maxsize=65536)
def _match_section_key(key: str) -> tuple[str | None, float]:
    exact = _EXACT_KEY_TO_KIND.get(key)
    if exact is not None:
        return exact, 100.0
    best_kind, best = None, 0.0
    for kind, vkey in _VOCAB_KEYS:
        s = _fuzzy_on_keys(key, vkey)
        if s > best:
            best_kind, best = kind, s
    return (best_kind, best) if best >= MIN_HEADING_SCORE else (None, best)


def match_section(title: str) -> tuple[str | None, float]:
    """Best section kind for a candidate heading, (kind, score).  Results
    are memoized on the normalized title — headings recur corpus-wide, so
    the fuzzy path runs once per distinct heading, not once per turn."""
    return _match_section_key(norm_key(title))


@dataclass
class Line:
    page: int
    order: int  # XY-cut position within the page
    text: str
    size: float
    y0: float
    y1: float
    x0: float


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if n == 0:
        return 0.0
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _xy_cut_columns(blocks: list[dict], width: float) -> list[list[dict]]:
    """One-level XY cut: split text blocks into columns at horizontal
    whitespace gaps ≥ COLUMN_GAP_PT, ordered left→right."""
    if not blocks:
        return []
    ivs = sorted((float(b["bbox"][0]), float(b["bbox"][2]), i)
                 for i, b in enumerate(blocks))
    groups: list[list[int]] = []
    cur = [ivs[0][2]]
    reach = ivs[0][1]
    for x0, x1, i in ivs[1:]:
        if x0 - reach >= COLUMN_GAP_PT:
            groups.append(cur)
            cur = [i]
        else:
            cur.append(i)
        reach = max(reach, x1)
    groups.append(cur)
    return [[blocks[i] for i in g] for g in groups]


def _page_lines(page: dict, page_idx: int) -> tuple[list[Line], float]:
    """Flatten a page to XY-cut-ordered lines; returns (lines, median size).

    Hot loop of the PDF kernel (one call per page, ~60% of the layout
    path) — comprehension form; measured neutral vs the loop form
    (wrapper dispatch dominates), kept for clarity."""
    text_blocks = [
        b for b in page.get("blocks", []) if b.get("type", 0) == 0 and b.get("lines")
    ]
    # truthiness of .strip(ASCII-ws) ⟺ span has a non-ASCII-whitespace
    # char (NOT plain .strip(), which also eats NBSP etc.)
    sizes = [
        float(sp.get("size", 0.0))
        for b in text_blocks
        for ln in b["lines"]
        for sp in ln.get("spans", ())
        if sp.get("text", "").strip(" \t\n\r\f\v")
    ]
    med = _median(sizes)
    lines: list[Line] = []
    order = 0
    append = lines.append
    for col in _xy_cut_columns(text_blocks, float(page.get("width", 612.0))):
        col_lines = [
            (float(bbox[1]), float(bbox[0]), ln)
            for b in col
            for ln in b["lines"]
            for bbox in ((ln.get("bbox") or b.get("bbox") or (0, 0, 0, 0)),)
        ]
        col_lines.sort(key=lambda t: (t[0], t[1]))
        for y0, x0, ln in col_lines:
            spans = ln.get("spans", ())
            text = collapse_ws(nfc(" ".join(sp.get("text", "") for sp in spans)))
            if not text:
                continue
            size = max((float(sp.get("size", 0.0)) for sp in spans), default=0.0)
            # y1 intentionally falls back to y0 (degenerate height) when the
            # LINE carries no bbox, even if the block does — pinned r01
            # behavior the paragraph-gap clustering golden relies on
            bbox = ln.get("bbox") or (x0, y0, x0, y0)
            append(Line(page_idx, order, text, size, y0, float(bbox[3]), x0))
            order += 1
    return lines, med


def _is_heading_like(line: Line, median_size: float) -> bool:
    """Heading likeness (reference heading_detector.py:60-78): short,
    larger-than-median font, not sentence-like."""
    t = line.text
    if not t or len(t) > HEADING_MAX_LEN:
        return False
    if median_size > 0 and line.size < HEADING_MIN_FONTSIZE_RATIO * median_size:
        return False
    if t.endswith("."):
        return False
    return True


@dataclass
class Cut:
    kind: str
    page: int
    order: int  # line order within page; 0 ⇒ page-start cut
    score: float
    source: str  # "outline" | "layout"


def _outline_cuts(outline: list, n_pages: int) -> dict[str, Cut]:
    """First TOC entry fuzzily matching each section kind
    (reference outline_detector.py:41-80: `is None` latching = first hit)."""
    cuts: dict[str, Cut] = {}
    for entry in outline or []:
        try:
            _level, title, page = entry[0], str(entry[1]), int(entry[2])
        except (IndexError, TypeError, ValueError):
            continue
        if not (0 <= page < n_pages):
            continue
        kind, score = match_section(title)
        if kind and kind not in cuts:
            cuts[kind] = Cut(kind, page, 0, score, "outline")
    return cuts


def _layout_cuts(pages_lines: list[tuple[list[Line], float]]) -> dict[str, Cut]:
    """Best-scoring heading per kind, earliest occurrence wins per kind
    (reference pipeline.py:22-40 first-match latching + heading_detector
    W1 best-per-(page,kind))."""
    cuts: dict[str, Cut] = {}
    for page_idx, (lines, med) in enumerate(pages_lines):
        for ln in lines:
            if not _is_heading_like(ln, med):
                continue
            kind, score = match_section(ln.text)
            if not kind:
                continue
            prev = cuts.get(kind)
            if prev is None or (ln.page, ln.order) < (prev.page, prev.order):
                cuts[kind] = Cut(kind, ln.page, ln.order, score, "layout")
    return cuts


def plan_cuts(outline_cuts: dict[str, Cut], layout_cuts: dict[str, Cut]) -> dict[str, Cut]:
    """Outline-primary merge (reference planner.py:9-26)."""
    merged = dict(layout_cuts)
    merged.update(outline_cuts)  # outline wins
    return merged


def _drop_ranges(
    cuts: dict[str, Cut], n_pages: int
) -> list[tuple[tuple[int, int], tuple[int, int], str]]:
    """[(start(page,order), end(page,order), kind)] half-open drop ranges.

    refs → END; ack → refs-or-END; intro → methods (guarded: only dropped
    if a methods cut exists after intro — reference planner.py:44-68)."""
    end_sentinel = (n_pages, 0)
    ranges = []
    refs = cuts.get("refs")
    ack = cuts.get("ack")
    intro = cuts.get("intro")
    methods = cuts.get("methods")
    if refs:
        ranges.append(((refs.page, refs.order), end_sentinel, "refs"))
    if ack:
        ack_end = (refs.page, refs.order) if refs and (refs.page, refs.order) > (
            ack.page, ack.order) else end_sentinel
        ranges.append(((ack.page, ack.order), ack_end, "ack"))
    methods_after_intro = (
        intro is not None
        and methods is not None
        and (methods.page, methods.order) > (intro.page, intro.order)
    )
    if intro and (methods_after_intro or not REQUIRE_METHODS_TO_DROP_INTRO):
        intro_end = (
            (methods.page, methods.order) if methods_after_intro else end_sentinel
        )
        ranges.append(((intro.page, intro.order), intro_end, "intro"))
    return ranges


def extract_pdf_layout_blocks(payload: dict) -> list[Block]:
    """Full pipeline: order lines → detect cuts → plan → cluster paragraphs."""
    pages = payload.get("pages") or []
    pages_lines = [_page_lines(p, i) for i, p in enumerate(pages)]
    cuts = plan_cuts(
        _outline_cuts(payload.get("outline") or [], len(pages)),
        _layout_cuts(pages_lines),
    )
    drops = _drop_ranges(cuts, len(pages))

    def drop_kind(page: int, order: int):
        if page < KEEP_FIRST_N_PAGES_ALWAYS:
            return None  # protected prefix (planner.py:66-68)
        for start, end, kind in drops:
            if start <= (page, order) < end:
                return kind, start
        return None

    blocks: list[Block] = []
    emitted_redaction: set[str] = set()
    for page_idx, (lines, med) in enumerate(pages_lines):
        para: list[str] = []
        prev: Line | None = None

        def flush_para() -> None:
            if para:
                blocks.append(Block(PARAGRAPH, " ".join(para)))
                para.clear()

        for ln in lines:
            hit = drop_kind(ln.page, ln.order)
            if hit is not None:
                kind, start = hit
                flush_para()
                prev = None
                # mid-page cut boundary ⇒ one zero-length redaction marker
                # per kind (page-start cuts drop whole pages silently,
                # mirroring planner.py:70-87 redaction-rect semantics)
                if start[1] > 0 and kind not in emitted_redaction:
                    emitted_redaction.add(kind)
                    blocks.append(Block(REDACTED, "", ref=kind))
                continue
            if _is_heading_like(ln, med):
                sec, _score = match_section(ln.text)
                ratio = ln.size / med if med > 0 else 1.0
                level = 1 if ratio >= 1.5 else (2 if ratio >= 1.3 else 3)
                flush_para()
                blocks.append(Block(HEADING, ln.text, ref=f"h{level}", level=level))
                prev = None
                continue
            line_h = max(ln.y1 - ln.y0, 1.0)
            if prev is not None and (ln.y0 - prev.y1) > PARA_GAP_FACTOR * line_h:
                flush_para()
            if prev is not None and ln.order > 0 and prev.page == ln.page and \
                    ln.x0 < prev.x0 and (ln.y0 < prev.y0):
                flush_para()  # column change resets paragraph
            para.append(ln.text)
            prev = ln
        flush_para()
    return blocks
