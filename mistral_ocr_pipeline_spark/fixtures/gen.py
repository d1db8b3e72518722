"""Deterministic synthetic transcripts matching BASELINE.json ``input_hint``:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``.

Seeded, no wall-clock, no external data (FIXTURES.md §1).  Payload families:
plain prose, HTML documents with boilerplate (nav/footer/link-farm sidebars
vs content blocks, entities, figures, tables), and PDF-layout JSON payloads
in ``tool`` (two-column pages, section headings at 1.2× median font,
outline entries, fuzzy-misspelled headings, references tails).  Edge rows:
empty/null/whitespace text, unicode (NFD pairs, emoji, CJK, RTL), duplicate
content across adjacent turns, text+tool both set, malformed payloads.

Skew profiles (FIXTURES.md §1): ``skew`` gives one conversation ~50% of all
turns (Zipf head) to exercise the per-turn repartitioning.
"""

from __future__ import annotations

import datetime as dt
import json
import random

ROLES = ("user", "assistant", "tool", "system")
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

_WORDS = (
    "anticoagulation patients study cohort outcome bleeding renal dose "
    "analysis clinical trial results followup baseline therapy treatment "
    "reversal threshold plasma concentration assay measurement interval "
    "surgery procedure elective urgent risk management protocol evidence"
).split()

_UNICODE_SNIPPETS = (
    "café crème brûlée",          # NFD combining accents
    "日本語の文章 \U0001f600",  # CJK + emoji
    "مرحبا بالعالم",  # RTL
    "line one\r\nline two\r\n\ttabbed",
)


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _paragraph(rng: random.Random, sentences: int = 3) -> str:
    return " ".join(_sentence(rng, rng.randint(6, 14)) for _ in range(sentences))


def _plain_text(rng: random.Random) -> str:
    parts = [_paragraph(rng, rng.randint(1, 3)) for _ in range(rng.randint(1, 3))]
    if rng.random() < 0.25:
        parts.append(rng.choice(_UNICODE_SNIPPETS))
    return "\n\n".join(parts)


def _html_doc(rng: random.Random) -> str:
    nav_links = "".join(
        f'<a href="/s{i}">Section {i}</a> ' for i in range(rng.randint(3, 6))
    )
    sidebar = "".join(
        f'<li><a href="/rel{i}">Related article {i} with a long teaser</a></li>'
        for i in range(rng.randint(3, 7))
    )
    body_blocks = []
    body_blocks.append(f"<h1>{_sentence(rng, 5)[:-1]}</h1>")
    for _ in range(rng.randint(2, 4)):
        body_blocks.append(f"<p>{_paragraph(rng, rng.randint(2, 4))}</p>")
    if rng.random() < 0.5:
        body_blocks.append(f"<h2>{_sentence(rng, 4)[:-1]}</h2>")
        body_blocks.append(f"<p>{_paragraph(rng, 2)} &amp; more &#8212; details.</p>")
    if rng.random() < 0.4:
        body_blocks.append(
            f'<img src="fig{rng.randint(1, 9)}.png" alt="{_sentence(rng, 4)[:-1]}">'
        )
    if rng.random() < 0.3:
        rows = "".join(
            f"<tr><td>{rng.choice(_WORDS)}</td><td>{rng.randint(1, 99)}</td></tr>"
            for _ in range(rng.randint(2, 4))
        )
        body_blocks.append(f"<table><tr><th>item</th><th>n</th></tr>{rows}</table>")
    if rng.random() < 0.3:
        body_blocks.append(f"<p>{rng.choice(_UNICODE_SNIPPETS)} {_sentence(rng, 8)}</p>")
    return (
        "<!DOCTYPE html><html><head><title>t</title>"
        "<style>body{color:red}</style><script>var x=1;</script></head><body>"
        f"<nav>{nav_links}</nav><header><p>Site name | tagline</p></header>"
        f"<div class='content'>{''.join(body_blocks)}</div>"
        f"<aside><ul>{sidebar}</ul></aside>"
        '<p><a href="/a">home</a> <a href="/b">next</a></p>'
        "<footer><p>© 2024 example.org — all rights reserved</p></footer>"
        "</body></html>"
    )


def _layout_line(text: str, size: float, x0: float, y0: float, w: float = 200.0):
    return {
        "bbox": [x0, y0, x0 + w, y0 + size + 2],
        "spans": [{"text": text, "size": size, "bbox": [x0, y0, x0 + w, y0 + size + 2]}],
    }


def _pdf_layout_payload(rng: random.Random) -> str:
    base = 10.0
    two_col = rng.random() < 0.5
    pages = []
    n_pages = rng.randint(2, 4)
    headings_plan = ["Introduction", "Methods"]
    if rng.random() < 0.5:
        headings_plan.append(rng.choice(["Acknowledgements", "ACKNOWLEDGMENT"]))
    headings_plan.append(rng.choice(["References", "References:", "Bibliography"]))
    heads_iter = iter(headings_plan)
    outline = []
    for p in range(n_pages):
        blocks = []
        y = 60.0
        cols = ([50.0, 320.0] if two_col else [72.0])
        for ci, x0 in enumerate(cols):
            y = 60.0
            lines = []
            if (ci == 0) and (h := next(heads_iter, None)) is not None:
                lines.append(_layout_line(h, base * 1.25, x0, y))
                outline.append([1, h, p])
                y += 26.0
            for _ in range(rng.randint(3, 6)):
                lines.append(_layout_line(_sentence(rng, rng.randint(5, 9)), base, x0, y))
                y += 13.0
            if rng.random() < 0.3:
                y += 30.0  # paragraph gap
                lines.append(_layout_line(_sentence(rng, 6), base, x0, y))
            blocks.append(
                {"type": 0,
                 "bbox": [x0, 50.0, x0 + 220.0, y + 15.0],
                 "lines": lines}
            )
        pages.append({"width": 612.0, "height": 792.0, "blocks": blocks})
    payload = {"kind": "pdf_layout", "pages": pages}
    if rng.random() < 0.6:
        payload["outline"] = outline
    return json.dumps(payload, sort_keys=True)


def _edge_text(rng: random.Random, i: int) -> tuple[str | None, str | None]:
    """(text, tool) for edge-case rows."""
    case = i % 6
    if case == 0:
        return "", None
    if case == 1:
        return None, None
    if case == 2:
        return "   \t\r\n  ", None
    if case == 3:
        return "plain before", '{"kind": "pdf_layout", "pages": [}'  # invalid JSON
    if case == 4:
        return "<div><p>truncated html with <b>bold", None
    return rng.choice(_UNICODE_SNIPPETS), None


def gen_turn(rng: random.Random, edge_i: int | None = None) -> tuple[str | None, str | None]:
    """One (text, tool) payload pair."""
    if edge_i is not None:
        return _edge_text(rng, edge_i)
    r = rng.random()
    if r < 0.45:
        return _plain_text(rng), None
    if r < 0.75:
        return _html_doc(rng), None
    if r < 0.95:
        txt = _plain_text(rng) if rng.random() < 0.3 else None
        return txt, _pdf_layout_payload(rng)
    return _plain_text(rng), json.dumps({"kind": "other", "v": 1})


def gen_transcripts(
    n_convs: int,
    turns_per_conv: int | tuple[int, int],
    seed: int = 42,
    profile: str = "unit",
) -> list[tuple[str, int, str, str | None, str | None, dt.datetime]]:
    """Deterministic rows (conv_id, turn_idx, role, text, tool, ts).

    ``profile='skew'`` gives conv 0 half of all turns (Zipf head) for
    skew validation; ``'unit'`` sprinkles edge rows every 7th turn."""
    rng = random.Random(seed)
    rows = []
    edge_counter = 0
    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        if isinstance(turns_per_conv, tuple):
            n_turns = rng.randint(*turns_per_conv)
        else:
            n_turns = turns_per_conv
        if profile == "skew":
            n_turns = n_turns * (n_convs // 2) if c == 0 else max(1, n_turns // 2)
        for t in range(n_turns):
            edge_i = None
            if profile == "unit" and (c * 31 + t) % 7 == 3:
                edge_i = edge_counter
                edge_counter += 1
            text, tool = gen_turn(rng, edge_i)
            ts = _EPOCH + dt.timedelta(hours=c, seconds=t)
            rows.append((conv_id, t, ROLES[(c + t) % 4], text, tool, ts))
    return rows


def transcripts_schema():
    """Spark StructType for the input hint (imported lazily to keep this
    module importable without pyspark)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
