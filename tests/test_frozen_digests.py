"""Frozen-output oracle for the extraction stage.

``extract_turn_golden`` is ``extract_turn``, so the golden tests compare the
engine with the same kernel it runs.  This test compares it with digests
that were written once and committed (``data/frozen_extraction_digests.json``):
per conversation, the SHA-256 of its ``(turn_idx, payload_kind,
extracted_text, spans, md, error)`` records in ``turn_idx`` order, serialized
with ``json.dumps(..., sort_keys=True, ensure_ascii=False)``.

The inputs are ``fixtures.gen`` profiles at fixed seeds plus hand-written
turns around the whitespace and Unicode traps (``\\v``, NBSP, combining
marks, precomposed + combining sequences).  A second fixture
(``data/frozen_perfbench_digests.json``) covers the benchmark's ``mix``
and ``skew`` families at small scale, built with
``perfbench.inputs.make_chunk``.  A digest mismatch is a change in
extraction output: fix the change, or, when the new output is intended,
say so and why before rewriting a fixture with ``python
tests/test_frozen_digests.py --write`` (it writes only missing fixtures and
never overwrites one).
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

FIXTURE = Path(__file__).parent / "data" / "frozen_extraction_digests.json"
PERFBENCH_FIXTURE = FIXTURE.with_name("frozen_perfbench_digests.json")

# (profile, n_convs, turns_per_conv, seed)
GEN_CASES = [
    ("tiny", 3, (5, 10), 7),
    ("tiny", 3, (5, 10), 8),
    ("tiny", 3, (5, 10), 9),
    ("unit", 6, (2, 20), 42),
    ("unit", 6, (2, 20), 43),
    ("unit", 6, (2, 20), 44),
    ("skew", 6, 4, 11),
    ("skew", 6, 4, 12),
]


def _layout(*lines: str) -> str:
    def line(text, y):
        box = [72.0, y, 272.0, y + 12.0]
        return {"bbox": box, "spans": [{"text": text, "size": 10.0, "bbox": box}]}

    block = {
        "type": 0,
        "bbox": [72.0, 50.0, 292.0, 60.0 + 13.0 * len(lines)],
        "lines": [line(t, 60.0 + 13.0 * i) for i, t in enumerate(lines)],
    }
    page = {"width": 612.0, "height": 792.0, "blocks": [block]}
    return json.dumps({"kind": "pdf_layout", "pages": [page]}, sort_keys=True)


# (text, tool) per turn of the one hand-written conversation
HAND_TURNS = [
    ("a\x0bb c", None),
    ("\x0b\x0c\r\n", None),
    ("  lead\x0btab\tform\x0cfeed\r\nend  ", None),
    ("x\u00a0\u00a0y \u00a0", None),  # NBSP is not whitespace to collapse
    ("\u00a0", None),
    ("cafe\u0301 cre\u0300me", None),  # decomposed: NFC composes
    ("caf\u00e9\u0301 e\u0301\u0301", None),  # precomposed + combining
    ("\u212b and A\u030a and \u00c5\u030a", None),  # singleton, NFD, stacked
    ("\u1100\u1161\u11a8 hangul jamo", None),
    ("<p>a\x0bb&nbsp;c cafe\u0301</p><p>caf\u00e9\u0301\u00a0x</p>", None),
    ("<div><h1>T\u0301itle\x0b</h1><p>body\u00a0\x0b text</p></div>", None),
    (None, _layout("Intro\x0bduction", "cafe\u0301\u00a0\x0b words here")),
    ("text\x0bwins", '{"kind": "other"}'),
    ("ignored", "[}"),
    (None, None),
]


def _inputs():
    """(conv_id, turn_idx, role, text, tool, ts) rows; each conv_id is
    prefixed with its case so every case shares one DataFrame."""
    from mistral_ocr_pipeline_spark.fixtures.gen import gen_transcripts

    rows = []
    for profile, n_convs, turns, seed in GEN_CASES:
        case = f"{profile}-{seed}"
        for conv_id, t, role, text, tool, ts in gen_transcripts(
            n_convs, turns, seed=seed, profile=profile
        ):
            rows.append((f"{case}/{conv_id}", t, role, text, tool, ts))
    for t, (text, tool) in enumerate(HAND_TURNS):
        rows.append(("hand/conv-000000", t, "user", text, tool, None))
    return rows


# (family, seed, chunks, scale) for perfbench.inputs.make_chunk
PERFBENCH_CASES = [
    ("mix", 7, (0, 1, 2, 3), 0.01),
    ("mix", 101, (0, 1), 0.01),
    ("skew", 7, (0, 1), 0.005),
    ("skew", 101, (0,), 0.005),
]


def _perfbench_inputs():
    """The benchmark's input rows, conv_ids prefixed with their case; the
    chunks of one seed share the hot ``skew`` conversation."""
    from perfbench.inputs import make_chunk

    rows = []
    for family, seed, chunks, scale in PERFBENCH_CASES:
        for chunk in chunks:
            chunk_rows, _oracle = make_chunk(family, seed, chunk, scale)
            rows += [(f"{family}-{seed}/{r[0]}",) + tuple(r[1:]) for r in chunk_rows]
    return rows


FIXTURES = {FIXTURE: _inputs, PERFBENCH_FIXTURE: _perfbench_inputs}


def _records(spark, rows, repartition):
    """conv_id -> ordered per-turn records from ``extract_transcripts``."""
    from mistral_ocr_pipeline_spark.fixtures.gen import transcripts_schema
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts

    df = spark.createDataFrame(rows, schema=transcripts_schema())
    out = extract_transcripts(df, repartition=repartition)
    by_conv: dict[str, list[dict]] = {}
    for r in out.orderBy("conv_id", "turn_idx").collect():
        by_conv.setdefault(r.conv_id, []).append(
            {
                "turn_idx": r.turn_idx,
                "payload_kind": r.payload_kind,
                "extracted_text": r.extracted_text,
                "spans": [[s.start, s.end, s.kind, s.ref] for s in r.spans or []],
                "md": r.md,
                "error": r.error,
            }
        )
    return by_conv


def _digest(records: list[dict]) -> str:
    blob = json.dumps(records, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(spark, fixture, repartition):
    frozen = json.loads(fixture.read_text(encoding="utf-8"))
    rows = FIXTURES[fixture]()
    got = _records(spark, rows, repartition)
    assert sorted(got) == sorted(frozen), "conversation set changed"
    bad = [c for c in sorted(frozen) if _digest(got[c]) != frozen[c]]
    for conv_id in bad:
        print(f"--- {conv_id}: digest mismatch")
        inputs = {r[1]: r for r in rows if r[0] == conv_id}
        for rec in got[conv_id]:
            _, t, role, text, tool, ts = inputs[rec["turn_idx"]]
            print(json.dumps({"in": {"text": text, "tool": tool}, "out": rec},
                             ensure_ascii=False))
    assert not bad, f"{len(bad)} conversation(s) differ from the frozen digests: {bad}"


@pytest.mark.parametrize("repartition", [True, False])
def test_extraction_matches_frozen_digests(spark, repartition):
    _check(spark, FIXTURE, repartition)


@pytest.mark.parametrize("repartition", [True, False])
def test_perfbench_families_match_frozen_digests(spark, repartition):
    _check(spark, PERFBENCH_FIXTURE, repartition)


def _write_fixtures() -> None:
    missing = [f for f in FIXTURES if not f.exists()]
    if not missing:
        sys.exit("every fixture exists; the digests are frozen, delete one by hand")
    from mistral_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app_name="freeze-digests", cores=2, shuffle_partitions=4)
    try:
        for fixture in missing:
            got = _records(spark, FIXTURES[fixture](), repartition=False)
            fixture.parent.mkdir(exist_ok=True)
            fixture.write_text(
                json.dumps({c: _digest(r) for c, r in sorted(got.items())}, indent=1)
                + "\n",
                encoding="utf-8",
            )
            print(f"wrote {len(got)} digests to {fixture}")
    finally:
        spark.stop()


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_frozen_digests.py --write")
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    _write_fixtures()
