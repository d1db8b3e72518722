"""Property-based invariants of the extraction contract (pure Python, no
Spark): on ANY input, the dispatcher never raises, spans index correctly
into extracted_text, normalization is idempotent, and extraction is
deterministic."""

import json
import string

from hypothesis import example, given, settings, strategies as st

from mistral_ocr_pipeline_spark.extractors.blocks import REDACTED
from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn
from mistral_ocr_pipeline_spark.extractors.textnorm import (
    collapse_ws,
    normalize_plain,
)

text_strategy = st.one_of(
    st.none(),
    st.text(max_size=400),
    st.text(
        alphabet=string.ascii_letters + string.digits + " <>/=\"'&;#\n\t-.",
        max_size=600,
    ),
)
tool_strategy = st.one_of(
    st.none(),
    st.text(max_size=120),
    st.builds(
        lambda pages: json.dumps({"kind": "pdf_layout", "pages": pages}),
        st.lists(
            st.fixed_dictionaries(
                {
                    "width": st.just(612.0),
                    "height": st.just(792.0),
                    "blocks": st.lists(
                        st.fixed_dictionaries(
                            {
                                "type": st.sampled_from([0, 1]),
                                "bbox": st.just([50.0, 50.0, 300.0, 300.0]),
                                "lines": st.lists(
                                    st.fixed_dictionaries(
                                        {
                                            "bbox": st.just([50.0, 60.0, 300.0, 72.0]),
                                            "spans": st.lists(
                                                st.fixed_dictionaries(
                                                    {
                                                        "text": st.text(max_size=60),
                                                        "size": st.floats(
                                                            1.0, 30.0,
                                                            allow_nan=False,
                                                        ),
                                                        "bbox": st.just(
                                                            [50.0, 60.0, 300.0, 72.0]
                                                        ),
                                                    }
                                                ),
                                                max_size=3,
                                            ),
                                        }
                                    ),
                                    max_size=4,
                                ),
                            }
                        ),
                        max_size=3,
                    ),
                }
            ),
            max_size=3,
        ),
    ),
)


@settings(max_examples=300, deadline=None)
@given(text=text_strategy, tool=tool_strategy)
def test_extract_turn_total_and_consistent(text, tool):
    rec = extract_turn(text, tool)  # must never raise
    assert rec["payload_kind"] in {"plain", "html", "pdf_layout", "empty", "error"}
    if rec["payload_kind"] == "error":
        assert rec["error"]
        assert rec["extracted_text"] is None
    else:
        assert rec["error"] is None
        t = rec["extracted_text"]
        assert t is not None
        # spans index into extracted_text, non-overlapping ascending starts
        prev_end = -1
        for (s, e, kind, ref) in rec["spans"]:
            assert 0 <= s <= e <= len(t), (s, e, len(t))
            assert kind in {"heading", "paragraph", "figure", "table", "redacted"}
            if kind != REDACTED:
                assert s >= prev_end - 0  # blocks emitted in order
                prev_end = e
    # determinism
    assert extract_turn(text, tool) == rec


@settings(max_examples=300, deadline=None)
@given(s=st.text(max_size=300))
def test_normalize_plain_idempotent(s):
    once = normalize_plain(s)
    assert normalize_plain(once) == once
    assert collapse_ws(collapse_ws(s)) == collapse_ws(s)
    # collapsed output has no ASCII-whitespace runs and no edge spaces
    assert "  " not in once and "\t" not in once and "\n" not in once
    assert once == once.strip(" ")


_TAGS = ["p", "div", "a", "b", "img", "nav", "table", "tr", "td", "script",
         "style", "h2", "ul", "li", "br", "svg", "template"]
#   Quote characters ARE in the free-text alphabet: unbalanced quotes inside
#   a tag (e.g. '<b x="a>') take html.parser down its junk-characters /
#   incomplete-start-tag recovery.  The sampled fragments spell the markup
#   the scanner must hand to html.parser: end tags with junk or a \v before
#   the '>', tolerant attributes, unterminated constructs and stray '<'.
_FRAGMENTS = st.one_of(
    st.text(alphabet="ab<>&; #x/!=.-\n\t\"'", max_size=14),
    st.sampled_from(
        ["&amp;", "&lt;", "&#65;", "&nbsp;", "&bogus;", "<!-- c -->", "<!--",
         "<!DOCTYPE html>", "<![CDATA[x]]>", "<![if x]>", "<![x]>", "<?pi?>",
         '<img src="i.png" alt="a&amp;b">', "<img src=bare alt=plain/>",
         "</style foo>", "</script >", "</p\v>", "<h2\v>", "<h2 hidden/>",
         "<a href=mailto:x@y.com>", '<div class="a"id="b">', "<p @click=x>",
         "</", "</3>", "< p>", "<"]
    ),
    st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"<{t.upper()} class='x'>"),
)


def _blocks_or_error(doc, tokenizer):
    from mistral_ocr_pipeline_spark.extractors.html_extract import (
        extract_html_blocks,
    )

    try:
        return extract_html_blocks(doc, tokenizer=tokenizer)
    except Exception as e:  # html.parser rejects some marked sections
        return f"{type(e).__name__}: {e}"


@settings(max_examples=400, deadline=None)
@given(parts=st.lists(_FRAGMENTS, max_size=24))
@example(parts=["<p>a</p><style>x</style foo>visible text here</p>"])
@example(parts=["<p>a", "<"])
def test_fast_tokenizer_matches_stdlib(parts):
    """The regex scanner and html.parser must produce identical block
    lists (or the same error) on arbitrary well- and mal-formed markup."""
    doc = "".join(parts)
    assert _blocks_or_error(doc, "fast") == _blocks_or_error(doc, "stdlib")


# --- batch path == per-row path ---------------------------------------------
# ``plans.extract_pipeline._extract_one`` computes tool-less blank and
# ``<``-free turns as Arrow columns and sends the rest through
# ``extract_turn``; its output batch must equal the one built from
# ``extract_turn`` on every row, in input order.

_WS_TEXT = st.text(alphabet=" \t\n\v\f\r", max_size=8)  # includes ""
_NBSP_TEXT = st.text(alphabet="\u00a0 \v", min_size=1, max_size=6).map(
    lambda s: s + "\u00a0"
)
_UNICODE_TEXT = st.text(  # decomposed, precomposed + combining, stacked marks
    alphabet="aeAx \t\v\f\u00a0\u00e9\u00c5\u212b\u0301\u0300\u030a\u0308\u3000",
    min_size=1,
    max_size=30,
)
_LT_TEXT = st.one_of(
    st.sampled_from(
        ["<p>a\vb</p>", "<div>cafe\u0301 \u00a0x</div>", "x < y", "a<b",
         "<notatag>", "<", "  <p>\f</p>  ", "<h1>T\u0301\v</h1><p>b</p>"]
    ),
    st.text(alphabet="<>/pdiv \n\v\u00e9\u0301", min_size=1, max_size=30).map(
        lambda s: "<" + s
    ),
)
_FAST_TEXT = st.one_of(
    st.none(), _WS_TEXT, _NBSP_TEXT, _UNICODE_TEXT,
    st.text(max_size=60).filter(lambda s: "<" not in s),
)
_TOOL = st.one_of(
    st.sampled_from(
        ["", " \t", "[}", "garbage{", '{"kind": "other"}', "null", "  {\"kind\""]
    ),
    st.text(max_size=20),
    st.just(json.dumps({"kind": "pdf_layout", "pages": [{
        "width": 612.0, "height": 792.0, "blocks": [{
            "type": 0, "bbox": [50.0, 50.0, 300.0, 300.0], "lines": [{
                "bbox": [50.0, 60.0, 300.0, 72.0], "spans": [{
                    "text": "Intro\vduction cafe\u0301", "size": 10.0,
                    "bbox": [50.0, 60.0, 300.0, 72.0]}]}]}]}]})),
)
_FAST_ROW = st.tuples(_FAST_TEXT, st.none())
_SLOW_ROW = st.one_of(
    st.tuples(st.one_of(_FAST_TEXT, _LT_TEXT), _TOOL),
    st.tuples(_LT_TEXT, st.none()),
)


def _batch(rows):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from mistral_ocr_pipeline_spark.fixtures.gen import transcripts_schema

    schema = to_arrow_schema(transcripts_schema())
    n = len(rows)
    cols = {
        "conv_id": [f"c{i % 3}" for i in range(n)],
        "turn_idx": list(range(n)),
        "role": ["user", None, "tool"] * (n // 3) + ["user", None][: n % 3],
        "text": [r[0] for r in rows],
        "tool": [r[1] for r in rows],
        "ts": [None] * n,
    }
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], f.type) for f in schema], schema=schema
    )


def _assert_batch_equals_per_row(rows):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        EXTRACT_OUTPUT_SCHEMA,
        _extract_one,
    )

    batch = _batch(rows)
    recs = [extract_turn(text, tool) for text, tool in rows]
    expected = pa.RecordBatch.from_arrays(
        [
            batch[f.name] if f.name in batch.schema.names
            else pa.array([r[f.name] for r in recs], f.type)
            for f in to_arrow_schema(EXTRACT_OUTPUT_SCHEMA)
        ],
        names=EXTRACT_OUTPUT_SCHEMA.names,
    )
    got = _extract_one(batch)
    assert got.schema == expected.schema
    assert got.equals(expected), [
        (row, g, e)
        for row, g, e in zip(rows, got.to_pylist(), expected.to_pylist())
        if g != e
    ]


@settings(max_examples=300, deadline=None)
@given(rows=st.lists(st.one_of(_FAST_ROW, _SLOW_ROW), max_size=40))
def test_batch_path_matches_per_row_mixed(rows):
    _assert_batch_equals_per_row(rows)


@settings(max_examples=200, deadline=None)
@given(rows=st.lists(_FAST_ROW, min_size=1, max_size=40))
def test_batch_path_matches_per_row_all_fast(rows):
    _assert_batch_equals_per_row(rows)


@settings(max_examples=100, deadline=None)
@given(rows=st.lists(_SLOW_ROW, min_size=1, max_size=20))
def test_batch_path_matches_per_row_no_fast(rows):
    _assert_batch_equals_per_row(rows)


def test_batch_path_matches_per_row_explicit():
    _assert_batch_equals_per_row([])
    fast = [(None, None), ("", None), ("\v\f \r\n\t", None), ("\u00a0", None),
            ("a\vb  c\t", None), ("cafe\u0301 caf\u00e9\u0301", None),
            ("\u212b x\u3000 y", None)]
    slow = [("<p>a</p>", None), ("a < b", None), ("t", ""), ("t", "[}"),
            (None, " "), ("x", '{"kind": "other"}')]
    _assert_batch_equals_per_row(fast)
    _assert_batch_equals_per_row(slow)
    _assert_batch_equals_per_row([r for pair in zip(fast, slow) for r in pair])
    _assert_batch_equals_per_row(slow[:2] + fast + slow[2:])


def test_deep_tool_payload_is_one_error_row():
    """json's scanner recurses once per nesting level: a tool payload nested
    past the recursion limit, closed or not, is one error row, never a
    RecursionError out of the task."""
    deep = [("x", "[" * 5000 + "]" * 5000), ("x", "[" * 100_000)]
    for text, tool in deep:
        rec = extract_turn(text, tool)
        assert rec["payload_kind"] == "error"
        assert rec["error"].startswith("invalid tool payload: RecursionError: ")
    _assert_batch_equals_per_row(deep)
