"""Pure-Python extractor unit tests (no Spark) — the oracle's own contract.

Mirrors the reference test strategy (SURVEY.md §5): deterministic HTML
docs with boilerplate vs content, layout payloads exercising heading /
section-cut thresholds, unicode and malformed edge cases."""

import json

from mistral_ocr_pipeline_spark.extractors.dispatch import (
    KIND_EMPTY,
    KIND_ERROR,
    KIND_HTML,
    KIND_PDF,
    KIND_PLAIN,
    extract_turn,
)
from mistral_ocr_pipeline_spark.extractors.pdf_layout import (
    fuzzy_score,
    match_section,
)
from mistral_ocr_pipeline_spark.extractors.textnorm import (
    REFERENCES_HEADING_RE,
    is_numeric_string,
    normalize_plain,
)


class TestPlain:
    def test_ws_collapse_and_nfc(self):
        rec = extract_turn("  hello \r\n\t world  ", None)
        assert rec["payload_kind"] == KIND_PLAIN
        assert rec["extracted_text"] == "hello world"
        assert rec["spans"] == [(0, 11, "paragraph", "")]
        assert rec["md"] == "hello world"

    def test_nfd_composes(self):
        # "café" with decomposed accent must normalize to composed form
        decomposed = "café"
        rec = extract_turn(decomposed, None)
        assert rec["extracted_text"] == "café"

    def test_empty_variants(self):
        for payload in ("", None, "   \t\r\n "):
            rec = extract_turn(payload, None)
            assert rec["payload_kind"] == KIND_EMPTY
            assert rec["extracted_text"] == ""
            assert rec["spans"] == []
            assert rec["error"] is None


class TestHtml:
    DOC = (
        "<html><head><style>p{}</style><script>x=1</script></head><body>"
        "<nav><a href='/a'>Home</a> <a href='/b'>About</a></nav>"
        "<header><p>Site tagline boilerplate</p></header>"
        "<h1>Real Title</h1>"
        "<p>This is the main content paragraph with enough words to keep.</p>"
        "<p><a href='/x'>link</a> <a href='/y'>farm</a> <a href='/z'>menu</a></p>"
        "<img src='f1.png' alt='A figure caption'>"
        "<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td></tr></table>"
        "<aside><ul><li><a href='/r1'>Related junk one</a></li></ul></aside>"
        "<footer><p>© 2024 — legal</p></footer>"
        "</body></html>"
    )

    def test_boilerplate_stripped(self):
        rec = extract_turn(self.DOC, None)
        assert rec["payload_kind"] == KIND_HTML
        t = rec["extracted_text"]
        assert "Real Title" in t
        assert "main content paragraph" in t
        for junk in ("Home", "tagline", "farm", "Related junk", "legal"):
            assert junk not in t, junk

    def test_spans_and_md(self):
        rec = extract_turn(self.DOC, None)
        kinds = [s[2] for s in rec["spans"]]
        assert kinds == ["heading", "paragraph", "figure", "table"]
        # span offsets index into extracted_text
        t = rec["extracted_text"]
        h = rec["spans"][0]
        assert t[h[0]: h[1]] == "Real Title"
        fig = rec["spans"][2]
        assert fig[3] == "f1.png"
        assert t[fig[0]: fig[1]] == "A figure caption"
        assert rec["md"].startswith("# Real Title")
        assert "![A figure caption](f1.png)" in rec["md"]
        assert "k | v" in t and "a | 1" in t

    def test_entities_decoded(self):
        rec = extract_turn(
            "<div><p>Tom &amp; Jerry &#8212; forever and always more words</p></div>",
            None,
        )
        assert "Tom & Jerry — forever" in rec["extracted_text"]

    def test_truncated_html_no_crash(self):
        rec = extract_turn("<div><p>truncated with <b>bold", None)
        assert rec["payload_kind"] == KIND_HTML
        assert rec["error"] is None

    def test_unterminated_quoted_tag_is_linear(self):
        # r01 fast tokenizer: the attr-blob pattern was ambiguous on quote
        # chars — an unclosed start tag with N quotes backtracked in
        # O(2^N) (one bad document could pin an executor core).  The
        # strict/tolerant split must stay linear AND stdlib-identical.
        import time

        from mistral_ocr_pipeline_spark.extractors.html_extract import (
            extract_html_blocks,
        )

        doc = '<a ' + '"' * 2000 + " tail text with enough words to keep"
        t0 = time.perf_counter()
        fast = extract_html_blocks(doc, tokenizer="fast")
        assert time.perf_counter() - t0 < 1.0
        assert fast == extract_html_blocks(doc, tokenizer="stdlib")

    def test_malformed_start_tags_match_stdlib(self):
        # junk-in-tag / unterminated-quote recovery paths, which the fast
        # scanner leaves to html.parser's parse_starttag
        from mistral_ocr_pipeline_spark.extractors.html_extract import (
            extract_html_blocks,
        )

        cases = [
            '<p>hello <a href="u>v world</p>',  # '>' inside unclosed quote
            '<a ="v">junk attr data here',      # attrfind stall -> data
            '<a href="x',                        # EOF inside quoted value
            '<a "x>y"z',                         # quote as attr-name char
            "<a b==v>double equals text",        # '=+' bare value
            "<a /junk>slash junk text here",
        ]
        for doc in cases:
            assert extract_html_blocks(doc, tokenizer="fast") == (
                extract_html_blocks(doc, tokenizer="stdlib")
            ), doc


def _line(text, size, x0, y0):
    return {
        "bbox": [x0, y0, x0 + 200, y0 + size + 2],
        "spans": [{"text": text, "size": size, "bbox": [x0, y0, x0 + 200, y0 + size + 2]}],
    }


def _page(lines_per_block, width=612.0):
    blocks = []
    for x0, lines in lines_per_block:
        y0 = min(ln["bbox"][1] for ln in lines)
        y1 = max(ln["bbox"][3] for ln in lines)
        blocks.append({"type": 0, "bbox": [x0, y0, x0 + 220, y1], "lines": lines})
    return {"width": width, "height": 792.0, "blocks": blocks}


class TestPdfLayout:
    def test_fuzzy_scorer(self):
        assert fuzzy_score("References", "references") == 100.0
        assert fuzzy_score("References:", "references") >= 90.0
        assert match_section("Refernces")[0] == "refs"  # misspelled
        assert match_section("ACKNOWLEDGMENT")[0] == "ack"
        assert match_section("Patient outcomes at followup")[0] is None
        # token_set_ratio leg: word reorderings score 100 (reference takes
        # max of ratio/partial_ratio/token_set_ratio)
        assert fuzzy_score("Methods and Materials", "materials and methods") == 100.0
        assert match_section("Methods and Materials")[0] == "methods"
        assert fuzzy_score("methods materials and", "materials and methods") == 100.0
        # reordering with one misspelled token still clears the 70 gate
        assert fuzzy_score("Methods and Materails", "materials and methods") >= 70.0

    def test_refs_tail_dropped_heading_kept_content(self):
        p0 = _page([(72, [_line("Title Of Paper", 14.0, 72, 60),
                          _line("Body line one of the paper.", 10.0, 72, 90),
                          _line("Body line two continues here.", 10.0, 72, 103)])])
        p1 = _page([(72, [_line("More body text on page two.", 10.0, 72, 60),
                          _line("References", 12.5, 72, 200),
                          _line("[1] Some citation 2020.", 10.0, 72, 226)])])
        payload = {"kind": "pdf_layout", "pages": [p0, p1]}
        rec = extract_turn(None, json.dumps(payload))
        assert rec["payload_kind"] == KIND_PDF
        t = rec["extracted_text"]
        assert "Body line one" in t
        assert "More body text" in t
        assert "Some citation" not in t
        assert "References" not in t
        # mid-page cut on page 1 → redaction marker span
        red = [s for s in rec["spans"] if s[2] == "redacted"]
        assert red and red[0][3] == "refs" and red[0][0] == red[0][1]

    def test_first_page_protected(self):
        # refs heading on page 0 must NOT drop page-0 content
        p0 = _page([(72, [_line("References", 12.5, 72, 60),
                          _line("[1] cite.", 10.0, 72, 90)])])
        payload = {"kind": "pdf_layout", "pages": [p0]}
        rec = extract_turn(None, json.dumps(payload))
        assert "cite" in rec["extracted_text"]

    def test_intro_dropped_only_with_methods(self):
        def doc(with_methods):
            p1_lines = [_line("Introduction", 12.5, 72, 60),
                        _line("Intro body to drop.", 10.0, 72, 90)]
            if with_methods:
                p1_lines += [_line("Methods", 12.5, 72, 140),
                             _line("Methods body kept.", 10.0, 72, 170)]
            return {"kind": "pdf_layout",
                    "pages": [_page([(72, [_line("Page zero.", 10.0, 72, 60)])]),
                              _page([(72, p1_lines)])]}

        with_m = extract_turn(None, json.dumps(doc(True)))["extracted_text"]
        assert "Intro body" not in with_m and "Methods body kept" in with_m
        without_m = extract_turn(None, json.dumps(doc(False)))["extracted_text"]
        assert "Intro body" in without_m  # guarded: no methods → keep intro

    def test_outline_wins_over_layout(self):
        # outline says refs start on page 1; layout heading says page 2
        pages = [
            _page([(72, [_line("Body page zero.", 10.0, 72, 60)])]),
            _page([(72, [_line("Kept? No - outline cuts here.", 10.0, 72, 60)])]),
            _page([(72, [_line("References", 12.5, 72, 60),
                         _line("[1] citation.", 10.0, 72, 90)])]),
        ]
        payload = {"kind": "pdf_layout", "pages": pages,
                   "outline": [[1, "References", 1]]}
        rec = extract_turn(None, json.dumps(payload))
        t = rec["extracted_text"]
        assert "Body page zero" in t
        assert "outline cuts here" not in t and "citation" not in t

    def test_two_column_xy_cut_order(self):
        left = [_line("Left col first line.", 10.0, 50, 60),
                _line("Left col second line.", 10.0, 50, 73)]
        right = [_line("Right col first line.", 10.0, 330, 60),
                 _line("Right col second line.", 10.0, 330, 73)]
        payload = {"kind": "pdf_layout",
                   "pages": [_page([(50, left), (330, right)])]}
        t = extract_turn(None, json.dumps(payload))["extracted_text"]
        assert t.index("Left col second") < t.index("Right col first")

    def test_invalid_tool_json_is_error_row(self):
        rec = extract_turn("text present", '{"kind": "pdf_layout", "pages": [}')
        assert rec["payload_kind"] == KIND_ERROR
        assert rec["error"] and "invalid tool payload" in rec["error"]
        assert rec["extracted_text"] is None

    def test_non_layout_json_falls_through_to_text(self):
        rec = extract_turn("some plain words here", json.dumps({"kind": "other"}))
        assert rec["payload_kind"] == KIND_PLAIN
        assert rec["extracted_text"] == "some plain words here"

    def test_payload_repair_trailing_garbage(self):
        # S3 repair pass 1: valid JSON followed by junk bytes must parse
        good = json.dumps({"kind": "other", "v": 1})
        rec = extract_turn("plain fallback text", good + "\x00corrupt tail")
        assert rec["payload_kind"] == KIND_PLAIN  # payload parsed, non-layout

    def test_payload_repair_truncated_layout(self):
        # S3 repair pass 2: a layout payload cut off mid-structure is
        # completed (closers appended) and extracts instead of erroring
        import json as _json

        payload = _json.dumps(
            {
                "kind": "pdf_layout",
                "pages": [
                    {
                        "width": 612.0,
                        "height": 792.0,
                        "blocks": [
                            {
                                "type": 0,
                                "bbox": [50, 50, 560, 700],
                                "lines": [
                                    _line("Recovered body line of text.", 10.0, 72, 90)
                                ],
                            }
                        ],
                    }
                ],
            }
        )
        truncated = payload[: payload.rindex("}]}]}")]  # chop the closers
        rec = extract_turn(None, truncated)
        assert rec["payload_kind"] == KIND_PDF
        assert "Recovered body line" in rec["extracted_text"]

    def test_payload_repair_rejects_corrupt(self):
        # mismatched closer is corruption, not truncation: stays an error
        rec = extract_turn(None, '{"kind": "pdf_layout", "pages": [}')
        assert rec["payload_kind"] == KIND_ERROR


class TestScalars:
    def test_references_regex(self):
        assert REFERENCES_HEADING_RE.search("text\nReferences\nmore")
        assert REFERENCES_HEADING_RE.search("  BIBLIOGRAPHY: ")
        assert REFERENCES_HEADING_RE.search("Works  cited")
        assert not REFERENCES_HEADING_RE.search("references to prior work")

    def test_numeric_string_predicate(self):
        assert is_numeric_string(" 42 ")
        assert is_numeric_string("-3.14")
        assert is_numeric_string("1e-5")
        assert not is_numeric_string("J. Clin. Med.")
        assert not is_numeric_string(None)

    def test_normalize_plain_sql_equivalence(self):
        """normalize_plain must stay expressible as the DuckDB oracle
        trim(regexp_replace(nfc_normalize(x), '\\s+', ' ', 'g'))."""
        import duckdb

        samples = [
            "  hello \r\n world ", "café  x", "a b", "日本\t語",
        ]
        for s in samples:
            got = duckdb.sql(
                "select trim(regexp_replace(nfc_normalize(?), '\\s+', ' ', 'g'))",
                params=[s],
            ).fetchone()[0]
            assert got == normalize_plain(s), repr(s)

    def test_norm_twin_matches_normalize_plain(self):
        """The registry's DuckDB twin of the plain path (``_NORM``) agrees
        with ``normalize_plain`` on every ASCII whitespace character,
        including ``\\v``, which RE2's ``\\s`` does not match, and on the
        Unicode cases it must leave alone or compose."""
        import duckdb

        from mistral_ocr_pipeline_spark.plans.entry_queries import _NORM

        samples = [
            "a\x0bb c", "\x0b", " x\x0b", "a\x0cb", "line\r\nnext\r\n",
            "tab\there\x0b\x0c\r\n end", "nb\u00a0sp \u00a0", "\u00a0",
            "cafe\u0301", "caf\u00e9\u0301", "\u212b A\u030a \u00c5\u030a",
            "  hello \r\n world ", "cafe\u0301  x", "a\u00a0b", "\u65e5\u672c\t\u8a9e",
        ]
        sql = "select " + _NORM.format(c="?")
        for s in samples:
            got = duckdb.sql(sql, params=[s]).fetchone()[0]
            assert got == normalize_plain(s), repr(s)

    def test_key_twin_matches_norm_key_col(self, spark):
        """The registry's DuckDB twin of the matching key (``_KEY``) agrees
        with its Spark side, ``norm_key_col``, on ``\\v`` (RE2's ``\\s``
        misses it), NBSP, Unicode letters and spaces, and punctuation."""
        import duckdb

        from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
        from mistral_ocr_pipeline_spark.plans.entry_queries import _KEY

        samples = [
            "a\x0bb c", "x\u00a0y ", "Caf\u00e9 \u00dcber", " a\t\r\n b \t ",
            "a_b/c-d!", "p\x1cq", "u\u2003v", "\x0b", "",
        ]
        df = spark.createDataFrame(list(enumerate(samples)), "i int, s string")
        keys = df.select("i", norm_key_col(df.s).alias("k")).collect()
        spark_side = {r.i: r.k for r in keys}
        sql = "select " + _KEY.format(c="?")
        for i, s in enumerate(samples):
            got = duckdb.sql(sql, params=[s]).fetchone()[0]
            assert got == spark_side[i], repr(s)


class TestAdversarialPipeline:
    def test_hostile_payloads_complete_quickly_in_spark(self, spark):
        """Adversarial documents through the FULL distributed path: the
        r01 tokenizer would pin a core ~forever on the quote bomb; the
        whole mixed batch must extract within a hard wall-clock bound and
        classify every row (no crash, no hang, no dropped rows)."""
        import json
        import time

        hostile = [
            ("q", '<a href="' + '"' * 5000),                   # quote bomb
            ("t", "<div><p>truncated " + "<b" * 2000),          # tag spam
            ("c", "<!--" + "x" * 100000),                       # unclosed comment
            ("j", None),
            ("p", "plain fine text " * 50),
        ]
        rows = [
            (k, 0, "user", text, None if k != "j" else None, None)
            for k, text in hostile
        ]
        # the malformed-JSON tool row exercises the repair-then-error path
        rows.append(("tool", 0, "tool", None, '{"kind": "pdf_layout", "pages": [}', None))
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
            extract_transcripts,
        )

        t0 = time.perf_counter()
        out = extract_transcripts(df).collect()
        # generous bound: this VM has multi-minute stall windows (see
        # bench protocol); the regression being guarded is O(2^5000)
        # backtracking, i.e. effectively infinite — not seconds-level noise
        assert time.perf_counter() - t0 < 180.0
        kinds = {r.conv_id: r.payload_kind for r in out}
        assert len(out) == 6
        assert kinds["tool"] == "error"
        assert kinds["p"] == "plain"
        assert all(k is not None for k in kinds.values())
        assert json.loads('"ok"') == "ok"  # keep json import honest
