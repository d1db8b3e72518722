"""WARC parsing (`sources/warc.py`): frame walk, malformed-frame stop,
byte-exact bodies, CDX derivation."""

from pyspark.sql import functions as F

from mistral_ocr_pipeline_spark.sources.warc import (
    cdx_index,
    parse_warc_records,
)

CRLF = "\r\n"


def _rec(typ, uri, body, clen=None):
    clen = len(body) if clen is None else clen
    return (
        f"WARC/1.0{CRLF}WARC-Type: {typ}{CRLF}WARC-Target-URI: {uri}{CRLF}"
        f"Content-Length: {clen}{CRLF}{CRLF}{body}{CRLF}{CRLF}"
    )


def _parse(spark, files, **kw):
    df = spark.createDataFrame(files, "file_id long, warc string")
    return sorted(
        parse_warc_records(df, **kw).collect(),
        key=lambda r: (r.file_id, r.rec_idx),
    )


def test_two_record_file_offsets_and_digest(spark):
    import hashlib

    b1, b2 = "hello body one", "second body with crlf\r\ninside it"
    w = _rec("response", "https://a/1", b1) + _rec("request", "https://a/2", b2)
    rows = _parse(spark, [(1, w)])
    assert len(rows) == 2
    r1, r2 = rows
    assert (r1.offset, r1.warc_type, r1.target_uri) == (
        0, "response", "https://a/1"
    )
    assert r1.content_length == len(b1)
    assert r1.digest == hashlib.md5(b1.encode()).hexdigest()
    assert not r1.truncated
    # record 2 starts exactly where record 1's framing says it does
    assert r2.offset == len(_rec("response", "https://a/1", b1))
    assert r2.digest == hashlib.md5(b2.encode()).hexdigest()
    # a body containing CRLF CRLF would break naive splitting; the
    # Content-Length walk is immune
    assert not r2.truncated


def test_body_containing_separator_is_not_resplit(spark):
    body = f"x{CRLF}{CRLF}y"  # contains the record separator
    w = _rec("response", "u1", body) + _rec("response", "u2", "tail")
    rows = _parse(spark, [(1, w)])
    assert [r.target_uri for r in rows] == ["u1", "u2"]
    assert rows[0].content_length == len(body)


def test_header_names_are_case_insensitive_and_line_anchored(spark):
    def rec(names, typ, uri, body):
        t, u, n = names
        return (
            f"WARC/1.0{CRLF}{t}: {typ}{CRLF}{u}: {uri}{CRLF}"
            f"{n}: {len(body)}{CRLF}{CRLF}{body}{CRLF}{CRLF}"
        )

    recs = [("response", "https://a/1", "first body"), ("request", "u2", "two")]
    spellings = [
        ("WARC-Type", "WARC-Target-URI", "Content-Length"),
        ("warc-type", "warc-target-uri", "content-length"),
        ("Warc-TYPE", "WARC-target-URI", "CONTENT-length"),
    ]
    files = [(i, "".join(rec(n, *r) for r in recs)) for i, n in enumerate(spellings)]
    by_file = {}
    for r in _parse(spark, files):
        by_file.setdefault(r.file_id, []).append(
            {k: v for k, v in r.asDict().items() if k != "file_id"}
        )
    canonical = by_file[0]
    assert [(r["warc_type"], r["target_uri"], r["truncated"]) for r in canonical] == [
        ("response", "https://a/1", False), ("request", "u2", False)
    ]
    assert by_file[1] == canonical and by_file[2] == canonical

    # an X- prefixed header is another header: it neither frames a record
    # nor names its type or target
    x_only = (
        f"WARC/1.0{CRLF}X-WARC-Type: response{CRLF}X-WARC-Target-URI: u{CRLF}"
        f"X-Content-Length: 4{CRLF}{CRLF}body{CRLF}{CRLF}"
    )
    x_first = (
        f"WARC/1.0{CRLF}X-Content-Length: 999{CRLF}Content-Length: 4{CRLF}"
        f"{CRLF}body{CRLF}{CRLF}"
    )
    (a,), (b,) = _parse(spark, [(7, x_only)]), _parse(spark, [(8, x_first)])
    assert (a.warc_type, a.target_uri, a.content_length) == (None, None, None)
    assert a.truncated
    assert b.content_length == 4 and not b.truncated


def test_malformed_length_stops_walk_with_flag(spark):
    # record 2 lies about its length (runs past EOF): flagged truncated,
    # walk stops — no fabricated record 3
    w = (
        _rec("response", "u1", "good body")
        + _rec("response", "u2", "short", clen=9999)
        + _rec("response", "u3", "never reached")
    )
    rows = _parse(spark, [(1, w)])
    assert len(rows) == 2
    assert not rows[0].truncated
    assert rows[1].truncated and rows[1].target_uri == "u2"


def test_missing_header_terminator_flags_and_stops(spark):
    w = _rec("response", "u1", "ok") + "WARC/1.0\r\nWARC-Type: response"
    rows = _parse(spark, [(1, w)])
    assert len(rows) == 2
    assert rows[1].truncated and rows[1].digest is None
    assert rows[1].content_length is None


def test_cdx_keeps_only_intact_responses(spark):
    w = (
        _rec("warcinfo", "u0", "meta")
        + _rec("response", "u1", "body a")
        + _rec("request", "u2", "GET /")
        + _rec("response", "u3", "body b")
    )
    df = spark.createDataFrame([(7, w)], "file_id long, warc string")
    rows = sorted(
        cdx_index(parse_warc_records(df)).collect(),
        key=lambda r: r.target_uri,
    )
    assert [r.target_uri for r in rows] == ["u1", "u3"]
    assert all(r.file_id == 7 and r.length > 0 for r in rows)


def test_empty_and_partition_invariance(spark):
    files = [(i, _rec("response", f"u{i}", f"body {i}") * 3) for i in range(20)]
    df = spark.createDataFrame(files, "file_id long, warc string")
    a = sorted(map(tuple, parse_warc_records(df).collect()))
    b = sorted(map(tuple, parse_warc_records(df.repartition(7)).collect()))
    assert a == b and len(a) == 60
    empty = spark.createDataFrame([(1, "")], "file_id long, warc string")
    assert parse_warc_records(empty).count() == 0


def test_warc_html_extract_end_to_end(spark):
    """Registry composite at sf0.001: every intact response page comes
    back as extracted text + markdown with its WARC target URI; request
    records never reach the extractor."""
    from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

    rows = QUERIES["warc_html_extract"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.doc_id % 7 != 0
        assert r.target_uri.endswith(f"/p/{r.doc_id}")
        assert r.extracted_text.startswith(f"Doc {r.doc_id}\n\n")
        assert r.md.startswith(f"# Doc {r.doc_id}\n\n")
        assert "boilerplate" not in r.extracted_text


def test_streaming_warc_ingest_exactly_once(spark, tmp_path):
    """Streaming twin (`streaming/warc.py`): two drains append CDX +
    extracted pages exactly once each; a drain with nothing new is a
    no-op; the accumulated CDX equals a one-shot parse of every file."""
    import pandas as pd

    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog
    from mistral_ocr_pipeline_spark.streaming.warc import run_warc_ingest

    def files(lo, hi):
        rows = []
        for i in range(lo, hi):
            body = (
                f"HTTP/1.1 200 OK{CRLF}{CRLF}"
                f"<html><body><h1>T{i}</h1><p>page body {i} words"
                "</p></body></html>"
            )
            rows.append((i, _rec("response", f"https://h/{i}", body)))
        return rows

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    catalog = TableCatalog(spark, str(tmp_path / "wh"))
    schema = "file_id long, warc string"

    all_rows = []
    for b, (lo, hi) in enumerate([(0, 5), (5, 12)]):
        rows = files(lo, hi)
        all_rows += rows
        pd.DataFrame(rows, columns=["file_id", "warc"]).to_parquet(
            input_dir / f"b{b}.parquet", index=False
        )
        run_warc_ingest(
            spark, str(input_dir), schema, catalog, ckpt, extract=True
        )

    cdx = sorted(r.target_uri for r in catalog.read("cdx").collect())
    assert cdx == sorted(f"https://h/{i}" for i in range(12))
    pages = {r.file_id: r for r in catalog.read("pages").collect()}
    assert len(pages) == 12
    assert pages[7].extracted_text.startswith("T7")
    assert pages[7].target_uri == "https://h/7"

    # one-shot twin
    from mistral_ocr_pipeline_spark.sources.warc import (
        cdx_index,
        parse_warc_records,
    )

    oneshot = cdx_index(
        parse_warc_records(spark.createDataFrame(all_rows, schema))
    )
    assert sorted(map(tuple, catalog.read("cdx").collect())) == sorted(
        map(tuple, oneshot.collect())
    )

    # replay no-op
    n = catalog.read("cdx").count()
    run_warc_ingest(
        spark, str(input_dir), schema, catalog, ckpt, extract=True
    )
    assert catalog.read("cdx").count() == n


def test_streaming_warc_pages_keep_string_file_ids(spark, tmp_path):
    """A non-numeric ``file_id`` (a WARC filename) survives extraction:
    the pages table holds one row per intact response, keyed by the
    original string id, not an empty join on a NULL cast."""
    import pandas as pd

    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog
    from mistral_ocr_pipeline_spark.streaming.warc import run_warc_ingest

    rows = []
    for i in range(3):
        body = (
            f"HTTP/1.1 200 OK{CRLF}{CRLF}"
            f"<html><body><h1>T{i}</h1><p>page body {i} words</p></body></html>"
        )
        rows.append((
            f"CC-MAIN-{i:05d}.warc.gz",
            _rec("response", f"https://h/{i}", body)
            + _rec("request", f"https://h/{i}", "GET /"),
        ))
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    pd.DataFrame(rows, columns=["file_id", "warc"]).to_parquet(
        input_dir / "b0.parquet", index=False
    )
    catalog = TableCatalog(spark, str(tmp_path / "wh"))
    run_warc_ingest(
        spark, str(input_dir), "file_id string, warc string", catalog,
        str(tmp_path / "ckpt"), extract=True,
    )
    pages = sorted(catalog.read("pages").collect(), key=lambda r: r.file_id)
    assert [(r.file_id, r.rec_idx, r.target_uri) for r in pages] == [
        (f"CC-MAIN-{i:05d}.warc.gz", 0, f"https://h/{i}") for i in range(3)
    ]
    assert [r.extracted_text.split("\n")[0] for r in pages] == ["T0", "T1", "T2"]


def test_warc_robots_roundtrip_equals_direct_parse(spark):
    """Registry composite: robots.txt rules recovered through the WARC
    archive equal the direct parse of the same payloads exactly."""
    from mistral_ocr_pipeline_spark.operators.robots import robots_txt_rules
    from mistral_ocr_pipeline_spark.plans.entry_queries import (
        _ROBOTS_TXT,
        QUERIES,
    )

    via_archive = sorted(
        map(tuple, QUERIES["warc_robots_rules"](
            spark, "/root/testdata/sf0.001"
        ).collect())
    )
    direct = sorted(
        map(tuple, robots_txt_rules(
            spark.createDataFrame(
                sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
            )
        ).collect())
    )
    assert via_archive == direct and len(direct) > 0


def test_warc_concatenation_shifts_offsets(spark):
    """Framing property: parsing the concatenation of two well-formed
    files yields A's records at their offsets followed by B's records
    shifted by len(A) — the walk never loses sync at a boundary."""
    a = _rec("response", "ua", "body a")
    b = _rec("response", "ub", "body bee") + _rec("request", "uc", "GET /")
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a + b)], "file_id long, warc string"
    )
    rows = {f: [] for f in (1, 2, 3)}
    for r in sorted(
        parse_warc_records(df).collect(), key=lambda r: (r.file_id, r.rec_idx)
    ):
        rows[r.file_id].append(r)
    combo = [(r.target_uri, r.offset, r.digest) for r in rows[3]]
    want = [(r.target_uri, r.offset, r.digest) for r in rows[1]] + [
        (r.target_uri, r.offset + len(a), r.digest) for r in rows[2]
    ]
    assert combo == want


def test_writer_parser_roundtrip_byte_exact(spark):
    """parse ∘ write is the identity on records: every body — including
    ones containing the record separator, bare CR/LF runs, and the
    empty string — comes back digest-exact with correct offsets, and a
    re-write of the parse is byte-identical to the original files."""
    import hashlib

    from mistral_ocr_pipeline_spark.sources.warc import write_warc_records

    rows = [
        (1, "https://a/0", "plain body", 0, "response"),
        (1, "https://a/1", f"tricky{CRLF}{CRLF}separator inside", 1, "response"),
        (1, "https://a/2", "", 2, "request"),
        (2, "https://b/0", "\r\r\n\n mixed newlines \r\n", 0, "response"),
        (2, "https://b/1", "x" * 500, 1, "warcinfo"),
    ]
    df = spark.createDataFrame(
        rows, "f long, uri string, body string, o int, typ string"
    )
    files = write_warc_records(df, "f", "uri", "body", "o", "typ")
    parsed = sorted(
        parse_warc_records(files, max_records=8, keep_body=True).collect(),
        key=lambda r: (r.file_id, r.rec_idx),
    )
    assert len(parsed) == len(rows)
    for r, (f, uri, body, o, typ) in zip(parsed, sorted(rows, key=lambda t: (t[0], t[3]))):
        assert (r.file_id, r.target_uri, r.warc_type) == (f, uri, typ)
        assert r.body == body and not r.truncated
        assert r.digest == hashlib.md5(body.encode()).hexdigest()
    # full-file identity: re-writing the parsed records reproduces the
    # original byte streams
    rewritten = write_warc_records(
        parse_warc_records(files, keep_body=True).select(
            "file_id", "target_uri", "body", "rec_idx", "warc_type"
        ),
        "file_id", "target_uri", "body", "rec_idx", "warc_type",
    )
    a = {r.file_id: r.warc for r in files.collect()}
    b = {r.file_id: r.warc for r in rewritten.collect()}
    assert a == b


def test_cdx_offsets_point_at_record_starts(spark):
    """CDX contract: seeking to `offset` in the decoded file lands on a
    'WARC/1.0' record header — the random-access guarantee wayback-style
    readers depend on."""
    files = [(i, _rec("response", f"u{i}a", f"alpha {i}")
              + _rec("response", f"u{i}b", f"beta {i * i} longer body"))
             for i in range(6)]
    df = spark.createDataFrame(files, "file_id long, warc string")
    from mistral_ocr_pipeline_spark.sources.warc import cdx_index

    warc_by_file = dict(files)
    for r in cdx_index(parse_warc_records(df)).collect():
        w = warc_by_file[r.file_id]
        assert w[r.offset : r.offset + 8] == "WARC/1.0", (r.file_id, r.offset)
