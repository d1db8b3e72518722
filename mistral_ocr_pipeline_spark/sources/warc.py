"""WARC record parsing and CDX indexing as Catalyst expressions — the
Common Crawl ingest surface.

A WARC file is a sequence of records, each ``headers CRLF CRLF body
CRLF CRLF`` with the body length given by the ``Content-Length`` header
(ISO 28500).  The framing is BYTE-based; this module's contract is the
standard single-byte trick: the file is decoded **latin-1** into the
string column (a byte↔char bijection), so char arithmetic here IS byte
arithmetic and offsets/lengths in the output are true byte values.

The record walk is sequential by construction (each record's start is
derived from the previous record's Content-Length), which is exactly
the shape a single ``F.aggregate`` fold handles map-only: per-FILE
state (cursor position, accumulated record frames) rides the
accumulator struct, zero shuffle, zero UDF — files parallelize across
the corpus, records within a file are a cheap linear scan, the same
trade Common Crawl's own tooling makes.  Malformed framing (missing
header terminator, unparseable Content-Length, body running past EOF)
emits the offending record flagged ``truncated`` and STOPS the walk —
without byte framing there is no safe resync point, and silently
skipping bytes would corrupt every later offset.

`cdx_index` derives the classic CDX lookup columns (url, file, byte
offset, record length, body digest) from response records — the index
a refetch-free corpus reprocessor or a wayback-style reader actually
serves from; `warc_pages` runs the same records' HTTP payloads through
the extraction stage (the batch and streaming ingests both use it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts

_SEP = r"\r\n\r\n"
_FRAME_T = "array<struct<off:int,hend:int,clen:int>>"


def parse_warc_records(
    df: DataFrame,
    id_col: str = "file_id",
    warc_col: str = "warc",
    max_records: int = 4096,
    keep_body: bool = False,
) -> DataFrame:
    """(file_id, rec_idx, offset, warc_type, target_uri, content_length,
    digest, truncated) per record, in file order.  ``offset`` is the
    0-based byte offset of the record start (the CDX convention);
    ``digest`` is md5 of the exact body slice.  ``keep_body`` adds the
    raw body column (the downstream-extraction feed — off by default so
    the index/dedup shapes never carry payload bytes through their
    shuffles).  ``max_records`` bounds the fold (a backstop far above
    real per-file record counts — Common Crawl WARCs hold a few
    thousand)."""
    step = (
        "CASE WHEN acc.pos > length(_w) THEN acc ELSE "
        "named_struct("
        f"  'pos', CASE WHEN {_hend('acc.pos')} = 0 "
        f"              OR {_clen('acc.pos')} IS NULL "
        "              THEN length(_w) + 1 "
        f"              ELSE {_hend('acc.pos')} + 4 + {_clen('acc.pos')} + 4 "
        "              END, "
        "  'recs', concat(acc.recs, array(named_struct("
        "    'off', acc.pos, "
        f"    'hend', {_hend('acc.pos')}, "
        f"    'clen', {_clen('acc.pos')})))) END"
    )
    fold = (
        f"aggregate(sequence(1, {max_records}), "
        f"named_struct('pos', 1, 'recs', cast(array() as {_FRAME_T})), "
        f"(acc, i) -> {step}, "
        "acc -> acc.recs)"
    )

    t = df.select(
        F.col(id_col).alias("file_id"), F.col(warc_col).alias("_w")
    ).filter(F.length("_w") > 0)
    recs = t.select(
        "file_id", "_w", F.posexplode(F.expr(fold)).alias("p", "r")
    )
    hdr = (
        "substring(_w, r.off, CASE WHEN r.hend = 0 THEN length(_w) "
        "ELSE r.hend - r.off END)"
    )
    body = "substring(_w, r.hend + 4, r.clen)"
    return recs.select(
        "file_id",
        F.col("p").cast("int").alias("rec_idx"),
        (F.col("r.off") - 1).cast("long").alias("offset"),
        F.expr(
            f"nullif(regexp_extract({hdr}, '{_header('WARC-Type')}', 1), '')"
        ).alias("warc_type"),
        F.expr(
            f"nullif(regexp_extract({hdr}, '{_header('WARC-Target-URI')}', 1), '')"
        ).alias("target_uri"),
        F.col("r.clen").cast("long").alias("content_length"),
        F.expr(
            "CASE WHEN r.hend = 0 OR r.clen IS NULL THEN NULL "
            f"ELSE md5({body}) END"
        ).alias("digest"),
        F.expr(
            "r.hend = 0 OR r.clen IS NULL "
            "OR r.hend + 3 + r.clen > length(_w)"
        ).alias("truncated"),
        *(
            [
                F.expr(
                    "CASE WHEN r.hend = 0 OR r.clen IS NULL THEN NULL "
                    f"ELSE {body} END"
                ).alias("body")
            ]
            if keep_body
            else []
        ),
    )


def _hend(pos: str) -> str:
    return f"locate('{_SEP}', _w, {pos})"


def _header(name: str, value: str = "[^\\r\\n]+") -> str:
    """Java regex (inside a SQL string literal) capturing one header's
    value.  Header names are case-insensitive (ISO 28500), and the name
    must start a line, so ``X-Content-Length`` is not ``Content-Length``.
    ``d`` (UNIX_LINES) makes LF the only line end: a latin-1 ``0x85`` byte
    in a header value does not start a line.  The blanks after the colon
    are ``[ \\t]``, not ``\\s``, so an empty value never reads the next
    line."""
    return f"(?imd)^{name}:[ \\t]*({value})"


def _clen(pos: str) -> str:
    return (
        "try_cast(nullif(regexp_extract(substring(_w, "
        f"{pos}, CASE WHEN {_hend(pos)} = 0 THEN length(_w) "
        f"ELSE {_hend(pos)} - {pos} END), "
        f"'{_header('Content-Length', '[0-9]+')}', 1), '') as int)"
    )


def cdx_index(records: DataFrame) -> DataFrame:
    """CDX lookup rows from parsed records: one row per intact
    ``response`` record — (target_uri, file_id, offset, length,
    digest).  Sorting/sharding is the caller's layout choice (CDX files
    are SURT-sorted; `layout_zorder`/`sample_shard_order` provide the
    engine's ordering primitives)."""
    return records.filter(
        (F.col("warc_type") == "response") & ~F.col("truncated")
    ).select(
        "target_uri",
        "file_id",
        "offset",
        F.col("content_length").alias("length"),
        "digest",
    )


def warc_pages(records: DataFrame) -> DataFrame:
    """Extracted pages from parsed records (``keep_body=True``): one row
    per intact ``response`` record — (file_id, rec_idx, payload_kind,
    extracted_text, md, error, target_uri).  The HTTP headers are cut at
    the first blank line and the payload runs through
    `extract_transcripts` as a one-turn conversation keyed
    ``file_id || '#' || rec_idx``; the result joins back on that key, so
    ``file_id`` keeps its own type (a WARC filename as well as a number)."""
    resp = records.filter(
        (F.col("warc_type") == "response") & ~F.col("truncated")
    ).select(
        F.concat(
            F.col("file_id").cast("string"),
            F.lit("#"),
            F.col("rec_idx").cast("string"),
        ).alias("conv_id"),
        "file_id",
        "rec_idx",
        "target_uri",
        F.expr(
            "CASE WHEN locate('\\r\\n\\r\\n', body) = 0 THEN body "
            "ELSE substring(body, locate('\\r\\n\\r\\n', body) + 4) END"
        ).alias("payload"),
    )
    turns = resp.select(
        "conv_id",
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("payload").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    return (
        extract_transcripts(turns)
        .join(resp.select("conv_id", "file_id", "rec_idx", "target_uri"), "conv_id")
        .select(
            "file_id", "rec_idx", "payload_kind", "extracted_text", "md",
            "error", "target_uri",
        )
    )


def write_warc_records(
    df: DataFrame,
    file_col: str,
    uri_col: str,
    body_col: str,
    order_col: str,
    type_col: str | None = None,
) -> DataFrame:
    """The WRITER half: format (file, uri, body) rows into WARC files —
    one ``(file_id, warc)`` row per file, records in ``order_col``
    order, each framed ``headers CRLF CRLF body CRLF CRLF`` with
    Content-Length = the body's length under the module's latin-1
    byte↔char contract.  ``parse_warc_records(write_warc_records(x))``
    recovers every record with byte-exact bodies and correct offsets
    (the inverse property pinned in tests/test_warc.py) — which is what
    lets a curation pipeline re-emit cleaned corpora in the archive
    format crawlers and CDX readers already speak.  One ordered
    string_agg per file; the per-record format is pure concat."""
    crlf = "\r\n"
    typ = (
        F.col(type_col) if type_col is not None else F.lit("response")
    )
    body = F.coalesce(F.col(body_col), F.lit(""))
    rec = F.concat(
        F.lit(f"WARC/1.0{crlf}WARC-Type: "),
        typ,
        F.lit(f"{crlf}WARC-Target-URI: "),
        F.col(uri_col),
        F.lit(f"{crlf}Content-Length: "),
        F.length(body).cast("string"),
        F.lit(f"{crlf}{crlf}"),
        body,
        F.lit(f"{crlf}{crlf}"),
    )
    return (
        df.select(
            F.col(file_col).alias("file_id"),
            F.struct(F.col(order_col).alias("o"), rec.alias("rec")).alias(
                "p"
            ),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("p")),
                    lambda s: s.getField("rec"),
                ),
                "",
            ).alias("warc")
        )
    )
