"""Driver-contract queries: every implemented operator from SURVEY.md §2
exposed as a (spark, sf_dir) → DataFrame callable, with a DuckDB oracle SQL
twin wherever the semantics are ANSI-SQL-expressible.

Column names/types are aligned pair-wise (the driver hash-compares sorted
columns); float aggregates are rounded or decimal-cast on BOTH sides so
associativity differences cannot flip the hash.

The transcripts input required by BASELINE.json is derived deterministically
from the ``documents`` table (no external data): doc_id → (conv_id =
doc_id % 50, turn_idx = doc_id // 50) — identical arithmetic in both
engines."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from mistral_ocr_pipeline_spark.extractors.textnorm import WS_CHARS, WS_CLASS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# transcripts derivation (shared by extraction queries)
# --------------------------------------------------------------------------
_TRANSCRIPTS_SQL = """
    SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
           (doc_id // 50)::int AS turn_idx,
           (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
           text,
           CAST(NULL AS varchar) AS tool
    FROM documents
"""


def transcripts_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic transcripts in the BASELINE.json input shape."""
    d = F.col("doc_id")
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system"))
    return docs.select(
        F.concat(F.lit("conv-"), F.lpad((d % 50).cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.floor(d / 50).cast("int").alias("turn_idx"),
        F.get(roles, (d % 4).cast("int")).alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=d.cast("double"))
        ).alias("ts"),
    )


# normalized plain text, shared SQL fragment (engine: extractors.textnorm).
# The kernel collapses ASCII whitespace and strips only ' ': RE2's \s leaves
# \v alone, and one-argument trim() also strips Unicode spaces such as NBSP,
# so both twins spell textnorm's WS_CLASS and trim ' '.
_NORM = (
    "trim(regexp_replace(nfc_normalize({c}), '" + WS_CLASS + "+', ' ', 'g'), ' ')"
)
# matching key (functions.text_functions.norm_key_col, Java regex).  Both
# twins keep ASCII \w, so they drop non-ASCII letters ('Café' → 'caf') where
# the Python textnorm.norm_key keeps them; the registry compares the two
# twins only.
_KEY = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\w" + WS_CHARS
    + "/\\-]', '', 'g'), '" + WS_CLASS + "+', ' ', 'g'), ' ')"
)


# --------------------------------------------------------------------------
# 1. flagship: per-turn plain extraction (north-rule pipeline, SQL-checked)
# --------------------------------------------------------------------------
@register(
    "flagship_extract_plain",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL})
    SELECT conv_id, turn_idx,
           CASE WHEN {_NORM.format(c='text')} = '' THEN 'empty' ELSE 'plain' END
               AS payload_kind,
           {_NORM.format(c='text')} AS extracted_text,
           row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS turn_rank
    FROM t
    """,
)
def flagship_extract_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transcripts → salted repartition → mapInArrow extraction → W6 window.

    The documents corpus is plain prose, so the whole engine path (dispatch,
    normalization, span/md assembly) is replayable as SQL — the one
    extraction query with a full value-level oracle."""
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        extract_transcripts,
        with_stable_order,
    )

    t = transcripts_from_documents(_t(spark, sf_dir, "documents"))
    out = with_stable_order(extract_transcripts(t))
    return out.select(
        "conv_id", "turn_idx", "payload_kind", "extracted_text", "turn_rank"
    )


# --------------------------------------------------------------------------
# 2. HTML boilerplate strip, SQL-checked via a deterministic wrapper doc
# --------------------------------------------------------------------------
@register(
    "extract_html_boilerplate",
    oracle=f"""
    SELECT doc_id,
           'Doc ' || doc_id::varchar || chr(10) || chr(10) ||
               {_NORM.format(c='text')} AS extracted_text,
           '# Doc ' || doc_id::varchar || chr(10) || chr(10) ||
               {_NORM.format(c='text')} AS md
    FROM documents
    WHERE {_NORM.format(c='text')} != ''
    """,
)
def extract_html_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap every document in an HTML page with nav/aside/footer boilerplate
    and a link-farm paragraph; the extractor must recover exactly the
    heading + content paragraph.  The oracle reconstructs that expectation
    in SQL, so the block classifier is value-checked at every scale."""
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>x</title><style>p{color:red}</style></head><body>"
            '<nav><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></nav>'
            "<header><p>Site tagline boilerplate</p></header><article><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(
            "</p></article>"
            '<p><a href="/x">read</a> <a href="/y">more</a> <a href="/z">links</a></p>'
            '<aside><ul><li><a href="/r">Related article teaser junk</a></li></ul></aside>'
            "<footer><p>© 2024 example.org</p></footer></body></html>"
        ),
    )
    t = docs.select(
        F.lit("c").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        html.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    out = extract_transcripts(t)
    return out.select(
        F.col("turn_idx").cast("long").alias("doc_id"), "extracted_text", "md"
    ).filter(F.col("extracted_text") != F.concat(F.lit("Doc "), F.col("doc_id")))


# --------------------------------------------------------------------------
# 3. PDF-layout extraction at scale (rows-only: layout semantics not SQL)
# --------------------------------------------------------------------------
@register(
    "extract_pdf_layout",
    oracle=f"""
    SELECT doc_id,
           'pdf_layout' AS payload_kind,
           'Introduction' || chr(10) || chr(10) || {_NORM.format(c='text')}
               AS extracted_text,
           '[{{"start":0,"end":12,"kind":"heading","ref":"h3"}},'
             || '{{"start":14,"end":'
             || (14 + length({_NORM.format(c='text')}))::varchar
             || ',"kind":"paragraph","ref":""}}]' AS spans_json,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    WHERE {_NORM.format(c='text')} != ''
    """,
)
def extract_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout payloads synthesized JVM-side (to_json over nested structs):
    page 0 = Introduction heading + body line per document sentence chunk,
    page 1 = References heading + citation line (must be cut).  Exercises
    XY-ordering, heading detection, refs-cut and span bookkeeping on every
    row of the corpus.

    Value-oracle: the synthetic two-page layout is deterministic — the
    Introduction heading is kept (no Methods heading, so the guarded
    intro-drop never fires; fontsize 12.5/10 → h3), the References page is
    cut, and the body line normalizes exactly like the plain-text twin —
    so extracted text AND span offsets are SQL-replayable (span end =
    14 + len(norm)).  The WHERE mirrors the engine's empty-span drop
    (a document normalizing to '' keeps only the heading block; none
    exist in the generated corpora, and pytest pins that branch)."""
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts

    docs = _t(spark, sf_dir, "documents")

    def line(text_col, size, x0, y0):
        return F.struct(
            F.array(F.lit(x0), F.lit(y0), F.lit(x0 + 200.0), F.lit(y0 + size + 2)).alias("bbox"),
            F.array(
                F.struct(
                    text_col.alias("text"),
                    F.lit(size).alias("size"),
                    F.array(
                        F.lit(x0), F.lit(y0), F.lit(x0 + 200.0), F.lit(y0 + size + 2)
                    ).alias("bbox"),
                )
            ).alias("spans"),
        )

    def page(lines):
        return F.struct(
            F.lit(612.0).alias("width"),
            F.lit(792.0).alias("height"),
            F.array(
                F.struct(
                    F.lit(0).alias("type"),
                    F.array(F.lit(50.0), F.lit(50.0), F.lit(562.0), F.lit(700.0)).alias("bbox"),
                    lines.alias("lines"),
                )
            ).alias("blocks"),
        )

    body = F.col("text")
    p0 = page(
        F.array(
            line(F.lit("Introduction"), 12.5, 72.0, 60.0),
            line(body, 10.0, 72.0, 90.0),
        )
    )
    p1 = page(
        F.array(
            line(F.lit("References"), 12.5, 72.0, 60.0),
            line(F.lit("[1] A citation entry 2020."), 10.0, 72.0, 90.0),
        )
    )
    payload = F.to_json(
        F.struct(F.lit("pdf_layout").alias("kind"), F.array(p0, p1).alias("pages"))
    )
    t = docs.select(
        F.lit("c").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.lit(None).cast("string").alias("text"),
        payload.alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    out = extract_transcripts(t)
    return out.select(
        F.col("turn_idx").cast("long").alias("doc_id"),
        "payload_kind",
        "extracted_text",
        F.to_json("spans").alias("spans_json"),
        "error",
    )


# --------------------------------------------------------------------------
# J1 — resume anti-join (SURVEY §2.4)
# --------------------------------------------------------------------------
@register(
    "j1_resume_anti_join",
    oracle="""
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 < 3)
    """,
)
def j1_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processed-set exclusion: left_anti against a (broadcastable) index —
    the reference's resume filter (main.py:244-257)."""
    docs = _t(spark, sf_dir, "documents")
    processed = docs.filter(F.col("doc_id") % 10 < 3).select("doc_id")
    return docs.join(F.broadcast(processed), "doc_id", "left_anti").select("doc_id")


# --------------------------------------------------------------------------
# P5/P6 — sink-side cleanup filter (reference utils/utils.py:208-251,307-327)
# --------------------------------------------------------------------------
@register(
    "p5_sink_cleanup_filter",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN ' 42.5 '
                  WHEN doc_id % 11 = 0 THEN ''
                  ELSE text END AS t
      FROM documents)
    SELECT doc_id FROM d
    WHERE t IS NOT NULL AND trim(t) != ''
      AND NOT regexp_matches(t, '^\s*[+-]?(\d+(\.\d+)?|\.\d+)([eE][+-]?\d+)?\s*$')
    """,
)
def p5_sink_cleanup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import (
        is_numeric_string_col,
    )

    docs = _t(spark, sf_dir, "documents")
    t = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(" 42.5 "))
        .when(F.col("doc_id") % 11 == 0, F.lit(""))
        .otherwise(F.col("text"))
    )
    d = docs.select("doc_id", t.alias("t"))
    return d.filter(
        F.col("t").isNotNull()
        & (F.trim("t") != "")
        & ~is_numeric_string_col(F.col("t"))
    ).select("doc_id")


# --------------------------------------------------------------------------
# P7/X8 — gate/consistency rules (reference main.py:114-159)
# --------------------------------------------------------------------------
@register(
    "p7_gate_rules",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'purchase' AND value > 0 THEN 'Yes' ELSE 'No' END
               AS gate,
           CASE WHEN event_type = 'purchase' AND value > 0
                THEN round(value, 4) ELSE NULL END AS gated_value
    FROM events
    """,
)
def p7_gate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    gate = F.when(
        (F.col("event_type") == "purchase") & (F.col("value") > 0), F.lit("Yes")
    ).otherwise(F.lit("No"))
    return ev.select(
        "event_id",
        gate.alias("gate"),
        F.when(gate == "Yes", F.round("value", 4)).alias("gated_value"),
    )


# --------------------------------------------------------------------------
# A2 — first-non-empty-wins ordered merge (reference utils/utils.py:94-103)
# --------------------------------------------------------------------------
@register(
    "a2_first_nonempty_merge",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CASE WHEN value < 0.2 THEN '' ELSE event_type END AS v
      FROM events)
    SELECT user_id,
           arg_min(v, event_id) FILTER (WHERE v IS NOT NULL AND trim(v) != '')
               AS first_val
    FROM e GROUP BY user_id
    """,
)
def a2_first_nonempty_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.merge import first_nonempty_ordered

    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("value") < 0.2, F.lit("")).otherwise(F.col("event_type"))
    return (
        ev.select("user_id", "event_id", v.alias("v"))
        .groupBy("user_id")
        .agg(first_nonempty_ordered(F.col("v"), F.col("event_id")).alias("first_val"))
    )


# --------------------------------------------------------------------------
# A3 — ordered concat + stable dedup (reference utils/utils.py:105-117)
# --------------------------------------------------------------------------
@register(
    "a3_concat_dedup_ordered",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id)
                 AS rn
      FROM events
      WHERE event_type IS NOT NULL AND trim(event_type) != '')
    SELECT user_id, string_agg(event_type, ',' ORDER BY event_id) AS seq
    FROM r WHERE rn = 1 GROUP BY user_id
    """,
)
def a3_concat_dedup_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.merge import concat_dedup_ordered

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                concat_dedup_ordered(F.col("event_type"), F.col("event_id")), ","
            ).alias("seq")
        )
    )


# --------------------------------------------------------------------------
# A6 — count aggregates (reference main.py:258,281-303)
# --------------------------------------------------------------------------
@register(
    "a6_counts",
    oracle="""
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a6_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users")
    )


# --------------------------------------------------------------------------
# A7 — mean-score rollups excluding sentinel scores (compare_results.py:858-901)
# --------------------------------------------------------------------------
@register(
    "a7_mean_rollups",
    oracle="""
    SELECT event_type,
           round(avg(value) FILTER (WHERE value >= 1.0), 4) AS mean_value,
           count(*) FILTER (WHERE value >= 1.0) AS n_scored
    FROM events GROUP BY event_type
    """,
)
def a7_mean_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    scored = F.when(F.col("value") >= 1.0, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.round(F.avg(scored), 4).alias("mean_value"),
        F.count(scored).alias("n_scored"),
    )


# --------------------------------------------------------------------------
# A8 — distribution counts (compare_results.py:866-869; notebook value_counts)
# --------------------------------------------------------------------------
@register(
    "a8_distribution",
    oracle="SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source",
)
def a8_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# A9 — set-overlap (Jaccard) measures (compare_results.py:490-524)
# --------------------------------------------------------------------------
@register(
    "a9_set_overlap_jaccard",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(list_distinct(string_split({_KEY.format(c='text')}, ' ')))
                 AS w
      FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, count(*) AS i
      FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 AND b.w = a.w
      GROUP BY a.doc_id)
    SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
           round(coalesce(i.i, 0)::double / (s1.n + s2.n - coalesce(i.i, 0)), 6)
               AS jaccard
    FROM sizes s1
    JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
    LEFT JOIN inter i ON i.id_a = s1.doc_id
    """,
)
def a9_set_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col

    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.array_distinct(F.split(norm_key_col(F.col("text")), " ")).alias("ws"),
    )
    a = w.alias("a")
    b = w.select((F.col("doc_id") - 1).alias("doc_id"), F.col("ws").alias("ws_b")).alias("b")
    return (
        a.join(b, "doc_id")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
            F.round(
                F.size(F.array_intersect("ws", "ws_b"))
                / (
                    F.size("ws")
                    + F.size("ws_b")
                    - F.size(F.array_intersect("ws", "ws_b"))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# W1 — best-per-group (heading_detector.py:157-164)
# --------------------------------------------------------------------------
@register(
    "w1_best_per_group",
    oracle="""
    SELECT event_id, event_type, round(value, 6) AS value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY event_type ORDER BY value DESC NULLS LAST, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def w1_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "event_type", F.round("value", 6).alias("value"))
    )


# --------------------------------------------------------------------------
# W4 — top-k (compare_results.py:1193-1199)
# --------------------------------------------------------------------------
@register(
    "w4_topk",
    oracle="""
    SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
    """,
)
def w4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "n_chars")
    )


# --------------------------------------------------------------------------
# W5/W6 — ordered limit + stable ordering rank (main.py:209; north rule W6)
# --------------------------------------------------------------------------
@register(
    "w5_ordered_limit",
    oracle="SELECT event_id FROM events ORDER BY ts, event_id LIMIT 20",
)
def w5_ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id")
    )


@register(
    "w6_stable_turn_ordering",
    oracle="""
    SELECT event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_event_id
    FROM events
    """,
)
def w6_stable_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_id").over(w).alias("prev_event_id"),
    )


# --------------------------------------------------------------------------
# A1 — ordered per-conversation assembly (main.py:203-216)
# --------------------------------------------------------------------------
@register(
    "a1_conversation_assembly",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL})
    SELECT conv_id,
           string_agg({_NORM.format(c='text')}, chr(10) || chr(10) ORDER BY turn_idx)
               AS conv_md,
           count(*)::bigint AS n_turns
    FROM t GROUP BY conv_id
    """,
)
def a1_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        assemble_conversations,
        extract_transcripts,
    )

    t = transcripts_from_documents(_t(spark, sf_dir, "documents"))
    ext = extract_transcripts(t)
    out = assemble_conversations(ext, text_col="md")
    return out.select("conv_id", "conv_md", F.col("n_turns").cast("long").alias("n_turns"))


# --------------------------------------------------------------------------
# C2 — references-heading regex (utils/utils.py:21-24)
# --------------------------------------------------------------------------
@register(
    "c2_references_regex",
    oracle=r"""
    SELECT doc_id,
           regexp_matches(
             CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || 'References' ELSE text END,
             '(?im)^\s*(references?|bibliography|works\s+cited)\s*:?\s*$') AS has_refs
    FROM documents
    """,
)
def c2_references_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import (
        references_heading_col,
    )

    docs = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("\nReferences"))
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id", references_heading_col(injected).alias("has_refs")
    )


# --------------------------------------------------------------------------
# C7 — sha256 provenance hash (utils/utils.py:147-149)
# --------------------------------------------------------------------------
@register(
    "c7_sha256_provenance",
    oracle="""
    SELECT doc_id, sha256(source || '/' || doc_id::varchar) AS prov
    FROM documents
    """,
)
def c7_sha256_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import sha256_provenance

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        sha256_provenance(
            F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"))
        ).alias("prov"),
    )


# --------------------------------------------------------------------------
# C11 — trailing-.0 year strip (compare_results.py:95,551)
# --------------------------------------------------------------------------
@register(
    "c11_year_strip",
    oracle=r"""
    SELECT o_orderkey,
           regexp_replace(year(o_orderdate)::varchar || '.0', '\.0$', '')
               AS year_clean
    FROM orders
    """,
)
def c11_year_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import (
        strip_trailing_dot_zero,
    )

    o = _t(spark, sf_dir, "orders")
    ys = F.concat(F.year("o_orderdate").cast("string"), F.lit(".0"))
    return o.select("o_orderkey", strip_trailing_dot_zero(ys).alias("year_clean"))


# --------------------------------------------------------------------------
# J2 — fuzzy 1:1 best-match join (compare_results.py:74-121)
# --------------------------------------------------------------------------
@register(
    "j2_fuzzy_best_match",
    oracle=f"""
    WITH l AS (
      SELECT p_partkey AS lid, {_KEY.format(c='p_name')} AS lt
      FROM part WHERE p_partkey % 23 = 1),
    r AS (
      SELECT p_partkey + 1000000 AS rid,
             {_KEY.format(c="upper(p_name) || '!'")} AS rt
      FROM part WHERE p_partkey % 3 = 0),
    s AS (
      SELECT lid, rid,
             round(3 * (1 - levenshtein(lt, rt)::double /
                        greatest(length(lt), length(rt), 1)), 9) AS score
      FROM l CROSS JOIN r),
    b AS (SELECT *, row_number() OVER (PARTITION BY lid ORDER BY score DESC, rid) rn_l
          FROM s),
    u AS (SELECT *, row_number() OVER (PARTITION BY rid ORDER BY score DESC, lid) rn_r
          FROM b WHERE rn_l = 1)
    SELECT l.lid AS left_id, u2.rid AS right_id, u2.score AS match_score
    FROM l LEFT JOIN (SELECT * FROM u WHERE rn_r = 1 AND score >= 1.5) u2
      ON u2.lid = l.lid
    """,
)
def j2_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.fuzzy_join import fuzzy_best_match

    part = _t(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 23 == 1).select(
        F.col("p_partkey").alias("lid"), F.col("p_name").alias("title")
    )
    right = part.filter(F.col("p_partkey") % 3 == 0).select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.concat(F.upper("p_name"), F.lit("!")).alias("title"),
    )
    return fuzzy_best_match(
        left, right, "lid", "rid", title_cols=("title", "title"), threshold=1.5
    )


@register(
    "j2_fuzzy_author_bonus",
    oracle=f"""
    WITH l AS (
      SELECT p_partkey AS lid, {_KEY.format(c='p_name')} AS lt,
             lower(split_part(p_name, ' ', 1)) AS last
      FROM part WHERE p_partkey % 23 = 1),
    r AS (
      SELECT p_partkey + 1000000 AS rid,
             {_KEY.format(c="upper(p_name) || '!'")} AS rt
      FROM part WHERE p_partkey % 3 = 0),
    s AS (
      SELECT lid, rid,
             round(3 * (1 - levenshtein(lt, rt)::double /
                        greatest(length(lt), length(rt), 1))
                   + CASE WHEN last != '' AND position(last IN rt) > 0
                          THEN 0.5 ELSE 0 END, 9) AS score
      FROM l CROSS JOIN r),
    b AS (SELECT *, row_number() OVER (PARTITION BY lid ORDER BY score DESC, rid) rn_l
          FROM s),
    u AS (SELECT *, row_number() OVER (PARTITION BY rid ORDER BY score DESC, lid) rn_r
          FROM b WHERE rn_l = 1)
    SELECT l.lid AS left_id, u2.rid AS right_id, u2.score AS match_score
    FROM l LEFT JOIN (SELECT * FROM u WHERE rn_r = 1 AND score >= 1.5) u2
      ON u2.lid = l.lid
    """,
)
def j2_fuzzy_author_bonus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 with the reference's fourth score term active: +0.5 when the
    author's last name (last whitespace token, raw, lowercased) appears in
    the normalized right title (compare_results.py:95-108 — the full
    3·title + 1·year + 1·journal + 0.5·lastNameInTitle formula; year and
    journal are exercised by the eval-harness tests).  Author synthesized
    as 'A. <first word of p_name>', so the bonus fires on real matches."""
    from mistral_ocr_pipeline_spark.operators.fuzzy_join import fuzzy_best_match

    part = _t(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 23 == 1).select(
        F.col("p_partkey").alias("lid"),
        F.col("p_name").alias("title"),
        F.concat(F.lit("A. "), F.substring_index("p_name", " ", 1)).alias("author"),
    )
    right = part.filter(F.col("p_partkey") % 3 == 0).select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.concat(F.upper("p_name"), F.lit("!")).alias("title"),
    )
    return fuzzy_best_match(
        left,
        right,
        "lid",
        "rid",
        title_cols=("title", "title"),
        author_col="author",
        threshold=1.5,
    )


@register(
    "j2_fuzzy_sequential",
    oracle=f"""
    WITH RECURSIVE
    l AS (SELECT p_partkey::BIGINT AS lid,
                 {_KEY.format(c="split_part(p_name, ' ', 1)")} AS lt
          FROM part WHERE p_partkey % 37 = 1),
    lo AS (SELECT lid, lt, row_number() OVER (ORDER BY lid) AS lord FROM l),
    r AS (SELECT (min(p_partkey) + 1000000)::BIGINT AS rid, rt
          FROM (SELECT p_partkey,
                       {_KEY.format(c="split_part(p_name, ' ', 1)")} AS rt
                FROM part WHERE p_partkey % 5 = 0)
          GROUP BY rt),
    s AS (SELECT lo.lord, lo.lid, r.rid,
                 round(3 * (1 - levenshtein(lo.lt, r.rt)::double /
                            greatest(length(lo.lt), length(r.rt), 1)), 9) AS score
          FROM lo CROSS JOIN r),
    assign AS (
      SELECT 0::BIGINT AS lord, NULL::BIGINT AS lid, NULL::BIGINT AS rid,
             NULL::DOUBLE AS score, []::BIGINT[] AS used
      UNION ALL
      SELECT a.lord + 1, lo.lid,
             CASE WHEN b.score >= 1.5 THEN b.rid END,
             CASE WHEN b.score >= 1.5 THEN b.score END,
             CASE WHEN b.score >= 1.5 THEN list_append(a.used, b.rid)
                  ELSE a.used END
      FROM assign a
      JOIN lo ON lo.lord = a.lord + 1
      LEFT JOIN LATERAL (
         SELECT s.rid, s.score FROM s
         WHERE s.lid = lo.lid AND NOT list_contains(a.used, s.rid)
         ORDER BY s.score DESC, s.rid ASC LIMIT 1
      ) b ON TRUE
    )
    SELECT lid AS left_id, rid AS right_id, score AS match_score
    FROM assign WHERE lord >= 1
    """,
)
def j2_fuzzy_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 with the reference's EXACT sequential-greedy semantics
    (compare_results.py:74-121): lefts processed in id order, each claiming
    its best UNUSED right, so a contested left falls back to its next-best
    unused right instead of going unmatched (the round-3 verdict's one
    semantic divergence).  The fixture forces contests: left titles are the
    FIRST WORD of p_name (~92 distinct colors, so many lefts share a best
    right), rights are the distinct first words.  The DuckDB oracle replays
    the serial loop as a recursive CTE carrying the used-set as a list
    column — a full value oracle for the contested-fallback semantics."""
    from mistral_ocr_pipeline_spark.operators.fuzzy_join import (
        fuzzy_best_match_sequential,
    )

    part = _t(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 37 == 1).select(
        F.col("p_partkey").cast("long").alias("lid"),
        F.substring_index("p_name", " ", 1).alias("title"),
    )
    right = (
        part.filter(F.col("p_partkey") % 5 == 0)
        .select(F.substring_index("p_name", " ", 1).alias("title"), "p_partkey")
        .groupBy("title")
        .agg((F.min("p_partkey") + 1000000).cast("long").alias("rid"))
    )
    return fuzzy_best_match_sequential(
        left, right, "lid", "rid", title_cols=("title", "title"), threshold=1.5
    )


@register(
    "j3_zip_join",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      string_split({_KEY.format(c='text')}, ' ')[1:6] AS toks
               FROM documents),
    e AS (SELECT doc_id,
                 unnest(range(0, len(toks)))::INT AS pos,
                 unnest(toks) AS value,
                 unnest(list_transform(toks, x -> upper(x))) AS sentence
          FROM t)
    SELECT doc_id, pos, value, sentence
    FROM e WHERE length(value) % 2 = 0
    """,
)
def j3_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — positional zip join: parallel list columns align by INDEX, not
    by key (reference post_processing.py:174-183 zips values[i] against
    supported[i] and filters unsupported positions).  Spark shape:
    ``arrays_zip`` + ``posexplode`` — one generator, no shuffle; the
    oracle zips via DuckDB's parallel ``unnest``.  The support predicate
    (even value length) stands in for the reference's boolean list."""
    docs = _t(spark, sf_dir, "documents")
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col

    toks = F.slice(F.split(norm_key_col(F.col("text")), " "), 1, 6)
    zipped = docs.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                toks.alias("value"),
                F.transform(toks, lambda x: F.upper(x)).alias("sentence"),
                F.transform(toks, lambda x: F.length(x) % 2 == 0).alias(
                    "supported"
                ),
            )
        ).alias("pos", "z"),
    )
    return zipped.filter(F.col("z.supported")).select(
        "doc_id", "pos", F.col("z.value").alias("value"),
        F.col("z.sentence").alias("sentence"),
    )


@register(
    "j3_apply_verdicts",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      string_split({_KEY.format(c='text')}, ' ')[1:6] AS toks
               FROM documents),
    e AS (SELECT doc_id,
                 unnest(range(0, len(toks)))::INT AS pos,
                 unnest(toks) AS value
          FROM t),
    verd AS (
      SELECT doc_id, pos, length(value) % 2 = 0 AS sup FROM e
      WHERE NOT (doc_id % 7 = 0 AND pos = 0)
      UNION ALL
      SELECT doc_id, 99, TRUE FROM t WHERE doc_id % 11 = 0),
    j AS (SELECT e.doc_id, e.pos, e.value, v.sup,
                 v.doc_id IS NOT NULL AS m
          FROM e LEFT JOIN verd v ON v.doc_id = e.doc_id AND v.pos = e.pos),
    re AS (SELECT doc_id,
                  list(value ORDER BY pos)
                      FILTER (WHERE coalesce(sup, FALSE)) AS keep,
                  count(*) FILTER (WHERE m) AS n_matched,
                  count(*) AS n_pos
           FROM j GROUP BY doc_id),
    vt AS (SELECT doc_id, count(*) AS v_tot FROM verd GROUP BY doc_id),
    f AS (SELECT t.doc_id, t.toks,
                 list_transform(t.toks, x -> upper(x)) AS sents,
                 r.keep,
                 coalesce(r.n_pos, 0) = len(t.toks)
                 AND coalesce(r.n_matched, 0) = len(t.toks)
                 AND coalesce(vt.v_tot, 0) = len(t.toks) AS aligned
          FROM t LEFT JOIN re r USING (doc_id) LEFT JOIN vt USING (doc_id))
    SELECT doc_id,
           array_to_string(
               CASE WHEN aligned
                    THEN CASE WHEN len(coalesce(keep, [])) > 0 THEN keep END
                    ELSE toks END, '|') AS values_clean,
           array_to_string(
               CASE WHEN aligned AND len(sents) = 0 THEN NULL
                    ELSE sents END, '|') AS sentences,
           aligned AS verdicts_aligned
    FROM f
    """,
)
def j3_apply_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verdict application — the re-collect leg the r4 verdict flagged
    as the last un-twinned reference dataflow
    (post_processing.py:155-202,309-315): per-position support verdicts
    filter a row's parallel lists and an ORDERED collect_list
    reassembles one row per document (`operators/verdicts.
    apply_verdicts`).  Fixture exercises every guard: even-length
    support rule, all-unsupported → NULL, missing pos-0 verdict on
    doc_id%7 (misaligned → row unchanged), extra pos-99 verdict on
    doc_id%11 (likewise); the oracle replays the rebuild with DuckDB's
    ``list(... ORDER BY pos)``."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.verdicts import apply_verdicts

    docs = _t(spark, sf_dir, "documents")
    toks = F.slice(F.split(norm_key_col(F.col("text")), " "), 1, 6)
    rows = docs.select(
        "doc_id",
        toks.alias("values"),
        F.transform(toks, lambda x: F.upper(x)).alias("sentences"),
    )
    ev = docs.select("doc_id", F.posexplode(toks).alias("pos", "value"))
    verd = ev.select(
        "doc_id", "pos", (F.length("value") % 2 == 0).alias("supported")
    ).filter(~((F.col("doc_id") % 7 == 0) & (F.col("pos") == 0)))
    extra = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id", F.lit(99).alias("pos"), F.lit(True).alias("supported")
    )
    out = apply_verdicts(rows, verd.unionByName(extra))
    # driver contract: scalar output columns only — flatten the arrays
    # (array_join passes NULL through, preserving the NULL-list sentinel)
    return out.select(
        "doc_id",
        F.array_join("values_clean", "|").alias("values_clean"),
        F.array_join("sentences", "|").alias("sentences"),
        "verdicts_aligned",
    )


# --------------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
    k AS (SELECT id, md5({_KEY.format(c="coalesce(text, '')")}) AS content_key
          FROM u),
    g AS (SELECT content_key, count(*) AS dup_count, min(id) AS canonical_id
          FROM k GROUP BY content_key)
    SELECT k.id, k.content_key, g.dup_count, k.id = g.canonical_id AS is_canonical
    FROM k JOIN g USING (content_key)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    u = docs.select(F.col("doc_id").alias("id"), "text").unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"), "text"
        )
    )
    return exact_dedup(u, "id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM documents),
    ok AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 3),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i:i+2], ' ')))) AS gram
      FROM ok),
    sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, count(*) AS i
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 AND b.gram = a.gram
      GROUP BY a.doc_id)
    SELECT s1.doc_id AS id_a, s2.doc_id AS id_b,
           round(coalesce(i.i, 0)::double / (s1.n + s2.n - coalesce(i.i, 0)), 6)
               AS jaccard
    FROM sizes s1
    JOIN sizes s2 ON s2.doc_id = s1.doc_id + 1
    LEFT JOIN inter i ON i.id_a = s1.doc_id
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for adjacent-id candidate pairs — the
    verification kernel of the LSH dedup path, value-checked in SQL."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.dedup import shingle_sets

    docs = _t(spark, sf_dir, "documents")
    # eligibility filtered on the cheap word-count BEFORE shingling: a
    # post-filter on the gram column gets pushed below the projection and
    # re-inlines the gram lambda into the Filter (measured 6× slowdown)
    eligible = docs.filter(
        F.size(F.split(norm_key_col(F.col("text")), " ")) >= 3
    )
    # hashed grams: intersect/union over longs, not strings — same jaccard
    # (distinct-gram ↔ distinct-hash cardinalities agree; a 64-bit xxhash
    # collision within one pair's union is ~10⁻¹⁵), 3× faster end-to-end
    g = shingle_sets(eligible, "doc_id", "text", 3, hashed=True).select(
        F.col("id").alias("doc_id"), F.col("sh").alias("gs")
    )
    a = g.alias("a")
    b = g.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("gs").alias("gs_b")
    ).alias("b")
    inter = F.size(F.array_intersect("gs", "gs_b"))
    union = F.size("gs") + F.size("gs_b") - inter
    return a.join(b, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        F.round(inter / union.cast("double"), 6).alias("jaccard"),
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM u),
    g AS (SELECT id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, greatest(len(toks) - 1, 1))])
                     AS grams
          FROM t),
    sz AS (SELECT id, len(grams) AS n FROM g),
    e AS (SELECT id, unnest(grams) AS gram FROM g),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM e a JOIN e b ON a.gram = b.gram AND a.id < b.id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           i::DOUBLE / (sa.n + sb.n - i) AS jaccard,
           FALSE AS bucket_truncated
    FROM inter
    JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over documents ∪ perturbed clones (one
    word changed), verified by exact Jaccard.

    Value-oracle: exact all-pairs 3-gram Jaccard ≥ 0.5 in SQL.  The two
    sides agree iff LSH recall is 1.0 on this corpus (clone pairs sit at
    J≈0.95 where 16-band×4-row candidate probability is ~1; organic pairs
    near the threshold are the risk surface, so a hash-match here is a
    genuine recall check, not a tautology) — and iff no bucket cap
    truncates (caps surface via ``bucket_truncated``).  Semantics also
    pinned by tests/test_ops.py."""
    from mistral_ocr_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.select("doc_id", "text").unionAll(clones)
    return minhash_lsh_pairs(
        u, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM u
          WHERE len(string_split({_KEY.format(c='text')}, ' ')) >= 2),
    g AS (SELECT id,
                 list_distinct([array_to_string(toks[i:i+1], ' ')
                                for i in range(1, greatest(len(toks), 1))])
                     AS grams
          FROM t),
    h AS (SELECT id, list_distinct(
                 list_transform(grams,
                     s -> ('0x' || substring(md5(s), 1, 16))::UBIGINT)) AS hs
          FROM g),
    b AS (SELECT id,
                 [CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1))
                            >= len(hs)
                       THEN 1.0 ELSE 0.0 END
                  for j in range(0, 64)] AS bits
          FROM h),
    s AS (SELECT id, bits, list_sum(bits) AS nbits FROM b),
    p AS (SELECT a.id AS id_a, c.id AS id_b,
                 (a.nbits + c.nbits
                  - 2 * list_dot_product(a.bits, c.bits))::INTEGER AS hamming
          FROM s a JOIN s c ON a.id < c.id)
    SELECT id_a, id_b, hamming, FALSE AS bucket_truncated
    FROM p WHERE hamming <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (bit-band blocking + hamming ≤ 3) over
    documents ∪ exact clones.

    Value-oracle: the driver query runs on the md5 gram-hash basis
    (the big-endian md5 half has an exact SQL twin; xxhash64, the
    throughput default, does not), so the oracle recomputes every 64-bit fingerprint
    bit-for-bit and compares ALL-PAIRS hamming ≤ 3.  The banding side
    needs no empirical luck: with 4×16-bit bands, any pair at hamming ≤ 3
    shares at least one identical band (pigeonhole), so a hash match
    proves the banding recall argument + majority-bit math + hamming
    verify all at once."""
    from mistral_ocr_pipeline_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    u = docs.select("doc_id", "text").unionAll(clones)
    return simhash_pairs(u, "doc_id", "text", n=2, max_hamming=3, hash_basis="md5")


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH u AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding::DOUBLE[]
      FROM embeddings WHERE vec_id % 25 = 0),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) AS c
      FROM u a JOIN u b ON a.id < b.id)
    SELECT id_a, id_b, round(c, 6) AS cosine, FALSE AS bucket_truncated
    FROM p WHERE c >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH buckets + exact cosine ≥ 0.99
    over embeddings ∪ cloned vectors.

    Value-oracle: exact all-pairs cosine ≥ 0.99 in SQL — a hash match
    certifies bucket recall 1.0 on this corpus (clones are identical
    vectors, so they always share a bucket; any organic near-pair the
    buckets missed would show as a rowcount diff)."""
    from mistral_ocr_pipeline_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    u = emb.unionByName(clones)
    return embedding_neardup_pairs(u, "vec_id", "embedding", threshold=0.99)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
_ANN_EXACT_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT qid, vec_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   6) AS cosine
      FROM q CROSS JOIN c WHERE vec_id != qid),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """


@register("ann_cosine_topk", oracle=_ANN_EXACT_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k as pure Catalyst expressions — now served by
    `similarity_df.brute_force_topk_df` (zip_with/aggregate fold in
    array order → bit-identical to the sequential SQL dot product, so
    the oracle checks values, not just shape).  The numpy-matmul variant
    (operators/similarity.brute_force_topk) is the low-latency path for
    small query blocks; this DataFrame-native form also takes
    ``broadcast_queries=False`` for corpus-sized query relations."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk_df(emb, emb.filter(F.col("vec_id") < 8), k=5)


@register("ann_brute_force_numpy", oracle=_ANN_EXACT_ORACLE)
def ann_brute_force_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput variant of exact top-k: numpy matmul per Arrow batch,
    per-partition partial top-k.  Exact algorithm, so it shares the
    expression variant's value oracle (cosines agree at the 6-dp rounding
    both paths apply; equivalence also pinned in tests/test_ops.py)."""
    from mistral_ocr_pipeline_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


def _lsh_oracle_sql() -> str:
    """Full DuckDB value oracle for ``ann_lsh_topk`` — the hyperplane LSH
    is plane-literal arithmetic, so the whole approximate path is
    replayable in SQL: the same ``RandomState(7).standard_normal((8, 5,
    64))`` planes are baked in as literals (``repr`` round-trips float64
    exactly), corpus/query bucket ids are the sign-bit sums, multi-probe
    is the base bucket plus the ``n_probe-1 = 3`` lowest-|projection|
    bit flips, and exact cosine + rank run only over probed candidates —
    exactly ``operators/similarity.lsh_topk``.  Sign decisions compare a
    float64 dot product against 0 (projection magnitudes are O(1), so a
    summation-order ulp cannot flip them), and cosines round at 6 dp like
    the exact-ANN oracle that already hash-matches the numpy path."""
    import numpy as np

    n_tables, n_planes, d, seed, n_flip, k = 8, 5, 64, 7, 3, 5
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, n_planes, d))
    vals = ",\n      ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t, p])}]::DOUBLE[])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
    WITH lsh_planes(t, p, pl) AS (VALUES
      {vals}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    cproj AS (
      SELECT c.vec_id, pt.t, pt.p, list_dot_product(c.v, pt.pl) AS pr
      FROM c CROSS JOIN lsh_planes pt),
    cbuck AS (
      SELECT vec_id, t,
             sum(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END)::INT AS bucket
      FROM cproj GROUP BY vec_id, t),
    qproj AS (
      SELECT q.qid, pt.t, pt.p, list_dot_product(q.qv, pt.pl) AS pr
      FROM q CROSS JOIN lsh_planes pt),
    qbuck AS (
      SELECT qid, t,
             sum(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END)::INT AS bucket
      FROM qproj GROUP BY qid, t),
    flips AS (
      SELECT qid, t, p,
             row_number() OVER (PARTITION BY qid, t ORDER BY abs(pr), p) AS rn
      FROM qproj),
    probes AS (
      SELECT qid, t, bucket FROM qbuck
      UNION
      SELECT f.qid, f.t, xor(b.bucket, 1 << f.p) AS bucket
      FROM flips f JOIN qbuck b ON f.qid = b.qid AND f.t = b.t
      WHERE f.rn <= {n_flip}),
    cand AS (
      SELECT DISTINCT pr.qid, cb.vec_id
      FROM probes pr JOIN cbuck cb ON pr.t = cb.t AND pr.bucket = cb.bucket
      WHERE cb.vec_id != pr.qid),
    s AS (
      SELECT cand.qid, cand.vec_id,
             round(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM cand
      JOIN q ON q.qid = cand.qid
      JOIN c ON c.vec_id = cand.vec_id),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}
    """


@register("ann_lsh_topk", oracle=_lsh_oracle_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multi-probe LSH ANN (scale path).  Full value oracle:
    the probe set is REPLAYED in SQL (plane literals + bit flips), not
    approximated — see ``_lsh_oracle_sql``; recall vs exact additionally
    pinned by `ann_lsh_recall`'s claim oracle."""
    from mistral_ocr_pipeline_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_planes=5, n_probe=4, n_tables=8
    )


def _ivf_fixed_centroids():
    import numpy as np

    rng = np.random.RandomState(23)
    cent = rng.standard_normal((16, 64))
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def _ivf_fixed_oracle_sql() -> str:
    """Full value oracle for the fixed-centroid IVF variant: the 16 seeded
    unit centroids are baked in as float64-exact literals; corpus cell
    assignment is argmax dot (normalization is rank-invariant per vector,
    so raw dots replay the kernel's normalized ones), query probing is
    the top-4 cells, and exact cosine + rank run over probed candidates —
    the same search path as the k-means IVF, which stays rows-only
    because its index derives from a driver-side sample."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
      {vals}),
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    cassign AS (
      SELECT vec_id, c FROM (
        SELECT cd.vec_id, cd.c,
               row_number() OVER (PARTITION BY cd.vec_id
                                  ORDER BY cd.d DESC, cd.c) AS rn
        FROM (SELECT corp.vec_id, cents.c,
                     list_dot_product(corp.v, cents.cv) AS d
              FROM corp CROSS JOIN cents) cd)
      WHERE rn = 1),
    qprobe AS (
      SELECT qid, c FROM (
        SELECT qd.qid, qd.c,
               row_number() OVER (PARTITION BY qd.qid
                                  ORDER BY qd.d DESC, qd.c) AS rn
        FROM (SELECT q.qid, cents.c,
                     list_dot_product(q.qv, cents.cv) AS d
              FROM q CROSS JOIN cents) qd)
      WHERE rn <= 4),
    cand AS (
      SELECT DISTINCT qp.qid, ca.vec_id
      FROM qprobe qp JOIN cassign ca ON qp.c = ca.c
      WHERE ca.vec_id != qp.qid),
    s AS (
      SELECT cand.qid, cand.vec_id,
             round(list_dot_product(q.qv, corp.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(corp.v, corp.v))), 6) AS cosine
      FROM cand
      JOIN q ON q.qid = cand.qid
      JOIN corp ON corp.vec_id = cand.vec_id),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """


@register("ann_ivf_fixed_topk", oracle=_ivf_fixed_oracle_sql())
def ann_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a deterministic seeded-centroid index — the variant
    whose ENTIRE path (cell assignment, top-4 probe, exact cosine, rank)
    is replayed in SQL, certifying the search machinery the k-means IVF
    shares (see ``_ivf_fixed_oracle_sql``)."""
    from mistral_ocr_pipeline_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        k=5,
        n_probe=4,
        centroids=_ivf_fixed_centroids(),
    )


def _semdedup_oracle_sql() -> str:
    """Full value oracle for SemDeDup pruning: the 16 seeded unit
    centroids are float64-exact literals, cell assignment is argmax dot
    (rn=1 over d DESC, c — the greatest-struct tie-break), centroid_sim
    is round(d/|v|, 6), and the keep-low-centroid-sim dominance is a
    NOT-IN over within-cell pairs.  Dominance compares the ROUNDED csim
    (ties → id): exact-duplicate pairs have csim equal up to summation
    ulps, where raw cross-engine ordering is unstable (see semdedup)."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
      {vals}),
    u AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 1.5)
      FROM embeddings WHERE vec_id % 25 = 0),
    asg AS (
      SELECT id, v, c AS cell,
             round(d / sqrt(list_dot_product(v, v)), 6) AS csim
      FROM (
        SELECT u.id, u.v, cents.c,
               list_dot_product(u.v, cents.cv) AS d,
               row_number() OVER (PARTITION BY u.id
                                  ORDER BY list_dot_product(u.v, cents.cv) DESC,
                                           cents.c) AS rn
        FROM u CROSS JOIN cents) x
      WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT a.id
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.id != b.id
      WHERE list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) >= 0.95
        AND (b.csim < a.csim OR (b.csim = a.csim AND b.id < a.id)))
    SELECT id AS vec_id, cell, csim AS centroid_sim
    FROM asg WHERE id NOT IN (SELECT id FROM dropped)
    ORDER BY vec_id
    """


def _semdedup_clusters_oracle_sql() -> str:
    """Transitive SemDeDup composite oracle: seeded-centroid assignment →
    within-cell cosine pairs → recursive-CTE closure → keep the
    min-(csim, id) member per duplicate cluster."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH RECURSIVE
    cents(c, cv) AS (VALUES
      {vals}),
    u AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 1.5)
      FROM embeddings WHERE vec_id % 25 = 0),
    asg AS (
      SELECT id, v, c AS cell,
             round(d / sqrt(list_dot_product(v, v)), 6) AS csim
      FROM (
        SELECT u.id, u.v, cents.c,
               list_dot_product(u.v, cents.cv) AS d,
               row_number() OVER (PARTITION BY u.id
                                  ORDER BY list_dot_product(u.v, cents.cv) DESC,
                                           cents.c) AS rn
        FROM u CROSS JOIN cents) x
      WHERE rn = 1),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
      WHERE list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) >= 0.95),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id AS node, id AS lbl FROM u
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
    comp AS (SELECT node AS id, min(lbl) AS cluster FROM reach GROUP BY node)
    SELECT comp.id AS vec_id, cluster, asg.csim AS centroid_sim,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY asg.csim, comp.id) = 1 AS is_kept
    FROM comp JOIN asg ON asg.id = comp.id
    ORDER BY vec_id
    """


@register("semdedup_clusters", oracle=_semdedup_clusters_oracle_sql())
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE SemDeDup — the composition the greedy ``semdedup``
    docstring points at: semantic within-cell pairs feed connected
    components, and each duplicate CLUSTER keeps its min-(centroid_sim,
    id) member (a~b~c with a≁c keeps exactly one, unlike the per-pair
    greedy which can drop the whole chain).  One plan: assignment,
    pairs, iterative closure, keeper window; oracle replays it with a
    recursive CTE."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        connected_components,
        semantic_assign,
        semantic_pairs,
    )
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    dvec = F.col("embedding").cast("array<double>")
    scaled = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(dvec, lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    u = emb.select("vec_id", dvec.alias("embedding")).unionByName(scaled)
    cent = _ivf_fixed_centroids()
    pairs = semantic_pairs(u, "vec_id", "embedding", cent, 0.95).select(
        "id_a", "id_b"
    )
    comp = connected_components(u.select(F.col("vec_id").alias("id")), pairs)
    asg = semantic_assign(u, "vec_id", "embedding", cent)
    w = W.partitionBy("cluster").orderBy("centroid_sim", "vec_id")
    return (
        comp.join(asg, "id")
        .select(
            F.col("id").alias("vec_id"),
            F.col("comp").alias("cluster"),
            F.col("csim").alias("centroid_sim"),
        )
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .orderBy("vec_id")
    )


@register("semdedup_prune", oracle=_semdedup_oracle_sql())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic dedup via embedding clusters, Abbas et al. 2023)
    over embeddings ∪ ×1.5-scaled clones — duplicates EXACT dedup cannot
    see (different bytes, cosine 1.0) and MinHash cannot see (no shared
    tokens): the scale case for paraphrase/re-encode dups.  Keeps the
    low-centroid-similarity member of each duplicate pair (the paper's
    edge-example rule); entire path — seeded-centroid assignment,
    within-cell pairs, dominance prune — value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    dvec = F.col("embedding").cast("array<double>")
    scaled = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(dvec, lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    u = emb.select("vec_id", dvec.alias("embedding")).unionByName(scaled)
    return semdedup(
        u, "vec_id", "embedding", _ivf_fixed_centroids(), threshold=0.95
    ).orderBy("vec_id")


def _ann_recall_claim(
    spark: SparkSession, sf_dir: str, variant: str, min_recall: float
) -> DataFrame:
    """Verified-claim frame for approximate ANN: per query, recall@5 of
    the approximate result against the exact top-5 — both computed in
    this one Spark query — emitted as a boolean the oracle asserts TRUE.
    The approximate rows themselves are engine-specific (no SQL twin);
    the CLAIM that they cover ≥``min_recall`` of the exact neighbors is
    hash-checkable, so a recall regression turns the row red."""
    from mistral_ocr_pipeline_spark.operators.similarity import ivf_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    if variant == "lsh":
        approx = lsh_topk(
            emb, queries_df, k=5, n_planes=5, n_probe=4, n_tables=8
        )
    else:
        approx = ivf_topk(emb, queries_df, k=5, n_centroids=16, n_probe=8)
    exact = ann_cosine_topk(spark, sf_dir)
    hits = exact.join(
        approx.select("query_id", "vec_id").withColumn("hit", F.lit(1)),
        ["query_id", "vec_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))).alias("r"))
        .select("query_id", (F.col("r") >= min_recall).alias("recall_ok"))
    )


@register(
    "ann_lsh_recall",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN recall@5 ≥ 0.6 per query, as a verified claim."""
    return _ann_recall_claim(spark, sf_dir, "lsh", 0.6)


@register(
    "ann_ivf_recall",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall@5 ≥ 0.4 per query, as a verified claim.  The bound
    is looser than LSH's: uniform-random embeddings are IVF's worst case
    (neighbors sit near cell boundaries at nearly equal distances —
    measured per-query recall 0.6–1.0 at n_probe=8/16 cells with the
    partition-invariant hash-ordered seed sample, vs near-1.0 on
    clustered corpora)."""
    return _ann_recall_claim(spark, sf_dir, "ivf", 0.4)


def _pq_seeded_codebooks():
    from mistral_ocr_pipeline_spark.operators.similarity import seeded_pq_codebooks

    return seeded_pq_codebooks(64, m=16, ksub=16, seed=29)


def _pq_search_body(dsub: int, cell_pruned: bool = False) -> str:
    """The PQ SEARCH oracle body (corpus codes via argmin of the reduced
    distance c·c − 2·x·c, per-query LUT, ADC sum ‖q‖² + Σⱼ lut[j, codeⱼ]
    rounded like the Spark fold) — parameterized over the codebook
    relation ``cb(mm, kk, cv)``, which the literal variant supplies as
    VALUES and the trained variant as unrolled k-means CTEs.

    ``cell_pruned=True`` is the IVFPQ variant: the ADC join additionally
    requires the corpus row's IVF cell (``cassign``) to be among the
    query's probed cells (``qprobe``) — scoring runs only inside probed
    cells, exactly `similarity_df.ivfpq_topk`."""
    prune = """
      JOIN cassign ca ON ca.vec_id = c.vec_id
      JOIN qprobe qp ON qp.c = ca.c AND qp.qid = l.qid""" if cell_pruned else ""
    return f"""
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    codes AS (
      SELECT vec_id, mm, kk AS code FROM (
        SELECT c.vec_id, cb.mm, cb.kk,
               row_number() OVER (PARTITION BY c.vec_id, cb.mm ORDER BY
                 list_dot_product(cb.cv, cb.cv)
                 - 2 * list_dot_product(
                     list_slice(c.v, cb.mm * {dsub} + 1, cb.mm * {dsub} + {dsub}),
                     cb.cv), cb.kk) AS rn
        FROM corp c CROSS JOIN cb)
      WHERE rn = 1),
    lut AS (
      SELECT q.qid, cb.mm, cb.kk,
             round((list_dot_product(cb.cv, cb.cv)
             - 2 * list_dot_product(
                 list_slice(q.qv, cb.mm * {dsub} + 1, cb.mm * {dsub} + {dsub}),
                 cb.cv)) * 1000000.0)::BIGINT AS micro
      FROM q CROSS JOIN cb),
    qq AS (SELECT qid,
                  round(list_dot_product(qv, qv) * 1000000.0)::BIGINT AS qq
           FROM q),
    adc AS (
      SELECT l.qid, c.vec_id,
             round((any_value(qq.qq) + sum(l.micro)) / 1000000.0, 6)
               AS adc_dist
      FROM codes c
      JOIN lut l ON l.mm = c.mm AND l.kk = c.code{prune}
      JOIN qq ON qq.qid = l.qid
      WHERE c.vec_id != l.qid
      GROUP BY l.qid, c.vec_id),
    adcr AS (SELECT *, row_number() OVER (
               PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank FROM adc)
    """


def _pq_cte() -> str:
    """Literal-codebook PQ oracle: the 16×16 seeded sub-codebooks as
    float64-exact VALUES + the shared search body (`_pq_search_body`)."""
    cb = _pq_seeded_codebooks()
    m, ksub, dsub = cb.shape
    vals = ",\n      ".join(
        f"({j}, {k}, [{', '.join(repr(float(x)) for x in cb[j, k])}]::DOUBLE[])"
        for j in range(m)
        for k in range(ksub)
    )
    return (
        f"""
    WITH cb(mm, kk, cv) AS (VALUES
      {vals}),"""
        + _pq_search_body(dsub)
    )


@register(
    "ann_pq_topk",
    oracle=_pq_cte()
    + """
    SELECT qid AS query_id, vec_id, adc_dist, rank FROM adcr WHERE rank <= 5
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, asymmetric-distance scoring: corpus
    vectors ride as 16 small codes (32× smaller than the float vectors),
    each query broadcasts a 16×16 LUT literal, and scoring is a pure
    Catalyst ``aggregate`` fold — 16 array lookups summed, zero floats
    read and zero Python on the hot path.  Seeded codebooks make the
    ENTIRE path (encode argmin, LUT, ADC sum, rank) SQL-replayable —
    see ``_pq_cte``.  The trained-codebook variant
    (``pq_codebooks_kmeans``, deterministic hash-ordered sample) shares
    this machinery; its recall is certified by `ann_pq_recall`."""
    from mistral_ocr_pipeline_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), _pq_seeded_codebooks(), k=5
    )


@register(
    "ann_pq_refine_topk",
    oracle=_pq_cte()
    + """
    , cand AS (SELECT qid, vec_id FROM adcr WHERE rank <= 32),
    s AS (
      SELECT cand.qid, cand.vec_id,
             round(list_dot_product(q.qv, corp.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(corp.v, corp.v))), 6) AS cosine
      FROM cand
      JOIN q ON q.qid = cand.qid
      JOIN corp ON corp.vec_id = cand.vec_id),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def ann_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search — the production shape: the ADC pass prunes
    the corpus to 32 candidates per query reading only the codes table;
    exact cosine (expression fold dot, bit-identical to sequential SQL)
    re-ranks those candidates alone, so per query only 32 float vectors
    are ever touched.  Entire path SQL-replayed: codes, LUT, ADC rank,
    candidate cut, exact re-rank."""
    from mistral_ocr_pipeline_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), _pq_seeded_codebooks(),
        k=5, refine=32,
    )


@register(
    "ann_pq_recall",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-PQ recall@5 ≥ 0.6 per query, as a verified claim
    (measured 1.0 on every query at m=16/ksub=32/refine=64 — trained
    per-subspace Lloyd over the partition-invariant hash-ordered sample;
    the near-uniform corpus is the hard case, cf. `ann_ivf_recall`)."""
    from mistral_ocr_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks_kmeans,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    cb = pq_codebooks_kmeans(emb, m=16, ksub=32)
    approx = pq_topk(emb, queries_df, cb, k=5, refine=64)
    exact = brute_force_topk(emb, queries_df, k=5)
    hits = exact.join(
        approx.select("query_id", "vec_id").withColumn("hit", F.lit(1)),
        ["query_id", "vec_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))).alias("r"))
        .select("query_id", (F.col("r") >= 0.6).alias("recall_ok"))
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "text_token_counts",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END::bigint
               AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::bigint
               AS bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        bpe_token_count,
        ws_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


_PII_BASE_SQL = """
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || doc_id ||
                       '@example.com or 555-123-4567' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
                  THEN ' ssn 123-45-6789 from 10.0.0.' || (doc_id % 255)
                  ELSE '' END AS t
      FROM documents"""


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH base AS ({_PII_BASE_SQL}),
    s1 AS (SELECT doc_id,
             len(regexp_extract_all(t,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}'))::bigint
                 AS n_email,
             regexp_replace(t,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}',
                 '[EMAIL]', 'g') AS t
           FROM base),
    s2 AS (SELECT doc_id, n_email,
             len(regexp_extract_all(t,
                 '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}'))::bigint AS n_ssn,
             regexp_replace(t, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}',
                 '[SSN]', 'g') AS t
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ssn,
             len(regexp_extract_all(t,
                 '(?:\\+?[0-9]{{1,2}}[-. ])?\\(?[0-9]{{3}}\\)?[-. ][0-9]{{3}}[-. ][0-9]{{4}}'))::bigint
                 AS n_phone,
             regexp_replace(t,
                 '(?:\\+?[0-9]{{1,2}}[-. ])?\\(?[0-9]{{3}}\\)?[-. ][0-9]{{3}}[-. ][0-9]{{4}}',
                 '[PHONE]', 'g') AS t
           FROM s2)
    SELECT doc_id AS id, n_email, n_ssn, n_phone,
           len(regexp_extract_all(t,
               '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}'))::bigint
               AS n_ip,
           regexp_replace(t,
               '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}',
               '[IP]', 'g') AS scrubbed
    FROM s3
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text_analysis.pii_scrub): emails / SSNs /
    phones / IP literals replaced with typed tokens and counted, staged in
    a fixed order so an SSN never leaks into the phone pattern.  PII is
    synthesized deterministically onto every 7th/11th document (the
    corpus itself is clean); the oracle replays the same staged regex
    cascade in RE2 — the patterns live in the RE2∩Java-identical subset,
    and the scrubbed STRINGS hash-match, not just the counts."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ssn 123-45-6789 from 10.0.0."),
                    (F.col("doc_id") % 255).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(docs, "doc_id", "text")


@register(
    "text_repetition",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(coalesce(text, ''),
                 chr(10)), x -> trim(x)), x -> x <> '') AS lines,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                 x -> x <> '') AS words
      FROM documents),
    g AS (
      SELECT doc_id, lines,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                 i -> array_to_string(words[i:i+2], ' ')) AS grams
      FROM parts)
    SELECT doc_id AS id,
           len(lines)::bigint AS n_lines,
           round(CASE WHEN len(lines) > 0
                 THEN (len(lines) - len(list_distinct(lines))) / len(lines)
                 ELSE 0 END, 6) AS dup_line_fraction,
           len(grams)::bigint AS n_3grams,
           round(CASE WHEN len(grams) > 0
                 THEN (len(grams) - len(list_distinct(grams))) / len(grams)
                 ELSE 0 END, 6) AS dup_3gram_fraction
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics (Gopher-style quality signals):
    duplicate-line and duplicate-3-gram fractions per document — the
    filter that catches boilerplate-heavy / loop-generated docs before
    training.  Pure array expressions, map-only."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        repetition_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text")


@register(
    "text_quality_score",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             length(text)::bigint AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint
                 AS n_tokens,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for')))::bigint AS n_stop,
             len(regexp_extract_all(text, '[^\w\s]'))::bigint AS n_punct,
             len(regexp_extract_all(text, '[0-9]'))::bigint AS n_digit
      FROM documents)
    SELECT doc_id,
           n_chars AS q_chars, n_tokens AS q_tokens,
           round(n_stop::double / greatest(n_tokens, 1), 6) AS q_stop_ratio,
           round(n_punct::double / greatest(n_chars, 1), 6) AS q_punct_ratio,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE round(
                  least(1.0, (n_stop::double / greatest(n_tokens, 1)) * 2)
                  * (1.0 - least(1.0, (n_punct::double / greatest(n_chars, 1)) * 4))
                  * (1.0 - least(1.0, (n_digit::double / greatest(n_chars, 1)) * 4)),
                  6) END AS q_score
    FROM f
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.text_analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    return quality_features(docs.select("doc_id", "text")).select(
        "doc_id", "q_chars", "q_tokens", "q_stop_ratio", "q_punct_ratio", "q_score"
    )


@register(
    "text_langid",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
             len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS ar,
             len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS ru,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for'))) AS en,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'mit', 'auf', 'zu'))) AS de,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('le', 'la', 'les', 'et', 'de', 'un', 'une', 'est', 'dans', 'pour'))) AS fr,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('el', 'la', 'los', 'de', 'que', 'y', 'en', 'un', 'una', 'es'))) AS es
      FROM documents)
    SELECT doc_id,
           CASE WHEN cjk > 0 THEN 'cjk'
                WHEN ar > 0 THEN 'ar'
                WHEN ru > 0 THEN 'ru'
                WHEN greatest(en, de, fr, es) > 0 AND en = greatest(en, de, fr, es)
                    THEN 'en'
                WHEN greatest(en, de, fr, es) > 0 AND de = greatest(en, de, fr, es)
                    THEN 'de'
                WHEN greatest(en, de, fr, es) > 0 AND fr = greatest(en, de, fr, es)
                    THEN 'fr'
                WHEN greatest(en, de, fr, es) > 0 AND es = greatest(en, de, fr, es)
                    THEN 'es'
                ELSE 'unknown' END AS lang_id
    FROM f
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.text_analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs.select("doc_id", "text")).select("doc_id", "lang_id")


# Multi-script fixture for `text_script_detect` — the parquet corpus is
# pure ASCII, so (exactly like the mojibake fixture) the query synthesizes
# deterministic non-Latin payloads from doc_id with IDENTICAL literals on
# both engines: 'replace' docs become single-script foreign text, 'append'
# docs become genuinely mixed-script (the base is truncated to 60 chars so
# the foreign share clears the 5% mixed threshold — both flag values occur).
_SCRIPT_PHRASES: tuple[tuple[str, str], ...] = (
    ("replace", "привет мир данные модель"),
    ("append", "深度学习模型训练 データ"),
    ("replace", "αλφα βητα γαμμα δελτα κοσμος"),
    ("append", "مرحبا بالعالم بيانات"),
    ("replace", "한국어 텍스트 데이터 세트"),
    ("append", "привет κοσμος 世界 123"),
)


def _script_oracle() -> str:
    from mistral_ocr_pipeline_spark.operators.text_analysis import SCRIPT_RANGES

    arms = "\n      ".join(
        f"WHEN doc_id % 7 = {i} THEN "
        + (f"'{ph}'" if mode == "replace"
           else f"substring(text, 1, 60) || ' {ph}'")
        for i, (mode, ph) in enumerate(_SCRIPT_PHRASES)
    )
    names = [n for n, _ in SCRIPT_RANGES]
    cnts = ",\n        ".join(
        f"len(regexp_extract_all(t, '[{rng}]'))::BIGINT AS cnt_{n}"
        for n, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"cnt_{n}" for n in names)
    fracs = ",\n        ".join(
        f"(CASE WHEN script_chars = 0 THEN 0 "
        f"ELSE cnt_{n} * 1000000 // script_chars END)::BIGINT AS frac_{n}_micro"
        for n in names
    )
    best = "greatest(" + ", ".join(f"cnt_{n}" for n in names) + ")"
    dom = "\n             ".join(
        f"WHEN cnt_{n} = {best} THEN '{n}'" for n in names
    )
    nsc = " + ".join(f"(frac_{n}_micro >= 50000)::INT" for n in names)
    return f"""
    WITH src AS (
      SELECT doc_id, CASE
      {arms}
      ELSE text END AS t
      FROM documents),
    cnt AS (
      SELECT doc_id,
        {cnts}
      FROM src),
    tot AS (SELECT *, ({total})::BIGINT AS script_chars FROM cnt),
    fr AS (
      SELECT *,
        {fracs}
      FROM tot)
    SELECT *,
           CASE WHEN script_chars = 0 THEN 'none'
             {dom}
           END AS dominant_script,
           ({nsc})::INT AS n_scripts,
           ({nsc}) >= 2 AS is_mixed
    FROM fr
    """


@register(
    "dedup_edit_distance",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substring(text, 1, 4) || 'x' || substring(text, 6)
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             substring(text, 1, 4) || substring(text, 6)
      FROM documents WHERE doc_id % 10 = 5),
    n AS (SELECT id, {_KEY.format(c='text')} AS s FROM u),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             levenshtein(a.s, b.s) AS edit_distance
      FROM n a JOIN n b
        ON b.id > a.id AND abs(len(a.s) - len(b.s)) <= 2)
    SELECT id_a, id_b, edit_distance::INT AS edit_distance,
           FALSE AS bucket_truncated
    FROM p WHERE edit_distance <= 2
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (`dedup.edit_distance_pairs`,
    PassJoin pigeonhole blocking + exact levenshtein verify) over
    documents ∪ one-substitution clones ∪ one-DELETION clones — the
    deletion shifts every later chunk, exactly the case naive
    aligned-chunk blocking misses and PassJoin's ±k probe positions
    cover.  The oracle is the brute-force ALL-PAIRS levenshtein ≤ 2
    (length-difference prefiltered), so the hash match proves the
    blocking found every true pair (completeness), the verify dropped
    every false candidate, and no fixture bucket hit its cap."""
    from mistral_ocr_pipeline_spark.operators.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.unionAll(_edit_clones(spark, sf_dir))
    return edit_distance_pairs(u, "doc_id", "text", max_edits=2)


# shared clone fixture for the edit-distance queries: one substitution
# (+1000000) and one chunk-shifting DELETION (+2000000)
_EDIT_CLONES_SQL = """
      SELECT doc_id + 1000000 AS id,
             substring(text, 1, 4) || 'x' || substring(text, 6) AS text
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             substring(text, 1, 4) || substring(text, 6)
      FROM documents WHERE doc_id % 10 = 5"""


def _edit_clones(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sub = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 4), F.lit("x"),
            F.expr("substring(text, 6)"),
        ).alias("text"),
    )
    dele = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 4), F.expr("substring(text, 6)")
        ).alias("text"),
    )
    return sub.unionAll(dele)


@register(
    "edit_index_append",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL{_EDIT_CLONES_SQL}),
    n AS (SELECT id, {_KEY.format(c='text')} AS s, len({_KEY.format(c='text')})
               AS l FROM u),
    keys AS (
      SELECT DISTINCT i AS ci, l AS ell,
             substring(s, (i * l) // 3 + 1,
                       ((i + 1) * l) // 3 - (i * l) // 3) AS sub
      FROM n, unnest([0, 1, 2]) AS t(i)
      WHERE ((i + 1) * l) // 3 - (i * l) // 3 >= 1)
    SELECT ci, ell, sub, TRUE AS index_consistent FROM keys
    """,
)
def edit_index_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified claim: PassJoin chunk-index maintenance ≡ one-shot
    rebuild.  History (documents) is indexed once, the clone batch
    merges in via `dedup.edit_index_append` (batch-only chunking), and
    per chunk key the claim row asserts the capped posting list AND
    truncation flag agree, null-safe on a full outer join, between the
    merged index and `build_edit_index` over history ∪ batch.  The
    oracle independently replays the chunk-key universe (boundaries,
    lengths, substrings), so the key columns are value-checked too."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        build_edit_index,
        edit_index_append,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = _edit_clones(spark, sf_dir)
    one = build_edit_index(docs.unionAll(batch), "doc_id", "text")
    two = edit_index_append(
        build_edit_index(docs, "doc_id", "text"), batch, "doc_id", "text"
    )
    j = (
        one.select(
            "ci", "ell", "sub",
            F.col("ids").alias("_one_ids"),
            F.col("bucket_truncated").alias("_one_tr"),
        )
        .join(
            two.select(
                "ci", "ell", "sub",
                F.col("ids").alias("_two_ids"),
                F.col("bucket_truncated").alias("_two_tr"),
            ),
            ["ci", "ell", "sub"],
            "full_outer",
        )
    )
    return j.select(
        "ci", "ell", "sub",
        (
            F.col("_one_ids").eqNullSafe(F.col("_two_ids"))
            & F.col("_one_tr").eqNullSafe(F.col("_two_tr"))
        ).alias("index_consistent"),
    )


@register(
    "dedup_edit_incremental",
    oracle=f"""
    WITH hist AS (
      SELECT doc_id AS id, {_KEY.format(c='text')} AS s FROM documents),
    batch AS (
      SELECT id, {_KEY.format(c='text')} AS s FROM ({_EDIT_CLONES_SQL})),
    p AS (
      SELECT b.id AS id_new, h.id AS id_old,
             levenshtein(b.s, h.s) AS edit_distance
      FROM batch b JOIN hist h ON abs(len(b.s) - len(h.s)) <= 2)
    SELECT id_new, id_old, edit_distance::INT AS edit_distance,
           FALSE AS bucket_truncated
    FROM p WHERE edit_distance <= 2
    """,
)
def dedup_edit_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental edit-distance near-dup
    (`dedup.edit_distance_incremental`): the clone batch finds its
    within-2-edits history neighbors through the persisted chunk index
    — only the batch is chunked, and verification reads only the
    candidate history docs (semi-join-pruned).  The oracle is the
    brute-force batch×history levenshtein ≤ 2, so the hash match proves
    the index-served path is exactly as complete as a full scan."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        build_edit_index,
        edit_distance_incremental,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = _edit_clones(spark, sf_dir)
    index = build_edit_index(docs, "doc_id", "text")
    return edit_distance_incremental(batch, docs, index, "doc_id", "text")


@register(
    "text_skipgram_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    occ AS (
      SELECT doc, unnest(generate_series(1, len(ts))) - 1 AS pos,
             unnest(ts) AS w
      FROM tok),
    freq AS (SELECT w, count(*) AS c FROM occ GROUP BY w),
    total AS (SELECT sum(c)::DOUBLE AS n_tok FROM freq),
    kept AS (
      SELECT doc, pos, w
      FROM occ JOIN freq USING (w) CROSS JOIN total
      WHERE round((('0x' || substring(md5('sgp:' || doc::VARCHAR || ':'
                    || pos::VARCHAR), 1, 8))::UBIGINT::DOUBLE
                   / 4294967296.0), 6)
            < round(least(1.0, sqrt(0.01 / (c / n_tok))), 6)),
    compact AS (
      SELECT doc, w,
             row_number() OVER (PARTITION BY doc ORDER BY pos) - 1 AS np
      FROM kept),
    pairs AS (
      SELECT a.w AS center, b.w AS context, abs(b.np - a.np) AS d
      FROM compact a JOIN compact b
        ON b.doc = a.doc AND b.np != a.np
       AND b.np BETWEEN a.np - 2 AND a.np + 2)
    SELECT center, context, count(*)::BIGINT AS n_pairs,
           sum(round(1000000.0 / d, 0)::BIGINT)::BIGINT AS glove_micro
    FROM pairs GROUP BY center, context
    """,
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence feed (`text_analysis.skipgram_pairs`):
    md5-uniform frequent-word subsampling at t=0.01 (the fixture's
    31-word vocab makes every word 'frequent', so the gate is genuinely
    active), compacted-sequence ±2 windows, GloVe 1/d micro-unit
    weights, rolled up to ≤|vocab|² rows.  Subsample draws, compaction
    ranks, pair fan-out, and both rollup sums replay exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        skipgram_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return skipgram_pairs(docs, window=2, subsample_t=0.01)


@register(
    "text_negative_sampling",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                    t -> t != '')) AS word
      FROM documents),
    freq AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    wm AS (
      SELECT word, cnt,
             round(sqrt(cnt::DOUBLE * sqrt(cnt::DOUBLE)) * 1000000.0, 0)
               ::BIGINT AS w_micro
      FROM freq)
    SELECT word, cnt, w_micro,
           coalesce(sum(w_micro) OVER (
             ORDER BY cnt DESC, word ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS cum_start,
           (sum(w_micro) OVER ())::BIGINT AS total_micro
    FROM wm
    """,
)
def text_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling table (`text_analysis.negative_sampling_table`):
    count^0.75 weights via two correctly-rounded IEEE sqrts (never libm
    pow), integer micro-units BEFORE summation, exclusive cumulative
    offsets in deterministic (cnt desc, word) order — the inverse-CDF
    layout a trainer broadcasts.  Counts, weights, offsets, and the
    total all replay exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        negative_sampling_table,
    )

    docs = _t(spark, sf_dir, "documents")
    return negative_sampling_table(docs)


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY w),
    nu AS (SELECT sum(c)::DOUBLE AS n_u FROM uni),
    pairs AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS pair_count
      FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(ts) - 1, 0)),
                 i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS p
        FROM tok)
      GROUP BY p.w1, p.w2),
    nb AS (SELECT sum(pair_count)::DOUBLE AS n_b FROM pairs),
    scored AS (
      SELECT w1, w2, pair_count, u1.c AS c1, u2.c AS c2,
             round(ln((pair_count / n_b)
                      / ((u1.c / n_u) * (u2.c / n_u))) * 1000000.0,
                   0)::BIGINT AS pmi_micro
      FROM pairs
      JOIN uni u1 ON u1.w = pairs.w1
      JOIN uni u2 ON u2.w = pairs.w2
      CROSS JOIN nb CROSS JOIN nu
      WHERE pair_count >= 5),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY pmi_micro DESC, w1 ASC, w2 ASC)
               AS rank
      FROM scored)
    SELECT w1, w2, pair_count, c1, c2, pmi_micro, rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (`text_analysis.pmi_collocations`): top-20
    adjacent word pairs by ln(p(ab)/(p(a)p(b))) with a count-5 floor —
    the phrase-induction / boilerplate-collocation statistic.  Bigram and
    unigram counts, both totals, the micro-unit rounded log score, and
    the tie-broken rank window all replay in SQL with identical operand
    order (so the doubles agree bit-for-bit)."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        pmi_collocations,
    )

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=20)


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                    t -> t != '')) AS word
      FROM documents),
    freq AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
      FROM freq),
    total AS (
      SELECT coalesce(sum(cnt), 0)::BIGINT AS total_tokens FROM ranked),
    cuts AS (
      SELECT k::BIGINT AS vocab_k,
             (SELECT count(*) FROM ranked WHERE rank <= k)::BIGINT
               AS n_types_used,
             (SELECT coalesce(sum(cnt), 0) FROM ranked WHERE rank <= k)::BIGINT
               AS covered_tokens
      FROM (VALUES (5), (10), (20)) AS ks(k))
    SELECT vocab_k, n_types_used, covered_tokens, total_tokens,
           (CASE WHEN total_tokens = 0 THEN 0
                 ELSE covered_tokens * 1000000 // total_tokens
            END)::BIGINT AS coverage_micro
    FROM cuts CROSS JOIN total
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage curve (`text_analysis.vocab_coverage`): the
    corpus collapses to its word-frequency table in one combinable
    groupBy, ranking runs over the VOCAB (not the corpus), and each
    candidate vocab size k ∈ {5,10,20} (sized to the fixture's 31-word
    vocabulary) reports exactly how many token occurrences its top-k
    types cover, as a BIGINT micro-unit fraction — the tokenizer-budget
    / OOV-rate planning number.  Frequencies, tie-broken ranks, cut
    sums, and the floor-divided coverage all replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, ks=(5, 10, 20))


def _zorder_oracle(bits: int = 16, n_shards: int = 16) -> str:
    top = (1 << bits) - 1
    cols = ("doc_id", "n_chars")
    d = len(cols)
    buckets = ",\n        ".join(
        f"CASE WHEN _max_{c} = _min_{c} THEN 0 "
        f"ELSE (CAST({c} AS BIGINT) - _min_{c}) * {top} "
        f"// (_max_{c} - _min_{c}) END AS zbucket_{c}"
        for c in cols
    )
    terms = " + ".join(
        f"(((zbucket_{c} >> {j}) & 1) << {j * d + k})"
        for k, c in enumerate(cols)
        for j in range(bits)
    )
    stats = ", ".join(
        f"min({c})::BIGINT AS _min_{c}, max({c})::BIGINT AS _max_{c}"
        for c in cols
    )
    return f"""
    WITH stats AS (SELECT {stats} FROM documents),
    b AS (
      SELECT doc_id,
        {buckets}
      FROM documents CROSS JOIN stats),
    z AS (SELECT *, ({terms})::BIGINT AS zvalue FROM b)
    SELECT doc_id, zbucket_doc_id, zbucket_n_chars, zvalue,
           (zvalue * {n_shards} // {1 << (bits * d)})::INT AS shard
    FROM z
    """


@register("layout_zorder", oracle=_zorder_oracle())
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (doc_id, n_chars)
    (`layout.zorder_shards`): fixed-point bucketing into 2^16 cells via
    BIGINT floor division, 32 unrolled shift/mask interleave terms, and
    the deterministic equi-width shard id — the physical-design pass
    behind Delta OPTIMIZE ZORDER BY / Iceberg sort-order rewrite, here
    as a pure scan-level expression whose only exchange is the 1-row
    min/max broadcast.  Buckets, every interleave term, and the shard
    rule replay bit-for-bit in the generated oracle."""
    from mistral_ocr_pipeline_spark.operators.layout import zorder_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return zorder_shards(docs, ["doc_id", "n_chars"]).select(
        "doc_id", "zbucket_doc_id", "zbucket_n_chars", "zvalue", "shard"
    )


# profiling fixture: documents with deterministic nulls punched into text
# (the parquet corpus has none) so the null metrics are exercised
_PROFILE_SRC = (
    "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,"
    " lang, source, n_chars FROM documents"
)
_PROFILE_COLS = (
    ("doc_id", "doc_id"),          # numeric: metric = the value itself
    ("text", "len(text)::BIGINT"),  # string: metric = char length
    ("lang", "len(lang)::BIGINT"),
    ("source", "len(source)::BIGINT"),
    ("n_chars", "n_chars"),
)


def _profile_oracle() -> str:
    parts = []
    for c, metric in _PROFILE_COLS:
        parts.append(f"""
    SELECT '{c}' AS "column",
           count(*)::BIGINT AS n_rows,
           (count(*) FILTER (WHERE {c} IS NULL))::BIGINT AS n_null,
           count(DISTINCT {c})::BIGINT AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_repr,
           CAST(max({c}) AS VARCHAR) AS max_repr,
           (CASE WHEN count({metric}) = 0 THEN NULL
                 ELSE sum({metric}) * 1000000 // count({metric})
            END)::BIGINT AS mean_micro
    FROM src""")
    return f"WITH src AS ({_PROFILE_SRC})" + "\n    UNION ALL".join(parts)


@register("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (`profiling.profile_columns`): per
    column the row count, null count, EXACT distinct count, min/max
    string reprs, and an all-integer micro-unit mean (value for
    numerics, char length for strings) — the ingest health check run
    before any curation.  All metrics are map-side partials in ONE
    aggregation job (the multi-distinct rides Spark's Expand rewrite),
    unpivoted executor-side via stack.  The oracle recomputes every
    metric per column relationally over the same null-punched source."""
    from mistral_ocr_pipeline_spark.operators.profiling import profile_columns

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return profile_columns(docs)


# (column, metric, op, threshold) — 'source n_distinct >= 100' fails by
# design at every SF (20 sources): a contract gate must show a red row
_PROFILE_CONSTRAINTS = (
    ("doc_id", "null_frac_micro", "eq", 0),
    ("text", "null_frac_micro", "le", 100000),
    ("lang", "n_distinct", "le", 10),
    ("source", "n_distinct", "ge", 100),
    ("n_chars", "mean_micro", "ge", 1000000),
    ("missing_col", "n_rows", "ge", 1),
)


def _contract_oracle() -> str:
    prof_union = _profile_oracle().split("WITH src AS", 1)[1]
    prof_union = prof_union[prof_union.index(")") + 1 :]
    cons = ", ".join(
        f"('{c}', '{m}', '{o}', {t}::BIGINT)"
        for c, m, o, t in _PROFILE_CONSTRAINTS
    )
    return f"""
    WITH src AS ({_PROFILE_SRC}),
    prof AS ({prof_union}),
    cons("column", metric, op, threshold) AS (VALUES {cons}),
    j AS (
      SELECT cons.*, prof.n_rows, prof.n_null, prof.n_distinct,
             prof.mean_micro
      FROM cons LEFT JOIN prof USING ("column")),
    o AS (
      SELECT "column", metric, op, threshold,
             (CASE metric
                WHEN 'n_rows' THEN n_rows
                WHEN 'n_null' THEN n_null
                WHEN 'n_distinct' THEN n_distinct
                WHEN 'null_frac_micro' THEN
                  CASE WHEN n_rows > 0
                       THEN (n_null * 1000000) // n_rows END
                WHEN 'mean_micro' THEN mean_micro
              END)::BIGINT AS observed
      FROM j)
    SELECT "column", metric, op, threshold, observed,
           CASE WHEN observed IS NULL THEN FALSE
                WHEN op = 'le' THEN observed <= threshold
                WHEN op = 'ge' THEN observed >= threshold
                ELSE observed = threshold END AS passed
    FROM o
    """


@register("profile_contract_gate", oracle=_contract_oracle())
def profile_contract_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract (`profiling.check_constraints`,
    the Deequ/Great-Expectations gate): the single-pass profile of the
    null-punched documents table evaluated against a six-row contract —
    null-fraction caps, cardinality bounds, a mean floor, one
    deliberately failing cardinality bound, and one constraint naming a
    column the profile has never seen (fails CLOSED, observed NULL) —
    the go/no-go an ingest job checks before curation touches a batch.
    Contract rows are data, not code; evaluation is one broadcast join
    over the #columns-row profile."""
    from mistral_ocr_pipeline_spark.operators.profiling import (
        check_constraints,
        profile_columns,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return check_constraints(
        profile_columns(docs), list(_PROFILE_CONSTRAINTS)
    )


def _script_fixture_text() -> "F.Column":
    """The doc_id-keyed multi-script text transform, Spark side (shared
    by `text_script_detect` and `transcript_script_mismatch`)."""
    d = F.col("doc_id")
    t = None
    for i, (mode, ph) in enumerate(_SCRIPT_PHRASES):
        val = (
            F.lit(ph) if mode == "replace"
            else F.concat(F.substring("text", 1, 60), F.lit(" " + ph))
        )
        t = F.when(d % 7 == i, val) if t is None else t.when(d % 7 == i, val)
    return t.otherwise(F.col("text"))


def _script_mismatch_oracle() -> str:
    from mistral_ocr_pipeline_spark.operators.text_analysis import SCRIPT_RANGES

    arms = "\n      ".join(
        f"WHEN doc_id % 7 = {i} THEN "
        + (f"'{ph}'" if mode == "replace"
           else f"substring(text, 1, 60) || ' {ph}'")
        for i, (mode, ph) in enumerate(_SCRIPT_PHRASES)
    )
    names = [n for n, _ in SCRIPT_RANGES]
    cnts = ",\n        ".join(
        f"len(regexp_extract_all(coalesce(text, ''), '[{rng}]'))::BIGINT"
        f" AS cnt_{n}"
        for n, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"cnt_{n}" for n in names)
    best = "greatest(" + ", ".join(f"cnt_{n}" for n in names) + ")"
    dom_arms = "\n             ".join(
        f"WHEN cnt_{n} = {best} THEN '{n}'" for n in names
    )
    return f"""
    WITH src AS (
      SELECT doc_id, CASE
      {arms}
      ELSE text END AS text
      FROM documents),
    tr AS (
      -- roles cycle per TURN (turn_idx % 4), not per doc_id: the canonical
      -- doc_id % 4 rule and the %50 conv keying are arithmetically
      -- entangled (50k mod 4 alternates parity), leaving every conv with
      -- only 2 roles and never a user+assistant pair to compare
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (['user','assistant','tool','system'])[((doc_id // 50) % 4) + 1]
               AS role,
             text
      FROM src),
    cnt AS (
      SELECT conv_id, role,
        {cnts}
      FROM tr),
    dom AS (
      SELECT conv_id, role,
           CASE WHEN ({total}) = 0 THEN 'none'
             {dom_arms}
           END AS dominant_script
      FROM cnt),
    base AS (
      SELECT conv_id,
             count(DISTINCT CASE WHEN role = 'user'
                   AND dominant_script != 'none'
                   THEN dominant_script END)::INT AS n_user_scripts,
             count(DISTINCT CASE WHEN role = 'assistant'
                   AND dominant_script != 'none'
                   THEN dominant_script END)::INT AS n_asst_scripts
      FROM dom GROUP BY conv_id),
    u AS (
      SELECT DISTINCT conv_id, dominant_script FROM dom
      WHERE role = 'user' AND dominant_script != 'none'),
    a AS (
      SELECT conv_id, dominant_script FROM dom
      WHERE role = 'assistant' AND dominant_script != 'none'),
    mis AS (
      SELECT a.conv_id, count(*)::BIGINT AS n_mis
      FROM a
      JOIN (SELECT DISTINCT conv_id FROM u) uc ON uc.conv_id = a.conv_id
      WHERE NOT EXISTS (
        SELECT 1 FROM u
        WHERE u.conv_id = a.conv_id
          AND u.dominant_script = a.dominant_script)
      GROUP BY a.conv_id)
    SELECT base.conv_id, n_user_scripts, n_asst_scripts,
           coalesce(n_mis, 0)::BIGINT AS n_mismatched_asst_turns,
           coalesce(n_mis, 0) > 0 AS script_mismatch
    FROM base LEFT JOIN mis ON mis.conv_id = base.conv_id
    """


@register("transcript_script_mismatch", oracle=_script_mismatch_oracle())
def transcript_script_mismatch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrong-language-response gate
    (`transcript_qc.transcript_script_mismatch`): per conversation, any
    assistant turn whose dominant Unicode script no user turn of that
    conversation used — over the same synthesized multi-script corpus
    as `text_script_detect`, run through the transcripts derivation so
    conversations genuinely mix scripted and Latin turns.  Per-turn
    dominants, the distinct-script rollups, the scripted-user gate, and
    the anti-join membership count all replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_script_mismatch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    roles = F.array(
        F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")
    )
    # role cycles per TURN (turn_idx % 4): the canonical doc_id % 4 rule is
    # arithmetically entangled with the % 50 conv keying (50k mod 4
    # alternates parity), which would leave every conversation with only 2
    # roles and never a user+assistant pair to compare
    tr = docs.select(
        F.concat(
            F.lit("conv-"), F.lpad((d % 50).cast("string"), 6, "0")
        ).alias("conv_id"),
        F.get(roles, (F.floor(d / 50) % 4).cast("int")).alias("role"),
        _script_fixture_text().alias("text"),
    )
    return transcript_script_mismatch(tr)


_PROFILE_MERGE_SRC = (
    "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,"
    " lang FROM documents"
)
_KMV_SCALE_SQL = "4503599627370496.0"  # 2^52, sketches._KMV_SCALE


def _profile_merge_oracle(k: int = 256) -> str:
    cols = (("doc_id", "doc_id"), ("text", "len(text)::BIGINT"),
            ("lang", "len(lang)::BIGINT"))
    parts = []
    for c, metric in cols:
        parts.append(f"""
    SELECT '{c}' AS "column",
           count(*)::BIGINT AS n_rows,
           (count(*) FILTER (WHERE {c} IS NULL))::BIGINT AS n_null,
           min({metric}) AS min_metric,
           max({metric}) AS max_metric,
           (CASE WHEN count({metric}) = 0 THEN NULL
                 ELSE sum({metric}) * 1000000 // count({metric})
            END)::BIGINT AS mean_micro,
           (SELECT count(*) FROM k_{c})::BIGINT AS n_sketch,
           (SELECT CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
                        ELSE {float(k - 1) * 4503599627370496.0!r}::DOUBLE
                             / max(h) END
            FROM k_{c}) AS est_distinct
    FROM src""")
    sketches = ",\n    ".join(
        f"""k_{c} AS (
      SELECT h FROM (
        SELECT DISTINCT CAST(('0x' || substring(
          md5('profile:{c}:' || {c}::VARCHAR), 1, 13))::UBIGINT AS BIGINT) AS h
        FROM src WHERE {c} IS NOT NULL)
      ORDER BY h LIMIT {k})"""
        for c, _ in cols
    )
    return (
        f"WITH src AS ({_PROFILE_MERGE_SRC}),\n    {sketches}"
        + "\n    UNION ALL".join(parts)
    )


@register("profile_merge", oracle=_profile_merge_oracle())
def profile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable profiler (`profiling.profile_shards` +
    `merge_profiles`): documents shard by doc_id % 8, each shard stores
    only lattice facts (sums, extrema, bottom-k KMV sketch), and the
    fold over shard rows reproduces the direct whole-table profile —
    which is exactly what the oracle computes, so the hash match IS the
    merge ≡ one-shot proof.  The lang column (5 distinct) exercises the
    exact below-k estimator branch, doc_id/text (500 distinct > 256)
    the (k-1)/theta branch."""
    from mistral_ocr_pipeline_spark.operators.profiling import (
        merge_profiles,
        profile_shards,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
    )
    shards = profile_shards(docs, columns=["doc_id", "text", "lang"])
    return merge_profiles(shards)


@register("text_script_detect", oracle=_script_oracle())
def text_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profile (`text_analysis.script_profile`): per-script
    character counts, BIGINT micro-unit fractions, dominant script with
    the pinned-order tie-break, and the ≥2-scripts-above-5% mixed flag —
    over a synthesized corpus where doc_id % 7 selects pure-Cyrillic/
    Greek/Hangul replacements and CJK/Arabic/tri-script appends.  The
    oracle is generated from the SAME range table and phrase literals,
    so counts, floor-divided fractions, tie-break, and flags are all
    value-checked."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import script_profile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return script_profile(
        docs.select("doc_id", _script_fixture_text().alias("text"))
    )


@register(
    "text_fingerprint_md5",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.text_analysis import fingerprint_md5

    return fingerprint_md5(_t(spark, sf_dir, "documents"), "doc_id")


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split({_KEY.format(c='text')}, ' ')) AS t
      FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT sum(c)::DOUBLE AS n FROM cnt)
    SELECT id AS doc_id,
           round(avg(-ln(c / (SELECT n FROM tot))), 6) AS surprisal
    FROM toks JOIN cnt USING (t)
    GROUP BY id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token surprisal under the corpus's own unigram distribution —
    the external-LM-free perplexity proxy for quality filtering.  Two
    corpus passes: vocabulary build + broadcast join-back; value-oracled
    (ln differences are sub-ulp, absorbed by the 6-dp round)."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    return unigram_surprisal(docs, "doc_id").withColumnRenamed("id", "doc_id")


# base^i mod 2^64 for the polynomial rolling hash — the numpy kernel gets
# this wrap for free from uint64 overflow; the SQL twin needs the literals
_ROLL_PW = "[" + ",".join(
    f"{pow(1099511628211, i, 1 << 64)}::HUGEINT" for i in range(16)
) + "]"


@register(
    "text_fingerprint_rolling",
    oracle=f"""
    WITH c AS (SELECT doc_id,
                      CASE WHEN text IS NULL THEN []
                           ELSE [unicode(ch)::HUGEINT
                                 for ch in string_split(text, '')] END AS codes
               FROM documents),
    w AS (SELECT doc_id, codes, least(16, len(codes)) AS wsz FROM c),
    h AS (SELECT doc_id,
                 CASE WHEN len(codes) = 0 THEN 0::HUGEINT
                 ELSE list_min([
                    list_sum([codes[o + i - 1] * ({_ROLL_PW})[i]
                              for i in range(1, wsz + 1)])
                      % 18446744073709551616::HUGEINT
                    for o in range(1, len(codes) - wsz + 2)])
                 END AS u
          FROM w)
    SELECT doc_id,
           (CASE WHEN u >= 9223372036854775808::HUGEINT
                 THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT
               AS rolling_fp
    FROM h
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprint (numpy kernel).

    Value-oracle: the polynomial hash (base 1099511628211, mod-2^64 wrap)
    is replayed in SQL per character — valid because the corpus is ASCII
    (utf-8 bytes ≡ code points); the precomputed base^i literals replace
    numpy's uint64 overflow wrap."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import fingerprint_rolling

    return fingerprint_rolling(_t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# Multimodal plumbing (decode stubbed; checksum/size SQL-checked)
# --------------------------------------------------------------------------
@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           octet_length(encode(text))::bigint AS n_bytes,
           sha256(text) AS checksum
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.multimodal import (
        decode_features,
        documents_as_media,
    )

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return decode_features(media, deterministic_fake=True).select(
        "media_id", "kind", "n_bytes", "checksum"
    )


# --------------------------------------------------------------------------
# TPC-H-style pricing summary (A6/A7 composite; bench anchor for partial agg)
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round((sum(l_quantity::DECIMAL(18,4)))::double, 2) AS sum_qty,
           round((sum(l_extendedprice::DECIMAL(18,4)))::double, 2) AS sum_base,
           round((sum(l_extendedprice::DECIMAL(18,4) *
                      (1 - l_discount::DECIMAL(18,4))))::double, 2) AS sum_disc,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-exact distributed sums (associativity-proof), filter pushed
    to the parquet scan, map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    ep = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(ep).cast("double"), 2).alias("sum_base"),
            F.round(F.sum(ep * (F.lit(1) - disc)).cast("double"), 2).alias("sum_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# S4 — truncate at references heading (utils/utils.py:78-91)
# --------------------------------------------------------------------------
@register(
    "s4_truncate_references",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || chr(10) || 'References' || chr(10) || '[1] tail cite.'
                  ELSE text END AS t
      FROM documents)
    SELECT doc_id,
           regexp_split_to_array(t,
             '(?im)^\s*(references?|bibliography|works\s+cited)\s*:?\s*$')[1]
               AS kept
    FROM d
    """,
)
def s4_truncate_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import (
        truncate_at_references,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit("\nReferences\n[1] tail cite.")),
    ).otherwise(F.col("text"))
    return docs.select("doc_id", truncate_at_references(t).alias("kept"))


# --------------------------------------------------------------------------
# C13 — keyword→concept mapping (compare_results.py:129-482)
# --------------------------------------------------------------------------
@register(
    "c13_concept_tags",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS toks
               FROM documents),
    t AS (SELECT doc_id,
           list_filter([
             CASE WHEN len(list_intersect(toks,
                 ['query','sql','filter','join','scan'])) > 0 THEN 'query' END,
             CASE WHEN len(list_intersect(toks,
                 ['fast','slow','vector','batch','hash'])) > 0 THEN 'perf' END,
             CASE WHEN len(list_intersect(toks,
                 ['table','row','column','key','value'])) > 0 THEN 'data' END
           ], x -> x IS NOT NULL) AS tag_list
               FROM w)
    SELECT doc_id, array_to_string(tag_list, ',') AS tags FROM t
    """,
)
def c13_concept_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tags are serialized to a comma-joined string (not array<string>) because
    # the driver's canonicalizer sorts output columns with pandas, which cannot
    # hash list-valued cells (r01: "TypeError: unhashable type: 'list'").
    from mistral_ocr_pipeline_spark.operators.text_analysis import concept_tags

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.array_join(concept_tags(F.col("text")), ",").alias("tags")
    )


# --------------------------------------------------------------------------
# C14 — alias canonicalization map (compare_results.py:574-586)
# --------------------------------------------------------------------------
@register(
    "c14_country_canonical",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             (['USA','uk','Deutschland','france','Holland'])[(doc_id % 5) + 1]
                 AS raw
      FROM documents)
    SELECT doc_id,
           CASE lower(trim(raw))
                WHEN 'usa' THEN 'united states'
                WHEN 'us' THEN 'united states'
                WHEN 'u.s.' THEN 'united states'
                WHEN 'uk' THEN 'united kingdom'
                WHEN 'u.k.' THEN 'united kingdom'
                WHEN 'deutschland' THEN 'germany'
                WHEN 'holland' THEN 'netherlands'
                ELSE lower(trim(raw)) END AS country
    FROM d
    """,
)
def c14_country_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.functions.text_functions import canonical_country

    docs = _t(spark, sf_dir, "documents")
    names = F.array(
        F.lit("USA"), F.lit("uk"), F.lit("Deutschland"), F.lit("france"), F.lit("Holland")
    )
    raw = F.get(names, (F.col("doc_id") % 5).cast("int"))
    return docs.select("doc_id", canonical_country(raw).alias("country"))


# --------------------------------------------------------------------------
# A10 — median (heading_detector.py:29-41 page-median font size)
# --------------------------------------------------------------------------
@register(
    "a10_median",
    oracle="""
    SELECT event_type, round(median(value), 6) AS median_value
    FROM events GROUP BY event_type
    """,
)
def a10_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value")
    )


# --------------------------------------------------------------------------
# F1 — chunk fan-out: explode fixed-size page windows (main.py:188-200)
# --------------------------------------------------------------------------
@register(
    "f1_chunk_fanout",
    oracle="""
    WITH d AS (SELECT o_orderkey, (o_orderkey % 40)::int + 1 AS n_pages FROM orders)
    SELECT o_orderkey, n_pages,
           unnest(generate_series(0, n_pages - 1, 8))::int AS chunk_start
    FROM d
    """,
)
def f1_chunk_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-page chunk windows per document — the reference's fan-out unit,
    as explode(sequence(...)) (no UDF, no driver loop)."""
    o = _t(spark, sf_dir, "orders")
    n_pages = (F.col("o_orderkey") % 40).cast("int") + F.lit(1)
    return o.select(
        "o_orderkey",
        n_pages.alias("n_pages"),
        F.explode(F.sequence(F.lit(0), n_pages - 1, F.lit(8))).alias("chunk_start"),
    )


# --------------------------------------------------------------------------
# C8 — JSON payload parse (post_processing.py:105-117)
# --------------------------------------------------------------------------
@register(
    "c8_json_parse",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k')::bigint AS k
    FROM events
    """,
)
def c8_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@register(
    "c8_literal_fallback",
    oracle=f"""
    WITH src AS (
      SELECT doc_id,
             split_part({_KEY.format(c='text')}, ' ', 1) AS tok,
             doc_id % 3 AS m
      FROM documents),
    raw AS (
      SELECT doc_id,
             CASE m WHEN 0 THEN '["' || tok || '","b"]'
                    WHEN 1 THEN '[''' || tok || ''', ''y'']'
                    ELSE 'not a list ' || tok END AS payload
      FROM src),
    p AS (
      SELECT doc_id, payload,
             COALESCE(TRY_CAST(payload AS JSON),
                      TRY_CAST(replace(payload, chr(39), '"') AS JSON)) AS j
      FROM raw)
    SELECT doc_id,
           CASE WHEN json_type(j) = 'ARRAY'
                THEN array_to_string(from_json(j, '["VARCHAR"]'), '|') END
               AS parsed
    FROM p
    """,
)
def c8_literal_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/C8 — lenient list parsing: strict JSON first, then the
    reference's Python-literal fallback of re-parsing with single quotes
    replaced by double quotes (post_processing.py:105-117 _try_parse_str).
    Jackson's ``allowSingleQuotes`` leniency is explicitly DISABLED on the
    strict pass so Spark follows the same two-step path as ``json.loads``
    (and as the SQL oracle); unparseable payloads yield null, not an
    error.  Output serialized with '|' for driver hashability."""
    docs = _t(spark, sf_dir, "documents")
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col

    tok = F.substring_index(norm_key_col(F.col("text")), " ", 1)
    m = F.col("doc_id") % 3
    payload = (
        F.when(m == 0, F.concat(F.lit('["'), tok, F.lit('","b"]')))
        .when(m == 1, F.concat(F.lit("['"), tok, F.lit("', 'y']")))
        .otherwise(F.concat(F.lit("not a list "), tok))
    )
    opts = {"allowSingleQuotes": "false"}
    strict = F.from_json(payload, "array<string>", opts)
    lenient = F.from_json(
        F.translate(payload, "'", '"'), "array<string>", opts
    )
    return docs.select(
        "doc_id",
        F.array_join(F.coalesce(strict, lenient), "|").alias("parsed"),
    )


# --------------------------------------------------------------------------
# W2 — first-match-per-kind latching (outline_detector.py:57-78)
# --------------------------------------------------------------------------
@register(
    "w2_first_match",
    oracle="""
    SELECT user_id,
           min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase_ts,
           min(event_id) FILTER (WHERE event_type = 'purchase') AS first_purchase_id
    FROM events GROUP BY user_id
    """,
)
def w2_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return ev.groupBy("user_id").agg(
        F.min(F.when(is_p, F.col("ts"))).alias("first_purchase_ts"),
        F.min(F.when(is_p, F.col("event_id"))).alias("first_purchase_id"),
    )


# --------------------------------------------------------------------------
# P9 — schema-align projection (utils/utils.py:254-288 table_cast_like)
# --------------------------------------------------------------------------
@register(
    "p9_schema_align",
    oracle="""
    SELECT event_id::bigint AS event_id,
           event_type::varchar AS event_type,
           value::double AS value,
           CAST(NULL AS varchar) AS added_col
    FROM events
    """,
)
def p9_schema_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from mistral_ocr_pipeline_spark.operators.schema_align import align_to_schema

    target = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("added_col", T.StringType()),
        ]
    )
    return align_to_schema(_t(spark, sf_dir, "events"), target)


# --------------------------------------------------------------------------
# A4 — struct (nested) merge, per-leaf first-non-empty (utils/utils.py:118-138)
# --------------------------------------------------------------------------
@register(
    "a4_struct_merge",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CASE WHEN value < 1.0 THEN NULL ELSE event_type END AS f1,
             props AS f2
      FROM events)
    SELECT user_id,
           arg_min(f1, event_id) FILTER (WHERE f1 IS NOT NULL AND trim(f1) != '')
               AS f1,
           arg_min(f2, event_id) FILTER (WHERE f2 IS NOT NULL AND trim(f2) != '')
               AS f2
    FROM e GROUP BY user_id
    """,
)
def a4_struct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.schema_align import merge_struct_ordered

    ev = _t(spark, sf_dir, "events")
    nested = F.struct(
        F.when(F.col("value") < 1.0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("f1"),
        F.col("props").alias("f2"),
    )
    merged = (
        ev.select("user_id", "event_id", nested.alias("payload"))
        .groupBy("user_id")
        .agg(
            merge_struct_ordered(
                F.col("payload"), F.col("event_id"), ["f1", "f2"]
            ).alias("m")
        )
    )
    return merged.select("user_id", F.col("m.f1").alias("f1"), F.col("m.f2").alias("f2"))


# --------------------------------------------------------------------------
# A8b — multi-dimensional distribution (cube / grouping sets)
# --------------------------------------------------------------------------
@register(
    "a8_cube_distribution",
    oracle="""
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def a8_cube_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# C5 — difflib SequenceMatcher parity variant of J2 (rows-only: difflib is
# not SQL-expressible; byte-parity with the reference metric is the point)
# --------------------------------------------------------------------------
@register("j2_fuzzy_difflib")
def j2_fuzzy_difflib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistral_ocr_pipeline_spark.operators.fuzzy_join import fuzzy_best_match

    part = _t(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 29 == 1).select(
        F.col("p_partkey").alias("lid"), F.col("p_name").alias("title")
    )
    right = part.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.concat(F.upper("p_name"), F.lit("!")).alias("title"),
    )
    return fuzzy_best_match(
        left, right, "lid", "rid", title_cols=("title", "title"),
        threshold=1.5, use_difflib=True,
    )


def _ivf_training_ctes(
    n_centroids: int = 16, kmeans_iters: int = 8, sample_size: int = 2048
) -> str:
    """CTE block UNROLLING `similarity._kmeans_centroids` in SQL —
    md5-hash-ordered sample, first-k seeding, sequential-fold dots,
    integer micro-unit cell means, empty-cell carry — one block per
    Lloyd iteration, MATERIALIZED because ``c{i}`` references
    ``c{i-1}`` twice (inlines exponentially otherwise).  Emits text
    from ``samp`` through the final centroid relation
    ``c{kmeans_iters}(c, cv)`` (no leading WITH, no trailing comma)."""
    it = [
        f"""
    a{i} AS MATERIALIZED (
      SELECT vec_id, u, c FROM (
        SELECT su.vec_id, su.u, cc.c,
               row_number() OVER (PARTITION BY su.vec_id
                   ORDER BY list_dot_product(
                       list_transform(su.u, x -> x::DOUBLE), cc.cv) DESC,
                       cc.c) AS arn
        FROM su CROSS JOIN c{i - 1} cc)
      WHERE arn = 1),
    e{i} AS (SELECT c, unnest(range(len(u)))::INT AS d, unnest(u) AS x
             FROM a{i}),
    g{i} AS (SELECT c, d, sum(x)::BIGINT AS sx, count(*)::BIGINT AS n
             FROM e{i} GROUP BY c, d),
    m{i} AS MATERIALIZED (SELECT c, list(sx::DOUBLE / (n::DOUBLE * 1000000.0)
                            ORDER BY d) AS m
             FROM g{i} GROUP BY c),
    c{i} AS MATERIALIZED (
      SELECT c, list_transform(m,
                 x -> x / greatest(sqrt(list_dot_product(m, m)), 1e-12))
                 AS cv
      FROM m{i}
      UNION ALL
      SELECT p.c, p.cv FROM c{i - 1} p
      WHERE p.c NOT IN (SELECT c FROM m{i}))"""
        for i in range(1, kmeans_iters + 1)
    ]
    return f"""samp AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v, rn FROM (
        SELECT vec_id, embedding,
               row_number() OVER (
                   ORDER BY substring(md5('ivf:' || vec_id::varchar), 1, 8),
                            vec_id) AS rn
        FROM embeddings)
      WHERE rn <= {sample_size}),
    su AS MATERIALIZED (
      SELECT vec_id, rn,
             list_transform(v,
               x -> round(x / greatest(sqrt(list_dot_product(v, v)), 1e-12)
                          * 1000000.0)::BIGINT) AS u
      FROM samp),
    m0 AS (SELECT rn - 1 AS c,
                  list_transform(u, s -> s::DOUBLE / 1000000.0) AS m
           FROM su WHERE rn <= {n_centroids}),
    c0 AS MATERIALIZED (SELECT c, list_transform(m,
               x -> x / greatest(sqrt(list_dot_product(m, m)), 1e-12)) AS cv
           FROM m0),
    {",".join(it)}"""


def _ivf_assign_ctes(cent: str, n_probe: int) -> str:
    """``cassign`` (corpus row → argmax-dot cell, first-max tie break)
    and ``qprobe`` (query → top-``n_probe`` cells) over a centroid
    relation ``{cent}(c, cv)`` — expects ``corp(vec_id, v)`` and
    ``q(qid, qv)`` in scope.  The search-side cell machinery shared by
    the trained-IVF and IVFPQ oracles."""
    return f"""cassign AS (
      SELECT vec_id, c FROM (
        SELECT cd.vec_id, cd.c,
               row_number() OVER (PARTITION BY cd.vec_id
                                  ORDER BY cd.d DESC, cd.c) AS rn
        FROM (SELECT corp.vec_id, cc.c,
                     list_dot_product(corp.v, cc.cv) AS d
              FROM corp CROSS JOIN {cent} cc) cd)
      WHERE rn = 1),
    qprobe AS (
      SELECT qid, c FROM (
        SELECT qd.qid, qd.c,
               row_number() OVER (PARTITION BY qd.qid
                                  ORDER BY qd.d DESC, qd.c) AS rn
        FROM (SELECT q.qid, cc.c,
                     list_dot_product(q.qv, cc.cv) AS d
              FROM q CROSS JOIN {cent} cc) qd)
      WHERE rn <= {n_probe})"""


def _ivf_trained_oracle_sql(
    n_centroids: int = 16,
    kmeans_iters: int = 8,
    sample_size: int = 2048,
    n_probe: int = 6,
    k: int = 5,
) -> str:
    """Full value oracle for the TRAINED k-means IVF — the query that was
    rows-only through round 3 because its index derived from a
    driver-side numpy sample.  `similarity._kmeans_centroids` is now
    engine-replayable, so `_ivf_training_ctes` UNROLLS the whole
    training and this replays the standard IVF search path (cell argmax,
    top-n_probe probe, exact cosine, rank) from `_ivf_fixed_oracle_sql`
    on the resulting centroids."""
    last = f"c{kmeans_iters}"
    return f"""
    WITH {_ivf_training_ctes(n_centroids, kmeans_iters, sample_size)},
    corp AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    {_ivf_assign_ctes(last, n_probe)},
    cand AS (
      SELECT DISTINCT qp.qid, ca.vec_id
      FROM qprobe qp JOIN cassign ca ON qp.c = ca.c
      WHERE ca.vec_id != qp.qid),
    s AS (
      SELECT cand.qid, cand.vec_id,
             round(list_dot_product(q.qv, corp.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(corp.v, corp.v))), 6) AS cosine
      FROM cand
      JOIN q ON q.qid = cand.qid
      JOIN corp ON corp.vec_id = cand.vec_id),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}
    """


@register("ann_ivf_topk", oracle=_ivf_trained_oracle_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with a TRAINED mini-k-means index — the scale-path
    counterpart of the LSH variant, and since r4 fully value-oracled:
    `_kmeans_centroids` is engine-replayable (hash-ordered sample,
    first-k seeding, sequential folds, integer micro-unit means), so
    `_ivf_trained_oracle_sql` unrolls the 8 training iterations in SQL
    and replays the search path on the resulting centroids."""
    from mistral_ocr_pipeline_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=6
    )


# --------------------------------------------------------------------------
# W7/W8 — event-time windows (Spark streaming homes; batch twins SQL-checked)
# --------------------------------------------------------------------------
@register(
    "w7_event_tumbling_agg",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n,
           round((sum(value::DECIMAL(18,6)))::double, 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def w7_event_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type — the batch twin of
    the streaming watermark aggregation (streaming/windowed.py runs the
    same groupBy(window(...)) with withWatermark over a file stream).
    Decimal-cast sums keep the hash associativity-proof."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@register(
    "w8_event_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
             -- boundary convention VERIFIED empirically: F.session_window
             -- MERGES an exactly-30-minute gap (events 00:00 + 00:30 with a
             -- "30 minutes" gap form ONE session), i.e. a new session only
             -- when gap > duration — strict '>' here matches it exactly
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def w8_event_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user via the
    HOT-KEY-SAFE two-phase sessionizer (operators/sessionize.py):
    sessionize within (user, day-chunk) so a bot user's events spread
    across tasks, then merge boundary sessions at the session level.
    Result is identical to single-pass F.session_window (equivalence
    pinned in tests); the oracle replays the semantics as lag +
    cumulative-sum SQL.  session_start == min(ts) of the session, so the
    formulations agree exactly."""
    from mistral_ocr_pipeline_spark.operators.sessionize import (
        salted_session_windows,
    )

    ev = _t(spark, sf_dir, "events")
    return salted_session_windows(
        ev, "user_id", "ts", gap_secs=1800, chunk_secs=86400
    ).select(
        F.col("user").alias("user_id"), "session_start", "n_events"
    )


@register(
    "w9_sliding_event_windows",
    oracle="""
    SELECT wstart AS window_start, event_type,
           count(*) AS n,
           round((sum(value::DECIMAL(18,6)))::double, 4) AS sum_value
    FROM (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) - (k.k * INTERVAL 15 MINUTE)
                 AS wstart,
             ts, event_type, value
      FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)) x
    WHERE ts < wstart + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def w9_sliding_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — 1-hour width, 15-minute
    slide: each event lands in 4 overlapping windows (the streaming-rate
    dashboard shape; F.window's slide arg is the batch twin of the same
    streaming aggregation).  Oracle replays the window fan-out as a
    15-minute time_bucket minus k slides, k ∈ 0..3 — both engines align
    15-minute buckets identically (epoch and the 2000-01-01 origin are
    both minute-0 aligned)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@register(
    "curation_report",
    oracle=f"""
    WITH base AS ({_PII_BASE_SQL}),
    m AS (
      SELECT b.doc_id, d.source, d.lang,
             length(b.t)::bigint AS n_chars,
             (len(regexp_extract_all(b.t,
                  '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}')) > 0
              OR len(regexp_extract_all(b.t, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')) > 0
              OR len(regexp_extract_all(b.t,
                  '(?:\\+?[0-9]{{1,2}}[-. ])?\\(?[0-9]{{3}}\\)?[-. ][0-9]{{3}}[-. ][0-9]{{4}}')) > 0
              OR len(regexp_extract_all(b.t,
                  '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) > 0
             )::bigint AS has_pii,
             (SELECT round(CASE WHEN len(grams) > 0
                    THEN (len(grams) - len(list_distinct(grams))) / len(grams)
                    ELSE 0 END, 6)
              FROM (SELECT list_transform(
                        generate_series(1, greatest(len(words) - 2, 0)),
                        i -> array_to_string(words[i:i+2], ' ')) AS grams
                    FROM (SELECT list_filter(string_split_regex(
                              trim(coalesce(b.t, '')), '\\s+'),
                              x -> x <> '') AS words))) AS dup3
      FROM base b JOIN documents d USING (doc_id))
    SELECT source, lang,
           count(*) AS n_docs,
           round((sum(n_chars))::double / count(*), 6) AS mean_chars,
           round((sum(dup3::DECIMAL(18,6)))::double / count(*), 6)
               AS mean_dup3,
           sum(has_pii)::bigint AS pii_docs
    FROM m GROUP BY 1, 2
    """,
)
def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health dashboard: per (source, lang) — doc counts, mean
    length, mean 3-gram repetition, and PII incidence — the rollup a
    data pipeline publishes per ingest batch.  ONE scan, one shuffle:
    the augmented text, PII flag, and char count ride through
    ``repetition_metrics(keep_cols=...)``; fractional means go through
    decimal-exact sums so the result is associativity-proof at any
    partition count.  (PII incidence is evaluated per pattern on the
    ORIGINAL text in both engines — redaction tokens never create or
    destroy other patterns' matches here, and incidence, unlike the
    staged counts in `text_pii_scrub`, needs no cascade.)"""
    from functools import reduce
    from operator import or_

    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        PII_PATTERNS,
        repetition_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" ssn 123-45-6789 from 10.0.0."),
                (F.col("doc_id") % 255).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    pre = docs.select(
        "doc_id", "source", "lang", aug.alias("text")
    ).withColumn(
        "has_pii",
        reduce(
            or_,
            [
                F.regexp_count(F.col("text"), F.lit(pat)) > 0
                for _name, pat, _tok in PII_PATTERNS
            ],
        ).cast("long"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    rep = repetition_metrics(
        pre, "doc_id", "text", keep_cols=["source", "lang", "has_pii", "n_chars"]
    )
    return rep.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_chars"),
        F.round(
            F.sum(F.col("dup_3gram_fraction").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_dup3"),
        F.sum("has_pii").alias("pii_docs"),
    )


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH newb AS (
      SELECT doc_id + 1000000 AS id, regexp_replace(text, '^\\w+', 'changed') AS text
      FROM documents WHERE doc_id % 10 = 0),
    oldb AS (SELECT doc_id AS id, text FROM documents),
    tn AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM newb),
    t_old AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM oldb),
    gn AS (SELECT id, list_distinct([array_to_string(toks[i:i+2], ' ')
                    for i in range(1, greatest(len(toks) - 1, 1))]) AS grams FROM tn),
    go AS (SELECT id, list_distinct([array_to_string(toks[i:i+2], ' ')
                    for i in range(1, greatest(len(toks) - 1, 1))]) AS grams FROM t_old),
    szn AS (SELECT id, len(grams) AS n FROM gn),
    szo AS (SELECT id, len(grams) AS n FROM go),
    en AS (SELECT id, unnest(grams) AS gram FROM gn),
    eo AS (SELECT id, unnest(grams) AS gram FROM go),
    inter AS (SELECT en.id AS id_new, eo.id AS id_old, count(*) AS i
              FROM en JOIN eo ON en.gram = eo.gram
              GROUP BY 1, 2)
    SELECT id_new, id_old,
           i::DOUBLE / (sa.n + sb.n - i) AS jaccard,
           FALSE AS bucket_truncated
    FROM inter
    JOIN szn sa ON sa.id = id_new JOIN szo sb ON sb.id = id_old
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: a new batch (perturbed clones) dedups against
    the historical corpus via a ``build_minhash_index`` posting-list
    table — only the increment's signatures are computed, history costs
    one capped index join plus a semi-join-pruned verification.  Oracle:
    exact all-cross-pairs Jaccard ≥ 0.5 (hash-match ⟺ index recall 1.0
    on this corpus AND no posting list truncates)."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        build_minhash_index,
        minhash_incremental_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    index = build_minhash_index(docs, "doc_id", "text")
    return minhash_incremental_pairs(
        new, docs, index, "doc_id", "text", threshold=0.5
    )


@register(
    "dedup_index_append",
    oracle="""
    SELECT doc_id, TRUE AS index_consistent FROM (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0)
    """,
)
def dedup_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified claim: two-step index maintenance ≡ one-shot build.  The
    index over history gets the new batch merged via
    ``minhash_index_append``; per document, the claim row asserts that
    EVERY band bucket containing it is identical (posting list AND
    truncation flag, null-safe) between the merged index and a one-shot
    ``build_minhash_index`` over history ∪ batch.  Every bucket in either
    index is some document's band key, so per-doc coverage is complete —
    hash-match ⟺ the capped merge is lossless on this corpus.  (The
    exact pairs-level equivalence and the only-the-increment-is-scanned
    property are pinned in tests/test_ops.py.)"""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        _minhash_band_keys,
        build_minhash_index,
        minhash_index_append,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    all_docs = docs.unionByName(new)
    one = build_minhash_index(all_docs, "doc_id", "text")
    two = minhash_index_append(
        build_minhash_index(docs, "doc_id", "text"), new, "doc_id", "text"
    )
    bk = _minhash_band_keys(all_docs, "doc_id", "text", 3, 64, 16, 42)
    j = (
        bk.join(
            one.select(
                "band_idx", "band_hash",
                F.col("ids").alias("_one_ids"),
                F.col("bucket_truncated").alias("_one_tr"),
            ),
            ["band_idx", "band_hash"],
            "left",
        )
        .join(
            two.select(
                "band_idx", "band_hash",
                F.col("ids").alias("_two_ids"),
                F.col("bucket_truncated").alias("_two_tr"),
            ),
            ["band_idx", "band_hash"],
            "left",
        )
    )
    return j.groupBy("id").agg(
        F.bool_and(
            F.col("_one_ids").eqNullSafe(F.col("_two_ids"))
            & F.col("_one_tr").eqNullSafe(F.col("_two_tr"))
        ).alias("index_consistent")
    ).select(F.col("id").alias("doc_id"), "index_consistent")


@register(
    "dedup_substring_overlap",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM u),
    g AS (
      SELECT id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(toks) - 7, 0)),
          i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      FROM t),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             count(DISTINCT a.gram)::bigint AS n_shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared_grams, FALSE AS bucket_truncated FROM p
    """,
)
def dedup_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-sharing pairs (≥1 shared 8-word span) — the
    verbatim-quote/boilerplate criterion MinHash cannot see (operator
    docstring: operators/dedup.substring_overlap_pairs).  Every 10th doc
    gets a first-word-perturbed clone so long shared spans exist by
    construction; the oracle replays the whole thing as a distinct-gram
    self-join (buckets are far below the cap on this corpus, so the
    truncation flag is provably FALSE on every pair)."""
    from mistral_ocr_pipeline_spark.operators.dedup import substring_overlap_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.unionByName(clones)
    return substring_overlap_pairs(u, "doc_id", "text", n=8)


@register(
    "text_substring_dedup",
    oracle=r"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id,
                 list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                             x -> x <> '') AS w
          FROM u),
    g0 AS (SELECT id, w, unnest(generate_series(0, len(w) - 8))::INT AS p
           FROM t WHERE len(w) >= 8),
    g AS (SELECT id, p, md5(array_to_string(w[p + 1 : p + 8], ' ')) AS gr
          FROM g0),
    ranked AS (
      SELECT id, p,
             row_number() OVER (PARTITION BY gr ORDER BY id, p) AS rn
      FROM g),
    marks AS (SELECT id, p FROM ranked WHERE rn >= 2),
    cov AS (SELECT DISTINCT id, unnest(generate_series(p, p + 7))::INT AS i
            FROM marks),
    wpos AS (
      SELECT id, i, w[i + 1] AS word FROM (
        SELECT id, w, unnest(generate_series(0, len(w) - 1))::INT AS i
        FROM t WHERE len(w) > 0)),
    kept AS (
      SELECT wp.id, wp.i, wp.word FROM wpos wp
      WHERE NOT EXISTS (SELECT 1 FROM cov c
                        WHERE c.id = wp.id AND c.i = wp.i)),
    agg AS (SELECT id, string_agg(word, ' ' ORDER BY i) AS text_clean,
                   count(*)::BIGINT AS n_kept
            FROM kept GROUP BY id)
    SELECT t.id AS doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           (len(t.w) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
    FROM t LEFT JOIN agg a USING (id)
    """,
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al exact-substring dedup with the spans REMOVED and the
    documents reassembled (`dedup.substring_dedup`) — the step beyond
    `dedup_substring_overlap`'s pair flags.  Same clone fixture (every
    10th doc first-word-perturbed): each clone's grams from position 1
    on are non-canonical duplicates of its original, so the interval
    union strips it down to its changed first word, while originals
    (canonical occurrences) survive intact — the oracle replays gram
    ranking, interval union, and the word-level rebuild, hash-matching
    the reassembled strings."""
    from mistral_ocr_pipeline_spark.operators.dedup import substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.unionByName(clones)
    return substring_dedup(u, "doc_id", "text", span_words=8)


_SUBSTR_INC_CTES = """
    WITH hist AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 = 0),
    batch AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % 5 = 0 AND doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    u AS (SELECT * FROM hist UNION ALL SELECT * FROM batch),
    t AS (SELECT id,
                 list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                             x -> x <> '') AS w
          FROM u),
    g0 AS (SELECT id, w, unnest(generate_series(0, len(w) - 8))::INT AS p
           FROM t WHERE len(w) >= 8),
    g AS (SELECT id, p, md5(array_to_string(w[p + 1 : p + 8], ' ')) AS gr
          FROM g0)"""


@register(
    "text_substring_incremental",
    oracle=_SUBSTR_INC_CTES + r""",
    ranked AS (
      SELECT id, p,
             row_number() OVER (PARTITION BY gr ORDER BY id, p) AS rn
      FROM g),
    marks AS (SELECT id, p FROM ranked WHERE rn >= 2),
    cov AS (SELECT DISTINCT id, unnest(generate_series(p, p + 7))::INT AS i
            FROM marks),
    wpos AS (
      SELECT id, i, w[i + 1] AS word FROM (
        SELECT id, w, unnest(generate_series(0, len(w) - 1))::INT AS i
        FROM t WHERE len(w) > 0)),
    kept AS (
      SELECT wp.id, wp.i, wp.word FROM wpos wp
      WHERE NOT EXISTS (SELECT 1 FROM cov c
                        WHERE c.id = wp.id AND c.i = wp.i)),
    agg AS (SELECT id, string_agg(word, ' ' ORDER BY i) AS text_clean,
                   count(*)::BIGINT AS n_kept
            FROM kept GROUP BY id)
    SELECT t.id AS doc_id,
           coalesce(a.text_clean, '') AS text_clean,
           coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           (len(t.w) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
    FROM t LEFT JOIN agg a USING (id)
    WHERE t.id % 10 <> 0 OR t.id >= 1000000
    """,
)
def text_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al span removal for a daily BATCH against a persisted
    digest index (`dedup.substring_dedup_incremental` over
    `build_substring_index`) — history text is never re-tokenized.  The
    oracle replays the ONE-SHOT dedup over history ∪ batch restricted to
    batch rows, so the hash match IS the batch-equivalence proof: the
    incremental rule (global count from merged lattice facts, global
    min-(id,pos) canonical) must reproduce exactly what a full rerun
    would emit for these docs.  Fixture: history = every 10th doc;
    batch = the other doc_id%5 docs plus first-word-perturbed clones of
    history (cross-batch duplicates by construction)."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        build_substring_index,
        substring_dedup_incremental,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0
    )
    hist = docs.filter(F.col("doc_id") % 10 == 0)
    clones = hist.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    batch = docs.filter(F.col("doc_id") % 10 != 0).unionByName(clones)
    index = build_substring_index(hist, "doc_id", "text", span_words=8)
    return substring_dedup_incremental(batch, index, "doc_id", "text", span_words=8)


@register(
    "substring_index_append",
    oracle=_SUBSTR_INC_CTES + r"""
    SELECT gr AS g, id AS canon_id, p AS canon_pos, cnt FROM (
      SELECT gr, id, p,
             count(*) OVER (PARTITION BY gr) AS cnt,
             row_number() OVER (PARTITION BY gr ORDER BY id, p) AS rn
      FROM g)
    WHERE rn = 1
    """,
)
def substring_index_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance for the exact-substring family
    (`dedup.substring_index_append`): merging the batch into the
    history index must be HASH-IDENTICAL to rebuilding from scratch
    over history ∪ batch (the oracle) — exact because both stored facts
    are lattice merges (canonical = min of minima, count = sum).  Same
    fixture as `text_substring_incremental`."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        build_substring_index,
        substring_index_append,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0
    )
    hist = docs.filter(F.col("doc_id") % 10 == 0)
    clones = hist.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    batch = docs.filter(F.col("doc_id") % 10 != 0).unionByName(clones)
    index = build_substring_index(hist, "doc_id", "text", span_words=8)
    return substring_index_append(index, batch, "doc_id", "text", span_words=8)


# --------------------------------------------------------------------------
# Sequence packing — curated docs → fixed-token-budget context windows
# --------------------------------------------------------------------------
_PACK_TOK = r"""
      SELECT doc_id AS id, doc_id % 8 AS shard,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint
                 AS tokens
      FROM documents"""

_PACK_OFF = f"""
    WITH tok AS ({_PACK_TOK}),
    off AS (
      SELECT id, shard, tokens,
             coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
                 AS start_offset
      FROM tok)"""


@register(
    "pack_token_budget",
    oracle=f"""{_PACK_OFF}
    SELECT id, shard, tokens, start_offset,
           (start_offset // 512)::bigint AS pack_id
    FROM off
    """,
)
def pack_token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): the
    pretraining step that bins curated documents into 512-token context
    windows — deterministic shard + in-order offset + boundary cut,
    replayed exactly by the oracle's window cumsum."""
    from mistral_ocr_pipeline_spark.operators.packing import pack_token_budget
    from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("tokens")
    )
    return pack_token_budget(docs, "doc_id", "tokens", budget=512, n_shards=8)


@register(
    "chunk_text_windows",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::varchar[]
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents),
    c AS (
      SELECT doc_id, len(toks) AS n, toks,
             unnest(range(0, len(toks)::bigint, 24))::int AS chunk_start
      FROM t WHERE len(toks) > 0)
    SELECT doc_id AS id, chunk_start,
           array_to_string(toks[chunk_start + 1:chunk_start + 32], ' ')
               AS chunk_text,
           least(32, n - chunk_start)::bigint AS n_tokens
    FROM c
    """,
)
def chunk_text_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window=32, overlap=8) — the
    document→passage fan-out an embedding/retrieval pipeline runs before
    indexing.  All-Catalyst: transform-then-explode so the token array
    never rides the Generate (operators/packing.chunk_text_tokens)."""
    from mistral_ocr_pipeline_spark.operators.packing import chunk_text_tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text_tokens(docs, "doc_id", "text", window=32, overlap=8)


@register(
    "chunk_retrieval_topk",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::varchar[]
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents),
    c AS (
      SELECT doc_id AS id, len(toks) AS n, toks,
             unnest(range(0, len(toks)::bigint, 24))::int AS chunk_start
      FROM t WHERE len(toks) > 0),
    ch AS (
      SELECT id, chunk_start,
             array_to_string(toks[chunk_start + 1:chunk_start + 32], ' ')
                 AS chunk_text
      FROM c),
    e AS (
      SELECT id, chunk_start,
             [('0x' || substring(md5(chunk_text || '#' || i::varchar), 1, 8))
                  ::UBIGINT / 4294967296.0 * 2 - 1
              for i in range(0, 8)] AS v
      FROM ch),
    q AS (SELECT id AS qid, v AS qv FROM e WHERE id < 4 AND chunk_start = 0),
    s AS (
      SELECT qid, id, chunk_start,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM q CROSS JOIN e WHERE id != qid),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid
              ORDER BY cosine DESC, id, chunk_start) AS rank FROM s)
    SELECT qid AS query_id, id AS doc_id, chunk_start, cosine, rank
    FROM r WHERE rank <= 3
    """,
)
def chunk_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingest composite in ONE plan: overlapping token-window chunking
    → deterministic hash embedding (similarity.hash_embedding_col, exact
    SQL twin) → exact cosine top-3 chunks per query, queries = first chunk
    of docs 0-3, own-document chunks excluded.  Chunk fan-out and the
    embedding are scan-side expressions; only the 4-row query block rides
    the broadcast; ranking is one window per query id — the 100 TB shape
    is scan → broadcast NLJ → per-qid top-k, no corpus shuffle."""
    from mistral_ocr_pipeline_spark.operators.packing import chunk_text_tokens
    from mistral_ocr_pipeline_spark.operators.similarity import hash_embedding_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_text_tokens(docs, "doc_id", "text", window=32, overlap=8)
    emb = chunks.select(
        "id", "chunk_start", hash_embedding_col(F.col("chunk_text"), 8).alias("v")
    )
    q = emb.filter((F.col("id") < 4) & (F.col("chunk_start") == 0)).select(
        F.col("id").alias("qid"), F.col("v").alias("qv")
    )

    from mistral_ocr_pipeline_spark.operators.similarity import fold_dot as dot

    s = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("qid"))
        .select(
            "qid",
            "id",
            "chunk_start",
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("v"), F.col("v")))
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("id").asc(), F.col("chunk_start").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("doc_id"),
            "chunk_start",
            "cosine",
            "rank",
        )
    )


_PACK_OFF_BPE = r"""
    WITH tok AS (
      SELECT doc_id AS id, doc_id % 8 AS shard,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::bigint AS tokens
      FROM documents),
    off AS (
      SELECT id, shard, tokens,
             coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
                 AS start_offset
      FROM tok)"""


@register(
    "pack_token_budget_bpe",
    oracle=f"""{_PACK_OFF_BPE}
    SELECT id, shard, tokens, start_offset,
           (start_offset // 512)::bigint AS pack_id
    FROM off
    """,
)
def pack_token_budget_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing budgeted on TOKENIZER counts (round-3 verdict item 6):
    real pipelines cut context windows on BPE tokens, not whitespace
    words — same document-preserving shard/cumsum/boundary plan, with
    ``bpe_token_count`` (a BPE-ish regex, C-side regexp_count) as the
    basis.  The oracle replays the regex count via regexp_extract_all."""
    from mistral_ocr_pipeline_spark.operators.packing import pack_token_budget
    from mistral_ocr_pipeline_spark.operators.text_analysis import bpe_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", bpe_token_count(F.col("text")).alias("tokens")
    )
    return pack_token_budget(docs, "doc_id", "tokens", budget=512, n_shards=8)


# Full SQL replay of operators/bpe.py — TRAINING and APPLICATION — so the
# real-BPE packing query is value-oracled end to end (r5; closes the last
# meaningful rows-only row).  Encoding trick: a symbol sequence rides as a
# string with every symbol wrapped chr(31)·sym·chr(30) (symbols can never
# contain either wrapper: Python str.split() treats \x1e/\x1f as whitespace,
# so they never survive word-splitting).  Merging pair (a,b) left-greedily
# over ALL its non-overlapping occurrences — exactly bpe.py's scan loop —
# is then ONE plain `replace()` (verified left-to-right, resumes after the
# replacement).  Training is a recursive CTE carrying the whole wrapped
# vocabulary as a list<struct(s,f)>: each step explodes adjacent pairs,
# arg-maxes count with the Python tuple tie-break (cnt DESC, a, b), applies
# the winner via list_transform+replace, and appends the merge; it stops at
# 200 merges or when no pair remains (the LATERAL yields no row), exactly
# the kernel's `if not pairs: break`.  Application is a second recursion
# per distinct corpus word: merge the LOWEST-RANK pair present (strpos
# probe over the rank table), repeat until none applies; final token count
# = number of chr(30) closers.  Doc tokens = sum over word multiplicities;
# the budget/shard/offset tail is the shared _PACK_OFF cumsum.
_BPE2_WRAP = (
    "regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30), 'g')"
    " || chr(31) || '</w>' || chr(30)"
)
_BPE2_ORACLE = rf"""
    WITH RECURSIVE
    samp AS (
      SELECT text FROM documents
      ORDER BY substring(md5('bpe:' || doc_id::varchar), 1, 8), doc_id
      LIMIT 1024),
    wf AS (
      SELECT w AS word, count(*)::bigint AS f
      FROM samp, unnest(string_split_regex(coalesce(text, ''), '\s+')) u(w)
      WHERE w <> ''
      GROUP BY 1),
    init AS (
      SELECT list(struct_pack(s := {_BPE2_WRAP}, f := f)) AS ws FROM wf),
    tr(it, ws, ms) AS (
      SELECT 0, ws, []::varchar[] FROM init
      UNION ALL
      SELECT it + 1,
             list_transform(ws, w -> struct_pack(
                 s := replace(w.s,
                              chr(31) || best.a || chr(30)
                                  || chr(31) || best.b || chr(30),
                              chr(31) || best.a || best.b || chr(30)),
                 f := w.f)),
             list_append(ms, best.a || chr(9) || best.b)
      FROM tr, LATERAL (
        SELECT a, b FROM (
          SELECT p.a, p.b, sum(p.f) AS cnt FROM (
            SELECT syms[i] AS a, syms[i + 1] AS b, f
            FROM (SELECT string_split(substring(w.s, 2, length(w.s) - 2),
                                      chr(30) || chr(31)) AS syms,
                         w.f AS f
                  FROM unnest(ws) t(w)) z,
                 unnest(range(1, len(syms))) g(i)) p
          GROUP BY 1, 2)
        ORDER BY cnt DESC, a, b
        LIMIT 1) best
      WHERE it < 200),
    fin_tr AS (SELECT ms FROM tr ORDER BY it DESC LIMIT 1),
    ranks AS (
      SELECT string_split(ms[i], chr(9))[1] AS a,
             string_split(ms[i], chr(9))[2] AS b,
             i AS rank
      FROM fin_tr, unnest(range(1, len(ms) + 1)) g(i)),
    dw AS (
      SELECT doc_id, w AS word, count(*)::bigint AS n
      FROM documents, unnest(string_split_regex(coalesce(text, ''), '\s+')) u(w)
      WHERE w <> ''
      GROUP BY 1, 2),
    uw AS (SELECT DISTINCT word FROM dw),
    enc(word, step, s) AS (
      SELECT word, 0, {_BPE2_WRAP} FROM uw
      UNION ALL
      SELECT word, step + 1,
             replace(s,
                     chr(31) || best.a || chr(30)
                         || chr(31) || best.b || chr(30),
                     chr(31) || best.a || best.b || chr(30))
      FROM enc, LATERAL (
        SELECT a, b FROM ranks
        WHERE strpos(enc.s, chr(31) || a || chr(30)
                                || chr(31) || b || chr(30)) > 0
        ORDER BY rank LIMIT 1) best),
    fin AS (
      SELECT word, s FROM (
        SELECT word, s,
               row_number() OVER (PARTITION BY word ORDER BY step DESC) rn
        FROM enc) WHERE rn = 1),
    wtok AS (
      SELECT word,
             (length(s) - length(replace(s, chr(30), '')))::bigint AS toks
      FROM fin),
    tok AS (
      SELECT d.doc_id AS id, d.doc_id % 8 AS shard,
             coalesce(sum(dw.n * wtok.toks), 0)::bigint AS tokens
      FROM documents d
      LEFT JOIN dw ON dw.doc_id = d.doc_id
      LEFT JOIN wtok ON wtok.word = dw.word
      GROUP BY 1, 2),
    off AS (
      SELECT id, shard, tokens,
             coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
                 AS start_offset
      FROM tok)
    SELECT id, shard, tokens, start_offset,
           (start_offset // 512)::bigint AS pack_id
    FROM off
    """


@register("pack_token_budget_bpe2", oracle=_BPE2_ORACLE)
def pack_token_budget_bpe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing budgeted on REAL trained-BPE counts (r4 verdict item 5):
    `bpe.bpe_train` learns 200 merges from the hash-ordered corpus
    sample, `bpe_token_count_trained` applies them in an Arrow kernel
    with a per-batch word memo, and the document-preserving
    shard/cumsum/boundary plan cuts 512-token windows on those counts.
    r5: VALUE-ORACLED — `_BPE2_ORACLE` replays the full trainer (200
    merge iterations as a recursive CTE over the wrapped-symbol
    vocabulary, tuple tie-break intact) and the GPT-2 apply loop
    (lowest-rank-pair recursion per distinct word) in pure DuckDB SQL,
    so the hash match pins the trained merge table, every per-word
    token count, and the packing assignment; the kernel stays
    independently value-pinned in tests/test_ops.py."""
    from mistral_ocr_pipeline_spark.operators.bpe import (
        bpe_token_count_trained,
        bpe_train,
    )
    from mistral_ocr_pipeline_spark.operators.packing import pack_token_budget

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", "doc_id", n_merges=200, sample_size=1024)
    counted = docs.select(
        "doc_id", bpe_token_count_trained(merges)(F.col("text")).alias("tokens")
    )
    return pack_token_budget(counted, "doc_id", "tokens", budget=512, n_shards=8)


@register(
    "pack_emit_text",
    oracle=f"""{_PACK_OFF},
    asg AS (SELECT id, shard, tokens,
                   (start_offset // 512)::bigint AS pack_id
            FROM off)
    SELECT a.shard, a.pack_id,
           count(*) AS n_docs,
           sum(a.tokens)::bigint AS total_tokens,
           string_agg(a.id::varchar, ',' ORDER BY a.id) AS doc_ids,
           string_agg(d.text, chr(10) || chr(10) ORDER BY a.id) AS text
    FROM asg a JOIN documents d ON d.doc_id = a.id
    GROUP BY a.shard, a.pack_id
    """,
)
def pack_emit_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed context windows MATERIALIZED (`packing.pack_emit`) —
    each 512-token pack emitted as its documents concatenated in offset
    order with the blank-line document separator, plus the doc-id
    manifest.  The oracle replays assignment + ordered string_agg, so
    the hash match pins byte-exact window contents, not just the
    assignment."""
    from mistral_ocr_pipeline_spark.operators.packing import pack_emit
    from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", ws_token_count(F.col("text")).alias("tokens")
    )
    return pack_emit(docs, "doc_id", "text", "tokens", budget=512, n_shards=8)


@register(
    "pack_rollup",
    oracle=f"""{_PACK_OFF}
    SELECT shard, (start_offset // 512)::bigint AS pack_id,
           count(*) AS n_docs,
           sum(tokens)::bigint AS total_tokens,
           round(sum(tokens) / 512.0, 6) AS fill_ratio
    FROM off
    GROUP BY 1, 2
    """,
)
def pack_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack fill statistics over the packing assignment — the
    padding-waste audit a data pipeline publishes per training shard."""
    from mistral_ocr_pipeline_spark.operators.packing import (
        pack_rollup,
        pack_token_budget,
    )
    from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("tokens")
    )
    return pack_rollup(
        pack_token_budget(docs, "doc_id", "tokens", budget=512, n_shards=8),
        budget=512,
    )


# --------------------------------------------------------------------------
# Connected components — pair list → dedup clusters (transitive closure)
# --------------------------------------------------------------------------
@register(
    "neardup_curation",
    oracle=f"""
    WITH RECURSIVE
    u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM u),
    g AS (SELECT id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, greatest(len(toks) - 1, 1))])
                     AS grams
          FROM t),
    sz AS (SELECT id, len(grams) AS n FROM g),
    e AS (SELECT id, unnest(grams) AS gram FROM g),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM e a JOIN e b ON a.gram = b.gram AND a.id < b.id
              GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id AS node, id AS lbl FROM u
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
    SELECT node AS id, min(lbl) AS cluster,
           node = min(lbl) AS is_kept
    FROM reach GROUP BY node
    """,
)
def neardup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup curation chain as one driver query: MinHash-LSH
    candidate pairs (exact-Jaccard verified, ≥0.5) → connected components
    (duplicate clusters via transitive closure) → keep-one-per-cluster
    (min id canonical).  The oracle replays all three stages in SQL:
    all-pairs Jaccard (valid because LSH recall is 1.0 on this corpus —
    certified separately by dedup_minhash_lsh) + recursive-CTE closure +
    min-per-cluster.  This is the end-to-end dedup pass a pretraining
    pipeline actually runs, not just its stages in isolation."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.select("doc_id", "text").unionAll(clones)
    pairs = minhash_lsh_pairs(
        u, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    nodes = u.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, pairs)
    return comp.select(
        "id",
        F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).alias("is_kept"),
    )


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    keyed AS (
      SELECT doc_id, md5({_KEY.format(c='text')}) AS k FROM documents),
    star AS (
      SELECT g.canon AS id_a, keyed.doc_id AS id_b
      FROM keyed
      JOIN (SELECT k, min(doc_id) AS canon FROM keyed GROUP BY k) g
        ON g.k = keyed.k
      WHERE keyed.doc_id <> g.canon),
    chain AS (
      SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
      WHERE doc_id % 7 IN (0, 1)
        AND doc_id + 1 IN (SELECT doc_id FROM documents)),
    edges AS (SELECT * FROM star UNION SELECT * FROM chain),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node)
    SELECT node AS id, min(lbl) AS comp FROM reach GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a dedup pair graph: exact-dup star edges plus
    mod-7 chain edges (3-node chains exercise multi-hop propagation).  The
    distributed side is iterative min-label propagation
    (operators.dedup.connected_components); the oracle replays it as a
    recursive CTE — min reachable id per node."""
    from mistral_ocr_pipeline_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    return connected_components(docs, _dup_graph_edges(docs), id_col="doc_id")


def _dup_graph_edges(docs: DataFrame) -> DataFrame:
    """The shared test dup graph (also `split_leakage_free`): exact-dup
    star edges + mod-7 chain edges — its recursive-CTE twin is the
    `keyed/star/chain/edges/sym/reach` block in the oracles above/below."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col

    keyed = docs.select("doc_id", F.md5(norm_key_col(F.col("text"))).alias("k"))
    groups = keyed.groupBy("k").agg(F.min("doc_id").alias("canon"))
    star = (
        keyed.join(groups, "k")
        .filter(F.col("doc_id") != F.col("canon"))
        .select(F.col("canon").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    ids = docs.select("doc_id")
    chain = (
        docs.filter(F.col("doc_id") % 7 < 2)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    return star.unionAll(chain).distinct()


# --------------------------------------------------------------------------
# Deterministic sampling (training-data curation; sampleBy's stable twin)
# --------------------------------------------------------------------------
@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5('s1' || doc_id::varchar), 1, 8) <
          CASE lang WHEN 'en' THEN '33333333'
                    WHEN 'de' THEN '80000000'
                    ELSE '0ccccccd' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic content-hash sampling: en 20%, de 50%,
    rest 5%.  Row fate depends only on (salt, doc_id) — identical sample
    at any parallelism, replayable as a lexicographic hex comparison in
    any SQL engine."""
    from mistral_ocr_pipeline_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "lang"),
        key_col="doc_id",
        strata_col="lang",
        fractions={"en": 0.2, "de": 0.5},
        default_fraction=0.05,
        salt="s1",
    )


@register(
    "sample_train_split",
    oracle="""
    SELECT split, count(*) AS n
    FROM (
      SELECT CASE
               WHEN substring(md5('split' || doc_id::varchar), 1, 8) < 'cccccccd'
                 THEN 'train'
               WHEN substring(md5('split' || doc_id::varchar), 1, 8) < 'e6666666'
                 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents)
    GROUP BY split
    """,
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by content hash —
    a document lands in the same split on every engine, at every cluster
    size, on every rerun (the property `df.sample`/randomSplit lose under
    repartitioning)."""
    from mistral_ocr_pipeline_spark.operators.sampling import train_valid_test_split

    docs = _t(spark, sf_dir, "documents")
    return (
        train_valid_test_split(docs.select("doc_id"), key_col="doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# J5 — as-of join (temporal): latest event at or before each turn
# --------------------------------------------------------------------------
@register(
    "j5_asof_join",
    oracle="""
    WITH turns AS (
      SELECT doc_id,
             (doc_id % 50)::bigint AS user_id,
             TIMESTAMP '2024-01-01' + INTERVAL (doc_id) HOUR AS ts
      FROM documents)
    SELECT t.doc_id, t.user_id, t.ts,
           e.ts AS ts_asof, e.event_id AS event_id_asof
    FROM turns t
    ASOF LEFT JOIN events e
      ON t.user_id = e.user_id AND t.ts >= e.ts
    """,
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each synthetic turn, the most recent event at or before its
    timestamp per user — single-shuffle union+window formulation
    (operators.asof_join) value-checked against DuckDB's native ASOF JOIN.
    (user_id, ts) is unique in events, so the carried event_id is
    deterministic."""
    from mistral_ocr_pipeline_spark.operators.asof_join import asof_join

    docs = _t(spark, sf_dir, "documents")
    turns = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).cast("long").alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("doc_id"))
        ).alias("ts"),
    )
    events = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return asof_join(
        turns, events, key="user_id", right_cols=("event_id",)
    ).select("doc_id", "user_id", "ts", "ts_asof", "event_id_asof")


# --------------------------------------------------------------------------
# P7/X8 faithful — gate inference + consistency (reference main.py:114-159)
# --------------------------------------------------------------------------
@register(
    "p7_gate_consistency",
    oracle="""
    WITH rows AS (
      SELECT event_id,
             CASE event_type WHEN 'click' THEN NULL WHEN 'view' THEN ' None '
                  WHEN 'error' THEN ' No ' WHEN 'purchase' THEN 'Yes'
                  ELSE '' END AS gate,
             CASE WHEN value > 10 THEN 'outcome measured'
                  WHEN value > 5 THEN ' [] ' END AS outcomes,
             'f' || event_id::varchar AS followup
      FROM events),
    inferred AS (
      SELECT event_id,
             CASE WHEN gate IS NULL OR trim(gate) IN ('', 'None', 'nan')
                  THEN CASE WHEN outcomes IS NOT NULL
                                 AND trim(outcomes) NOT IN ('', 'None', 'nan', '[]')
                            THEN 'Yes' ELSE 'No' END
                  ELSE gate END AS gate,
             outcomes, followup
      FROM rows)
    SELECT event_id, gate,
           CASE WHEN trim(gate) = 'No' THEN NULL ELSE outcomes END AS outcomes,
           CASE WHEN trim(gate) = 'No' THEN NULL ELSE followup END AS followup
    FROM inferred
    """,
)
def p7_gate_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact _postprocess_row semantics (main.py:114-159):
    infer a missing gate from evidence (sentinels '', 'None', 'nan', '[]'),
    keep a present gate byte-identical (even ' No '), then null all
    dependent columns whenever the stripped gate is 'No'."""
    from mistral_ocr_pipeline_spark.functions.gate_rules import apply_gate_rules

    ev = _t(spark, sf_dir, "events")
    rows = ev.select(
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(None).cast("string"))
        .when(F.col("event_type") == "view", F.lit(" None "))
        .when(F.col("event_type") == "error", F.lit(" No "))
        .when(F.col("event_type") == "purchase", F.lit("Yes"))
        .otherwise(F.lit(""))
        .alias("gate"),
        F.when(F.col("value") > 10, F.lit("outcome measured"))
        .when(F.col("value") > 5, F.lit(" [] "))
        .alias("outcomes"),
        F.concat(F.lit("f"), F.col("event_id").cast("string")).alias("followup"),
    )
    return apply_gate_rules(
        rows, gate_col="gate", evidence_col="outcomes",
        dependent_cols=("outcomes", "followup"),
    )


# --------------------------------------------------------------------------
# TF-IDF top-k terms per document (corpus-level weighting, all JVM)
# --------------------------------------------------------------------------
@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id AS doc, unnest(string_split({_KEY.format(c='text')}, ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc, term, count(*) AS tf FROM terms WHERE term != ''
      GROUP BY doc, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT doc, term, tf,
             round(tf * (ln((1.0 + n.n) / (1.0 + dfreq.df)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
    SELECT doc AS doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — smoothed idf, deterministic tie
    break by term; tf/df/join/window all JVM expressions."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import tfidf_topk

    docs = _t(spark, sf_dir, "documents")
    return tfidf_topk(docs, "doc_id", "text", k=5)


# --------------------------------------------------------------------------
# J6 — range join (interval containment) via time-bucket blocking
# --------------------------------------------------------------------------
@register(
    "j6_range_join",
    oracle="""
    WITH iv AS (
      SELECT doc_id,
             (doc_id % 50)::bigint AS user_id,
             TIMESTAMP '2024-01-01' + INTERVAL (doc_id) HOUR AS start,
             TIMESTAMP '2024-01-01' + INTERVAL (doc_id + 2) HOUR AS "end"
      FROM documents)
    SELECT iv.doc_id, e.event_id, e.ts
    FROM iv JOIN events e
      ON e.user_id = iv.user_id AND e.ts >= iv.start AND e.ts < iv."end"
    """,
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each synthetic 2-hour interval per user — bucketed
    equi-join formulation (no NestedLoop node), value-checked against
    DuckDB's plain inequality join."""
    from mistral_ocr_pipeline_spark.operators.asof_join import range_join_buckets

    docs = _t(spark, sf_dir, "documents")
    iv = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).cast("long").alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("doc_id"))
        ).alias("start"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=F.col("doc_id") + 2)
        ).alias("end"),
    )
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return range_join_buckets(iv, ev, key="user_id").select(
        "doc_id", "event_id", "ts"
    )


# --------------------------------------------------------------------------
# A11 — exact interpolated percentiles per group (A10's general form)
# --------------------------------------------------------------------------
@register(
    "a11_exact_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
)
def a11_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type — Spark's
    `percentile` and DuckDB's `quantile_cont` share the interpolation rule,
    so the values hash-match.  At scale, prefer `percentile_approx`
    (t-digest, mergeable partials); the exact form shuffles all values per
    group and exists for small-group rollups + as the approx oracle."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0], 6).alias("p25"),
            F.round(F.col("p")[1], 6).alias("p50"),
            F.round(F.col("p")[2], 6).alias("p75"),
            F.round(F.col("p")[3], 6).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# Dataset mixing — weighted mixture of corpora (training-data curation)
# --------------------------------------------------------------------------
@register(
    "sample_weighted_mix",
    oracle="""
    WITH a AS (
      SELECT doc_id, 0 AS mix_source,
             row_number() OVER (ORDER BY substring(md5('mix:0' || doc_id::varchar), 1, 8), doc_id) AS r
      FROM documents WHERE lang = 'en'),
    b AS (
      SELECT doc_id, 1 AS mix_source,
             row_number() OVER (ORDER BY substring(md5('mix:1' || doc_id::varchar), 1, 8), doc_id) AS r
      FROM documents WHERE lang <> 'en')
    SELECT doc_id, mix_source FROM a WHERE r <= 60
    UNION ALL
    SELECT doc_id, mix_source FROM b WHERE r <= 20
    """,
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota corpus mixture (60 en docs + 20 non-en docs) chosen by
    content-hash rank — deterministic across partitionings; the
    threshold-based ``weighted_mix`` is the no-global-sort scale path."""
    from mistral_ocr_pipeline_spark.operators.sampling import weighted_mix_exact

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    rest = docs.filter(F.col("lang") != "en").select("doc_id")
    return weighted_mix_exact([(en, 60), (rest, 20)], key_col="doc_id")


def _thr_hex(fraction: float) -> str:
    from mistral_ocr_pipeline_spark.operators.sampling import _threshold_hex

    return _threshold_hex(fraction)


@register(
    "sample_weighted_mix_threshold",
    oracle=f"""
    SELECT doc_id, 0 AS mix_source FROM documents
    WHERE lang = 'en'
      AND substring(md5('mix:0' || doc_id::varchar), 1, 8) < '{_thr_hex(0.6)}'
    UNION ALL
    SELECT doc_id, 1 AS mix_source FROM documents
    WHERE lang <> 'en'
      AND substring(md5('mix:1' || doc_id::varchar), 1, 8) < '{_thr_hex(0.25)}'
    """,
)
def sample_weighted_mix_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of corpus mixing: per-source content-hash threshold
    selection (``weighted_mix``) — a scan-level filter, no global sort, no
    shuffle; quotas carry ±binomial noise instead of being exact.  The r01
    driver exercised only the exact-quota twin (global single-partition
    window); this row proves the path that actually runs at 100 TB."""
    from mistral_ocr_pipeline_spark.operators.sampling import weighted_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    rest = docs.filter(F.col("lang") != "en").select("doc_id")
    return weighted_mix([(en, 0.6), (rest, 0.25)], key_col="doc_id")


@register(
    "sample_interleave_order",
    oracle="""
    WITH u AS (
      SELECT doc_id, 0 AS mix_source, 3 AS w FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT doc_id, 1, 1 FROM documents WHERE lang <> 'en')
    SELECT doc_id, mix_source,
           floor(('0x' || substring(
                md5('interleave:' || mix_source::varchar || doc_id::varchar),
                1, 8))::UBIGINT / w)::BIGINT AS mix_key
    FROM u
    """,
)
def sample_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted interleave (3 parts en : 1 part non-en) —
    the epoch-ordering operator: ``ORDER BY mix_key`` streams the corpora
    at their weight ratio from any prefix, and the key is a scan-side
    integer expression (no window, no shuffle, no transcendentals — exact
    in both engines).  Prefix-share convergence is pinned by pytest."""
    from mistral_ocr_pipeline_spark.operators.sampling import interleave_order

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    rest = docs.filter(F.col("lang") != "en").select("doc_id")
    return interleave_order([(en, 3), (rest, 1)], key_col="doc_id")


@register(
    "sample_per_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY substring(md5('perkey' || doc_id::varchar), 1, 8),
                          doc_id) AS sample_rank
      FROM documents)
    SELECT doc_id, source, sample_rank
    FROM ranked WHERE sample_rank <= 20
    """,
)
def sample_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (≤20 docs per source) — the bounded
    per-group sample that stops any single site dominating the corpus;
    content-hash ranked, so the kept set is partition- and rerun-
    invariant (operators/sampling.sample_per_key)."""
    from mistral_ocr_pipeline_spark.operators.sampling import sample_per_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_per_key(docs, "source", "doc_id", k=20)


@register(
    "sketch_hll_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_2pct
    FROM events GROUP BY event_type
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct users per event type, checked as a
    VERIFIED CLAIM: the output carries the exact count plus a boolean
    asserting the sketch estimate landed within 2% of it.  The estimate
    itself is engine-specific (DataSketches HLL has no DuckDB twin) so it
    stays out of the hashed columns; the boolean makes the error envelope
    part of the value check — a drifting sketch turns the row red.
    Exact path shuffles every distinct (user,type) pair; the sketch path
    shuffles fixed-size buffers (operators/sketches.py)."""
    from mistral_ocr_pipeline_spark.operators.sketches import approx_distinct

    ev = _t(spark, sf_dir, "events")
    est = approx_distinct(ev, ["event_type"], "user_id", lgk=14)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.02 * F.col("exact_distinct")
        ).alias("within_2pct"),
    )


@register(
    "sketch_approx_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.50), 6) AS exact_p50,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def sketch_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median via ``percentile_approx`` (mergeable
    quantile-summary sketch — map-side partials, no per-group value
    shuffle), checked with the same verified-claim pattern as the HLL
    query: the hashed output is the exact interpolated median plus a
    boolean asserting the sketch landed within 5%.  Exact quantiles
    (a11_exact_percentiles) shuffle all values per group; this is the
    path that survives 100 TB groups."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
    )
    return agg.select(
        "event_type",
        "exact_p50",
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.05 * F.greatest(F.abs(F.col("exact_p50")), F.lit(1e-9))
        ).alias("approx_within_5pct"),
    )


_BLOOM_ORACLE = """
    WITH mem AS (SELECT text FROM documents WHERE doc_id % 20 = 0),
    mpos AS (
      SELECT (('0x' || substring(md5(text || ':' || t.i::varchar), 1, 16))::UBIGINT
              % 4096) AS p
      FROM mem CROSS JOIN range(4) t(i)),
    words AS (
      SELECT p // 64 AS word_idx,
             bit_or(1::UBIGINT << (p % 64)::int) AS word
      FROM mpos GROUP BY 1),
    probe AS (
      SELECT d.doc_id,
             (('0x' || substring(md5(d.text || ':' || t.i::varchar), 1, 16))::UBIGINT
              % 4096) AS p
      FROM documents d CROSS JOIN range(4) t(i)),
    hits AS (
      SELECT doc_id,
             bool_and(word IS NOT NULL
                      AND (word & (1::UBIGINT << (p % 64)::int)) <> 0)
               AS might_contain
      FROM probe LEFT JOIN words ON (p // 64) = words.word_idx
      GROUP BY doc_id)
    SELECT doc_id, (doc_id % 20 = 0) AS is_member, might_contain,
           ((doc_id % 20 <> 0) OR might_contain) AS no_false_negative
    FROM hits ORDER BY doc_id
    """


@register("sketch_bloom_membership", oracle=_BLOOM_ORACLE)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch (operators/sketches.bloom_build/
    bloom_probe): the eval subset's texts hashed into a 4096-bit filter
    (≤64 bit_or'd words — the mergeable, broadcastable summary that
    replaces shipping the raw key set), every document probed through a
    broadcast word join.  ``no_false_negative`` certifies the structural
    guarantee row-by-row; false positives, if the data produces any, are
    reported honestly (both engines compute the identical md5-derived
    positions, so the whole filter is value-replayed in SQL)."""
    from mistral_ocr_pipeline_spark.operators.sketches import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents")
    mem = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    bloom = bloom_build(mem, "text", m=4096, k=4)
    probed = bloom_probe(docs.select("doc_id", "text"), "text", bloom, m=4096, k=4)
    is_member = (F.col("doc_id") % 20 == 0).alias("is_member")
    return probed.select(
        "doc_id",
        is_member,
        "might_contain",
        ((F.col("doc_id") % 20 != 0) | F.col("might_contain")).alias(
            "no_false_negative"
        ),
    ).orderBy("doc_id")


@register("sketch_bloom_expr_probe", oracle=_BLOOM_ORACLE)
def sketch_bloom_expr_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Bloom filter consumed as a PURE SCAN EXPRESSION: the
    built words collapse to m/64 dense literals
    (sketches.bloom_words_dense) and the probe is a column — zero joins,
    zero shuffles, pushable below any operator (the runtime-bloom-join
    consumption shape).  Same oracle as sketch_bloom_membership: both
    probe paths must produce identical bits."""
    from mistral_ocr_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain_expr,
        bloom_words_dense,
    )

    docs = _t(spark, sf_dir, "documents")
    mem = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    words = bloom_words_dense(bloom_build(mem, "text", m=4096, k=4), m=4096)
    might = bloom_might_contain_expr(F.col("text"), words, m=4096, k=4)
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 20 == 0).alias("is_member"),
        might.alias("might_contain"),
        ((F.col("doc_id") % 20 != 0) | might).alias("no_false_negative"),
    ).orderBy("doc_id")


@register(
    "text_line_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 80) || chr(10) ||
             'subscribe to our newsletter today' || chr(10) ||
             substr(text, 81, 80) || chr(10) ||
             'copyright notice variant ' || (doc_id % 7)::varchar AS text
      FROM documents),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM d),
    l AS (SELECT doc_id,
                 unnest(range(0, len(a)))::INT AS pos,
                 unnest(a) AS line
          FROM ls),
    k AS (SELECT doc_id, pos, line,
                 CASE WHEN length(trim(line)) >= 8
                      THEN md5(trim(line)) END AS k
          FROM l),
    hot AS (SELECT k FROM k WHERE k IS NOT NULL
            GROUP BY k HAVING count(*) >= 5),
    f AS (SELECT doc_id, pos, line,
                 (k IS NOT NULL AND k IN (SELECT k FROM hot)) AS drp
          FROM k)
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (NOT drp), '') AS text_clean,
           count(*) FILTER (NOT drp) AS n_kept,
           count(*) FILTER (drp) AS n_removed
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb line-level corpus dedup over synthesized multi-line
    pages: unique prose slices interleaved with a universal banner line
    and 7 rotating copyright footers.  Lines duplicated ≥5× corpus-wide
    are stripped EVERYWHERE and documents reassembled in line order;
    whole path (digest counts, hot-line join, ordered string_agg)
    value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    ml = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 80),
            F.lit("subscribe to our newsletter today"),
            F.substring("text", 81, 80),
            F.concat(
                F.lit("copyright notice variant "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).alias("text"),
    )
    return line_dedup(ml, "doc_id", "text", min_dup_count=5).orderBy("doc_id")


def _mojibake_oracle() -> str:
    """Compose the mojibake oracle from the SAME module constants the
    engine applies, so the artifact literals are byte-identical in both
    engines (none contain a single quote, so no SQL escaping)."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        MOJIBAKE_FIXES,
    )

    art = {good: bad for bad, good in MOJIBAKE_FIXES}
    t0 = f" don{art['’']}t {art['“']}quote{art['”']} this"
    t1 = f" caf{art['é']} cr{art['è']}me {art['–']} fine"
    repl = "text"
    for bad, good in MOJIBAKE_FIXES:
        repl = f"replace({repl}, '{bad}', '{good}')"
    cnt = " + ".join(
        f"((length(text) - length(replace(text, '{bad}', ''))) // {len(bad)})"
        for bad, _ in MOJIBAKE_FIXES
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 40) ||
               CASE doc_id % 3 WHEN 0 THEN '{t0}' WHEN 1 THEN '{t1}'
                    ELSE ' all clean here' END AS text
      FROM documents)
    SELECT doc_id AS id,
           ({cnt})::BIGINT AS n_mojibake,
           {repl} AS repaired
    FROM d ORDER BY id
    """


@register("text_mojibake_repair", oracle=_mojibake_oracle())
def text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style encoding repair over deterministically corrupted pages:
    every 3rd doc carries cp1252-mojibake quotes, every 3rd+1 accented
    artifacts, the rest stay clean.  The pinned literal replace cascade
    (`text_analysis.MOJIBAKE_FIXES`) repairs them and counts artifacts
    per doc; the ORACLE is composed from the same constants, so the
    whole pass — corruption, counts, repaired strings — is value-hashed.
    Map-only, zero shuffle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        MOJIBAKE_FIXES,
        mojibake_repair,
    )

    art = {good: bad for bad, good in MOJIBAKE_FIXES}
    t0 = f" don{art['’']}t {art['“']}quote{art['”']} this"
    t1 = f" caf{art['é']} cr{art['è']}me {art['–']} fine"
    d = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.when(d % 3 == 0, F.lit(t0))
            .when(d % 3 == 1, F.lit(t1))
            .otherwise(F.lit(" all clean here")),
        ).alias("text"),
    )
    return mojibake_repair(pages, "doc_id", "text").orderBy("id")


@register(
    "text_c4_clean",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 60)
               || CASE WHEN doc_id % 3 <> 0 THEN '.' ELSE '' END
               || chr(10) || 'ok' || chr(10)
               || substr(text, 61, 60) || '.' || chr(10)
               || 'closing remarks are here today.'
               || CASE WHEN doc_id % 11 = 0
                       THEN chr(10) || 'lorem ipsum dolor sit amet.'
                       ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN chr(10) || 'function() { return 0; }'
                       ELSE '' END
               || CASE WHEN doc_id % 17 = 0
                       THEN chr(10) || 'the spammy casino bonus is here.'
                       ELSE '' END
               AS text
      FROM documents),
    ls AS (SELECT doc_id, text,
                  list_transform(string_split(text, chr(10)), x -> trim(x))
                      AS lines
           FROM d),
    ks AS (SELECT doc_id, text, lines,
                  list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
                      AND len(list_filter(string_split(l, ' '),
                                          x -> x <> '')) >= 5) AS kept
           FROM ls),
    f AS (SELECT doc_id,
                 array_to_string(kept, chr(10)) AS clean_text,
                 len(lines)::BIGINT AS n_lines,
                 len(kept)::BIGINT AS n_kept_lines,
                 len(regexp_extract_all(array_to_string(kept, chr(10)),
                                        '[.!?]+'))::BIGINT AS n_sentences,
                 contains(lower(text), 'casino bonus') AS has_blocklist,
                 contains(lower(text), 'lorem ipsum') AS has_lorem,
                 contains(text, '{') AS has_brace
          FROM ks)
    SELECT doc_id AS id, clean_text, n_lines, n_kept_lines, n_sentences,
           has_blocklist, has_lorem, has_brace,
           (n_sentences >= 3 AND NOT has_blocklist AND NOT has_lorem
            AND NOT has_brace) AS keep
    FROM f ORDER BY id
    """,
)
def text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over synthesized
    pages: per doc, a prose line that ends in a period only for
    doc_id % 3 ≠ 0 (exercises the terminal-punctuation rule AND the
    3-sentence page minimum — without it only 2 sentences survive), a
    2-word line (always filtered by the 5-word minimum), two clean
    sentences, plus rotating page-poison lines — "lorem ipsum"
    (every 11th), a curly-brace code line (every 13th), and a
    blocklisted phrase (every 17th).  Map-only, zero shuffle; the whole
    rule battery (line filter, sentence count, page flags, verdict)
    value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import c4_clean

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents")
    base = F.concat_ws(
        "\n",
        F.concat(
            F.substring("text", 1, 60),
            F.when(d % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
        F.lit("ok"),
        F.concat(F.substring("text", 61, 60), F.lit(".")),
        F.lit("closing remarks are here today."),
    )
    extra = F.concat(
        F.when(d % 11 == 0, F.lit("\nlorem ipsum dolor sit amet.")).otherwise(
            F.lit("")
        ),
        F.when(d % 13 == 0, F.lit("\nfunction() { return 0; }")).otherwise(
            F.lit("")
        ),
        F.when(
            d % 17 == 0, F.lit("\nthe spammy casino bonus is here.")
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", F.concat(base, extra).alias("text"))
    return c4_clean(pages, "doc_id", "text", blocklist=("casino bonus",)).orderBy(
        "id"
    )


@register(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id % 8 AS shard,
             unnest(string_split({_KEY.format(c='text')}, ' ')) AS term
      FROM documents),
    t AS (SELECT shard, term FROM raw WHERE term != ''),
    counts AS (SELECT shard, term, count(*) AS c FROM t GROUP BY shard, term),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY c DESC, term ASC) AS rn
      FROM counts),
    kept AS (SELECT * FROM ranked WHERE rn <= 32),
    errs AS (SELECT shard, c AS err FROM ranked WHERE rn = 33),
    tot AS (SELECT coalesce(sum(err), 0)::BIGINT AS total_err FROM errs),
    pv AS (
      SELECT term, sum(c)::BIGINT AS est_count,
             sum(coalesce(err, 0))::BIGINT AS covered_err
      FROM kept LEFT JOIN errs USING (shard) GROUP BY term),
    ex AS (SELECT term, count(*) AS exact_count FROM t GROUP BY term)
    SELECT pv.term, est_count,
           (est_count + tot.total_err - covered_err)::BIGINT AS max_count,
           exact_count,
           (est_count <= exact_count
            AND exact_count <= est_count + tot.total_err - covered_err)
             AS bounds_hold
    FROM pv CROSS JOIN tot JOIN ex ON pv.term = ex.term
    ORDER BY est_count DESC, pv.term LIMIT 20
    """,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top terms answered from per-shard top-32 summaries
    (operators/sketches.heavy_hitters_rollup) — the Misra-Gries/
    SpaceSaving guarantee expressed relationally: est ≤ true ≤ max with
    both bounds derived ONLY from the bounded summaries.  Verified-claim
    frame like the HLL query, but stronger: the whole computation
    (shard counts, top-k truncation, error transfer) is replayed in SQL
    value-for-value, and ``bounds_hold`` additionally certifies the
    envelope against the exact count."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.sketches import heavy_hitters_rollup

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
        F.explode(F.split(norm_key_col(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    hh = heavy_hitters_rollup(terms, "shard", "term", k=32)
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        hh.join(exact, "term")
        .select(
            "term",
            "est_count",
            "max_count",
            "exact_count",
            (
                (F.col("est_count") <= F.col("exact_count"))
                & (F.col("exact_count") <= F.col("max_count"))
            ).alias("bounds_hold"),
        )
        .orderBy(F.col("est_count").desc(), "term")
        .limit(20)
    )


def _pagerank_oracle_sql(n_iter: int = 5, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank (the operator's pinned convention
    makes each round one aggregate — n_iter CTE stages, no recursion)."""
    ctes = [
        """u AS (
      SELECT doc_id AS id FROM documents
      UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0
      UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 20 = 0),
    ed AS (
      SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, doc_id + 2000000
      FROM documents WHERE doc_id % 20 = 0),
    sym AS (SELECT id_a AS src, id_b AS dst FROM ed
            UNION SELECT id_b, id_a FROM ed),
    dg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    nn AS (SELECT count(*)::DOUBLE AS n FROM u),
    pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM u)"""
    ]
    for k in range(n_iter):
        ctes.append(
            f"""pr{k + 1} AS (
      SELECT u.id,
             (1 - {d}) / (SELECT n FROM nn)
             + {d} * COALESCE(sum(p.pr / dg.deg), 0) AS pr
      FROM u
      LEFT JOIN sym ON sym.dst = u.id
      LEFT JOIN dg ON dg.src = sym.src
      LEFT JOIN pr{k} p ON p.id = sym.src
      GROUP BY u.id)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT id, round(pr, 9) AS pagerank FROM pr{n_iter}"
    )


@register("graph_pagerank", oracle=_pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank canonical scoring over a synthetic dedup graph (pair
    edges for every 10th doc, 3-chains for every 20th — hubs score above
    leaves).  Fixed 5 iterations with the operator's pinned no-dangling
    convention, so the oracle unrolls the exact same recurrence."""
    from mistral_ocr_pipeline_spark.operators.dedup import pagerank_canonical

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    nodes = (
        docs.select(F.col("doc_id").alias("id"))
        .unionAll(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1000000).alias("id")
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 2000000).alias("id")
            )
        )
    )
    edges = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 1000000).alias("id_a"),
                (F.col("doc_id") + 2000000).alias("id_b"),
            )
        )
    )
    return pagerank_canonical(nodes, edges, n_iter=5)


# --------------------------------------------------------------------------
# Curation pipeline composite: quality gate → exact dedup → split → rollup
# --------------------------------------------------------------------------
@register(
    "curation_pipeline",
    oracle=rf"""
    WITH f AS (
      SELECT doc_id, text,
             length(text)::bigint AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint
                 AS n_tokens,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for')))::bigint AS n_stop,
             len(regexp_extract_all(text, '[^\w\s]'))::bigint AS n_punct,
             len(regexp_extract_all(text, '[0-9]'))::bigint AS n_digit
      FROM documents),
    scored AS (
      SELECT doc_id, text,
             CASE WHEN n_tokens < 5 THEN 0.0
                  ELSE round(
                    least(1.0, (n_stop::double / greatest(n_tokens, 1)) * 2)
                    * (1.0 - least(1.0, (n_punct::double / greatest(n_chars, 1)) * 4))
                    * (1.0 - least(1.0, (n_digit::double / greatest(n_chars, 1)) * 4)),
                    6) END AS q_score
      FROM f),
    gated AS (SELECT * FROM scored WHERE q_score >= 0.05),
    keyed AS (SELECT *, md5({_KEY.format(c='text')}) AS k FROM gated),
    canon AS (
      SELECT keyed.* FROM keyed
      JOIN (SELECT k, min(doc_id) AS c FROM keyed GROUP BY k) g
        ON g.k = keyed.k AND g.c = keyed.doc_id),
    split AS (
      SELECT doc_id, q_score,
             CASE WHEN substring(md5('split' || doc_id::varchar), 1, 8) < 'cccccccd'
                    THEN 'train'
                  WHEN substring(md5('split' || doc_id::varchar), 1, 8) < 'e6666666'
                    THEN 'valid'
                  ELSE 'test' END AS split
      FROM canon)
    SELECT split, count(*) AS n, round(avg(q_score), 6) AS mean_q
    FROM split GROUP BY split
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data ops COMPOSED as one plan: quality gate (score ≥
    0.05, the corpus median) → exact dedup keep-canonical → train/valid/test
    split → per-split rollup.  One declarative DAG: the gate is a
    scan-level filter, dedup is one shuffle with partial aggregation, the
    split is a projection — Catalyst pipelines the whole thing; nothing
    materializes between stages."""
    from mistral_ocr_pipeline_spark.operators.dedup import exact_dedup
    from mistral_ocr_pipeline_spark.operators.sampling import train_valid_test_split
    from mistral_ocr_pipeline_spark.operators.text_analysis import quality_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gated = quality_features(docs).filter(F.col("q_score") >= 0.05)
    canon = (
        gated.join(
            exact_dedup(gated, "doc_id", "text").filter("is_canonical"),
            gated["doc_id"] == F.col("id"),
            "left_semi",
        )
    )
    split = train_valid_test_split(canon, key_col="doc_id")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("q_score"), 6).alias("mean_q")
    )


# --------------------------------------------------------------------------
# Decontamination — train/eval n-gram overlap audit
# --------------------------------------------------------------------------
@register(
    "dedup_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(ws) - 3, 0)),
                 i -> array_to_string(ws[i:i+3], ' ')))) AS g
      FROM tok),
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
    hits AS (
      SELECT grams.doc_id, count(*) AS n_contaminated_grams
      FROM grams JOIN eval_grams USING (g)
      WHERE grams.doc_id % 25 <> 0
      GROUP BY grams.doc_id)
    SELECT d.doc_id AS id,
           coalesce(h.n_contaminated_grams, 0) AS n_contaminated_grams,
           coalesce(h.n_contaminated_grams, 0) >= 1 AS contaminated
    FROM documents d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 25 <> 0
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 25th document plays the eval set;
    the rest of the corpus is audited for 4-gram overlap.  Eval grams
    broadcast; the corpus never shuffles before the final per-doc agg.
    (4-grams rather than the conventional 13 so the synthetic corpus
    produces non-trivial hits at sf0.01 — 27 flagged docs.)"""
    from mistral_ocr_pipeline_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return contamination_flags(corpus, ev, "doc_id", "text", n=4)


@register(
    "decontam_semantic",
    oracle="""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id AS eval_id, v AS ev FROM base WHERE vec_id < 8),
    scaled AS (
      SELECT eval_id + 1000000 AS vec_id,
             list_transform(ev, x -> x * 2.5) AS v
      FROM e),
    blend AS (
      SELECT e.eval_id + 2000000 AS vec_id,
             list_transform(generate_series(1, len(e.ev)),
                            i -> e.ev[i] + 0.15 * m.v[i]) AS v
      FROM e JOIN base m ON m.vec_id = e.eval_id + 100),
    corpus AS (
      SELECT * FROM base
      UNION ALL SELECT * FROM scaled
      UNION ALL SELECT * FROM blend),
    s AS (
      SELECT c.vec_id AS id, e.eval_id,
             round(list_dot_product(c.v, e.ev) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(e.ev, e.ev))), 6) AS cosine
      FROM corpus c CROSS JOIN e),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY id ORDER BY cosine DESC, eval_id) AS rn FROM s)
    SELECT id, eval_id, cosine, cosine >= 0.9 AS contaminated
    FROM r WHERE rn = 1
    """,
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE decontamination
    (`dedup.semantic_contamination_flags`): nearest eval item by exact
    cosine per corpus vector, flagged at ≥ 0.9 — the modality that
    catches what every n-gram pass above misses: paraphrased /
    translated / re-formatted eval leakage shares zero surface grams
    but stays near the eval item in embedding space.

    Fixture: the first 8 vectors play the benchmark; the corpus is the
    full embeddings table ∪ SCALED clones of the eval vectors (×2.5 —
    byte-distinct, n-gram-invisible, direction-identical) ∪ BLENDED
    paraphrase stand-ins (v_e + 0.15·v_{e+100} — cosine ≈ 0.98, below
    exact-match and above the organic ceiling, which is 0.49 on this
    corpus).  Expect 24 contaminated rows: 8 self + 8 scaled + 8 blends.

    Value-oracle: all-pairs exact cosine + argmax replayed in SQL —
    `cosine_expr`'s sequential fold matches `list_dot_product` term
    order, the blend arithmetic is the same IEEE-double expression in
    both engines, and ties at the 6-dp rounding break to the lowest
    eval id in both."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        semantic_contamination_flags,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ev = base.filter(F.col("vec_id") < 8)
    scaled = ev.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.5)).alias(
            "embedding"
        ),
    )
    mates = base.select(
        (F.col("vec_id") - 100).alias("_jid"),
        F.col("embedding").alias("_w"),
    )
    blended = (
        ev.select(F.col("vec_id").alias("_jid"), F.col("embedding").alias("_v"))
        .join(mates, "_jid")
        .select(
            (F.col("_jid") + 2000000).alias("vec_id"),
            F.zip_with(
                "_v", "_w", lambda a, b: a + F.lit(0.15) * b
            ).alias("embedding"),
        )
    )
    corpus = base.unionByName(scaled).unionByName(blended)
    return semantic_contamination_flags(corpus, ev, threshold=0.9)


@register(
    "transcript_decontam",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    tok AS (
      SELECT conv_id, turn_idx, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM t),
    grams AS (
      SELECT conv_id, turn_idx,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(ws) - 3, 0)),
                 i -> array_to_string(ws[i:i+3], ' ')))) AS g
      FROM tok),
    etok AS (
      SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM documents WHERE doc_id % 25 = 0),
    eval_grams AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(ws) - 3, 0)),
                 i -> array_to_string(ws[i:i+3], ' ')))) AS g
      FROM etok),
    hits AS (
      SELECT conv_id, turn_idx, count(*) AS ng
      FROM grams JOIN eval_grams USING (g)
      GROUP BY 1, 2)
    SELECT t.conv_id,
           count(*)::BIGINT AS n_turns,
           sum(CASE WHEN coalesce(h.ng, 0) >= 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_contaminated_turns,
           sum(coalesce(h.ng, 0))::BIGINT AS n_contaminated_grams,
           sum(CASE WHEN coalesce(h.ng, 0) >= 1 THEN 1 ELSE 0 END) >= 1
               AS drop_conv
    FROM t
    LEFT JOIN hits h ON h.conv_id = t.conv_id AND h.turn_idx = t.turn_idx
    GROUP BY 1
    """,
)
def transcript_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-level benchmark decontamination: a turn is
    contaminated if it shares a distinct 4-gram with the eval set (every
    25th document plays the benchmark), and a single contaminated turn
    condemns the WHOLE conversation — assistant answers conditioned on a
    leaked benchmark prompt are just as poisoned as the prompt turn
    itself, so the removal unit must be the conversation, exactly the
    component-unit rule ``split_leakage_free`` applies to dup clusters.

    Composition, not re-derivation: `dedup.contamination_flags` audits
    turns (eval grams broadcast, turn stream map-side — the corpus never
    shuffles before the final agg), keyed by the (conv, turn) composite
    with conv_id carried via keep_cols, then ONE partial-agg rollup to
    the per-conversation verdict.  Output: (conv_id, n_turns,
    n_contaminated_turns, n_contaminated_grams, drop_conv) — the audit
    table a pretraining-transcripts pipeline joins as an anti-filter."""
    from mistral_ocr_pipeline_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # eval ids are discarded after the distinct-gram explode; the frame
    # just needs the same id column name the corpus side is keyed by
    ev = docs.filter(F.col("doc_id") % 25 == 0).withColumnRenamed(
        "doc_id", "turn_key"
    )
    turns = transcripts_from_documents(_t(spark, sf_dir, "documents")).withColumn(
        "turn_key",
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
    )
    audit = contamination_flags(
        turns, ev, "turn_key", "text", n=4, keep_cols=["conv_id"]
    )
    return audit.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated_turns"),
        F.sum(F.col("n_contaminated_grams").cast("long")).alias(
            "n_contaminated_grams"
        ),
        (F.sum(F.col("contaminated").cast("long")) >= 1).alias("drop_conv"),
    )


@register(
    "decontam_bloom_prefilter",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(ws) - 3, 0)),
                 i -> array_to_string(ws[i:i+3], ' ')))) AS g
      FROM tok),
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
    words AS (
      SELECT p // 64 AS w, bit_or(1::UBIGINT << (p % 64)::int) AS word
      FROM (SELECT (('0x' || substring(md5(g || ':' || t.i::varchar), 1, 16))::UBIGINT
                    % 32768) AS p
            FROM eval_grams CROSS JOIN range(4) t(i))
      GROUP BY 1),
    cg AS (SELECT doc_id, g FROM grams WHERE doc_id % 25 <> 0),
    cpos AS (
      SELECT doc_id, g,
             (('0x' || substring(md5(g || ':' || t.i::varchar), 1, 16))::UBIGINT
              % 32768) AS p
      FROM cg CROSS JOIN range(4) t(i)),
    bh AS (
      SELECT doc_id, g,
             bool_and(word IS NOT NULL
                      AND (word & (1::UBIGINT << (p % 64)::int)) <> 0) AS hit
      FROM cpos LEFT JOIN words ON (p // 64) = words.w
      GROUP BY doc_id, g),
    agg AS (SELECT doc_id, count(*) FILTER (hit) AS n_bloom
            FROM bh GROUP BY doc_id),
    ex AS (SELECT cg.doc_id, count(*) AS n_exact
           FROM cg JOIN eval_grams USING (g) GROUP BY cg.doc_id)
    SELECT d.doc_id AS id,
           coalesce(a.n_bloom, 0) AS n_bloom_grams,
           coalesce(e.n_exact, 0) AS n_exact_grams,
           coalesce(e.n_exact, 0) >= 1 AS contaminated,
           coalesce(a.n_bloom, 0) >= coalesce(e.n_exact, 0) AS no_false_negative
    FROM documents d
    LEFT JOIN agg a ON a.doc_id = d.doc_id
    LEFT JOIN ex e ON e.doc_id = d.doc_id
    WHERE d.doc_id % 25 <> 0
    ORDER BY id
    """,
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the eval gram set consumed as a BLOOM SCAN
    EXPRESSION instead of a broadcast hash set — the 100 TB shape: the
    eval side collapses to 512 word literals (KBs, constant per
    executor), the corpus gram stream is pruned scan-side at FPR
    ≈ (1-e^(-kn/m))^k, and the exact broadcast-join verify touches only
    surviving candidates.  Audit columns keep both counts honest:
    ``n_bloom_grams`` ≥ ``n_exact_grams`` always (``no_false_negative``
    certifies it per row; the gap IS the observed false-positive rate),
    and ``contaminated`` matches dedup_contamination's exact semantics."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        explode_grams,
        shingle_sets,
    )
    from mistral_ocr_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain_expr,
        bloom_words_dense,
    )

    m, k = 1 << 15, 4
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    eval_grams = explode_grams(
        shingle_sets(ev, "doc_id", "text", 4, hashed=False)
    ).distinct()
    words = bloom_words_dense(bloom_build(eval_grams, "g", m=m, k=k), m)
    corpus_grams = explode_grams(
        shingle_sets(corpus, "doc_id", "text", 4, hashed=False), "id"
    )
    cand = corpus_grams.withColumn(
        "bh", bloom_might_contain_expr(F.col("g"), words, m, k)
    )
    n_bloom = cand.groupBy("id").agg(
        F.sum(F.col("bh").cast("long")).alias("n_bloom_grams")
    )
    n_exact = (
        cand.filter("bh")
        .join(F.broadcast(eval_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_exact_grams"))
    )
    return (
        corpus.select(F.col("doc_id").alias("id"))
        .join(n_bloom, "id", "left")
        .join(n_exact, "id", "left")
        .select(
            "id",
            F.coalesce("n_bloom_grams", F.lit(0)).alias("n_bloom_grams"),
            F.coalesce("n_exact_grams", F.lit(0)).alias("n_exact_grams"),
            (F.coalesce("n_exact_grams", F.lit(0)) >= 1).alias("contaminated"),
            (
                F.coalesce("n_bloom_grams", F.lit(0))
                >= F.coalesce("n_exact_grams", F.lit(0))
            ).alias("no_false_negative"),
        )
        .orderBy("id")
    )


@register(
    "decontam_pipeline",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split({_KEY.format(c='text')}, ' ') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(ws) - 3, 0)),
                 i -> array_to_string(ws[i:i+3], ' ')))) AS g
      FROM tok),
    eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0),
    flagged AS (
      SELECT DISTINCT grams.doc_id
      FROM grams JOIN eval_grams USING (g)
      WHERE grams.doc_id % 25 <> 0)
    SELECT d.lang,
           count(*) AS n_clean,
           (SELECT count(*) FROM flagged) AS n_dropped_total
    FROM documents d
    WHERE d.doc_id % 25 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
    GROUP BY d.lang
    """,
)
def decontam_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination END-TO-END: audit → drop flagged docs → per-lang
    clean-corpus rollup carrying the global drop count — the composite a
    pretraining run executes before training, completing the pipeline
    trio (curation_pipeline, neardup_curation, this).  ONE plan, one
    gram-scan, zero driver-side actions: ``contamination_flags`` carries
    ``lang`` through the audit rows (``keep_cols``), a single
    groupBy(lang) counts clean and dropped docs in the same aggregate,
    and the global drop total is a window-sum over the ~|langs| post-agg
    rows (cheap: the unpartitioned window sees only the aggregated
    output, never corpus rows).  Langs whose docs were ALL dropped are
    filtered (n_clean > 0) to match the clean-corpus GROUP BY semantics
    of the oracle."""
    from mistral_ocr_pipeline_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    flags = contamination_flags(
        corpus, ev, "doc_id", "text", n=4, keep_cols=["lang"]
    )
    per_lang = flags.groupBy("lang").agg(
        F.sum(F.when(~F.col("contaminated"), 1).otherwise(0)).alias("n_clean"),
        F.sum(F.col("contaminated").cast("long")).alias("dropped_in_lang"),
    )
    return (
        per_lang.select(
            "lang",
            F.col("n_clean").cast("long").alias("n_clean"),
            F.sum("dropped_in_lang")
            .over(W.partitionBy())
            .cast("long")
            .alias("n_dropped_total"),
        )
        .filter(F.col("n_clean") > 0)
    )


# --------------------------------------------------------------------------
# BM25 lexical retrieval (the sparse half of the retrieval stack)
# --------------------------------------------------------------------------
def _bm25_cte(postings_cap: int | None = None, docs_src: str = "documents") -> str:
    """Shared oracle CTE replaying the BM25 path term-for-term: the
    normalized tokenization, corpus stats, tf/df postings (optionally
    champion-capped — idf keeps the FULL df), the sub-4-doc 6-token
    queries, the micro-unit order-independent score sum, and the rank
    window.  Ends at ``ranked`` so callers pick their own k / fusion.
    ``docs_src`` swaps the corpus relation (e.g. history ∪ batch for the
    incremental-index twin)."""
    cap_cte, tf_src = "", "tf"
    if postings_cap is not None:
        cap_cte = f""",
    tfc AS (
      SELECT doc, term, tf, dl FROM (
        SELECT *, row_number() OVER (PARTITION BY term
                                     ORDER BY tf DESC, doc ASC) AS rn
        FROM tf)
      WHERE rn <= {postings_cap})"""
        tf_src = "tfc"
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM {docs_src}),
    stats AS (
      SELECT count(*) AS n_docs,
             sum(len(ts))::DOUBLE / count(*) AS avgdl
      FROM tok),
    tf AS (
      SELECT doc, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc, unnest(ts) AS term, len(ts) AS dl FROM tok)
      GROUP BY doc, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term){cap_cte},
    q AS (
      SELECT doc AS qid, unnest(list_distinct(ts[1:6])) AS term
      FROM tok WHERE doc < 4),
    scored AS (
      SELECT q.qid, tf.doc,
             round(sum(round(
               ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
               * 1000000.0)::BIGINT) / 1000000.0, 6) AS score
      FROM {tf_src} tf JOIN dfreq USING (term) JOIN q ON q.term = tf.term
      CROSS JOIN stats
      GROUP BY q.qid, tf.doc),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc ASC) AS rank
      FROM scored)
    """


@register(
    "text_bm25_topk",
    oracle=_bm25_cte()
    + """
    SELECT qid AS query_id, doc AS doc_id, score, rank
    FROM ranked WHERE rank <= 5
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 (k1=1.2, b=0.75): queries are each sub-4 doc's
    first 6 normalized tokens, retrieved against the whole corpus.  The
    postings build (tokenize once, tf/dl/df/N/avgdl), the broadcast
    query-term join, the micro-unit order-independent score sum, and the
    rank window are all replayed term-for-term in the DuckDB oracle."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("query_text"),
    )
    return bm25_topk(docs, queries, id_col="doc_id", text_col="text", k=5)


# the incremental-BM25 fixture: history = documents, batch = every 10th
# doc re-ingested under a new id with its first word rewritten (the same
# disjoint-id daily-batch shape the minhash/substring index fixtures use)
_BM25_BATCH_SRC = r"""(
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             regexp_replace(text, '^\w+', 'changed') AS text
      FROM documents WHERE doc_id % 10 = 0)"""


def _bm25_history_and_batch(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    return docs, batch


@register(
    "bm25_index_append",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM {_BM25_BATCH_SRC})
    SELECT DISTINCT term, TRUE AS index_consistent
    FROM (SELECT unnest(ts) AS term FROM tok)
    """,
)
def bm25_index_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified claim: BM25 index maintenance ≡ one-shot rebuild.  The
    persisted index over history (`text_analysis.bm25_index_build`) gets
    the new batch merged via `bm25_index_append` — history text is never
    re-tokenized — and per TERM the claim row asserts the full posting
    list (doc, tf, dl — sorted) is identical between the merged index
    and a one-shot build over history ∪ batch, AND that the additive
    stats row (n_docs, sum_dl) agrees.  Every term in either index
    appears in the output (full outer join), so a lost or spurious
    posting anywhere flips its term's row — hash-match ⟺ the merge is
    lossless.  The oracle independently replays the token universe, so
    the term column itself is value-checked too."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        bm25_index_append,
        bm25_index_build,
    )

    docs, batch = _bm25_history_and_batch(spark, sf_dir)
    one_p, one_s = bm25_index_build(docs.unionByName(batch))
    two_p, two_s = bm25_index_append(bm25_index_build(docs), batch)

    def _roll(p: DataFrame, tag: str) -> DataFrame:
        return p.groupBy("term").agg(
            F.sort_array(
                F.collect_list(F.struct("doc", "tf", "dl"))
            ).alias(f"_{tag}_posts")
        )

    stats_ok = (
        one_s.join(
            two_s.select(
                F.col("n_docs").alias("_n2"), F.col("sum_dl").alias("_s2")
            )
        )
        .select(
            (
                (F.col("n_docs") == F.col("_n2"))
                & (F.col("sum_dl") == F.col("_s2"))
            ).alias("_stats_ok")
        )
    )
    return (
        _roll(one_p, "one")
        .join(_roll(two_p, "two"), "term", "full_outer")
        .crossJoin(F.broadcast(stats_ok))
        .select(
            "term",
            (
                F.col("_one_posts").eqNullSafe(F.col("_two_posts"))
                & F.col("_stats_ok")
            ).alias("index_consistent"),
        )
    )


@register(
    "text_bm25_incremental",
    oracle=_bm25_cte(docs_src=_BM25_BATCH_SRC)
    + """
    SELECT qid AS query_id, doc AS doc_id, score, rank
    FROM ranked WHERE rank <= 5
    """,
)
def text_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 served from the MAINTAINED index: history indexed
    once, the daily batch merged in (`bm25_index_append` — batch-only
    tokenization), then `bm25_search_index` derives df/avgdl from the
    stored additive facts and scores with the exact `_bm25_score` tail
    `bm25_topk` uses.  The oracle is the ONE-SHOT BM25 replay over
    history ∪ batch — the hash match IS the proof that incremental
    serving returns score-identical results to a full rebuild."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        bm25_index_append,
        bm25_index_build,
        bm25_search_index,
    )

    docs, batch = _bm25_history_and_batch(spark, sf_dir)
    index = bm25_index_append(bm25_index_build(docs), batch)
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("query_text"),
    )
    return bm25_search_index(index, queries, id_col="doc_id", k=5)


# --------------------------------------------------------------------------
# Token-budgeted corpus mixing ("β tokens of web, γ of code")
# --------------------------------------------------------------------------
@register(
    "mix_token_budget",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             len(list_filter(string_split({_KEY.format(c='text')}, ' '),
                             t -> t != ''))::BIGINT AS tokens
      FROM documents),
    a AS (
      SELECT doc_id, 0 AS mix_source,
             (('0x' || substring(md5('tokmix-shard:0' || doc_id::varchar),
                                 1, 8))::UBIGINT % 4)::INT AS shard,
             tokens,
             coalesce(sum(tokens) OVER (
               PARTITION BY ('0x' || substring(
                 md5('tokmix-shard:0' || doc_id::varchar), 1, 8))::UBIGINT % 4
               ORDER BY substring(md5('tokmix:0' || doc_id::varchar), 1, 8), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
      FROM tok WHERE lang = 'en'),
    b AS (
      SELECT doc_id, 1 AS mix_source,
             (('0x' || substring(md5('tokmix-shard:1' || doc_id::varchar),
                                 1, 8))::UBIGINT % 4)::INT AS shard,
             tokens,
             coalesce(sum(tokens) OVER (
               PARTITION BY ('0x' || substring(
                 md5('tokmix-shard:1' || doc_id::varchar), 1, 8))::UBIGINT % 4
               ORDER BY substring(md5('tokmix:1' || doc_id::varchar), 1, 8), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
      FROM tok WHERE lang <> 'en')
    SELECT doc_id, mix_source, shard, tokens, start_offset
    FROM a WHERE start_offset < 1000
    UNION ALL
    SELECT doc_id, mix_source, shard, tokens, start_offset
    FROM b WHERE start_offset < 375
    """,
)
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture — 4000 normalized-whitespace tokens of en +
    1500 of non-en, documents admitted in content-hash order within 4
    shards until each shard's budget slice fills
    (`sampling.token_budget_mix`).  The oracle replays the shard cumsum
    and the start-offset boundary rule exactly."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.sampling import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    base = docs.select("doc_id", "lang", F.size(toks).alias("tokens"))
    en = base.filter(F.col("lang") == "en")
    rest = base.filter(F.col("lang") != "en")
    return token_budget_mix(
        [(en, 4000), (rest, 1500)], key_col="doc_id", tokens_col="tokens",
        n_shards=4,
    )


# --------------------------------------------------------------------------
# Leakage-free split: near-dup components move between splits as one unit
# --------------------------------------------------------------------------
@register(
    "split_leakage_free",
    oracle=f"""
    WITH RECURSIVE
    keyed AS (
      SELECT doc_id, md5({_KEY.format(c='text')}) AS k FROM documents),
    star AS (
      SELECT g.canon AS id_a, keyed.doc_id AS id_b
      FROM keyed
      JOIN (SELECT k, min(doc_id) AS canon FROM keyed GROUP BY k) g
        ON g.k = keyed.k
      WHERE keyed.doc_id <> g.canon),
    chain AS (
      SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
      WHERE doc_id % 7 IN (0, 1)
        AND doc_id + 1 IN (SELECT doc_id FROM documents)),
    edges AS (SELECT * FROM star UNION SELECT * FROM chain),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM edges
      UNION SELECT id_b, id_a FROM edges),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
    comp AS (SELECT node AS id, min(lbl) AS comp FROM reach GROUP BY node)
    SELECT id AS doc_id, comp,
           CASE
             WHEN substring(md5('split' || comp::varchar), 1, 8) < 'cccccccd'
               THEN 'train'
             WHEN substring(md5('split' || comp::varchar), 1, 8) < 'e6666666'
               THEN 'valid'
             ELSE 'test'
           END AS split
    FROM comp
    """,
)
def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 80/10/10 split over the shared dup graph
    (`_dup_graph_edges`): the component closure runs first and the split
    hash keys on the COMPONENT id, so an eval doc can never have a
    near-duplicate in train (`sampling.leakage_free_split`).  Oracle =
    the connected-components recursive CTE + the same md5 threshold CASE
    as `sample_train_split`, applied to comp."""
    from mistral_ocr_pipeline_spark.operators.sampling import leakage_free_split

    docs = _t(spark, sf_dir, "documents")
    return leakage_free_split(docs, _dup_graph_edges(docs), id_col="doc_id")


@register(
    "text_bm25_champion",
    oracle=_bm25_cte(postings_cap=10)
    + """
    SELECT qid AS query_id, doc AS doc_id, score, rank
    FROM ranked WHERE rank <= 5
    """,
)
def text_bm25_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with champion lists — each term's postings capped to its 10
    highest-tf docs BEFORE the query join, the stop-word-skew defense
    that bounds any single join key's fan-out at web scale (a term in
    half the corpus otherwise routes half the corpus through one key).
    idf keeps the TRUE document frequency and surviving contributions
    are computed identically, so capped score ≤ uncapped score with
    equality for docs inside every matched term's champions — the
    contenders (pinned in test_ops).  Cap replayed as a row_number
    window in the oracle."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("query_text"),
    )
    return bm25_topk(
        docs, queries, id_col="doc_id", text_col="text", k=5,
        max_postings_per_term=10,
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + dense ANN lists
# --------------------------------------------------------------------------
@register(
    "retrieval_rrf_fusion",
    oracle=_bm25_cte()
    + """
    , sparse AS (SELECT qid, doc AS id, rank FROM ranked WHERE rank <= 10),
    qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id < 4),
    cvec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ds AS (
      SELECT qv.qid, cvec.vec_id,
             round(list_dot_product(qv.v, cvec.v) /
                   (sqrt(list_dot_product(qv.v, qv.v)) *
                    sqrt(list_dot_product(cvec.v, cvec.v))), 6) AS cosine
      FROM qv CROSS JOIN cvec),
    dr AS (
      SELECT qid, vec_id AS id, row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM ds),
    dense AS (SELECT qid, id, rank FROM dr WHERE rank <= 10),
    contrib AS (
      SELECT qid, id, round(1000000.0 / (60 + rank))::BIGINT AS m FROM sparse
      UNION ALL
      SELECT qid, id, round(1000000.0 / (60 + rank))::BIGINT FROM dense),
    fused AS (
      SELECT qid, id, round(sum(m) / 1000000.0, 6) AS rrf_score,
             count(*) AS n_lists
      FROM contrib GROUP BY qid, id),
    fr AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf_score DESC, id ASC) AS rank
      FROM fused)
    SELECT qid AS query_id, id AS doc_id, rrf_score, n_lists, rank
    FROM fr WHERE rank <= 5
    """,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the production RAG shape: BM25 top-10 (sparse)
    and exact-cosine top-10 (dense, embeddings keyed by the same ids as
    documents in the test corpus) fused by reciprocal rank —
    `similarity.rrf_fuse`, score Σ 1/(60+rank) in exact micro-units.
    Neither list excludes the query doc itself, so both lists cover the
    full corpus symmetrically.  ONE plan: both retrievals and the fusion
    groupBy+window; only top-k-sized relations move after retrieval."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.similarity import rrf_fuse
    from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("query_text"),
    )
    sparse = bm25_topk(docs, queries, id_col="doc_id", text_col="text", k=10)

    emb = _t(spark, sf_dir, "embeddings")
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), dvec.alias("qv")
    )
    cand = emb.select("vec_id", dvec.alias("v"))

    from mistral_ocr_pipeline_spark.operators.similarity import fold_dot as dot

    cos = F.round(
        dot(F.col("qv"), F.col("v"))
        / (F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("v"), F.col("v")))),
        6,
    )
    wd = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    dense = (
        cand.crossJoin(F.broadcast(qs))
        .select("qid", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wd))
        .filter(F.col("rank") <= 10)
        .select(F.col("qid").alias("query_id"), F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse(
        [sparse.select("query_id", "doc_id", "rank"), dense], k=5
    )


# --------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# --------------------------------------------------------------------------
@register(
    "text_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(ts) AS g FROM tok
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS g
      FROM tok),
    bkt AS (
      SELECT doc_id, lang,
             (('0x' || substring(md5(g), 1, 8))::UBIGINT % 256)::BIGINT AS b
      FROM grams),
    raw AS (SELECT b, count(*) AS cr FROM bkt GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bkt WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bkt) AS tr,
                   (SELECT count(*) FROM bkt WHERE lang = 'en') AS tt),
    spine AS (SELECT unnest(generate_series(0, 255)) AS b),
    probs AS (
      SELECT spine.b,
             round((ln((coalesce(ct, 0) + 1) / (tt + 256.0))
                    - ln((coalesce(cr, 0) + 1) / (tr + 256.0)))
                   * 1000000.0)::BIGINT AS micro
      FROM spine LEFT JOIN raw USING (b) LEFT JOIN tgt ON tgt.b = spine.b
      CROSS JOIN tot)
    SELECT bkt.doc_id, count(*) AS n_grams,
           round(sum(micro) / 1000000.0, 6) AS logweight
    FROM bkt JOIN probs USING (b)
    GROUP BY bkt.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023) for every document,
    with the en-language slice as the target distribution — positive
    weight ⇒ the doc's hashed unigram+bigram features look more like the
    target than like the raw corpus; resample by weight to tilt a 100 TB
    crawl toward the target domain (`text_analysis.dsir_logweights`).
    The ENTIRE model — md5 bucket hashing, add-1 smoothed bucket
    probabilities over both distributions, micro-unit exact gram sums —
    is replayed in the oracle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logweights(
        docs.select(
            "doc_id", "text", (F.col("lang") == "en").alias("is_tgt")
        ),
        "is_tgt",
    )


# --------------------------------------------------------------------------
# Quality gate funnel rollup (Gopher-rule shapes, first-fail attribution)
# --------------------------------------------------------------------------
_FUNNEL_VARIANTS: list[tuple[int, int, str]] = [
    (2000000, 17, '- bullet item number 00\n- bullet item number 01\n- bullet item number 02\n- bullet item number 03\n- bullet item number 04\n- bullet item number 05\n- bullet item number 06\n- bullet item number 07\n- bullet item number 08\n- bullet item number 09\n- bullet item number 10\n- bullet item number 11'),
    (3000000, 19, 'plain line number 00...\nplain line number 01 ok\nplain line number 02...\nplain line number 03 ok\nplain line number 04...\nplain line number 05 ok\nplain line number 06...\nplain line number 07 ok\nplain line number 08...\nplain line number 09 ok\nplain line number 10...\nplain line number 11 ok'),
    (4000000, 23, 'this paragraph repeats twice in the document and it was here for a while\n\nthis paragraph repeats twice in the document and it was here for a while\n\nunique closing paragraph with fresh words that she wrote near the end today'),
    (5000000, 29, 'the long paragraph block w000 w001 w002 w003 w004 w005 w006 w007 w008 w009 w010 w011 w012 w013 w014 w015 w016 w017 and it was fine\n\nthe long paragraph block w000 w001 w002 w003 w004 w005 w006 w007 w008 w009 w010 w011 w012 w013 w014 w015 w016 w017 and it was fine\n\nuniq para number 00 the end\n\nuniq para number 01 the end\n\nuniq para number 02 the end\n\nuniq para number 03 the end'),
    (6000000, 31, 'the and spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham spam ham tail words here okay'),
    (7000000, 37, 'the and dup1 dup2 dup3 dup4 dup5 dup6 dup7 dup8 u000 u001 u002 u003 u004 u005 u006 u007 u008 u009 u010 u011 u012 u013 u014 u015 u016 u017 u018 u019 u020 u021 u022 u023 u024 u025 u026 u027 u028 u029 u030 u031 u032 u033 u034 u035 u036 u037 u038 u039 dup1 dup2 dup3 dup4 dup5 dup6 dup7 dup8'),
    (8000000, 41, '1000 1001 1002 1003 1004 1005 1006 1007 1008 1009 1010 1011 1012 1013 1014 1015 1016 1017 1018 1019 1020 1021 1022 1023 1024 1025 1026 1027 1028 1029 1030 1031 1032 1033 1034 1035 1036 1037 1038 1039'),
    (9000000, 43, 'this repeated line has quite a few handy words in it for sure yes\nthis repeated line has quite a few handy words in it for sure yes\nthis repeated line has quite a few handy words in it for sure yes\nthis repeated line has quite a few handy words in it for sure yes\nunique tail line here'),
    (10000000, 47, 'the long repeated line zz000 zz001 zz002 zz003 zz004 zz005 zz006 zz007 zz008 zz009 zz010 zz011 zz012 zz013 zz014 zz015 zz016 zz017 zz018 zz019 zz020 zz021 zz022 zz023 and it was okay\nthe long repeated line zz000 zz001 zz002 zz003 zz004 zz005 zz006 zz007 zz008 zz009 zz010 zz011 zz012 zz013 zz014 zz015 zz016 zz017 zz018 zz019 zz020 zz021 zz022 zz023 and it was okay\nu00 ok\nu01 ok\nu02 ok'),
]


def _funnel_verdict_ctes(
    min_tokens: int = 25,
    max_tokens: int = 90,
    wl_lo: float = 3.0,
    wl_hi: float = 6.0,
    line_frac: float = 0.5,
    line_char_frac: float = 0.42,
) -> str:
    """Reusable DuckDB replay of the COMPLETE Gopher battery
    (`text_analysis.quality_funnel`): expects a relation ``u(doc_id,
    text)`` in scope and emits CTEs ``f`` … ``v(doc_id, verdict)`` —
    the sorted-adjacency folds become per-doc GROUP BYs (duplicate
    line/paragraph char fractions), the top-2/3/4-gram masses a
    count+rank per n, and the duplicate-5..10-gram coverages an
    interval-union DISTINCT per n — same signals, same first-fail CASE
    order as the operator.  Thresholds parameterized where the repo's
    two callers differ (`text_quality_funnel`, `pretrain_pipeline`);
    the paper-constant ones stay literal."""
    tg = "".join(
        f"""
    tg{n} AS (
      SELECT doc_id, cnt * length(gram) AS mass FROM (
        SELECT doc_id, gram, count(*) AS cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, gram) AS rn
        FROM (SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(words) - {n} + 1),
                 i -> array_to_string(words[i : i + {n} - 1], ' '))) AS gram
              FROM f WHERE len(words) >= {n})
        GROUP BY doc_id, gram)
      WHERE rn = 1),"""
        for n in (2, 3, 4)
    )
    dg = "".join(
        f"""
    dgr{n} AS (
      SELECT doc_id, p, array_to_string(words[p + 1 : p + {n}], ' ') AS gram
      FROM (SELECT doc_id, words,
                   unnest(generate_series(0, len(words) - {n}))::INT AS p
            FROM f WHERE len(words) >= {n})),
    dgd{n} AS (SELECT doc_id, gram FROM dgr{n}
               GROUP BY doc_id, gram HAVING count(*) >= 2),
    dgc{n} AS (
      SELECT doc_id, sum(length(w))::BIGINT AS cov FROM (
        SELECT DISTINCT c.doc_id, c.i, ff.words[c.i + 1] AS w
        FROM (SELECT g.doc_id,
                     unnest(generate_series(g.p, g.p + {n} - 1))::INT AS i
              FROM dgr{n} g
              JOIN dgd{n} d ON d.doc_id = g.doc_id AND d.gram = g.gram) c
        JOIN f ff ON ff.doc_id = c.doc_id)
      GROUP BY doc_id),"""
        for n in range(5, 11)
    )
    top_cond = " OR ".join(
        f"t{n}m::DOUBLE / greatest(n_chars, 1) > {thr}"
        for n, thr in ((2, 0.20), (3, 0.18), (4, 0.16))
    )
    dup_cond = " OR ".join(
        f"d{n}c::DOUBLE / wchars > {thr}"
        for n, thr in ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12),
                       (9, 0.11), (10, 0.10))
    )
    tg_joins = "".join(f"\n      LEFT JOIN tg{n} USING (doc_id)" for n in (2, 3, 4))
    dg_joins = "".join(f"\n      LEFT JOIN dgc{n} dg{n} USING (doc_id)" for n in range(5, 11))
    tg_cols = ", ".join(f"coalesce(tg{n}.mass, 0) AS t{n}m" for n in (2, 3, 4))
    dg_cols = ", ".join(f"coalesce(dg{n}.cov, 0) AS d{n}c" for n in range(5, 11))
    return rf"""f AS (
      SELECT doc_id,
             length(coalesce(text, ''))::BIGINT AS n_chars,
             (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                   ELSE len(string_split_regex(trim(coalesce(text, '')),
                            '\s+')) END)::BIGINT AS n_tokens,
             len(list_filter(string_split_regex(lower(coalesce(text, '')),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in',
                 'is', 'that', 'it', 'was', 'for')))::BIGINT AS n_stop,
             len(regexp_extract_all(coalesce(text, ''), '[^\w\s]'))::BIGINT
                 AS n_punct,
             list_filter(list_transform(string_split(coalesce(text, ''),
                 chr(10)), x -> trim(x)), x -> x <> '') AS lines,
             list_filter(list_transform(string_split(coalesce(text, ''),
                 chr(10) || chr(10)), x -> trim(x)), x -> x <> '') AS paras,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '') AS words
      FROM u),
    ldup AS (
      SELECT doc_id, sum((cnt - 1) * length(val))::BIGINT AS dup,
             sum(cnt * length(val))::BIGINT AS tot
      FROM (SELECT doc_id, val, count(*) AS cnt
            FROM (SELECT doc_id, unnest(lines) AS val FROM f)
            GROUP BY doc_id, val)
      GROUP BY doc_id),
    pdup AS (
      SELECT doc_id, sum((cnt - 1) * length(val))::BIGINT AS dup,
             sum(cnt * length(val))::BIGINT AS tot
      FROM (SELECT doc_id, val, count(*) AS cnt
            FROM (SELECT doc_id, unnest(paras) AS val FROM f)
            GROUP BY doc_id, val)
      GROUP BY doc_id),{tg}{dg}
    sig AS (
      SELECT f.*,
             coalesce(ldup.dup, 0) AS l_dup, coalesce(ldup.tot, 0) AS l_tot,
             coalesce(pdup.dup, 0) AS p_dup, coalesce(pdup.tot, 0) AS p_tot,
             {tg_cols}, {dg_cols},
             greatest(coalesce(list_aggregate(
                 list_transform(f.words, x -> length(x)), 'sum'), 0), 1)
                 AS wchars
      FROM f
      LEFT JOIN ldup USING (doc_id)
      LEFT JOIN pdup USING (doc_id){tg_joins}{dg_joins}),
    v AS (
      SELECT doc_id, CASE
        WHEN n_tokens < {min_tokens} THEN 'too_short'
        WHEN n_tokens > {max_tokens} THEN 'too_long'
        WHEN n_chars::DOUBLE / greatest(n_tokens, 1) < {wl_lo}
          OR n_chars::DOUBLE / greatest(n_tokens, 1) > {wl_hi}
          THEN 'word_len'
        WHEN n_punct::DOUBLE / greatest(n_chars, 1) > 0.1
          THEN 'symbol_heavy'
        WHEN len(lines) > 0 AND len(list_filter(lines,
             x -> regexp_matches(x, '^[-•*]')))::DOUBLE / len(lines) > 0.9
          THEN 'bullet_lines'
        WHEN len(lines) > 0 AND len(list_filter(lines,
             x -> regexp_matches(x, '(\.\.\.|…)$')))::DOUBLE / len(lines)
             > 0.3
          THEN 'ellipsis_lines'
        WHEN len(list_filter(words,
             x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
             / greatest(len(words), 1) < 0.8 THEN 'low_alpha'
        WHEN n_stop < 2 THEN 'low_stopword'
        WHEN len(lines) > 0 AND
             (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
             > {line_frac} THEN 'dup_lines'
        WHEN l_tot > 0 AND l_dup::DOUBLE / l_tot > {line_char_frac}
          THEN 'dup_line_chars'
        WHEN len(paras) > 0 AND
             (len(paras) - len(list_distinct(paras)))::DOUBLE / len(paras)
             > 0.3 THEN 'dup_paragraphs'
        WHEN p_tot > 0 AND p_dup::DOUBLE / p_tot > 0.2
          THEN 'dup_para_chars'
        WHEN {top_cond} THEN 'top_ngram'
        WHEN {dup_cond} THEN 'dup_ngram'
        ELSE 'keep' END AS verdict
      FROM sig)"""


def _funnel_oracle_sql() -> str:
    """`text_quality_funnel`'s oracle: the shared verdict CTE block over
    the raw corpus ∪ the nine ``_FUNNEL_VARIANTS`` literals, then the
    per-verdict rollup."""
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id + {off}, '{txt}' FROM documents WHERE doc_id % {mod} = 0"
        for off, mod, txt in _FUNNEL_VARIANTS
    )
    return f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {unions}),
    {_funnel_verdict_ctes()}
    SELECT verdict, count(*) AS n,
           round(count(*) / (sum(count(*)) OVER ()), 6) AS share
    FROM v GROUP BY verdict
    """


@register("text_quality_funnel", oracle=_funnel_oracle_sql())
def text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-funnel report under the FULL published Gopher rule battery
    (Rae et al. 2021 Table A1 — `text_analysis.quality_funnel`
    docstring lists all 14 rules) with first-fail attribution:
    per-verdict doc count and share.  The raw corpus exercises the
    scalar rules (thresholds tuned: min 25 / max 90 tokens, word-len
    (3,6)); nine literal variants attached to modulo-selected doc ids
    (`_FUNNEL_VARIANTS`) exercise bullet/ellipsis lines, dup paragraphs
    (+char fraction), dup lines (+char fraction — line thresholds
    loosened to 0.5/0.42 so the paragraph rules can attribute, see the
    operator's funnel-order note), top-n-gram mass, dup-n-gram
    coverage, and low-alpha.  One map-only scan (sorted-adjacency folds,
    no per-doc shuffle); the rollup aggregates ≤15 verdict groups."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import quality_funnel

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [docs] + [
        docs.filter(F.col("doc_id") % mod == 0).select(
            (F.col("doc_id") + off).alias("doc_id"), F.lit(txt).alias("text")
        )
        for off, mod, txt in _FUNNEL_VARIANTS
    ]
    u = parts[0]
    for p_ in parts[1:]:
        u = u.unionByName(p_)
    v = quality_funnel(
        u, "doc_id", "text",
        min_tokens=25, max_tokens=90, word_len_bounds=(3.0, 6.0),
        max_dup_line_frac=0.5, max_dup_line_char_frac=0.42,
    )
    counts = v.groupBy("verdict").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "verdict",
        "n",
        F.round(F.col("n") / F.sum("n").over(W.partitionBy()), 6).alias("share"),
    )


@register(
    "text_dsir_resample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(ts) AS g FROM tok
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS g
      FROM tok),
    bkt AS (
      SELECT doc_id, lang,
             (('0x' || substring(md5(g), 1, 8))::UBIGINT % 256)::BIGINT AS b
      FROM grams),
    raw AS (SELECT b, count(*) AS cr FROM bkt GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bkt WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bkt) AS tr,
                   (SELECT count(*) FROM bkt WHERE lang = 'en') AS tt),
    spine AS (SELECT unnest(generate_series(0, 255)) AS b),
    probs AS (
      SELECT spine.b,
             round((ln((coalesce(ct, 0) + 1) / (tt + 256.0))
                    - ln((coalesce(cr, 0) + 1) / (tr + 256.0)))
                   * 1000000.0)::BIGINT AS micro
      FROM spine LEFT JOIN raw USING (b) LEFT JOIN tgt ON tgt.b = spine.b
      CROSS JOIN tot),
    w AS (
      SELECT bkt.doc_id, round(sum(micro) / 1000000.0, 6) AS logweight
      FROM bkt JOIN probs USING (b)
      GROUP BY bkt.doc_id),
    thr AS (SELECT round(quantile_cont(logweight, 0.80), 6) AS t FROM w)
    SELECT w.doc_id, w.logweight
    FROM w CROSS JOIN thr
    WHERE w.logweight >= thr.t
    """,
)
def text_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end: importance weights → p80 weight threshold →
    selected documents, the resampling step itself.  ONE plan, zero
    driver-side actions: the threshold is an exact interpolated
    percentile over the ~|docs| weight rows (Spark `percentile` ≡
    DuckDB `quantile_cont`, cf. `a11_exact_percentiles`), broadcast as
    a 1-row relation into the filter.  At 100 TB swap the exact
    percentile for `percentile_approx` (t-digest, mergeable) — same
    plan shape, the threshold stays a 1-row broadcast.  The weight
    relation is PERSISTED: threshold and selection both read it, and
    un-persisted references re-derive the whole DSIR model lineage
    (measured 10 scans / 15 shuffles vs 5 / 8 cached); in production
    the weights are the stage's materialized table."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_logweights(
        docs.select(
            "doc_id", "text", (F.col("lang") == "en").alias("is_tgt")
        ),
        "is_tgt",
    ).select("doc_id", "logweight").persist()
    thr = w.agg(
        F.round(F.percentile(F.col("logweight"), F.lit(0.80)), 6).alias("t")
    )
    return (
        w.crossJoin(F.broadcast(thr))
        .filter(F.col("logweight") >= F.col("t"))
        .select("doc_id", "logweight")
    )


# --------------------------------------------------------------------------
# The full pretraining curation pipeline as ONE declarative plan
# --------------------------------------------------------------------------
@register(
    "pretrain_pipeline",
    oracle=f"""
    WITH u AS (SELECT doc_id, text FROM documents),
    {_funnel_verdict_ctes(min_tokens=25, max_tokens=100000, wl_lo=3.0,
                          wl_hi=6.0, line_frac=0.3, line_char_frac=0.2)},
    kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN v USING (doc_id) WHERE v.verdict = 'keep'),
    keyed AS (
      SELECT doc_id, md5({_KEY.format(c='text')}) AS k FROM kept),
    canon AS (SELECT k, min(doc_id) AS cid FROM keyed GROUP BY k),
    surv AS (
      SELECT kept.doc_id, kept.lang,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM kept JOIN keyed USING (doc_id)
      JOIN canon ON canon.k = keyed.k AND canon.cid = kept.doc_id),
    grams AS (
      SELECT doc_id, lang, unnest(ts) AS g FROM surv
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS g
      FROM surv),
    bkt AS (
      SELECT doc_id, lang,
             (('0x' || substring(md5(g), 1, 8))::UBIGINT % 256)::BIGINT AS b
      FROM grams),
    raw AS (SELECT b, count(*) AS cr FROM bkt GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM bkt WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM bkt) AS tr,
                   (SELECT count(*) FROM bkt WHERE lang = 'en') AS tt),
    spine AS (SELECT unnest(generate_series(0, 255)) AS b),
    probs AS (
      SELECT spine.b,
             round((ln((coalesce(ct, 0) + 1) / (tt + 256.0))
                    - ln((coalesce(cr, 0) + 1) / (tr + 256.0)))
                   * 1000000.0)::BIGINT AS micro
      FROM spine LEFT JOIN raw USING (b) LEFT JOIN tgt ON tgt.b = spine.b
      CROSS JOIN tot),
    w AS (
      SELECT bkt.doc_id, round(sum(micro) / 1000000.0, 6) AS logweight
      FROM bkt JOIN probs USING (b)
      GROUP BY bkt.doc_id),
    thr AS (SELECT round(quantile_cont(logweight, 0.50), 6) AS t FROM w),
    sel AS (
      SELECT w.doc_id FROM w CROSS JOIN thr WHERE w.logweight >= thr.t),
    ptok AS (
      SELECT surv.doc_id, len(surv.ts)::BIGINT AS tokens
      FROM surv JOIN sel USING (doc_id)),
    packed AS (
      SELECT doc_id, (doc_id % 4)::INT AS shard, tokens,
             coalesce(sum(tokens) OVER (
               PARTITION BY doc_id % 4 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
      FROM ptok)
    SELECT shard, floor(start_offset / 512)::BIGINT AS pack_id,
           count(*) AS n_docs, sum(tokens)::BIGINT AS total_tokens,
           round(sum(tokens) / 512.0, 6) AS fill_ratio
    FROM packed GROUP BY shard, pack_id
    """,
)
def pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining curation pipeline as one declarative DAG —
    what a user actually runs before training: Gopher-rule quality gate
    (keep only 'keep' verdicts) → exact-dedup canonical selection → DSIR
    importance weighting with the en slice as target and selection at the
    median weight (threshold is a 1-row broadcast, no driver action) →
    token-budget sequence packing of the selected docs → per-pack fill
    rollup.  ONE plan end-to-end, every stage an operator verified by its
    own oracled query (`text_quality_funnel`, `dedup_exact`,
    `text_dsir_weights`, `pack_token_budget`) — this row proves the
    COMPOSITION, token counts and boundaries replayed exactly.

    Stage boundaries (`kept`, `surv`, `w`) are PERSISTED: each is read
    by 2-3 downstream stages, and un-persisted references re-derive the
    whole upstream lineage (the 14-rule funnel per reference — measured
    66 scans / 28 shuffles vs 2 / 12 cached).  In production each persist
    is the stage's materialized table, exactly how a curation pipeline
    checkpoints between gate → dedup → weight → pack."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.dedup import exact_dedup
    from mistral_ocr_pipeline_spark.operators.packing import (
        pack_rollup,
        pack_token_budget,
    )
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        dsir_logweights,
        quality_funnel,
    )

    docs = _t(spark, sf_dir, "documents")
    verdicts = quality_funnel(
        docs, "doc_id", "text", min_tokens=25, word_len_bounds=(3.0, 6.0)
    )
    kept = docs.join(
        verdicts.filter(F.col("verdict") == "keep").select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    ).select("doc_id", "lang", "text").persist()
    canon = (
        exact_dedup(kept, "doc_id", "text")
        .filter("is_canonical")
        .select(F.col("id").alias("doc_id"))
    )
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    surv = kept.join(canon, "doc_id", "left_semi").select(
        "doc_id",
        "text",
        (F.col("lang") == "en").alias("is_tgt"),
        F.size(toks).cast("long").alias("tokens"),
    ).persist()
    w = dsir_logweights(surv.select("doc_id", "text", "is_tgt"), "is_tgt").select(
        "doc_id", "logweight"
    ).persist()
    thr = w.agg(
        F.round(F.percentile(F.col("logweight"), F.lit(0.50)), 6).alias("t")
    )
    sel = (
        w.crossJoin(F.broadcast(thr))
        .filter(F.col("logweight") >= F.col("t"))
        .select("doc_id")
    )
    packed = pack_token_budget(
        surv.join(sel, "doc_id", "left_semi").select("doc_id", "tokens"),
        "doc_id",
        "tokens",
        budget=512,
        n_shards=4,
    )
    return pack_rollup(packed, budget=512)


# --------------------------------------------------------------------------
# Intra-document line dedup (repair, not drop)
# --------------------------------------------------------------------------
@register(
    "text_intra_line_dedup",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
               array_to_string(ts[1:5], ' ') || chr(10) ||
               array_to_string(ts[6:10], ' ') || chr(10) ||
               array_to_string(ts[1:5], ' ')
             ELSE
               array_to_string(ts[1:5], ' ') || chr(10) ||
               array_to_string(ts[6:10], ' ')
             END AS text
      FROM ws),
    l AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(coalesce(text, ''),
                 chr(10)), x -> trim(x)), x -> x <> '') AS lines
      FROM raw),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
      FROM l)
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           len(lines)::bigint AS n_lines,
           (len(lines) - len(kept))::bigint AS n_removed
    FROM k
    """,
)
def text_intra_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal (`dedup.intra_line_dedup`) —
    the repair counterpart to corpus `line_dedup` and the funnel's
    dup_lines drop.  The corpus has no multi-line docs, so the query
    synthesizes them deterministically (two 5-token lines; every third
    doc repeats line one) — the removal, ordering, and counts are then
    replayed exactly in SQL, including short docs whose second line is
    empty and drops at the line filter."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.dedup import intra_line_dedup

    docs = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    a = F.array_join(F.slice(ws, 1, 5), " ")
    b = F.array_join(F.slice(ws, 6, 5), " ")
    raw = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat_ws("\n", a, b, a)
        ).otherwise(F.concat_ws("\n", a, b)).alias("text"),
    )
    return intra_line_dedup(raw, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


# --------------------------------------------------------------------------
# Training-shard emit: exact-percentile range sharding of the epoch order
# --------------------------------------------------------------------------
@register(
    "sample_shard_order",
    oracle="""
    WITH u AS (
      SELECT doc_id, 0 AS mix_source, 3 AS w FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT doc_id, 1, 1 FROM documents WHERE lang <> 'en'),
    keyed AS (
      SELECT doc_id, mix_source,
             floor(('0x' || substring(
                  md5('interleave:' || mix_source::varchar || doc_id::varchar),
                  1, 8))::UBIGINT / w)::BIGINT AS mix_key
      FROM u),
    b AS (SELECT quantile_cont(mix_key, 0.25) AS q1,
                 quantile_cont(mix_key, 0.50) AS q2,
                 quantile_cont(mix_key, 0.75) AS q3
          FROM keyed),
    s AS (
      SELECT keyed.*,
             ((mix_key > q1)::INT + (mix_key > q2)::INT + (mix_key > q3)::INT)
               AS shard
      FROM keyed CROSS JOIN b)
    SELECT shard, mix_source, count(*) AS n,
           min(mix_key) AS min_key, max(mix_key) AS max_key
    FROM s GROUP BY shard, mix_source
    """,
)
def sample_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-step sharding (`sampling.training_shard_order`) over the
    interleaved epoch order: EXACT-percentile boundaries (a 1-row
    broadcast, never `repartitionByRange`'s layout-dependent sampled
    ones) cut the key space into 4 contiguous shards; the rollup per
    (shard, source) pins boundary math and balance.  Concatenating the
    shard files in shard order replays the global order — pinned in
    test_ops."""
    from mistral_ocr_pipeline_spark.operators.sampling import (
        interleave_order,
        training_shard_order,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    rest = docs.filter(F.col("lang") != "en").select("doc_id")
    mixed = interleave_order([(en, 3), (rest, 1)], key_col="doc_id")
    sharded = training_shard_order(mixed, n_shards=4, key_col="mix_key")
    return sharded.groupBy("shard", "mix_source").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("mix_key").alias("min_key"),
        F.max("mix_key").alias("max_key"),
    )


@register(
    "retrieval_hard_negatives",
    oracle=_bm25_cte()
    + """
    SELECT qid AS query_id, doc AS doc_id, score, rank FROM (
      SELECT qid, doc, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc ASC) AS rank
      FROM scored WHERE qid != doc)
    WHERE rank <= 5
    """,
)
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedder training: for each
    (query, positive-doc) pair — here the query derives FROM the positive
    doc — the top BM25 hits EXCLUDING the positive itself are the hard
    negatives (lexically confusable, semantically wrong: exactly what a
    contrastive trainer needs beside random negatives).
    ``bm25_topk(exclude_self=True)`` drops the positive before ranking so
    negative ranks stay dense; the oracle replays the exclusion inside
    the shared BM25 CTE."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(norm_key_col(F.col("text")), " "), lambda t: t != "")
    queries = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("query_text"),
    )
    return bm25_topk(
        docs, queries, id_col="doc_id", text_col="text", k=5, exclude_self=True
    )


@register(
    "mix_epoch_repeat",
    oracle=f"""
    WITH a AS (
      SELECT doc_id,
             2 + (substring(md5('epoch:0' || doc_id::varchar), 1, 8)
                  < '{_thr_hex(0.5)}')::INT AS n
      FROM documents WHERE lang = 'en')
    SELECT doc_id, 0 AS mix_source,
           unnest(generate_series(0, n - 1)) AS epoch
    FROM a
    UNION ALL
    SELECT doc_id, 1 AS mix_source, 0 AS epoch
    FROM documents WHERE lang <> 'en'
    """,
)
def mix_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repetition recipe (`sampling.epoch_repeat_mix`): 2.5 epochs
    of the en slice (every en doc twice, a content-hash-chosen half a
    third time) against 1 epoch of everything else — scan-side
    explode(sequence), fractional subset replayed as the same md5
    threshold in SQL."""
    from mistral_ocr_pipeline_spark.operators.sampling import epoch_repeat_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    rest = docs.filter(F.col("lang") != "en").select("doc_id")
    return epoch_repeat_mix([(en, 2.5), (rest, 1.0)], key_col="doc_id").select(
        "doc_id", "mix_source", F.col("epoch").cast("int").alias("epoch")
    )


# --------------------------------------------------------------------------
# UniMax / temperature language mixing + paragraph dedup (sampling, dedup)
# --------------------------------------------------------------------------
_TOK = (
    "(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT"
)

_UNIMAX_ALLOC = f"""
    WITH d AS (SELECT lang, {_TOK} AS tok FROM documents),
    s AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens
          FROM d GROUP BY lang),
    b AS (SELECT (3 * sum(n_tokens)) // 2 AS budget FROM s),
    r AS (SELECT s.*, budget,
                 row_number() OVER (ORDER BY n_tokens, lang) AS r,
                 coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_prev,
                 count(*) OVER () AS L
          FROM s CROSS JOIN b),
    f AS (SELECT *,
                 (2 * n_tokens * (L - r + 1) <= budget - 2 * cum_prev)
                     AS capped
          FROM r),
    a AS (SELECT coalesce(sum(CASE WHEN capped THEN n_tokens END),
                   0)::BIGINT AS cap_tokens,
                 coalesce(sum(capped::INT), 0) AS k
          FROM f),
    alloc AS (
      SELECT lang, n_docs, n_tokens, capped,
             CASE WHEN capped THEN 2 * n_tokens * 1000000
                  ELSE round(((budget - 2 * cap_tokens)::DOUBLE
                              / (L - k)::DOUBLE) * 1000000.0)::BIGINT
             END AS budget_tokens_micro,
             CASE WHEN capped THEN 2000000
                  ELSE round((budget - 2 * cap_tokens)::DOUBLE
                             / (L - k)::DOUBLE / n_tokens::DOUBLE
                             * 1000000.0)::BIGINT
             END AS rate_micro
      FROM f CROSS JOIN a)
"""


def _unimax_spark(spark: SparkSession, sf_dir: str):
    from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", ws_token_count(F.col("text")).alias("tok")
    )
    total = docs.agg(F.sum("tok").cast("long").alias("t")).first().t
    return docs, 3 * int(total) // 2


@register(
    "mix_unimax",
    oracle=f"{_UNIMAX_ALLOC} SELECT * FROM alloc ORDER BY lang",
)
def mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax water-filling budget allocation (Chung et al. 2023,
    `sampling.unimax_allocation`): budget = 1.5× the corpus, 2-epoch cap
    — the four smaller languages cap at 2 epochs and `en` absorbs the
    remainder at <1 epoch.  The capped/uncapped frontier is all-integer
    arithmetic and the two float divisions are shape-matched + micro-unit
    rounded, so the whole greedy is value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.sampling import unimax_allocation

    docs, budget = _unimax_spark(spark, sf_dir)
    return unimax_allocation(docs, "lang", "tok", budget, max_epochs=2).orderBy(
        "lang"
    )


@register(
    "mix_unimax_expand",
    oracle=f"""{_UNIMAX_ALLOC},
    e AS (SELECT lang, rate_micro // 1000000 AS whole,
                 rate_micro % 1000000 AS frac_micro
          FROM alloc),
    nn AS (SELECT doc_id, d.lang,
                  whole + ((('0x' || substring(
                        md5('unimax' || doc_id::varchar), 1, 8))
                        ::UBIGINT::BIGINT * 1000000)
                      < frac_micro * 4294967296)::INT AS n
           -- null-safe like the operator: a NULL-language group is
           -- allocated budget, so its docs must join the plan too
           FROM documents d JOIN e ON d.lang IS NOT DISTINCT FROM e.lang)
    SELECT doc_id, lang, unnest(generate_series(0, n::INT - 1)) AS epoch
    FROM nn WHERE n > 0
    """,
)
def mix_unimax_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UniMax allocation materialized as a document stream
    (`sampling.unimax_mix`): per-language floor(rate) full replicas plus
    a content-hash-chosen frac(rate) subset.  The fate rule is division-
    free BIGINT (u32·1e6 < frac_micro·2^32), so every replica decision
    replays bit-identically in SQL."""
    from mistral_ocr_pipeline_spark.operators.sampling import unimax_mix

    docs, budget = _unimax_spark(spark, sf_dir)
    return unimax_mix(
        docs, "doc_id", "lang", "tok", budget, max_epochs=2
    ).select("doc_id", "lang", F.col("epoch").cast("int").alias("epoch"))


@register(
    "mix_temperature",
    oracle=f"""
    WITH d AS (SELECT lang, {_TOK} AS tok FROM documents),
    s AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens
          FROM d GROUP BY lang),
    sc AS (SELECT *, round(sqrt(n_tokens::DOUBLE) * 1000000.0)::BIGINT
                         AS scaled_micro
           FROM s),
    t AS (SELECT sum(scaled_micro)::BIGINT AS total FROM sc)
    SELECT lang, n_docs, n_tokens, scaled_micro,
           round(scaled_micro::DOUBLE / total::DOUBLE * 1000000.0)::BIGINT
               AS share_micro,
           round(50000.0 * (scaled_micro::DOUBLE / total::DOUBLE))::BIGINT
               AS budget_tokens,
           round(50000.0 * (scaled_micro::DOUBLE / total::DOUBLE)
                 / n_tokens::DOUBLE * 1000000.0)::BIGINT AS epochs_micro
    FROM sc CROSS JOIN t ORDER BY lang
    """,
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (mT5/XLM-R style,
    `sampling.temperature_allocation`): shares ∝ n^0.5 over a 50k-token
    budget.  α=1/2^m is computed by repeated IEEE-correctly-rounded
    sqrt (engine-exact where pow is libm-dependent), and each n^α is
    micro-unit rounded BEFORE the cross-language sum so the normalizer
    is an order-independent BIGINT."""
    from mistral_ocr_pipeline_spark.operators.sampling import (
        temperature_allocation,
    )
    from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "lang", ws_token_count(F.col("text")).alias("tok")
    )
    return temperature_allocation(
        docs, "lang", "tok", token_budget=50000, alpha=0.5
    ).orderBy("lang")


@register(
    "text_paragraph_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 100) || chr(10) || chr(10) ||
             'license paragraph rotating variant number ' ||
                 (doc_id % 11)::varchar || chr(10) || chr(10) ||
             substr(text, 101, 100) || chr(10) || chr(10) || 'tiny' AS text
      FROM documents),
    ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS a FROM d),
    p AS (SELECT doc_id, unnest(range(0, len(a)))::INT AS pos,
                 unnest(a) AS para
          FROM ps),
    k AS (SELECT doc_id, pos, para,
                 CASE WHEN length(trim(para)) >= 16
                      THEN md5(trim(para)) END AS k
          FROM p),
    f AS (SELECT doc_id, pos, para,
                 (k IS NOT NULL AND row_number() OVER (
                      PARTITION BY k ORDER BY doc_id, pos) > 1) AS drp
          FROM k)
    SELECT doc_id,
           coalesce(string_agg(para, chr(10) || chr(10) ORDER BY pos)
                        FILTER (NOT drp), '') AS text_clean,
           count(*) FILTER (NOT drp) AS n_kept,
           count(*) FILTER (drp) AS n_removed
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level keep-first dedup with document reconstruction
    (`dedup.paragraph_dedup`, Lee et al. 2021 granularity) over
    synthesized multi-paragraph pages: unique prose slices around 11
    rotating license paragraphs — each license text survives exactly
    once at its (doc_id, pos)-first occurrence, unlike `text_line_dedup`
    which strips hot lines everywhere.  The canonical-occurrence rule
    (min(struct) aggregation, not a skewed window) and the ordered
    reassembly are value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    ml = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.substring("text", 1, 100),
            F.concat(
                F.lit("license paragraph rotating variant number "),
                (F.col("doc_id") % 11).cast("string"),
            ),
            F.substring("text", 101, 100),
            F.lit("tiny"),
        ).alias("text"),
    )
    return paragraph_dedup(ml, "doc_id", "text", min_para_chars=16).orderBy(
        "doc_id"
    )


@register(
    "text_ccnet_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split({_KEY.format(c='text')}, ' ')) AS t
      FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT sum(c)::DOUBLE AS n FROM cnt),
    s AS (SELECT id AS doc_id,
                 round(avg(-ln(c / (SELECT n FROM tot))), 6) AS surprisal
          FROM toks JOIN cnt USING (t)
          GROUP BY id),
    b AS (SELECT d.doc_id, d.lang, s.surprisal,
                 ntile(3) OVER (PARTITION BY d.lang
                                ORDER BY s.surprisal, d.doc_id) AS nb
          FROM documents d JOIN s USING (doc_id))
    SELECT doc_id, lang, surprisal,
           CASE nb WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
    FROM b ORDER BY doc_id
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality stratification
    (`text_analysis.perplexity_buckets` over `unigram_surprisal`):
    per-language perplexity terciles by the corpus-unigram proxy, the
    deterministic (score, id) ntile order replayed exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        perplexity_buckets,
        unigram_surprisal,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = (
        unigram_surprisal(docs, "doc_id")
        .withColumnRenamed("id", "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    return perplexity_buckets(
        scored, "doc_id", "surprisal", "lang", 3
    ).select("doc_id", "lang", "surprisal", "bucket").orderBy("doc_id")


@register(
    "multimodal_phash_neardup",
    oracle="""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || '~' FROM documents
      WHERE doc_id % 10 = 0),
    e AS (SELECT id, text FROM u WHERE length(text) >= 4),
    g AS (SELECT id,
                 [substring(text, i, 4)
                  for i in range(1, length(text) - 2)] AS grams
          FROM e),
    h AS (SELECT id, list_distinct(
                 list_transform(grams,
                     s -> ('0x' || substring(md5(s), 1, 16))::UBIGINT)) AS hs
          FROM g),
    b AS (SELECT id,
                 [CASE WHEN 2 * len(list_filter(hs, x -> ((x >> j) & 1) = 1))
                            >= len(hs)
                       THEN 1.0 ELSE 0.0 END
                  for j in range(0, 64)] AS bits
          FROM h),
    s AS (SELECT id, bits, list_sum(bits) AS nbits FROM b),
    p AS (SELECT a.id AS id_a, c.id AS id_b,
                 (a.nbits + c.nbits
                  - 2 * list_dot_product(a.bits, c.bits))::INTEGER AS hamming
          FROM s a JOIN s c ON a.id < c.id)
    SELECT id_a, id_b, hamming, FALSE AS bucket_truncated
    FROM p WHERE hamming <= 3
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-duplicate pairs (`multimodal.media_neardup_pairs`) over
    binary payloads ∪ one-byte-appended re-encodes — the resized/
    re-encoded-copy image dedup step.  The real pHash kernel is stubbed
    (no codecs in the container); the locality-preserving fake — char
    4-gram simhash over the decoded payload, md5 basis — is fully
    value-replayed in SQL (fingerprint bits, majority math, all-pairs
    hamming), which certifies the shared band/verify machinery
    (`dedup.fingerprint_pairs`) on a second fingerprint family.
    ``max_bucket`` is raised to 4096 here because the all-pairs oracle
    cannot replay cap truncation, and same-language char-gram
    fingerprints cluster tightly enough to overflow the 64-member
    default at sf0.1 (14 truncated rows measured); the cap path itself
    stays value-pinned by `dedup_simhash`'s green oracle and the salted
    bounded-collect tests."""
    from mistral_ocr_pipeline_spark.operators.multimodal import (
        documents_as_media,
        media_neardup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("~")).alias("text"),
    )
    media = documents_as_media(docs.select("doc_id", "text").unionAll(clones))
    return media_neardup_pairs(
        media, max_hamming=3, max_bucket=4096, deterministic_fake=True
    )


_EVAL_SCORES_SQL = f"""
    WITH l AS (
      SELECT p_partkey AS lid, {_KEY.format(c='p_name')} AS lt,
             CASE p_partkey % 5 WHEN 0 THEN '' WHEN 1 THEN '2020'
                  WHEN 2 THEN '2021' WHEN 3 THEN NULL
                  ELSE '1999.0' END AS l_year,
             p_brand AS l_brand
      FROM part WHERE p_partkey % 23 = 1),
    r AS (
      SELECT p_partkey + 1000000 AS rid,
             {_KEY.format(c="upper(p_name) || '!'")} AS rt,
             CASE p_partkey % 4 WHEN 0 THEN '2020' WHEN 1 THEN '  '
                  WHEN 2 THEN '2021.0' ELSE '1999' END AS r_year,
             CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
                  ELSE '' END AS r_brand
      FROM part WHERE p_partkey % 3 = 0),
    s AS (
      SELECT lid, rid,
             round(3 * (1 - levenshtein(lt, rt)::double /
                        greatest(length(lt), length(rt), 1)), 9) AS score
      FROM l CROSS JOIN r),
    b AS (SELECT *, row_number() OVER (PARTITION BY lid ORDER BY score DESC, rid) rn_l
          FROM s),
    u AS (SELECT *, row_number() OVER (PARTITION BY rid ORDER BY score DESC, lid) rn_r
          FROM b WHERE rn_l = 1),
    m AS (
      SELECT l.lid AS left_id, u2.rid AS right_id,
             l.l_year, l.l_brand, r.r_year, r.r_brand
      FROM l
      LEFT JOIN (SELECT * FROM u WHERE rn_r = 1 AND score >= 1.5) u2
        ON u2.lid = l.lid
      LEFT JOIN r ON r.rid = u2.rid),
    sc AS (
      SELECT left_id, right_id,
           CASE WHEN right_id IS NULL THEN 0.0
                WHEN coalesce(trim(l_year), '')
                     = regexp_replace(coalesce(trim(r_year), ''),
                                      '\\.0$', '') THEN 1.0
                ELSE 0.0 END::DOUBLE AS score_year,
           CASE WHEN right_id IS NULL THEN 0.0
                WHEN (l_brand IS NULL OR trim(l_brand) = '')
                     AND (r_brand IS NULL OR trim(r_brand) = '') THEN NULL
                WHEN l_brand IS NULL OR trim(l_brand) = '' THEN 0.25
                WHEN r_brand IS NULL OR trim(r_brand) = '' THEN 0.0
                WHEN {_KEY.format(c='l_brand')} = {_KEY.format(c='r_brand')}
                     THEN 1.0
                ELSE 0.0 END::DOUBLE AS score_brand
      FROM m)
"""


def _eval_fixture(spark: SparkSession, sf_dir: str):
    """Shared review/output fixture for the eval-harness oracle queries:
    brand values cycle through every sentinel branch (hit, miss,
    'extra', 'missing', both-empty, unmatched); year values cycle through
    every cmp_year branch (hit, output-side '.0'-strip hit, review-side
    no-strip miss, both-empty 1.0, one-side-empty miss)."""
    part = _t(spark, sf_dir, "part")
    p = F.col("p_partkey")
    review = part.filter(p % 23 == 1).select(
        p.alias("lid"),
        F.col("p_name").alias("title"),
        F.when(p % 5 == 0, "")
        .when(p % 5 == 1, "2020")
        .when(p % 5 == 2, "2021")
        .when(p % 5 == 3, F.lit(None).cast("string"))
        .otherwise("1999.0")
        .alias("year"),
        F.col("p_brand").alias("brand"),
    )
    output = part.filter(p % 3 == 0).select(
        (p + 1000000).alias("rid"),
        F.concat(F.upper("p_name"), F.lit("!")).alias("title"),
        F.when(p % 4 == 0, "2020")
        .when(p % 4 == 1, "  ")
        .when(p % 4 == 2, "2021.0")
        .otherwise("1999")
        .alias("year"),
        F.when(p % 2 == 0, F.upper("p_brand")).otherwise(F.lit("")).alias("brand"),
    )
    return review, output


def _eval_result(spark: SparkSession, sf_dir: str):
    from mistral_ocr_pipeline_spark.operators.eval_harness import (
        FieldSpec,
        evaluate,
    )

    review, output = _eval_fixture(spark, sf_dir)
    return evaluate(
        review,
        output,
        "lid",
        "rid",
        ("title", "title"),
        [FieldSpec("year", "year"), FieldSpec("brand", "exact")],
    )


@register(
    "eval_field_scores",
    oracle=_EVAL_SCORES_SQL
    + " SELECT left_id, right_id, score_year, score_brand FROM sc",
)
def eval_field_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval harness's per-field sentinel scoring
    (`eval_harness.evaluate`), value-oracled end to end: J2 fuzzy match →
    left-outer field attach → the reference's sentinel scheme (unmatched
    → flat 0.0 on every field; matched both-empty → NULL exclusion;
    'extra' → 0.25; 'missing' → 0.0; else the kind's comparator — exact
    on the normalized key).  'year' is the cmp_year exception
    (compare_results.py:549-557): raw equality FIRST with the '.0' strip
    on the OUTPUT side only, so matched both-empty scores 1.0 and enters
    rollups, and there is no 'extra' branch.  Fixture + the
    whole score-CTE chain are shared with `eval_rollups`
    (`_EVAL_SCORES_SQL` / `_eval_fixture`), so the two queries certify
    the SAME contract and cannot drift apart."""
    return _eval_result(spark, sf_dir)["scores"]


@register(
    "eval_rollups",
    oracle=_EVAL_SCORES_SQL
    + """
    , stacked AS (
      SELECT 'year' AS field, score_year AS score FROM sc
      UNION ALL
      SELECT 'brand', score_brand FROM sc)
    SELECT field, round(avg(score), 6) AS accuracy,
           count(score) AS n_scored
    FROM stacked GROUP BY field
    """,
)
def eval_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval harness's per-field accuracy rollup
    (compare_results.py:855-895's sc≥0 rule), value-oracled: every score
    is a multiple of 0.25, so the cross-engine SUM is exact regardless
    of reduction order — the one float aggregate in the repo that needs
    NO micro-unit trick — and round(avg, 6) is then bit-identical.
    Unmatched rows' flat zeros enter the mean; matched both-empty NULLs
    leave it.  Scores come from the same shared fixture + SQL as
    `eval_field_scores`."""
    return _eval_result(spark, sf_dir)["per_field"]


def _pq_lloyd_ctes(iters: int) -> str:
    """The per-subspace Lloyd iteration chain ``pa1 … pc{iters}`` —
    expects ``pu(vec_id, rn, mm, x, u)`` and ``pc0(mm, kk, cv)`` in
    scope; shared by the raw-vector and residual PQ training oracles.
    MATERIALIZED because ``pc{i}`` references ``pc{i-1}`` twice."""
    it = [
        f"""
    pa{i} AS MATERIALIZED (
      SELECT vec_id, mm, kk, u FROM (
        SELECT pu.vec_id, pu.mm, pu.u, cc.kk,
               row_number() OVER (PARTITION BY pu.vec_id, pu.mm
                   ORDER BY list_dot_product(cc.cv, cc.cv)
                            - 2 * list_dot_product(pu.x, cc.cv),
                            cc.kk) AS arn
        FROM pu JOIN pc{i - 1} cc USING (mm))
      WHERE arn = 1),
    pe{i} AS (SELECT mm, kk, unnest(range(len(u)))::INT AS d,
                     unnest(u) AS uv
              FROM pa{i}),
    pg{i} AS (SELECT mm, kk, d, sum(uv)::BIGINT AS su,
                     count(*)::BIGINT AS n
              FROM pe{i} GROUP BY mm, kk, d),
    pm{i} AS MATERIALIZED (
      SELECT mm, kk, list(su::DOUBLE / (n::DOUBLE * 1000000.0)
                          ORDER BY d) AS cv
      FROM pg{i} GROUP BY mm, kk),
    pc{i} AS MATERIALIZED (
      SELECT mm, kk, cv FROM pm{i}
      UNION ALL
      SELECT p.mm, p.kk, p.cv FROM pc{i - 1} p
      WHERE NOT EXISTS (SELECT 1 FROM pm{i} q
                        WHERE q.mm = p.mm AND q.kk = p.kk))"""
        for i in range(1, iters + 1)
    ]
    return ",".join(it)


def _pq_training_ctes(
    m: int = 8, ksub: int = 8, iters: int = 4, sample_size: int = 2048,
    samp: str = "samp",
) -> str:
    """CTE block UNROLLING `similarity.pq_codebooks_kmeans` in SQL —
    per-subspace Lloyd k-means (L2) over the md5-hash-ordered sample,
    first-k seeding, sequential-fold reduced distances on RAW
    subvectors, integer micro-unit centroid means — ALL subspaces ride
    one chain keyed by ``mm`` (`_pq_lloyd_ctes`).  Emits text from the
    sample CTE (named ``samp`` — pass another name when composing with
    a chain that already has one) through ``cb(mm, kk, cv)``."""
    dsub = 64 // m
    return f"""{samp} AS MATERIALIZED (
      SELECT vec_id, v, rn FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               row_number() OVER (
                   ORDER BY substring(md5('pq:' || vec_id::varchar), 1, 8),
                            vec_id) AS rn
        FROM embeddings)
      WHERE rn <= {sample_size}),
    pu AS MATERIALIZED (
      SELECT vec_id, rn, mm,
             list_slice(v, mm * {dsub} + 1, mm * {dsub} + {dsub}) AS x,
             list_transform(
                 list_slice(v, mm * {dsub} + 1, mm * {dsub} + {dsub}),
                 e -> round(e * 1000000.0)::BIGINT) AS u
      FROM {samp} CROSS JOIN (SELECT unnest(range({m}))::INT AS mm) t),
    pc0 AS MATERIALIZED (
      SELECT mm, (rn - 1)::INT AS kk,
             list_transform(u, s -> s::DOUBLE / 1000000.0) AS cv
      FROM pu WHERE rn <= {ksub}),
    {_pq_lloyd_ctes(iters)},
    cb AS (SELECT mm, kk, cv FROM pc{iters})"""


def _pq_trained_oracle_sql(
    m: int = 8, ksub: int = 8, iters: int = 4, sample_size: int = 2048
) -> str:
    """Full value oracle for TRAINED-codebook PQ: `_pq_training_ctes`
    unrolls the per-subspace Lloyd iterations (the `_kmeans_centroids`
    discipline, L2 flavor) and hands the trained ``cb(mm, kk, cv)``
    relation to the shared search body."""
    return (
        f"""
    WITH {_pq_training_ctes(m, ksub, iters, sample_size)},"""
        + _pq_search_body(64 // m)
    )


def _ivfpq_residual_oracle_sql(
    n_centroids: int = 16,
    ivf_iters: int = 8,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 8,
    pq_iters: int = 4,
    sample_size: int = 2048,
    k: int = 5,
) -> str:
    """Full value oracle for RESIDUAL-encoding IVFPQ (the FAISS
    ``by_residual`` default): the IVF chain trains the coarse cells,
    then the PQ chain trains on the SAMPLE'S RESIDUALS — each sample row
    joins its ``cassign`` cell and subtracts the trained centroid
    elementwise before the per-subspace Lloyd (`_pq_lloyd_ctes`) — and
    the search replays residual codes (corpus residuals vs cb), a
    per-(query, probed-cell) LUT over q − centroid[cell], and the
    cell-local ADC sum ‖q−c‖² + Σ lut — exactly
    `similarity_df.ivfpq_topk(by_residual=True)`."""
    dsub = 64 // m
    last = f"c{ivf_iters}"
    return f"""
    WITH {_ivf_training_ctes(n_centroids, ivf_iters, sample_size)},
    corp AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    {_ivf_assign_ctes(last, n_probe)},
    cents AS (SELECT c, cv FROM {last}),
    psamp AS MATERIALIZED (
      SELECT vec_id, v, rn FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               row_number() OVER (
                   ORDER BY substring(md5('pq:' || vec_id::varchar), 1, 8),
                            vec_id) AS rn
        FROM embeddings)
      WHERE rn <= {sample_size}),
    pres AS MATERIALIZED (
      SELECT p.vec_id, p.rn,
             list_transform(generate_series(1, len(p.v)),
                            i -> p.v[i] - ce.cv[i]) AS v
      FROM psamp p
      JOIN cassign ca ON ca.vec_id = p.vec_id
      JOIN cents ce ON ce.c = ca.c),
    pu AS MATERIALIZED (
      SELECT vec_id, rn, mm,
             list_slice(v, mm * {dsub} + 1, mm * {dsub} + {dsub}) AS x,
             list_transform(
                 list_slice(v, mm * {dsub} + 1, mm * {dsub} + {dsub}),
                 e -> round(e * 1000000.0)::BIGINT) AS u
      FROM pres CROSS JOIN (SELECT unnest(range({m}))::INT AS mm) t),
    pc0 AS MATERIALIZED (
      SELECT mm, (rn - 1)::INT AS kk,
             list_transform(u, s -> s::DOUBLE / 1000000.0) AS cv
      FROM pu WHERE rn <= {ksub}),
    {_pq_lloyd_ctes(pq_iters)},
    cb AS (SELECT mm, kk, cv FROM pc{pq_iters}),
    cres AS MATERIALIZED (
      SELECT corp.vec_id,
             list_transform(generate_series(1, len(corp.v)),
                            i -> corp.v[i] - ce.cv[i]) AS rv
      FROM corp JOIN cassign ca ON ca.vec_id = corp.vec_id
      JOIN cents ce ON ce.c = ca.c),
    codes AS (
      SELECT vec_id, mm, kk AS code FROM (
        SELECT cr.vec_id, cb.mm, cb.kk,
               row_number() OVER (PARTITION BY cr.vec_id, cb.mm ORDER BY
                 list_dot_product(cb.cv, cb.cv)
                 - 2 * list_dot_product(
                     list_slice(cr.rv, cb.mm * {dsub} + 1,
                                cb.mm * {dsub} + {dsub}), cb.cv),
                 cb.kk) AS rn
        FROM cres cr CROSS JOIN cb)
      WHERE rn = 1),
    qres AS (
      SELECT qp.qid, qp.c,
             list_transform(generate_series(1, len(q.qv)),
                            i -> q.qv[i] - ce.cv[i]) AS rv
      FROM qprobe qp JOIN q ON q.qid = qp.qid JOIN cents ce ON ce.c = qp.c),
    lut AS (
      SELECT qr.qid, qr.c, cb.mm, cb.kk,
             round((list_dot_product(cb.cv, cb.cv)
             - 2 * list_dot_product(
                 list_slice(qr.rv, cb.mm * {dsub} + 1,
                            cb.mm * {dsub} + {dsub}), cb.cv))
                   * 1000000.0)::BIGINT AS micro
      FROM qres qr CROSS JOIN cb),
    qq AS (SELECT qid, c,
                  round(list_dot_product(rv, rv) * 1000000.0)::BIGINT AS qq
           FROM qres),
    adc AS (
      SELECT l.qid, cd.vec_id,
             round((any_value(qq.qq) + sum(l.micro)) / 1000000.0, 6)
               AS adc_dist
      FROM codes cd
      JOIN cassign ca ON ca.vec_id = cd.vec_id
      JOIN lut l ON l.c = ca.c AND l.mm = cd.mm AND l.kk = cd.code
      JOIN qq ON qq.qid = l.qid AND qq.c = l.c
      WHERE cd.vec_id != l.qid
      GROUP BY l.qid, cd.vec_id),
    adcr AS (SELECT *, row_number() OVER (
               PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank FROM adc)
    SELECT qid AS query_id, vec_id, adc_dist, rank FROM adcr WHERE rank <= {k}
    """


def _ivfpq_trained_oracle_sql(
    n_centroids: int = 16,
    ivf_iters: int = 8,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 8,
    pq_iters: int = 4,
    sample_size: int = 2048,
    k: int = 5,
) -> str:
    """Full value oracle for the IVFPQ composite — BOTH trained halves
    unrolled in one query: `_ivf_training_ctes` trains the coarse cells
    (c{ivf_iters}), `_pq_training_ctes` trains the codebooks (cb — its
    sample CTE renamed ``psamp`` to coexist with the IVF chain's), and
    the search body is the cell-pruned PQ search
    (`_pq_search_body(cell_pruned=True)` + `_ivf_assign_ctes`): ADC
    scoring joins only the (query, corpus-row) pairs whose IVF cell the
    query probes — exactly `similarity_df.ivfpq_topk`."""
    return (
        f"""
    WITH {_ivf_training_ctes(n_centroids, ivf_iters, sample_size)},
    {_pq_training_ctes(m, ksub, pq_iters, sample_size, samp="psamp")},"""
        + _pq_search_body(64 // m, cell_pruned=True).replace(
            "    codes AS (",
            f"""    {_ivf_assign_ctes(f"c{ivf_iters}", n_probe)},
    codes AS (""",
            1,
        )
        + f"""
    SELECT qid AS query_id, vec_id, adc_dist, rank FROM adcr WHERE rank <= {k}
    """
    )


@register(
    "ann_pq_trained_topk",
    oracle=_pq_trained_oracle_sql()
    + """
    SELECT qid AS query_id, vec_id, adc_dist, rank FROM adcr WHERE rank <= 5
    """,
)
def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with TRAINED per-subspace Lloyd codebooks, fully
    value-oracled: `_pq_trained_oracle_sql` unrolls the k-means in SQL
    (the trained-IVF treatment, L2 flavor) and replays encode/LUT/ADC on
    the resulting codebooks — so both of the repo's trained vector
    indexes, IVF cells and PQ codebooks, are now hash-checked end to
    end, not just their seeded literal variants."""
    from mistral_ocr_pipeline_spark.operators.similarity import (
        pq_codebooks_kmeans,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks_kmeans(emb, m=8, ksub=8, iters=4)
    return pq_topk(emb, emb.filter(F.col("vec_id") < 8), cb, k=5)


# --------------------------------------------------------------------------
# r5: DataFrame-native ANN query sides + the IVFPQ composite index
# --------------------------------------------------------------------------
@register("ann_lsh_df_topk", oracle=_lsh_oracle_sql())
def ann_lsh_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`similarity_df.lsh_topk_df` — the LSH search with a DataFrame
    query side: probe keys computed IN-PLAN (plane-literal folds +
    array_sort bit flips), candidates via the (table, bucket) EQUI-JOIN,
    so a corpus-sized query relation never rides the driver.  Shares
    `ann_lsh_topk`'s oracle UNCHANGED — same planes, same probe set,
    same cosines (the r4 verdict's 'DataFrame-native query side' item;
    equality with the collect kernel also pinned in
    tests/test_similarity_df.py)."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import lsh_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk_df(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_planes=5, n_probe=4,
        n_tables=8,
    )


@register("ann_ivf_df_topk", oracle=_ivf_trained_oracle_sql())
def ann_ivf_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`similarity_df.ivf_topk_df` — trained-k-means IVF with a
    DataFrame query side: corpus cell = in-plan argmax over centroid
    dots, probes = posexplode + per-query window, candidates via the
    cell EQUI-JOIN.  Shares `ann_ivf_topk`'s unrolled-Lloyd oracle
    UNCHANGED.  Only the INDEX build (bounded hash-ordered sample)
    touches the driver."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import ivf_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_df(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=6
    )


@register(
    "ann_pq_df_topk",
    oracle=_pq_cte()
    + """
    SELECT qid AS query_id, vec_id, adc_dist, rank FROM adcr WHERE rank <= 5
    """,
)
def ann_pq_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`similarity_df.pq_topk_df` — PQ ADC search with the per-query LUT
    computed IN-PLAN (`_lut_cols`: sequential folds over codeword
    literals, micro-rounded long partials) instead of on the driver, so
    a corpus-sized query batch works.  Shares `ann_pq_topk`'s oracle
    UNCHANGED."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import pq_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk_df(emb, emb.filter(F.col("vec_id") < 8), _pq_seeded_codebooks(), k=5)


@register("ann_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle_sql())
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoding IVFPQ (`similarity_df.ivfpq_topk(
    by_residual=True)`) — the FAISS IndexIVFPQ default: PQ codebooks
    train on, and codes quantize, v − centroid[cell] (smaller, better-
    centered residuals buy finer quantization from the same code
    budget), so the LUT becomes per-(query, probed-cell) over
    q − centroid[cell] — computed in-plan from one parsed centroid
    literal, still no driver-side query residency.  BOTH trained halves
    AND the residual stream replay in SQL (`_ivfpq_residual_oracle_sql`
    chains the sample through the trained ``cassign``)."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_probe=4, by_residual=True
    )


@register("ann_ivfpq_topk", oracle=_ivfpq_trained_oracle_sql())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ composite ANN (`similarity_df.ivfpq_topk`) — the FAISS
    IndexIVFPQ shape with BOTH halves trained AND value-oracled in one
    query: `_ivf_training_ctes` unrolls the coarse-cell k-means,
    `_pq_training_ctes` the per-subspace codebook k-means, and the
    cell-pruned `_pq_search_body` replays the probed-cells-only ADC
    scoring.  Corpus pruned to probed cells BEFORE any scoring; codes
    table is the only corpus-sized input to the score join."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 8), k=5, n_probe=4)


@register(
    "ann_ivfpq_recall",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ recall@5 ≥ 0.4 per query as a verified claim, at the
    production setting (m=16/ksub=32 trained codebooks, 16 trained
    cells, n_probe=12, exact refine of the top 64).  The near-uniform
    synthetic corpus is IVF's WORST case (true neighbors scatter across
    cells — same rationale as `ann_ivf_recall`'s 0.4 floor), so the
    claim is set with margin below the measured minima: min-per-query
    recall 0.8 at sf0.01 and 0.6 at sf0.1 at this setting (vs <0.6 at
    sf0.1 with n_probe=8 — cell pruning, not PQ quantization, is what
    recall pays; `ann_pq_recall` measures 1.0 with no pruning)."""
    from mistral_ocr_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks_kmeans,
    )
    from mistral_ocr_pipeline_spark.operators.similarity_df import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    cb = pq_codebooks_kmeans(emb, m=16, ksub=32)
    approx = ivfpq_topk(
        emb, queries_df, k=5, n_probe=12, codebooks=cb, refine=64
    )
    exact = brute_force_topk(emb, queries_df, k=5)
    hits = exact.join(
        approx.select("query_id", "vec_id").withColumn("hit", F.lit(1)),
        ["query_id", "vec_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))).alias("r"))
        .select("query_id", (F.col("r") >= 0.4).alias("recall_ok"))
    )


# --------------------------------------------------------------------------
# r5 continuation: bigram LM surprisal, NB quality classifier (the fastText
# filter shape), winnowing fingerprints (Schleimer et al. 2003 / MOSS)
# --------------------------------------------------------------------------
@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    pairs AS (
      SELECT id, ts[i] AS prev, ts[i + 1] AS cur
      FROM (SELECT id, ts, unnest(generate_series(1, len(ts) - 1))::INT AS i
            FROM tok WHERE len(ts) >= 2)),
    c2 AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    ctx AS (SELECT prev, sum(c2) AS ctx FROM c2 GROUP BY prev),
    voc AS (SELECT count(DISTINCT t)::DOUBLE AS v
            FROM (SELECT unnest(ts) AS t FROM tok)),
    tbl AS (
      SELECT prev, cur,
             round(-ln((c2 + 1) / (ctx + v)) * 1000000.0)::BIGINT AS micro
      FROM c2 JOIN ctx USING (prev) CROSS JOIN voc)
    SELECT id AS doc_id, count(*) AS n_pairs,
           round(sum(micro) / 1000000.0 / count(*), 6) AS surprisal
    FROM pairs JOIN tbl USING (prev, cur)
    GROUP BY id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean conditional surprisal −ln P(wᵢ|wᵢ₋₁) under the corpus's own
    add-1-smoothed bigram LM (`text_analysis.bigram_surprisal`) — one LM
    order above `text_unigram_surprisal`, the in-engine stand-in for
    CCNet's KenLM signal: word salad scores high even when every word is
    common.  The ENTIRE model — bigram/context counts, vocabulary size,
    per-bigram micro-unit surprisals — is replayed in the oracle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import bigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    return bigram_surprisal(docs, "doc_id")


# shared DuckDB CTE block: hashed-gram NB model over a labeled relation
# ``lab(id, text, label, is_train)`` — emits ``nbscored(doc_id, is_train,
# label, pred, n_grams, score)`` for the caller's tail (text_nb_quality
# reads it directly; quality_mix_pipeline chains the selection + mix)
_NB_MODEL_SQL = """
    tk AS (SELECT id, label, is_train,
                  list_filter(string_split({key}, ' '), x -> x != '') AS ts
           FROM lab),
    grams AS (
      SELECT id, label, is_train, unnest(ts) AS g FROM tk
      UNION ALL
      SELECT id, label, is_train,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS g
      FROM tk),
    bkt AS (SELECT id, label, is_train,
                   (('0x' || substring(md5(g), 1, 8))::UBIGINT % 256)::BIGINT AS b
            FROM grams),
    cnt2 AS (SELECT b,
                    sum(CASE WHEN label THEN 1 ELSE 0 END) AS np,
                    sum(CASE WHEN label THEN 0 ELSE 1 END) AS nn
             FROM bkt WHERE is_train GROUP BY b),
    tots AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM cnt2),
    pri AS (SELECT round((ln(sum(CASE WHEN label THEN 1 ELSE 0 END) + 1)
                          - ln(sum(CASE WHEN label THEN 0 ELSE 1 END) + 1))
                         * 1000000.0)::BIGINT AS prior
            FROM lab WHERE is_train),
    spine AS (SELECT unnest(generate_series(0, 255)) AS b),
    wts AS (SELECT spine.b,
                   round((ln((coalesce(np, 0) + 1) / (tp + 256.0))
                          - ln((coalesce(nn, 0) + 1) / (tn + 256.0)))
                         * 1000000.0)::BIGINT AS w
            FROM spine LEFT JOIN cnt2 USING (b) CROSS JOIN tots),
    ds AS (SELECT id, count(*) AS n_grams, sum(w) AS s
           FROM bkt JOIN wts USING (b) GROUP BY id),
    nbscored AS (
      SELECT lab.id AS doc_id, lab.is_train, lab.label,
             (pri.prior + coalesce(ds.s, 0)) > 0 AS pred,
             coalesce(ds.n_grams, 0)::BIGINT AS n_grams,
             round((pri.prior + coalesce(ds.s, 0)) / 1000000.0, 6) AS score
      FROM lab LEFT JOIN ds ON ds.id = lab.id CROSS JOIN pri)
"""


def _nb_labeled(docs: DataFrame) -> DataFrame:
    """Surprisal-pseudo-labeled spine shared by text_nb_quality and
    quality_mix_pipeline: corpus-unigram surprisal at-or-below the exact
    corpus median labels quality, a 70% content-hash split marks the
    training rows.  PERSISTED — the classifier reads it in four passes
    (gram counts, priors, scoring, spine join); see text_nb_quality's
    docstring for the measured re-derivation cost."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        unigram_surprisal,
    )

    sur = unigram_surprisal(docs, "doc_id")
    med = sur.agg(
        F.round(F.percentile("surprisal", F.lit(0.5)), 6).alias("t")
    )
    return (
        docs.select("doc_id", "text")
        .join(sur.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            "doc_id",
            "text",
            F.coalesce(F.col("surprisal") <= F.col("t"), F.lit(False)).alias(
                "label"
            ),
            (
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(10),
                )
                < 7
            ).alias("is_train"),
        )
    ).persist()


# pseudo-label CTE chain shared by text_nb_quality and
# quality_mix_pipeline: corpus-unigram surprisal, exact median cut, 70%
# content-hash train split — emits ``lab(id, text, label, is_train)``
_NB_LABEL_SQL = f"""toks AS (
      SELECT doc_id AS id,
             unnest(string_split({_KEY.format(c='text')}, ' ')) AS t
      FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT sum(c)::DOUBLE AS n FROM cnt),
    sur AS (SELECT id, round(avg(-ln(c / (SELECT n FROM tot))), 6) AS s
            FROM toks JOIN cnt USING (t) GROUP BY id),
    med AS (SELECT round(quantile_cont(s, 0.5), 6) AS t FROM sur),
    lab AS (
      SELECT d.doc_id AS id, d.text,
             coalesce(sur.s <= med.t, FALSE) AS label,
             (('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::UBIGINT
              % 10) < 7 AS is_train
      FROM documents d LEFT JOIN sur ON sur.id = d.doc_id CROSS JOIN med)"""


@register(
    "text_nb_quality",
    oracle=f"""
    WITH {_NB_LABEL_SQL},
    {_NB_MODEL_SQL.format(key=_KEY.format(c='text'))}
    SELECT doc_id, is_train, label, pred, n_grams, score FROM nbscored
    """,
)
def text_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter, the fastText/CCNet/FineWeb-Edu
    distillation shape (`text_analysis.nb_quality_classifier`): an
    expensive upstream signal pseudo-labels the corpus (here: corpus-
    unigram surprisal at-or-below the exact corpus median — the CCNet
    head/tail cut), a 70% content-hash split trains a hashed-gram binary
    Naive Bayes on those labels, and the model scores EVERY document —
    train and held-out alike — as pure scan+broadcast-join relational
    algebra.  The ENTIRE path — surprisal, median threshold, train
    split, bucket counts, micro-unit log-odds, priors, per-doc scores,
    decisions — replays in the oracle.

    The labeled spine is PERSISTED before training: the classifier reads
    its input in four passes (gram counts, priors, scoring, final spine
    join), and each un-persisted reference would re-derive the whole
    surprisal labeling — measured 32 scans / 49 shuffles vs 4 cached
    passes.  At 100 TB the persist is a materialized table write (the
    snapshot catalog), same two-phase train-then-score shape either
    way."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        nb_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    return nb_quality_classifier(
        _nb_labeled(docs), "doc_id", "label", "is_train"
    )


# shared DuckDB CTE tail: winnowing selection over a relation ``u(id, text)``
# — emits ``sel(id, pos, fp)`` (k=8 chars, w=4 hashes, rightmost-min ties)
_WINNOW_SEL_SQL = f"""
    nrm AS (SELECT id, {_KEY.format(c='text')} AS t FROM u),
    h AS (SELECT id, list_transform(generate_series(1, length(t) - 7),
                                    i -> md5(substring(t, i, 8))) AS hs
          FROM nrm WHERE length(t) >= 8),
    win AS (SELECT id, hs, least(4, len(hs)) AS w FROM h),
    wexp AS (SELECT id, hs, w,
                    unnest(generate_series(1, len(hs) - w + 1))::INT AS j
             FROM win),
    selraw AS (SELECT id, hs,
                      list_max(list_filter(generate_series(j, j + w - 1),
                               x -> hs[x] = list_min(hs[j : j + w - 1]))) AS pos
               FROM wexp),
    sel AS (SELECT DISTINCT id, pos, hs[pos] AS fp FROM selraw)
"""


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH u AS (SELECT doc_id AS id, text FROM documents),
    {_WINNOW_SEL_SQL}
    SELECT id AS doc_id, count(*)::BIGINT AS n_selected,
           md5(array_to_string(list_sort(list(pos::VARCHAR || ':' || fp)),
                               ',')) AS fp_digest
    FROM sel GROUP BY id
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT winnowing fingerprints (Schleimer et al. 2003, the MOSS
    scheme) per document — char 8-grams, window 4, rightmost-min ties
    (`text_analysis.winnow_fingerprints`; map-only, zero shuffle until
    this rollup).  Output: selection count + an md5 digest of the full
    sorted (position:hash) selection, so the value hash certifies every
    selected fingerprint, not just how many."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "doc_id", k=8, w=4)
    return fps.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(":", F.col("pos").cast("string"), F.col("fp"))
                    )
                ),
                ",",
            )
        ).alias("fp_digest"),
    ).select(F.col("id").alias("doc_id"), "n_selected", "fp_digest")


@register(
    "text_winnow_overlap",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    {_WINNOW_SEL_SQL},
    df AS (SELECT DISTINCT id, fp FROM sel),
    ok AS (SELECT fp FROM df GROUP BY fp HAVING count(*) <= 64)
    SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
    FROM df a JOIN df b ON a.fp = b.fp AND a.id < b.id
    WHERE a.fp IN (SELECT fp FROM ok)
    GROUP BY 1, 2
    """,
)
def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap pairs over winnowed fingerprints
    (`text_analysis.winnow_overlap_pairs`) — fingerprint-VALUE matching
    only, position-free, so each clone (same fixture as
    `dedup_substring_overlap`: every 10th doc first-word-perturbed)
    pairs with its original on the selected hashes of the untouched
    region; fingerprints hot beyond the 64-doc cap are excluded before
    the self-join (bounded buckets, never all-pairs)."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        winnow_overlap_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.unionByName(clones)
    return winnow_overlap_pairs(u, "doc_id", "text", k=8, w=4, cap=64)


@register(
    "sketch_countmin",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                                t -> t != '')) AS tok
      FROM documents),
    pos AS (
      SELECT tok, r.i AS row_idx,
             (('0x' || substring(md5(tok || ':' || r.i::varchar), 1, 16))::UBIGINT
              % 16)::BIGINT AS col_idx
      FROM tok CROSS JOIN range(4) r(i)),
    cells AS (SELECT row_idx, col_idx, count(*)::BIGINT AS c
              FROM pos GROUP BY 1, 2),
    tru AS (SELECT tok, count(*)::BIGINT AS true_cnt FROM tok GROUP BY tok),
    qpos AS (
      SELECT tok, r.i AS row_idx,
             (('0x' || substring(md5(tok || ':' || r.i::varchar), 1, 16))::UBIGINT
              % 16)::BIGINT AS col_idx
      FROM tru CROSS JOIN range(4) r(i)),
    est AS (SELECT tok, min(coalesce(c, 0)) AS est_count
            FROM qpos LEFT JOIN cells USING (row_idx, col_idx)
            GROUP BY tok)
    SELECT tru.tok AS token, tru.true_cnt, est.est_count,
           est.est_count >= tru.true_cnt AS never_under
    FROM tru JOIN est USING (tok)
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates
    (`sketches.cms_build`/`cms_estimate`): the corpus token stream is
    summarized into a 4 × 16 counter grid — deliberately tiny so the
    fixture vocabulary COLLIDES and real overcounts appear, then EVERY distinct token's frequency is estimated
    from the summary alone and compared to its exact count.
    ``never_under`` certifies the structural one-sided guarantee
    row-by-row; overcounts, where the grid collides, are reported
    honestly.  Both engines compute identical md5-derived cells, so the
    whole sketch — build and probe — is value-replayed in SQL.  The
    missing mergeability leg (union sketches = sum cells) is pinned in
    test_ops."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(norm_key_col(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("tok")
    )
    cms = cms_build(toks, "tok", w=16, d=4)
    tru = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_estimate(tru, "tok", cms, w=16, d=4)
    return est.select(
        F.col("tok").alias("token"),
        "true_cnt",
        "est_count",
        (F.col("est_count") >= F.col("true_cnt")).alias("never_under"),
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id AS id, unnest(string_split(coalesce(text, ''), '')) AS ch
      FROM documents),
    pc AS (SELECT id, ch, count(*) AS cnt
           FROM ch WHERE ch != '' GROUP BY id, ch),
    wn AS (SELECT id, cnt, sum(cnt) OVER (PARTITION BY id) AS n FROM pc),
    ent AS (
      SELECT id, any_value(n) AS n_chars,
             round(sum(round((cnt / n) * ln(n / cnt) * 1000000.0)::BIGINT)
                   / 1000000.0, 6) AS entropy
      FROM wn GROUP BY id)
    SELECT d.doc_id, coalesce(ent.n_chars, 0)::BIGINT AS n_chars,
           coalesce(ent.entropy, 0.0) AS entropy
    FROM documents d LEFT JOIN ent ON ent.id = d.doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (`text_analysis.char_entropy`) — the gibberish / keyboard-mash /
    base64-blob signal the word-level Gopher battery cannot see.
    Per-char contributions in integer micro-units (functions of the two
    integers (cnt, n) only), so the doc total is an order-independent
    BIGINT sum replayed exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id")


@register(
    "corpus_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                                t -> t != '')) AS tok
      FROM documents),
    freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    xy AS (
      SELECT f,
             round(ln((row_number() OVER (ORDER BY f DESC, tok))::DOUBLE)
                   * 1000000.0)::BIGINT AS x,
             round(ln(f::DOUBLE) * 1000000.0)::BIGINT AS y
      FROM freq),
    mom AS (
      SELECT count(*)::HUGEINT AS n, sum(f) AS tot,
             sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
             sum(x::HUGEINT * y::HUGEINT) AS sxy,
             sum(x::HUGEINT * x::HUGEINT) AS sxx
      FROM xy)
    SELECT n::BIGINT AS vocab_size, tot::BIGINT AS total_tokens,
           round(((n * sxy - sx * sy)::DOUBLE) / ((n * sxx - sx * sx)::DOUBLE),
                 6) AS zipf_slope,
           round((sy::DOUBLE / n::DOUBLE
                  - (((n * sxy - sx * sy)::DOUBLE)
                     / ((n * sxx - sx * sx)::DOUBLE))
                    * (sx::DOUBLE / n::DOUBLE)) / 1000000.0,
                 6) AS zipf_intercept
    FROM mom
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf rank-frequency OLS fit (`text_analysis.zipf_fit`) —
    natural-language corpora sit near slope −1; templated or
    boilerplate-flooded corpora bend it.  All four OLS moments are EXACT
    integers (micro-unit ln's summed as decimal(38,0) / HUGEINT); only
    the final slope/intercept divisions run in IEEE double, identically
    in both engines."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs)


# shared DuckDB CTE tail for SQ8: train + encode + dequant over embeddings,
# emits dq(vec_id, dv DOUBLE[]) and q(qid, qv)
_SQ8_BASE_SQL = """
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    bounds AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
               FROM c CROSS JOIN dims GROUP BY i),
    ba AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
           FROM bounds),
    enc AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(v)), i ->
               CASE WHEN hi[i] = lo[i] THEN 0
                    ELSE round(greatest(0.0, least(255.0,
                           (v[i] - lo[i]) / (hi[i] - lo[i]) * 255.0)))::INT
               END) AS codes
      FROM c CROSS JOIN ba),
    dq AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(codes)), i ->
               lo[i] + codes[i] * (hi[i] - lo[i]) / 255.0) AS dv
      FROM enc CROSS JOIN ba),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8)
"""


@register(
    "ann_sq8_topk",
    oracle=f"""
    WITH {_SQ8_BASE_SQL},
    s AS (
      SELECT qid, vec_id,
             round(list_dot_product(qv, dv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(dv, dv))),
                   6) AS sq8_cosine
      FROM q CROSS JOIN dq WHERE vec_id != qid),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY sq8_cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, sq8_cosine, rank FROM r WHERE rank <= 5
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantized ANN (`similarity_df.sq8_topk_df`) — the
    FAISS IndexScalarQuantizer shape: per-dim [min,max] training,
    clamp-round encode to 1 byte/dim, asymmetric raw-query-vs-dequantized
    cosine.  The ONE ANN family whose training needs no kernel and no
    sample — min/max are exact, order-independent aggregates — so the
    ENTIRE path (train, encode, dequant, score, rank) is pure Catalyst
    and value-replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import sq8_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    return sq8_topk_df(emb, emb.filter(F.col("vec_id") < 8), k=5)


@register(
    "ann_sq8_recall",
    oracle=f"""
    WITH {_SQ8_BASE_SQL},
    s AS (
      SELECT qid, vec_id,
             round(list_dot_product(qv, dv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(dv, dv))),
                   6) AS sq8_cosine
      FROM q CROSS JOIN dq WHERE vec_id != qid),
    r AS (SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY sq8_cosine DESC, vec_id) AS rank FROM s),
    xs AS (
      SELECT qid, c.vec_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   6) AS cosine
      FROM q CROSS JOIN c WHERE c.vec_id != qid),
    xr AS (SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM xs),
    hits AS (
      SELECT xr.qid, sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM xr LEFT JOIN (SELECT * FROM r WHERE rank <= 5) r
        ON r.qid = xr.qid AND r.vec_id = xr.vec_id
      WHERE xr.rank <= 5 GROUP BY xr.qid)
    SELECT qid AS query_id, round(h / 5.0, 6) AS recall,
           h / 5.0 >= 0.6 AS recall_ok
    FROM hits
    """,
)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the SQ8 path against exact cosine top-5 on
    the same corpus and tie-break order — the honesty row for the
    quantization: the claim floor (0.6) was verified at BOTH sf0.01 and
    sf0.1 (recall-claim scale-independence rule).  Entirely SQL-replayed,
    both rankings included."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
        sq8_topk_df,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    approx = sq8_topk_df(emb, q, k=5).select("query_id", "vec_id")
    exact = brute_force_topk_df(emb, q, k=5).select("query_id", "vec_id")
    hits = (
        exact.join(approx.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("h"))
    )
    return hits.select(
        "query_id",
        F.round(F.col("h") / F.lit(5.0), 6).alias("recall"),
        (F.col("h") / F.lit(5.0) >= 0.6).alias("recall_ok"),
    )


@register(
    "corpus_kl_drift",
    oracle=f"""
    WITH ta AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                                t -> t != '')) AS tok
      FROM documents WHERE lang = 'en'),
    tb AS (
      SELECT unnest(list_filter(string_split({_KEY.format(c='text')}, ' '),
                                t -> t != '')) AS tok
      FROM documents WHERE lang != 'en' OR lang IS NULL),
    fa AS (SELECT tok, count(*) AS ca FROM ta GROUP BY tok),
    fb AS (SELECT tok, count(*) AS cb FROM tb GROUP BY tok),
    j AS (SELECT coalesce(fa.tok, fb.tok) AS tok,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          FROM fa FULL OUTER JOIN fb ON fa.tok = fb.tok),
    tots AS (SELECT count(*)::DOUBLE AS v, sum(ca) AS na, sum(cb) AS nb FROM j),
    terms AS (
      SELECT round(((ca + 1) / (na + v)) * ln(((ca + 1) / (na + v))
                   / ((cb + 1) / (nb + v))) * 1000000.0)::BIGINT AS tab,
             round(((cb + 1) / (nb + v)) * ln(((cb + 1) / (nb + v))
                   / ((ca + 1) / (na + v))) * 1000000.0)::BIGINT AS tba,
             v, na, nb
      FROM j CROSS JOIN tots)
    SELECT any_value(v)::BIGINT AS vocab_union,
           any_value(na) AS tokens_a, any_value(nb) AS tokens_b,
           round(sum(tab) / 1000000.0, 6) AS kl_ab,
           round(sum(tba) / 1000000.0, 6) AS kl_ba
    FROM terms
    """,
)
def corpus_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus token-distribution drift monitor
    (`text_analysis.corpus_kl_drift`): add-1-smoothed KL in both
    directions between the en slice and the rest — the check a curation
    pipeline runs between batch and history / train and eval before a
    silent shift poisons a mix.  Per-token micro-unit terms over exact
    integer counts → the totals replay exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        corpus_kl_drift as _kl,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en")
    b = docs.filter((F.col("lang") != "en") | F.col("lang").isNull())
    return _kl(a, b)


# --------------------------------------------------------------------------
# r5 late additions: n-gram novelty + cluster-balanced diversity sampling
# --------------------------------------------------------------------------
@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 120) || ' ' ||
             'this boilerplate sentence is shared across every document'
             || ' ' || substr(text, 121, 60) AS text
      FROM documents),
    t AS (SELECT doc_id, string_split({_KEY.format(c='text')}, ' ') AS toks
          FROM d),
    g AS (SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> array_to_string(toks[i:i+2], ' ')))) AS gram
          FROM t),
    fr AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
    p AS (SELECT doc_id, count(*) AS n_grams,
                 count(*) FILTER (df = 1) AS n_novel
          FROM g JOIN fr USING (gram) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(n_grams, 0)::BIGINT AS n_grams,
           coalesce(n_novel, 0)::BIGINT AS n_novel,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN round(n_novel::DOUBLE / n_grams::DOUBLE, 6)
           END AS novelty
    FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (`text_analysis.ngram_novelty`) over a
    fixture where every document carries one corpus-universal boilerplate
    sentence between two unique prose slices: the fraction of a doc's
    distinct grams with corpus document-frequency 1 — the memorization /
    templated-content signal MinHash and substring dedup both
    under-report (no single partner document required).  Digest
    doc-frequency, join-back, and the BIGINT/BIGINT ratio all
    SQL-replayed."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        ngram_novelty,
    )

    docs = _t(spark, sf_dir, "documents")
    ml = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.substring("text", 1, 120),
            F.lit(
                "this boilerplate sentence is shared across every document"
            ),
            F.substring("text", 121, 60),
        ).alias("text"),
    )
    return (
        ngram_novelty(ml, "doc_id", "text", n=3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def _cluster_balanced_oracle_sql(
    n_cells: int = 16,
    kmeans_iters: int = 8,
    sample_size: int = 2048,
    cap: int = 20,
    salt: str = "bal",
) -> str:
    """Full value oracle for `sampling.cluster_balanced_sample`: the
    trained-k-means CTE chain (`_ivf_training_ctes` — the same unrolled
    Lloyd machinery every trained ANN oracle uses), the argmax-cosine
    cell assignment, the cosine-to-own-centroid score (identical
    greatest-guarded fold both engines), and the per-cell content-hash
    cap (`sample_per_key`'s md5 fate rule)."""
    last = f"c{kmeans_iters}"
    return f"""
    WITH {_ivf_training_ctes(n_cells, kmeans_iters, sample_size)},
    corp AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cassign AS (
      SELECT vec_id, c, cv, v FROM (
        SELECT cd.vec_id, cd.c, cd.cv, cd.v,
               row_number() OVER (PARTITION BY cd.vec_id
                                  ORDER BY cd.d DESC, cd.c) AS rn
        FROM (SELECT corp.vec_id, corp.v, cc.c, cc.cv,
                     list_dot_product(corp.v, cc.cv) AS d
              FROM corp CROSS JOIN {last} cc) cd)
      WHERE rn = 1),
    scored AS (
      SELECT vec_id, c AS cell,
             round(list_dot_product(v, cv) /
                   greatest(sqrt(list_dot_product(v, v)), 1e-12), 6)
               AS cos_centroid
      FROM cassign),
    r AS (SELECT vec_id, cell, cos_centroid,
                 row_number() OVER (PARTITION BY cell
                     ORDER BY substring(md5('{salt}' || vec_id::varchar),
                                        1, 8),
                              vec_id) AS sample_rank
          FROM scored)
    SELECT vec_id, cell, cos_centroid, sample_rank
    FROM r WHERE sample_rank <= {cap}
    ORDER BY cell, sample_rank
    """


@register("sample_cluster_balanced", oracle=_cluster_balanced_oracle_sql())
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling
    (`sampling.cluster_balanced_sample`): trained mini-k-means cells →
    argmax-cosine assignment → cosine-to-own-centroid prototypicality →
    ≤20 rows per cell by content-hash rank, so no topic cluster swamps
    the mix.  BOTH the training (unrolled Lloyd CTEs) and the selection
    (md5 fate rule) replay in SQL — the whole recipe is value-oracled."""
    from mistral_ocr_pipeline_spark.operators.sampling import (
        cluster_balanced_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, n_cells=16, per_cell_cap=20).orderBy(
        "cell", "sample_rank"
    )


def _jl_base_sql(
    r_dim: int = 32, refine: int = 128, seed: int = 7, d: int = 64
) -> str:
    """CTE chain replaying `similarity_df.jl_refine_topk` end to end —
    the random ORTHONORMAL basis (`similarity_df._jl_planes`, shared
    function) as repr-exact DOUBLE literals (the LSH-oracle convention),
    per-vector r_dim projections, reduced-space cosine prefilter cut at
    ``refine``, exact full-dimension re-rank.  Emits through
    ``jr(qid, vec_id, cosine, rank)`` plus ``c``/``q`` for downstream
    exact comparisons; no leading WITH, no trailing comma."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import _jl_planes

    planes = _jl_planes(r_dim, d, seed)
    vals = ",\n      ".join(
        f"({r}, [{', '.join(repr(float(x)) for x in planes[r])}]::DOUBLE[])"
        for r in range(r_dim)
    )
    return f"""jl_planes(r, pl) AS (VALUES
      {vals}),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    cpj AS (SELECT c.vec_id,
                   list(list_dot_product(c.v, pt.pl) ORDER BY pt.r) AS p
            FROM c CROSS JOIN jl_planes pt GROUP BY c.vec_id),
    qpj AS (SELECT q.qid,
                   list(list_dot_product(q.qv, pt.pl) ORDER BY pt.r) AS p
            FROM q CROSS JOIN jl_planes pt GROUP BY q.qid),
    red AS (
      SELECT qpj.qid, cpj.vec_id,
             round(list_dot_product(qpj.p, cpj.p) /
                   (sqrt(list_dot_product(qpj.p, qpj.p)) *
                    sqrt(list_dot_product(cpj.p, cpj.p))), 6) AS rcos
      FROM cpj CROSS JOIN qpj WHERE cpj.vec_id != qpj.qid),
    jcand AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
            PARTITION BY qid ORDER BY rcos DESC, vec_id) AS rn FROM red)
      WHERE rn <= {refine}),
    js AS (SELECT jcand.qid, jcand.vec_id,
             round(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
           FROM jcand JOIN q ON q.qid = jcand.qid
           JOIN c ON c.vec_id = jcand.vec_id),
    jr AS (SELECT *, row_number() OVER (
             PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM js)"""


@register(
    "ann_jl_refine_topk",
    oracle=f"""
    WITH {_jl_base_sql()}
    SELECT qid AS query_id, vec_id, cosine, rank FROM jr WHERE rank <= 5
    """,
)
def ann_jl_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection ANN
    (`similarity_df.jl_refine_topk`): seeded Gaussian planes project
    every vector onto a 32-dim random orthonormal basis IN-PLAN, the
    reduced-space cosine prefilter cuts to 128 candidates per query, exact cosine re-ranks — the
    training-free dimensionality-reduction lever next to PQ/SQ8.  The
    planes are data-independent literals, so the ENTIRE approximate
    path replays in SQL like the LSH family."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        jl_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return jl_refine_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, r_dim=32, refine=128
    )


@register(
    "ann_jl_recall",
    oracle=f"""
    WITH {_jl_base_sql()},
    xs AS (
      SELECT qid, c.vec_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM q CROSS JOIN c WHERE c.vec_id != qid),
    xr AS (SELECT qid, vec_id, row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
           FROM xs),
    hits AS (
      SELECT xr.qid, sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM xr LEFT JOIN (SELECT * FROM jr WHERE rank <= 5) a
        ON a.qid = xr.qid AND a.vec_id = xr.vec_id
      WHERE xr.rank <= 5 GROUP BY xr.qid)
    SELECT qid AS query_id, round(h / 5.0, 6) AS recall,
           h / 5.0 >= 0.6 AS recall_ok
    FROM hits
    """,
)
def ann_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the JL prefilter+refine path against exact
    cosine top-5 (same corpus, same tie-break) — the honesty row for the
    32-dim orthonormal projection; claim floor 0.6 (measured min 0.8)
    verified at BOTH sf0.01 and sf0.1 per the recall-claim scale-independence rule."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
        jl_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    approx = jl_refine_topk(emb, q, k=5, r_dim=32, refine=128).select(
        "query_id", "vec_id"
    )
    exact = brute_force_topk_df(emb, q, k=5).select("query_id", "vec_id")
    hits = (
        exact.join(
            approx.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("h"))
    )
    return hits.select(
        "query_id",
        F.round(F.col("h") / F.lit(5.0), 6).alias("recall"),
        (F.col("h") / F.lit(5.0) >= 0.6).alias("recall_ok"),
    )


@register(
    "quality_mix_pipeline",
    oracle=f"""
    WITH {{label_ctes}},
    {{model_ctes}},
    qkept AS (SELECT doc_id FROM nbscored WHERE pred),
    kd AS (SELECT d.doc_id, d.lang, {{tok}} AS tok
           FROM documents d JOIN qkept USING (doc_id)),
    s2 AS (SELECT lang, count(*)::BIGINT AS n_docs,
                  sum(tok)::BIGINT AS n_tokens
           FROM kd GROUP BY lang),
    sc2 AS (SELECT *, round(sqrt(n_tokens::DOUBLE) * 1000000.0)::BIGINT
                          AS scaled_micro
            FROM s2),
    t2 AS (SELECT sum(scaled_micro)::BIGINT AS total FROM sc2),
    al AS (SELECT lang, n_tokens,
                  round(5000.0 * (scaled_micro::DOUBLE / total::DOUBLE))
                      ::BIGINT AS budget_tokens
           FROM sc2 CROSS JOIN t2),
    al2 AS (SELECT *, least(1000000,
                round(budget_tokens::DOUBLE / n_tokens::DOUBLE
                      * 1000000.0)::BIGINT) AS rate_micro
            FROM al),
    sel AS (SELECT kd.lang, kd.tok, al2.budget_tokens, al2.rate_micro,
                   (('0x' || substring(md5('qmix:' || kd.doc_id::VARCHAR),
                                       1, 8))::UBIGINT::BIGINT * 1000000
                    < al2.rate_micro * 4294967296) AS keep
            FROM kd JOIN al2 USING (lang))
    SELECT lang,
           count(*)::BIGINT AS n_quality,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_selected,
           sum(CASE WHEN keep THEN tok ELSE 0 END)::BIGINT AS sel_tokens,
           any_value(budget_tokens) AS budget_tokens,
           any_value(rate_micro) AS rate_micro
    FROM sel GROUP BY lang ORDER BY lang
    """.format(
        label_ctes=_NB_LABEL_SQL,
        model_ctes=_NB_MODEL_SQL.format(key=_KEY.format(c="text")),
        tok=_TOK,
    ),
)
def quality_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-Edu-shaped composite — classifier-gated selection feeding
    a temperature-balanced mix, ONE plan end to end: the hashed-gram NB
    quality model (same pseudo-label fixture as `text_nb_quality`)
    scores every document, classifier-positive docs enter a temperature
    allocation over language (shares ∝ n^0.5, 5k-token budget,
    `sampling.temperature_allocation`), each language's budget becomes a
    per-lang keep rate (capped at 1), and each doc's fate is the
    division-free BIGINT rule ``u32·10⁶ < rate_micro·2³²`` (unimax_mix's
    fate rule — partition/rerun-invariant, zero corpus shuffle for the
    selection itself).  Per-language rollup: quality-pass counts,
    selected counts/tokens, budget, rate.  The ENTIRE composition —
    surprisal labels, NB training, decisions, allocation, fate rule —
    replays in one SQL oracle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        nb_quality_classifier,
        ws_token_count,
    )
    from mistral_ocr_pipeline_spark.operators.sampling import (
        temperature_allocation,
    )

    docs = _t(spark, sf_dir, "documents")
    nb = nb_quality_classifier(
        _nb_labeled(docs), "doc_id", "label", "is_train"
    )
    kept = nb.filter(F.col("pred")).select("doc_id")
    kd = docs.join(kept, "doc_id").select(
        "doc_id", "lang", ws_token_count(F.col("text")).alias("tok")
    )
    alloc = temperature_allocation(
        kd, "lang", "tok", token_budget=5000, alpha=0.5
    ).select(
        "lang",
        "budget_tokens",
        F.least(
            F.lit(1000000).cast("long"),
            F.round(
                F.col("budget_tokens").cast("double")
                / F.col("n_tokens").cast("double")
                * F.lit(1000000.0)
            ).cast("long"),
        ).alias("rate_micro"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qmix:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    keep = (u32 * F.lit(1000000).cast("long")) < (
        F.col("rate_micro") * F.lit(4294967296).cast("long")
    )
    sel = kd.join(F.broadcast(alloc), "lang").withColumn("_keep", keep)
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_quality"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_selected"),
            F.sum(F.when(F.col("_keep"), F.col("tok")).otherwise(F.lit(0))).alias(
                "sel_tokens"
            ),
            F.first("budget_tokens").alias("budget_tokens"),
            F.first("rate_micro").alias("rate_micro"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text, 10::BIGINT AS score FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(text), 5 FROM documents
      UNION ALL
      SELECT doc_id + 2000000, upper(text), 20 FROM documents
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 3000000, text, 10 FROM documents
      WHERE doc_id % 5 = 0),
    k AS (SELECT id, score,
                 md5({_KEY.format(c="coalesce(text, '')")}) AS content_key
          FROM u),
    g AS (SELECT content_key, count(*)::BIGINT AS dup_count,
                 max({{'s': score, 'ni': -id}}) AS b
          FROM k GROUP BY content_key),
    g2 AS (SELECT content_key, dup_count,
                  (-(b.ni))::BIGINT AS canonical_id,
                  b.s AS canonical_score
           FROM g)
    SELECT k.id, k.content_key, g2.dup_count,
           k.id = g2.canonical_id AS is_canonical,
           g2.canonical_id, g2.canonical_score
    FROM k JOIN g2 USING (content_key) ORDER BY k.id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup (`dedup.exact_dedup_keep_best`) over a
    fixture of 2-to-4-way case-variant duplicate groups with differing
    quality scores: the canonical is the argmax-score copy (score-20
    re-crawl where present, else the original), with score TIES breaking
    to the lowest id (the score-10 twin never displaces the original).
    The max(struct) fold and join-back replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        exact_dedup_keep_best,
    )

    docs = _t(spark, sf_dir, "documents")
    u = (
        docs.select("doc_id", "text", F.lit(10).cast("long").alias("score"))
        .unionByName(
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.lower("text").alias("text"),
                F.lit(5).cast("long").alias("score"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.upper("text").alias("text"),
                F.lit(20).cast("long").alias("score"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.col("text"),
                F.lit(10).cast("long").alias("score"),
            )
        )
    )
    return exact_dedup_keep_best(u, "doc_id", "text", "score").orderBy("id")


# --------------------------------------------------------------------------
# URL-level curation (operators/urls.py)
# --------------------------------------------------------------------------
# one structural regex — groups: 1=scheme 2=host[:port] 3=path 4=query
_URLRE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"

# deterministic messy-URL fixture: scheme-case / www / default-port /
# trailing-slash / tracking-param / fragment variants all collapse to a
# canonical key that is a pure function of doc_id % 40 (and % 5 for host),
# plus an explicit junk row ('not a url') and a NULL row per 13/17 strides.
_URL_FIXTURE_SQL = """
    u AS (
      SELECT doc_id AS id, text,
        CASE WHEN doc_id % 13 = 0 THEN 'not a url'
             WHEN doc_id % 17 = 0 THEN NULL
             ELSE (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'Http' END)
               || '://'
               || (CASE WHEN doc_id % 3 = 0
                        THEN 'WWW.' || upper('site' || (doc_id % 5)::VARCHAR
                                             || '.Example.com')
                        WHEN doc_id % 3 = 1
                        THEN 'site' || (doc_id % 5)::VARCHAR || '.Example.com'
                             || (CASE WHEN doc_id % 2 = 0
                                      THEN ':443' ELSE ':80' END)
                        ELSE 'site' || (doc_id % 5)::VARCHAR
                             || '.Example.com' END)
               || '/docs/' || (doc_id % 40)::VARCHAR
               || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&b=2&a=1'
                        WHEN doc_id % 6 = 1 THEN '?a=1&b=2'
                        WHEN doc_id % 6 = 2 THEN '?b=2&a=1&fbclid=zz'
                        WHEN doc_id % 6 = 3 THEN '?ref=home'
                        ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
        END AS url
      FROM documents)
"""


def _url_canon_ctes(src: str) -> str:
    """CTE chain replaying `operators.urls.canonicalize_url` over
    ``src(…, url)`` → ``{src}_c`` = src columns + ``canon_url``.  Shared by
    every URL oracle so the canonicalization has exactly ONE SQL twin."""
    return rf"""
    {src}_p AS (
      SELECT *,
        lower(regexp_extract(trim(coalesce(url, '')), '{_URLRE}', 1)) AS _sch,
        lower(regexp_extract(trim(coalesce(url, '')), '{_URLRE}', 2)) AS _rh,
        regexp_extract(trim(coalesce(url, '')), '{_URLRE}', 3) AS _rp,
        regexp_extract(trim(coalesce(url, '')), '{_URLRE}', 4) AS _rq
      FROM {src}),
    {src}_q AS (
      SELECT *,
        coalesce(array_to_string(list_sort(list_filter(
          string_split(_rq, '&'),
          p -> p <> '' AND NOT starts_with(p, 'utm_')
               AND split_part(p, '=', 1) NOT IN
                   ('fbclid','gclid','msclkid','mc_eid','igshid','ref'))),
          '&'), '') AS _q
      FROM {src}_p),
    {src}_c AS (
      SELECT * EXCLUDE (_sch, _rh, _rp, _rq, _q),
        CASE WHEN _sch = '' THEN '' ELSE
          _sch || '://' ||
          regexp_replace(
            CASE WHEN _sch = 'http'  THEN regexp_replace(_rh, ':80$', '')
                 WHEN _sch = 'https' THEN regexp_replace(_rh, ':443$', '')
                 ELSE _rh END, '^www\.', '') ||
          regexp_replace(_rp, '/+$', '') ||
          CASE WHEN _q <> '' THEN '?' || _q ELSE '' END
        END AS canon_url
      FROM {src}_q)
"""


def _url_fixture(docs: DataFrame) -> DataFrame:
    """Spark twin of `_URL_FIXTURE_SQL` (same arithmetic, same literals)."""
    d = F.col("doc_id")
    host = F.concat(F.lit("site"), (d % 5).cast("string"), F.lit(".Example.com"))
    hostvar = (
        F.when(d % 3 == 0, F.concat(F.lit("WWW."), F.upper(host)))
        .when(
            d % 3 == 1,
            F.concat(
                host, F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80"))
            ),
        )
        .otherwise(host)
    )
    url = (
        F.when(d % 13 == 0, F.lit("not a url"))
        .when(d % 17 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("Http")),
                F.lit("://"),
                hostvar,
                F.lit("/docs/"),
                (d % 40).cast("string"),
                F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
                F.when(d % 6 == 0, F.lit("?utm_source=x&b=2&a=1"))
                .when(d % 6 == 1, F.lit("?a=1&b=2"))
                .when(d % 6 == 2, F.lit("?b=2&a=1&fbclid=zz"))
                .when(d % 6 == 3, F.lit("?ref=home"))
                .otherwise(F.lit("")),
                F.when(d % 7 == 0, F.lit("#sec")).otherwise(F.lit("")),
            )
        )
    )
    return docs.select(d.alias("id"), "text", url.alias("url"))


@register(
    "url_canonicalize",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL},
    {_url_canon_ctes('u')}
    SELECT id, url, canon_url,
           regexp_extract(canon_url, '{_URLRE}', 2) AS host
    FROM u_c ORDER BY id
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only URL canonicalization (`urls.canonicalize_url` +
    `urls.url_host`) over the deterministic messy-URL fixture: tracking
    params dropped, surviving query params sorted, scheme/host lowercased,
    www + scheme-default ports stripped, trailing slash + fragment removed;
    junk and NULL URLs → '' (never NULL — rows survive downstream joins)."""
    from mistral_ocr_pipeline_spark.operators.urls import (
        canonicalize_url,
        url_host,
    )

    u = _url_fixture(_t(spark, sf_dir, "documents"))
    return u.select(
        "id",
        "url",
        canonicalize_url(F.col("url")).alias("canon_url"),
        url_host(F.col("url")).alias("host"),
    ).orderBy("id")


@register(
    "url_dedup_latest",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL},
    {_url_canon_ctes('u')},
    k AS (SELECT id, ((id * 37) % 101)::BIGINT AS ts, canon_url FROM u_c),
    g AS (SELECT canon_url, count(*)::BIGINT AS crawl_count,
                 max({{'t': ts, 'ni': -id}}) AS b
          FROM k GROUP BY canon_url),
    g2 AS (SELECT canon_url, crawl_count, (-(b.ni))::BIGINT AS canonical_id
           FROM g)
    SELECT k.id, k.canon_url, g2.crawl_count,
           k.id = g2.canonical_id AS is_canonical, g2.canonical_id
    FROM k JOIN g2 USING (canon_url) ORDER BY k.id
    """,
)
def url_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level recrawl dedup (`urls.url_dedup`): every scheme-case /
    www / port / tracking-param / slash / fragment variant of the same page
    lands in one canonical-URL group; the kept copy is the LATEST synthetic
    crawl timestamp ((id*37) % 101), ties to the lowest id.  The max(struct)
    fold and join-back replay in SQL; junk + NULL URLs group under '' and
    survive (NULL-key rule)."""
    from mistral_ocr_pipeline_spark.operators.urls import url_dedup

    u = _url_fixture(_t(spark, sf_dir, "documents")).select(
        "id", "url", ((F.col("id") * 37) % 101).cast("long").alias("ts")
    )
    return url_dedup(u, "id", "url", "ts").orderBy("id")


@register(
    "url_domain_stats",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL},
    {_url_canon_ctes('u')},
    k AS (SELECT id, length(coalesce(text, '')) AS len, canon_url,
                 regexp_extract(canon_url, '{_URLRE}', 2) AS host
          FROM u_c),
    s AS (SELECT host, count(*)::BIGINT AS n_docs,
                 count(DISTINCT canon_url)::BIGINT AS n_pages,
                 sum(len)::BIGINT AS len_sum
          FROM k GROUP BY host)
    SELECT host, n_docs, n_pages,
           ((n_docs - n_pages) * 1000000 // n_docs)::BIGINT
             AS recrawl_ratio_micro,
           (len_sum * 1000000 // n_docs)::BIGINT AS mean_len_micro,
           (n_docs >= 3 AND
            ((n_docs - n_pages) * 1000000 // n_docs) <= 950000) AS kept
    FROM s ORDER BY host
    """,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus health (`urls.domain_stats`) + the blocklist
    verdict a RefinedWeb-style pipeline derives from it: hosts need ≥3 docs
    and a recrawl ratio ≤ 0.95 to stay.  ONE map-side-combined groupBy on
    host; ratios in BIGINT micro-units via true integer division (exact,
    order-independent at any corpus size)."""
    from mistral_ocr_pipeline_spark.operators.urls import domain_stats

    u = _url_fixture(_t(spark, sf_dir, "documents"))
    s = domain_stats(u, "id", "url", "text")
    return s.select(
        "host",
        "n_docs",
        "n_pages",
        "recrawl_ratio_micro",
        "mean_len_micro",
        (
            (F.col("n_docs") >= 3)
            & (F.col("recrawl_ratio_micro") <= 950000)
        ).alias("kept"),
    ).orderBy("host")


# deterministic crawl-frontier fixture for the trap / template / politeness /
# blocklist family: 8 hosts (one a WWW-case alias), 7 path shapes covering
# every trap verdict (calendar, segment loop, deep path, session token, long
# path, query explosion), plus the junk/NULL strides.  Pure arithmetic on
# doc_id — byte-identical in the Spark twin below.
_CRAWL_FIXTURE_SQL = """
    cf AS (
      SELECT doc_id AS id,
        CASE WHEN doc_id % 13 = 0 THEN 'not a url'
             WHEN doc_id % 17 = 0 THEN NULL
             ELSE 'https://'
               || (CASE doc_id % 8
                     WHEN 0 THEN 'news.example.com'
                     WHEN 1 THEN 'cdn.news.example.com'
                     WHEN 2 THEN 'blog.sample.org'
                     WHEN 3 THEN 'sample.org'
                     WHEN 4 THEN 'ads.tracker.net'
                     WHEN 5 THEN 'shop.example.com'
                     WHEN 6 THEN 'WWW.News.Example.COM'
                     ELSE 'mirror.sample.org' END)
               || (CASE doc_id % 7
                     WHEN 0 THEN '/a/b/c'
                     WHEN 1 THEN '/cal/2024/'
                          || lpad(((doc_id % 12) + 1)::VARCHAR, 2, '0')
                          || '/' || ((doc_id % 28) + 1)::VARCHAR
                     WHEN 2 THEN '/x/y/x/y/x'
                     WHEN 3 THEN '/d1/d2/d3/d4/d5/d6/d7/d8/d9'
                     WHEN 4 THEN '/s/' || lpad(doc_id::VARCHAR, 12, '0')
                     WHEN 5 THEN '/long/' || repeat('ab', 120)
                     ELSE '/q?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7' END)
        END AS url
      FROM documents)
"""


def _crawl_fixture(docs: DataFrame) -> DataFrame:
    """Spark twin of `_CRAWL_FIXTURE_SQL` (same arithmetic, same literals)."""
    d = F.col("doc_id")
    host = (
        F.when(d % 8 == 0, "news.example.com")
        .when(d % 8 == 1, "cdn.news.example.com")
        .when(d % 8 == 2, "blog.sample.org")
        .when(d % 8 == 3, "sample.org")
        .when(d % 8 == 4, "ads.tracker.net")
        .when(d % 8 == 5, "shop.example.com")
        .when(d % 8 == 6, "WWW.News.Example.COM")
        .otherwise("mirror.sample.org")
    )
    path = (
        F.when(d % 7 == 0, F.lit("/a/b/c"))
        .when(
            d % 7 == 1,
            F.concat(
                F.lit("/cal/2024/"),
                F.lpad(((d % 12) + 1).cast("string"), 2, "0"),
                F.lit("/"),
                ((d % 28) + 1).cast("string"),
            ),
        )
        .when(d % 7 == 2, F.lit("/x/y/x/y/x"))
        .when(d % 7 == 3, F.lit("/d1/d2/d3/d4/d5/d6/d7/d8/d9"))
        .when(
            d % 7 == 4,
            F.concat(F.lit("/s/"), F.lpad(d.cast("string"), 12, "0")),
        )
        .when(d % 7 == 5, F.lit("/long/" + "ab" * 120))
        .otherwise(F.lit("/q?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7"))
    )
    url = (
        F.when(d % 13 == 0, F.lit("not a url"))
        .when(d % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("https://"), host, path))
    )
    return docs.select(d.alias("id"), url.alias("url"))


# shared SQL twins over the canonicalized relation `cf_c` — each gate
# family gets exactly ONE replay, used by its standalone query AND the
# admission composite (the `_url_canon_ctes` single-twin rule).
_TRAP_M_CTES = f"""
    sg AS (
      SELECT id, canon_url,
        list_filter(string_split(
          regexp_extract(canon_url, '{_URLRE}', 3), '/'), s -> s <> '') AS segs,
        regexp_extract(canon_url, '{_URLRE}', 3) AS path,
        regexp_extract(canon_url, '{_URLRE}', 4) AS q
      FROM cf_c),
    m AS (
      SELECT id, canon_url,
        len(segs)::BIGINT AS depth,
        coalesce(list_max(list_transform(list_distinct(segs),
          d -> len(list_filter(segs, s -> s = d)))), 0)::BIGINT AS max_repeat,
        length(path)::BIGINT AS path_len,
        len(list_filter(string_split(q, '&'), p -> p <> ''))::BIGINT
          AS n_params,
        len(list_filter(segs, s -> regexp_matches(s,
          '^[0-9a-fA-F]{{16,}}$|^[0-9]{{10,}}$'))) > 0 AS session_flag
      FROM sg)"""

_TRAP_VERDICT = """CASE WHEN depth > 8 THEN 'deep_path'
           WHEN max_repeat > 2 THEN 'repeat_segments'
           WHEN path_len > 200 THEN 'long_path'
           WHEN n_params > 6 THEN 'query_explosion'
           WHEN session_flag THEN 'session_id'
           ELSE 'ok' END"""


def _block_ctes(blocklist: list[str]) -> str:
    """CTE chain replaying `urls.host_blocklist_gate` over ``cf_c`` →
    ``blk(id, canon_url, host, hits)``."""
    lits = ", ".join(f"'{b}'" for b in sorted(blocklist))
    return f"""
    bsf AS (
      SELECT id, canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host
      FROM cf_c),
    bsx AS (
      SELECT *, list_transform(
        generate_series(1, len(string_split(host, '.'))),
        i -> array_to_string(list_slice(string_split(host, '.'), i,
               len(string_split(host, '.'))), '.')) AS suffixes
      FROM bsf),
    blk AS (
      SELECT id, canon_url, host,
        list_sort(list_filter([{lits}],
          e -> list_contains(suffixes, e))) AS hits
      FROM bsx)"""


@register(
    "url_trap_flags",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    {_TRAP_M_CTES}
    SELECT id, canon_url, depth, max_repeat, path_len, n_params, session_flag,
      {_TRAP_VERDICT} AS verdict
    FROM m ORDER BY id
    """,
)
def url_trap_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap URL gating (`urls.url_trap_flags`) over the crawl
    fixture: calendar paths pass, segment loops / 9-deep paths / minted
    session tokens / 246-char paths / 7-param queries each trip their
    dedicated first-fail verdict.  Map-only, zero shuffle, zero UDF; the
    per-URL segment-multiplicity scan, regexes, and verdict CASE all
    replay in SQL.  Junk/NULL URLs → '' (depth 0, 'ok') and survive."""
    from mistral_ocr_pipeline_spark.operators.urls import url_trap_flags

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    return url_trap_flags(u, "id", "url").orderBy("id")


@register(
    "url_template_stats",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    t AS (
      SELECT regexp_replace(regexp_replace(
               regexp_extract(canon_url, '{_URLRE}', 2)
                 || regexp_extract(canon_url, '{_URLRE}', 3),
               '[0-9a-fA-F]{{8,}}', '{{h}}', 'g'),
             '[0-9]+', '{{n}}', 'g') AS template,
             canon_url
      FROM cf_c)
    SELECT template, count(*)::BIGINT AS n_docs,
           count(DISTINCT canon_url)::BIGINT AS n_pages
    FROM t GROUP BY template ORDER BY template
    """,
)
def url_template_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-template fan-out mining (`urls.url_template_stats`): hex runs →
    '{h}' then digit runs → '{n}' over host+path, so every calendar date
    and session token collapses to one template row whose n_pages exposes
    the trap-level fan-out no single-URL gate can see.  ONE map-side-
    combined groupBy on the template key; rewrite order (hex first)
    replayed exactly in SQL."""
    from mistral_ocr_pipeline_spark.operators.urls import url_template_stats

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    return url_template_stats(u, "id", "url").orderBy("template")


@register(
    "crawl_politeness_waves",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    fr AS (
      SELECT canon_url, max((id * 37) % 101)::BIGINT AS priority
      FROM cf_c GROUP BY canon_url),
    r AS (
      SELECT canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host, priority,
        row_number() OVER (
          PARTITION BY regexp_extract(canon_url, '{_URLRE}', 2)
          ORDER BY priority DESC, canon_url)::BIGINT AS host_rank
      FROM fr)
    SELECT canon_url, host, priority, host_rank,
           ((host_rank - 1) // 2)::BIGINT AS wave
    FROM r ORDER BY host, host_rank
    """,
)
def crawl_politeness_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl waves (`urls.crawl_politeness_waves`):
    the deduped frontier (max-priority copy per canonical URL) is ranked
    within each host under the TOTAL (priority DESC, canon_url) order and
    cut into waves of ≤2 fetches per host — the per-host rate cap of a
    polite fetcher as a deterministic, rerun-invariant batch schedule.
    Frontier dedup is one map-side-combinable max; the per-host window IS
    the politeness semantics (a host's fetch order is inherently
    sequential)."""
    from mistral_ocr_pipeline_spark.operators.urls import (
        canonicalize_url,
        crawl_politeness_waves,
    )

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    frontier = (
        u.select(
            canonicalize_url(F.col("url")).alias("canon_url"),
            ((F.col("id") * 37) % 101).cast("long").alias("priority"),
        )
        .groupBy("canon_url")
        .agg(F.max("priority").alias("priority"))
    )
    return crawl_politeness_waves(
        frontier, "canon_url", "priority", per_wave=2
    ).orderBy("host", "host_rank")


@register(
    "url_blocklist_gate",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    {_block_ctes(['example.com', 'tracker.net', 'mirror.sample.org'])}
    SELECT id, canon_url, host,
           CASE WHEN len(hits) > 0 THEN hits[1] END AS blocked_by,
           len(hits) = 0 AS kept
    FROM blk ORDER BY id
    """,
)
def url_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain-blocklist gating (`urls.host_blocklist_gate`) with
    parent-domain suffix semantics: 'example.com' blocks news/cdn/shop
    subdomains AND the WWW-case alias (matching happens after
    canonicalization), 'mirror.sample.org' blocks only the exact host
    while sample.org/blog.sample.org stay, junk/NULL URLs ('' host) pass.
    The per-host dot-suffix expansion, overlap, and first-match
    attribution replay in SQL.  Map-only, zero shuffle."""
    from mistral_ocr_pipeline_spark.operators.urls import host_blocklist_gate

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    return host_blocklist_gate(
        u, "id", "url", ["example.com", "tracker.net", "mirror.sample.org"]
    ).orderBy("id")


@register(
    "crawl_change_rate",
    oracle=f"""
    WITH {_URL_FIXTURE_SQL},
    v AS (
      SELECT id, url, ((id * 37) % 101)::BIGINT AS ts,
        'c' || (id % 5)::VARCHAR || '-' || (id % 40)::VARCHAR || '-'
          || (CASE WHEN id % 6 < 3 THEN 'q' ELSE 'p' END)
          || (CASE WHEN id % 11 = 0 THEN '!' ELSE '' END) AS content
      FROM u),
    {_url_canon_ctes('v')},
    f AS (
      SELECT id, ts, canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host,
        md5(coalesce(content, '')) AS fp
      FROM v_c),
    l AS (
      SELECT host, canon_url,
        lag(fp) OVER (PARTITION BY canon_url ORDER BY ts, id) AS pfp, fp
      FROM f),
    g AS (
      SELECT host, count(*)::BIGINT AS n_fetches,
        count(DISTINCT canon_url)::BIGINT AS n_pages,
        sum(CASE WHEN pfp IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
          AS n_recrawls,
        sum(CASE WHEN pfp IS NOT NULL AND fp <> pfp THEN 1 ELSE 0 END)
          ::BIGINT AS n_changed
      FROM l GROUP BY host),
    r AS (
      SELECT *, (CASE WHEN n_recrawls > 0
                      THEN n_changed * 1000000 // n_recrawls
                      ELSE 0 END)::BIGINT AS change_rate_micro
      FROM g)
    SELECT host, n_fetches, n_pages, n_recrawls, n_changed,
           change_rate_micro,
           CASE WHEN n_recrawls = 0 THEN 'static'
                WHEN change_rate_micro > 500000 THEN 'hot'
                WHEN change_rate_micro > 100000 THEN 'warm'
                ELSE 'cold' END AS bucket
    FROM r ORDER BY host
    """,
)
def crawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-recrawl freshness telemetry (`urls.recrawl_change_stats`)
    over the messy-URL fixture with synthetic page content that is stable
    per canonical page except for a deterministic 1-in-11 changed fetch:
    consecutive fetches per canonical URL compare md5 fingerprints under
    the TOTAL (ts, id) order, hosts roll up to change rates in BIGINT
    micro-units and hot/warm/cold/static revisit tiers.  The lag window,
    rollup, integer rate, and tier CASE all replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.urls import (
        recrawl_change_stats,
    )

    d = F.col("id")
    v = _url_fixture(_t(spark, sf_dir, "documents")).select(
        "id",
        "url",
        ((d * 37) % 101).cast("long").alias("ts"),
        F.concat(
            F.lit("c"),
            (d % 5).cast("string"),
            F.lit("-"),
            (d % 40).cast("string"),
            F.lit("-"),
            F.when(d % 6 < 3, "q").otherwise("p"),
            F.when(d % 11 == 0, "!").otherwise(""),
        ).alias("content"),
    )
    return recrawl_change_stats(v, "id", "url", "ts", "content").orderBy(
        "host"
    )


# per-host robots.txt fixture exercising every grammar branch: multi-group
# files (rules between user-agent lines split groups), consecutive
# user-agent lines forming ONE group, non-star-only groups, empty Disallow
# (allow-everything), full-site disallow, comments, and an equal-length
# allow/disallow tie.
_ROBOTS_TXT = {
    "news.example.com": (
        "Sitemap: https://news.example.com/sitemap.xml\n"
        "User-agent: *\nDisallow: /cal/\nAllow: /cal/2024/\n"
        "Crawl-delay: 2\n\n"
        "User-agent: badbot\nDisallow: /\n"
        "Sitemap: https://news.example.com/sitemap-archive.xml"
    ),
    "cdn.news.example.com": (
        "User-agent: badbot\nUser-agent: *\n"
        "Disallow: /s/\nAllow: /s/public/"
    ),
    # non-star group: its rules AND its Crawl-delay must be ignored
    "blog.sample.org": "User-agent: googlebot\nDisallow: /x/\nCrawl-delay: 7\nsitemap: https://blog.sample.org/sm.xml",
    "sample.org": "User-agent: *\nDisallow:\nCrawl-delay: 10",
    # junk delay value: dropped by the numeric cast, never a crash
    "ads.tracker.net": "User-agent: *\nDisallow: /\nCrawl-delay: fast",
    "shop.example.com": (
        "# corpus etiquette\nUser-agent: *\nAllow: /long/\nDisallow: /long/"
        "\nCrawl-delay: 1"
    ),
    "mirror.sample.org": (
        "User-agent: *\nDisallow: /d1/d2\n\nUser-agent: *\nDisallow: /q"
    ),
}


def _robots_fixture_sql() -> str:
    """VALUES-list CTE `rb(host, robots_txt)` with newlines as chr(10)."""

    def lit(t: str) -> str:
        return (
            "'"
            + t.replace("'", "''").replace("\n", "' || chr(10) || '")
            + "'"
        )

    rows = ", ".join(
        f"('{h}', {lit(t)})" for h, t in sorted(_ROBOTS_TXT.items())
    )
    return f"rb(host, robots_txt) AS (VALUES {rows})"


# SQL replay of `robots.robots_txt_rules`: line posexplode, comment strip,
# key/value split, the group state machine as windows, star-group filter.
_ROBOTS_RULES_CTES = f"""
    {_robots_fixture_sql()},
    rln AS (
      SELECT host, string_split(robots_txt, chr(10)) AS ls FROM rb),
    rl2 AS (
      SELECT host, unnest(generate_series(1, len(ls))) AS idx, ls FROM rln),
    rkv AS (
      SELECT host, idx,
        lower(trim(split_part(trim(regexp_replace(ls[idx], '#.*$', '')),
                              ':', 1))) AS key,
        trim(regexp_replace(trim(regexp_replace(ls[idx], '#.*$', '')),
                            '^[^:]*:', '')) AS val
      FROM rl2),
    rp AS (
      SELECT host, idx, key, key = 'user-agent' AS is_ua, val
      FROM rkv WHERE key = 'user-agent'
         OR key IN ('allow', 'disallow', 'crawl-delay')),
    rg0 AS (
      SELECT *, CASE WHEN is_ua AND NOT coalesce(
          lag(is_ua) OVER (PARTITION BY host ORDER BY idx), false)
          THEN 1 ELSE 0 END AS new_group
      FROM rp),
    rg AS (
      SELECT *, sum(new_group)
        OVER (PARTITION BY host ORDER BY idx ROWS UNBOUNDED PRECEDING)
        AS group_id
      FROM rg0),
    rs AS (
      SELECT *, max(CASE WHEN is_ua AND val = '*' THEN 1 ELSE 0 END)
        OVER (PARTITION BY host, group_id) AS star
      FROM rg),
    rules AS (
      SELECT host, val AS path, key = 'allow' AS allow,
             length(val)::BIGINT AS rule_len
      FROM rs WHERE key IN ('allow', 'disallow') AND star = 1
        AND val <> ''),
    dly AS (
      SELECT host, max(try_cast(val AS BIGINT)) AS crawl_delay
      FROM rs WHERE key = 'crawl-delay' AND star = 1
        AND try_cast(val AS BIGINT) IS NOT NULL
      GROUP BY host)
"""


@register(
    "robots_sitemap_urls",
    oracle=f"""
    WITH {_robots_fixture_sql()},
    smln AS (
      SELECT host, string_split(robots_txt, chr(10)) AS ls FROM rb),
    sml2 AS (
      SELECT host, unnest(generate_series(1, len(ls)))::INT AS line_idx, ls
      FROM smln),
    smkv AS (
      SELECT host, line_idx,
        trim(regexp_replace(ls[line_idx], '#.*$', '')) AS ln
      FROM sml2)
    SELECT host, line_idx,
           trim(regexp_replace(ln, '^[^:]*:', '')) AS sitemap_url
    FROM smkv
    WHERE lower(trim(split_part(ln, ':', 1))) = 'sitemap'
    ORDER BY host, line_idx
    """,
)
def robots_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt
    (`robots.robots_sitemap_directives`): the host-global, group-
    independent ``Sitemap:`` lines (case-insensitive key, value case
    preserved, multiple per file) — the missing first link of the
    sitemap chain (directive → fetch → `sitemap_entries` →
    `sitemap_recrawl_queue`).  Map-only; the oracle replays the line
    explode, comment strip, and key match."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_sitemap_directives,
    )

    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    return robots_sitemap_directives(rb).orderBy("host", "line_idx")


@register(
    "robots_txt_rules",
    oracle=f"""
    WITH {_ROBOTS_RULES_CTES}
    SELECT host, path, allow, rule_len FROM rules
    ORDER BY host, path, allow
    """,
)
def robots_txt_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing (`robots.robots_txt_rules`) over the per-host
    fixture: comment stripping, key/value split, the user-agent GROUP
    state machine (consecutive UA lines = one group; UA after rules = new
    group) as pure window expressions, star-group filtering, empty-
    Disallow suppression.  The whole parser replays in SQL."""
    from mistral_ocr_pipeline_spark.operators.robots import robots_txt_rules

    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    return robots_txt_rules(rb).orderBy("host", "path", "allow")


@register(
    "robots_txt_fetch_gate",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    {_ROBOTS_RULES_CTES},
    u AS (
      SELECT id, canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host,
        regexp_extract(canon_url, '{_URLRE}', 3) AS path
      FROM cf_c),
    h AS (
      SELECT u.id,
        max({{'l': r.rule_len, 'a': r.allow, 'p': r.path}}) AS b
      FROM u JOIN rules r
        ON u.host = r.host AND starts_with(u.path, r.path)
      GROUP BY u.id)
    SELECT u.id, u.canon_url, u.host,
           b.p AS matched_rule, b.a AS rule_allow,
           coalesce(b.a, true) AS fetch_allowed
    FROM u LEFT JOIN h ON u.id = h.id ORDER BY u.id
    """,
)
def robots_txt_fetch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-side robots compliance (`robots.robots_txt_gate`) under RFC
    9309 precedence over the crawl fixture: longest-prefix rule wins
    ('/cal/2024/…' escapes the '/cal/' disallow via the longer Allow),
    equal-length allow/disallow ties go to ALLOW (shop's /long/ pair),
    full-site Disallow blocks every ads.tracker.net URL, a
    googlebot-only group gates nothing for '*', empty Disallow allows
    all of sample.org, and junk/NULL URLs ('' host, no robots row) stay
    fetchable.  Broadcast join on host + one max(struct) per URL."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_txt_gate,
        robots_txt_rules,
    )

    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    return robots_txt_gate(
        u, robots_txt_rules(rb), "id", "url"
    ).orderBy("id")


@register(
    "robots_crawl_delays",
    oracle=f"""
    WITH {_ROBOTS_RULES_CTES}
    SELECT host, crawl_delay FROM dly ORDER BY host
    """,
)
def robots_crawl_delays_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay extraction (`robots.robots_crawl_delays`) from the
    robots fixture: star groups only (blog's googlebot-group delay is
    ignored), non-numeric values drop via the cast (ads' 'fast'),
    multiple star groups take the conservative max.  The directive rides
    the same group state machine as the path rules — a crawl-delay line
    terminates a user-agent run, which the shared grouping already
    honors."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_crawl_delays,
    )

    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    return robots_crawl_delays(rb).orderBy("host")


@register(
    "crawl_politeness_rated",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    {_ROBOTS_RULES_CTES},
    fr AS (
      SELECT canon_url, max((id * 37) % 101)::BIGINT AS priority
      FROM cf_c WHERE canon_url <> '' GROUP BY canon_url),
    fh AS (
      SELECT canon_url, priority,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host
      FROM fr),
    rt AS (
      SELECT host, greatest(1, 4 - crawl_delay)::BIGINT AS per_wave
      FROM dly),
    fj AS (
      SELECT fh.canon_url, fh.host, fh.priority,
        coalesce(rt.per_wave, 2)::BIGINT AS per_wave
      FROM fh LEFT JOIN rt ON fh.host = rt.host),
    rk AS (
      SELECT *, row_number() OVER (
          PARTITION BY host ORDER BY priority DESC, canon_url)::BIGINT
          AS host_rank
      FROM fj)
    SELECT canon_url, host, priority, host_rank, per_wave,
           ((host_rank - 1) // per_wave)::BIGINT AS wave
    FROM rk ORDER BY host, host_rank
    """,
)
def crawl_politeness_rated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay-aware politeness scheduling
    (`urls.crawl_politeness_waves_rated`): per-host wave budgets derive
    from `robots_crawl_delays` as greatest(1, 4 − delay) — sample.org's
    delay-10 host serializes to 1 fetch/wave, news.example.com's delay-2
    gets 2, shop's delay-1 gets 3, hosts without the directive take the
    default 2.  Rate table is host-cardinality (broadcast join); the
    window semantics match the unrated form."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_crawl_delays,
    )
    from mistral_ocr_pipeline_spark.operators.urls import (
        canonicalize_url,
        crawl_politeness_waves_rated,
    )

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    frontier = (
        u.select(
            canonicalize_url(F.col("url")).alias("canon_url"),
            ((F.col("id") * 37) % 101).cast("long").alias("priority"),
        )
        .filter(F.col("canon_url") != "")
        .groupBy("canon_url")
        .agg(F.max("priority").alias("priority"))
    )
    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    rates = robots_crawl_delays(rb).select(
        "host",
        F.greatest(F.lit(1), F.lit(4) - F.col("crawl_delay"))
        .cast("long")
        .alias("per_wave"),
    )
    return crawl_politeness_waves_rated(
        frontier, "canon_url", "priority", rates, default_per_wave=2
    ).orderBy("host", "host_rank")


@register(
    "crawl_admission_pipeline",
    oracle=f"""
    WITH {_CRAWL_FIXTURE_SQL},
    {_url_canon_ctes('cf')},
    {_TRAP_M_CTES},
    {_block_ctes(['mirror.sample.org'])},
    {_ROBOTS_RULES_CTES},
    ru AS (
      SELECT id, canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host,
        regexp_extract(canon_url, '{_URLRE}', 3) AS path
      FROM cf_c),
    rh AS (
      SELECT ru.id,
        max({{'l': r.rule_len, 'a': r.allow, 'p': r.path}}) AS b
      FROM ru JOIN rules r
        ON ru.host = r.host AND starts_with(ru.path, r.path)
      GROUP BY ru.id),
    rgate AS (
      SELECT ru.id, coalesce(b.a, true) AS fetch_allowed
      FROM ru LEFT JOIN rh ON ru.id = rh.id),
    adm AS (
      SELECT m.id, m.canon_url
      FROM m JOIN blk ON m.id = blk.id JOIN rgate ON m.id = rgate.id
      WHERE ({_TRAP_VERDICT}) = 'ok' AND len(blk.hits) = 0
        AND rgate.fetch_allowed AND m.canon_url <> ''),
    fr AS (
      SELECT canon_url, max((id * 37) % 101)::BIGINT AS priority
      FROM adm GROUP BY canon_url),
    rk AS (
      SELECT canon_url,
        regexp_extract(canon_url, '{_URLRE}', 2) AS host, priority,
        row_number() OVER (
          PARTITION BY regexp_extract(canon_url, '{_URLRE}', 2)
          ORDER BY priority DESC, canon_url)::BIGINT AS host_rank
      FROM fr)
    SELECT canon_url, host, priority, host_rank,
           ((host_rank - 1) // 2)::BIGINT AS wave
    FROM rk ORDER BY host, host_rank
    """,
)
def crawl_admission_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full frontier-admission composite in ONE plan: spider-trap gate →
    domain blocklist → robots.txt fetch gate → frontier dedup (max
    priority per canonical URL) → politeness waves.  Every gate is
    independently live on the fixture: traps cut the loop/session/deep/
    long/query path shapes, the blocklist removes mirror.sample.org
    (which robots ALLOWS — the two gates are not redundant), robots'
    full-site Disallow removes ads.tracker.net and its longest-match
    Allow is what keeps news.example.com's calendar URLs in the
    schedule.  All three gate replays + the scheduling window chain into
    one SQL oracle via the shared CTE templates (single-twin rule)."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_txt_gate,
        robots_txt_rules,
    )
    from mistral_ocr_pipeline_spark.operators.urls import (
        crawl_politeness_waves,
        host_blocklist_gate,
        url_trap_flags,
    )

    u = _crawl_fixture(_t(spark, sf_dir, "documents"))
    trap_ok = (
        url_trap_flags(u, "id", "url")
        .filter((F.col("verdict") == "ok") & (F.col("canon_url") != ""))
        .select("id", "canon_url")
    )
    block_ok = (
        host_blocklist_gate(u, "id", "url", ["mirror.sample.org"])
        .filter("kept")
        .select("id")
    )
    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    robots_ok = (
        robots_txt_gate(u, robots_txt_rules(rb), "id", "url")
        .filter("fetch_allowed")
        .select("id")
    )
    frontier = (
        trap_ok.join(block_ok, "id")
        .join(robots_ok, "id")
        .select(
            "canon_url",
            ((F.col("id") * 37) % 101).cast("long").alias("priority"),
        )
        .groupBy("canon_url")
        .agg(F.max("priority").alias("priority"))
    )
    return crawl_politeness_waves(
        frontier, "canon_url", "priority", per_wave=2
    ).orderBy("host", "host_rank")


# deterministic sitemap + crawl-state fixtures, generated ONCE in Python
# and inlined verbatim on both engine sides (the robots-fixture
# discipline): 5 hosts × 8 sitemap entries (mixed-case locs so
# canonicalization is live; every 3rd entry omits <lastmod>), crawl state
# covering 3 of every 4 pages with an arithmetic last-crawl date.
def _sitemap_fixture() -> list[tuple[str, str]]:
    rows = []
    for h in range(5):
        parts = []
        for i in range(8):
            k = h + i * 5
            lm = (
                ""
                if k % 3 == 2
                else f"<lastmod>2024-01-{(k % 20) + 1:02d}</lastmod>"
            )
            parts.append(
                f"<url><loc>https://site{h}.Example.com/docs/{k}</loc>"
                f"{lm}</url>"
            )
        rows.append((f"site{h}.example.com", "".join(parts)))
    return rows


def _crawl_state_fixture() -> list[tuple[str, str]]:
    return [
        (
            f"https://site{k % 5}.example.com/docs/{k}",
            f"2024-01-{((k * 7) % 20) + 1:02d}",
        )
        for k in range(40)
        if k % 4 != 3
    ]


def _values_cte(name: str, cols: str, rows: list[tuple[str, str]]) -> str:
    def lit(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    body = ", ".join(f"({lit(a)}, {lit(b)})" for a, b in rows)
    return f"{name}({cols}) AS (VALUES {body})"


@register(
    "sitemap_recrawl_queue",
    oracle=f"""
    WITH {_values_cte('sm', 'host, sitemap_xml', _sitemap_fixture())},
    {_values_cte('cs', 'canon_url, last_crawl', _crawl_state_fixture())},
    bl AS (
      SELECT host, unnest(regexp_extract_all(sitemap_xml,
        '<url>(.*?)</url>', 1)) AS block
      FROM sm),
    e0 AS (
      SELECT host,
        regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS url,
        regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod
      FROM bl),
    {_url_canon_ctes('e0')},
    j AS (
      SELECT e.canon_url, e.host, e.lastmod, cs.last_crawl,
        CASE WHEN cs.last_crawl IS NULL THEN 'new'
             WHEN e.lastmod = '' THEN 'unknown'
             WHEN e.lastmod > cs.last_crawl THEN 'changed'
             ELSE 'fresh' END AS reason
      FROM e0_c e LEFT JOIN cs ON e.canon_url = cs.canon_url)
    SELECT canon_url, host, lastmod, last_crawl, reason,
           reason IN ('new', 'changed') AS queue
    FROM j ORDER BY canon_url
    """,
)
def sitemap_recrawl_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven recrawl queueing (`urls.sitemap_entries` +
    `urls.sitemap_recrawl_queue`): publisher sitemaps parse scan-level
    (non-greedy <url> blocks, optional <lastmod>), locs canonicalize
    through the shared URL twin (mixed-case hosts in the fixture), and
    each page queues as new / changed / fresh / unknown against the
    crawl state under ISO-string date comparison.  One equi-join on the
    canonical-URL key; parse + canonicalization + policy CASE all replay
    in SQL."""
    from mistral_ocr_pipeline_spark.operators.urls import (
        sitemap_entries,
        sitemap_recrawl_queue,
    )

    sm = spark.createDataFrame(
        _sitemap_fixture(), "host string, sitemap_xml string"
    )
    cs = spark.createDataFrame(
        _crawl_state_fixture(), "canon_url string, last_crawl string"
    )
    return sitemap_recrawl_queue(sitemap_entries(sm), cs).orderBy(
        "canon_url"
    )


# deterministic mirror fixture (python-generated, inlined on both sides):
# m2 fully mirrors m1's 10 pages, m3 carries half, u.org is unrelated, one
# boilerplate page sits on ALL hosts (pairing-capped out), and m1 has one
# recrawl duplicate (distinct collapse).
def _mirror_fixture() -> list[tuple[str, str]]:
    rows = []
    for k in range(10):
        rows.append(("m1.com", f"d{k}"))
        rows.append(("m2.com", f"d{k}"))
    for k in range(5):
        rows.append(("m3.com", f"d{k}"))
    for k in range(8):
        rows.append(("u.org", f"u{k}"))
    for h in ("m1.com", "m2.com", "m3.com", "u.org"):
        rows.append((h, "empty"))
    rows.append(("m1.com", "d0"))  # recrawl dup
    return rows


@register(
    "host_mirror_pairs",
    oracle=f"""
    WITH {_values_cte('mp', 'host, text', _mirror_fixture())},
    fps AS (
      SELECT DISTINCT host, md5(coalesce(text, '')) AS fp FROM mp),
    sizes AS (
      SELECT host, count(*)::BIGINT AS n_fp FROM fps GROUP BY host),
    spread AS (
      SELECT fp, count(*)::BIGINT AS n_hosts FROM fps GROUP BY fp),
    pairable AS (
      SELECT fps.host, fps.fp FROM fps JOIN spread USING (fp)
      WHERE n_hosts >= 2 AND n_hosts <= 3),
    shared AS (
      SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS shared
      FROM pairable a JOIN pairable b
        ON a.fp = b.fp AND a.host < b.host
      GROUP BY a.host, b.host)
    SELECT s.host_a, s.host_b, s.shared,
           sa.n_fp AS n_a, sb.n_fp AS n_b,
           (s.shared * 1000000 // (sa.n_fp + sb.n_fp - s.shared))::BIGINT
             AS jaccard_micro
    FROM shared s
    JOIN sizes sa ON s.host_a = sa.host
    JOIN sizes sb ON s.host_b = sb.host
    ORDER BY host_a, host_b
    """,
)
def host_mirror_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (`urls.host_mirror_pairs`) over the mirror
    fixture: the full mirror scores Jaccard 10/12, the half mirror 5/12,
    the unrelated host pairs with nobody (its only shared page is the
    all-hosts boilerplate, which the spread cap (3) excludes from
    pairing while still counting in host sizes), and m1's recrawl
    duplicate collapses in the distinct pass.  Digest-keyed throughout;
    the cap, distinct collapse, pair fold, and integer Jaccard all
    replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.urls import host_mirror_pairs

    mp = spark.createDataFrame(_mirror_fixture(), "host string, text string")
    return host_mirror_pairs(
        mp, "host", "text", max_hosts_per_fp=3
    ).orderBy("host_a", "host_b")


@register(
    "text_soft_dedup_weights",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks
          FROM u),
    g AS (SELECT id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 0)),
            i -> array_to_string(toks[i:i+2], ' ')))) AS gram
          FROM t),
    fr AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
    p AS (SELECT id, count(*) AS n_grams, sum(df) AS df_sum
          FROM g JOIN fr USING (gram) GROUP BY id),
    w AS (SELECT u.id,
            coalesce(n_grams, 0)::BIGINT AS n_grams,
            (CASE WHEN coalesce(n_grams, 0) > 0
                  THEN df_sum * 1000000 // n_grams
                  ELSE 1000000 END)::BIGINT AS commonness_micro
          FROM u LEFT JOIN p USING (id))
    SELECT id, n_grams, commonness_micro,
           (1000000000000 // commonness_micro)::BIGINT AS weight_micro
    FROM w ORDER BY id
    """,
)
def text_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting (`text_analysis.soft_dedup_weights`) over a
    fixture with exact clones (doc_id % 9): removal-free dedup — each
    doc's sampling weight is 1e12 div its mean-gram-document-frequency in
    micro-units, so a k-way-cloned doc carries ~1/k mass while partially
    common docs land in between.  Digest doc-frequency, join-back, and
    both integer divisions replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        soft_dedup_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    u = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 1000000).alias("id"), "text"
        )
    )
    return soft_dedup_weights(u, "id", "text", n=3).orderBy("id")


@register(
    "neardup_keep_best",
    oracle=f"""
    WITH RECURSIVE
    u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, regexp_replace(text, '^\\w+', 'changed')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c='text')}, ' ') AS toks FROM u),
    g AS (SELECT id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, greatest(len(toks) - 1, 1))])
                     AS grams
          FROM t),
    sz AS (SELECT id, len(grams) AS n FROM g),
    e AS (SELECT id, unnest(grams) AS gram FROM g),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM e a JOIN e b ON a.gram = b.gram AND a.id < b.id
              GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
      WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT id AS node, id AS lbl FROM u
      UNION
      SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node),
    comp AS (SELECT node AS id, min(lbl) AS cluster FROM reach GROUP BY node),
    m AS (SELECT comp.id, comp.cluster, length(u.text)::BIGINT AS score
          FROM comp JOIN u USING (id)),
    b AS (SELECT cluster, max({{'s': score, 'ni': -id}}) AS bb
          FROM m GROUP BY cluster),
    b2 AS (SELECT cluster, (-(bb.ni))::BIGINT AS kept_id, bb.s AS kept_score
           FROM b)
    SELECT m.id, m.cluster, m.score, m.id = b2.kept_id AS is_kept,
           b2.kept_id, b2.kept_score
    FROM m JOIN b2 USING (cluster) ORDER BY m.id
    """,
)
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup curation: the `neardup_curation` chain
    (LSH pairs → exact-Jaccard verify ≥0.5 → connected components) but
    the kept copy per cluster is the argmax text LENGTH (ties → lowest
    id) via `dedup.cluster_keep_best` — prefix-mutated clones that grew
    longer than their original DISPLACE it as canonical, which the min-id
    rule can never do.  All four stages (pairs, closure, argmax fold,
    join-back) replay in one recursive SQL oracle."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        cluster_keep_best,
        connected_components,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\w+", "changed").alias("text"),
    )
    u = docs.select("doc_id", "text").unionAll(clones)
    pairs = minhash_lsh_pairs(
        u, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    nodes = u.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, pairs)
    scores = u.select(
        F.col("doc_id").alias("id"), F.length("text").cast("long").alias("score")
    )
    return cluster_keep_best(comp, scores).orderBy("id")


# --------------------------------------------------------------------------
# license filtering (operators/text_analysis.license_tags)
# --------------------------------------------------------------------------
from mistral_ocr_pipeline_spark.operators.text_analysis import (  # noqa: E402
    LICENSE_PATTERNS as _LIC_PATS,
    RESTRICTIVE_LICENSES as _LIC_RESTRICT,
)

# one pattern source for BOTH engines: the SQL fragments are generated
# from the same constants the Spark operator compiles
_LIC_BOOLS_SQL = ",\n             ".join(
    f"regexp_matches(low, '{p}') AS has_{t}" for t, p in _LIC_PATS
)
_LIC_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN has_{t} THEN '{t}'" for t, _ in _LIC_PATS)
    + " ELSE 'none' END"
)
_LIC_RESTRICT_SQL = ", ".join(f"'{t}'" for t in _LIC_RESTRICT)

_LIC_FIXTURE_SQL = """
    u AS (
      SELECT doc_id AS id,
             text || CASE doc_id % 9
               WHEN 0 THEN ' Licensed under CC-BY 4.0.'
               WHEN 1 THEN ' licensed cc-by-sa 3.0'
               WHEN 2 THEN ' CC-BY-NC restricted use'
               WHEN 3 THEN ' This work is in the public domain.'
               WHEN 4 THEN ' Released under the MIT License.'
               WHEN 5 THEN ' Apache License, Version 2.0'
               WHEN 6 THEN ' GNU General Public License v3'
               WHEN 7 THEN ' All Rights Reserved.'
               ELSE '' END AS text
      FROM documents)
"""


@register(
    "text_license_tags",
    oracle=f"""
    WITH {_LIC_FIXTURE_SQL},
    l AS (SELECT id, lower(coalesce(text, '')) AS low FROM u),
    f AS (SELECT id,
             {_LIC_BOOLS_SQL}
          FROM l),
    lab AS (SELECT *, {_LIC_CASE_SQL} AS license FROM f)
    SELECT *, license NOT IN ({_LIC_RESTRICT_SQL}) AS keep_for_training
    FROM lab ORDER BY id
    """,
)
def text_license_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-marker detection + permissive-only keep verdict
    (`text_analysis.license_tags`, The Stack-style license gate) over a
    fixture appending one marker sentence per doc_id % 9 class: honest
    substring booleans per family, a most-restrictive-first label, and
    keep = not NC / all-rights-reserved.  Scan-level regexps only; the
    SQL twin is GENERATED from the same pattern constants the operator
    compiles, so the two engines cannot drift."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import license_tags

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    marker = (
        F.when(d % 9 == 0, F.lit(" Licensed under CC-BY 4.0."))
        .when(d % 9 == 1, F.lit(" licensed cc-by-sa 3.0"))
        .when(d % 9 == 2, F.lit(" CC-BY-NC restricted use"))
        .when(d % 9 == 3, F.lit(" This work is in the public domain."))
        .when(d % 9 == 4, F.lit(" Released under the MIT License."))
        .when(d % 9 == 5, F.lit(" Apache License, Version 2.0"))
        .when(d % 9 == 6, F.lit(" GNU General Public License v3"))
        .when(d % 9 == 7, F.lit(" All Rights Reserved."))
        .otherwise(F.lit(""))
    )
    u = docs.select(d.alias("id"), F.concat("text", marker).alias("text"))
    return license_tags(u, "id", "text").orderBy("id")


# --------------------------------------------------------------------------
# greedy k-center coreset selection (operators/similarity.kcenter_select)
# --------------------------------------------------------------------------
def _kcenter_oracle_sql(k: int) -> str:
    """Unrolls all k greedy iterations as CTE stages: dist to the selected
    set via min over a CROSS JOIN, argmax pick ORDER BY dist DESC, id —
    every float op the same sequential fold the engine runs."""
    parts = [
        "c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,"
        " list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv"
        " FROM embeddings)",
        "sel1 AS (SELECT 1 AS r, id, v, vv FROM c ORDER BY id LIMIT 1)",
    ]
    union = [
        "SELECT r AS sel_rank, id AS vec_id, NULL::DOUBLE AS radius_r6"
        " FROM sel1"
    ]
    prev = "sel1"
    for i in range(2, k + 1):
        parts.append(
            f"d{i} AS (SELECT c.id,"
            " min(c.vv - 2 * list_dot_product(c.v, s.v) + s.vv) AS dist"
            f" FROM c CROSS JOIN {prev} s GROUP BY c.id)"
        )
        parts.append(
            f"p{i} AS (SELECT d.id, c.v, c.vv, d.dist"
            f" FROM d{i} d JOIN c USING (id)"
            f" WHERE d.id NOT IN (SELECT id FROM {prev})"
            " ORDER BY d.dist DESC, d.id LIMIT 1)"
        )
        parts.append(
            f"sel{i} AS (SELECT * FROM {prev}"
            f" UNION ALL SELECT {i}, id, v, vv FROM p{i})"
        )
        union.append(f"SELECT {i}, id, round(dist, 6) FROM p{i}")
        prev = f"sel{i}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(union)
        + " ORDER BY sel_rank"
    )


@register("coreset_kcenter", oracle=_kcenter_oracle_sql(6))
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity selection (`similarity.kcenter_select`,
    Gonzalez 2-approx) over the embeddings table, k=6: min-id seed, then
    argmax-of-min-squared-L2 picks with lowest-id ties, radii reported at
    selection time.  The oracle unrolls all six iterations as CTE stages
    with the same sequential-fold float semantics (fold_dot ≡
    list_dot_product) the trained IVF/PQ oracles rely on."""
    from mistral_ocr_pipeline_spark.operators.similarity import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, "vec_id", "embedding", k=6).orderBy("sel_rank")


# --------------------------------------------------------------------------
# KMV bottom-k sketch family (operators/sketches.kmv_*)
# --------------------------------------------------------------------------
_KMV_HASH_SQL = "('0x' || substring(md5('kmv:' || gram), 1, 13))::UBIGINT::BIGINT"
_KMV_GRAMS_SQL = (
    "w AS (SELECT string_split(" + _KEY.format(c="text") + ", ' ') AS ws"
    " FROM documents {where}),\n"
    "    g AS (SELECT DISTINCT unnest(list_transform("
    " generate_series(1, len(ws) - 2),"
    " i -> array_to_string(ws[i:i+2], ' '))) AS gram"
    " FROM w WHERE len(ws) >= 3)"
)


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH {_KMV_GRAMS_SQL.format(where="")},
    h AS (SELECT DISTINCT {_KMV_HASH_SQL} AS h FROM g),
    sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
    st AS (SELECT count(*)::BIGINT AS n_sketch, max(h) AS kth_hash FROM sk),
    ex AS (SELECT count(*)::BIGINT AS exact_distinct FROM h),
    est AS (
      SELECT n_sketch, kth_hash, exact_distinct,
             CASE WHEN n_sketch < 256 THEN n_sketch::DOUBLE
                  ELSE 1148417904979476480.0::DOUBLE / kth_hash END AS e
      FROM st CROSS JOIN ex)
    SELECT 256 AS k, n_sketch, kth_hash,
           round(e, 6) AS est_distinct_r6,
           exact_distinct,
           round(abs(e - exact_distinct) / exact_distinct, 6) AS rel_err_r6
    FROM est
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct sketch (`sketches.kmv_sketch`) over the
    corpus's distinct normalized 3-gram strings, k=256: the estimate
    itself — not just an error-envelope claim — value-oracles, because
    the sketch content is deterministic md5 (unlike HLL).  The exact
    distinct count rides along so the relative error is a hash-matched
    fact.  Scale shape: distinct collapses map-side over 8-byte digests;
    the TakeOrdered(k) moves ≤k longs per task."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        explode_grams,
        shingle_sets,
    )
    from mistral_ocr_pipeline_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    # the distinct-gram set feeds both the sketch and the exact witness —
    # persist the boundary so the shingle+distinct runs once
    g = (
        explode_grams(
            shingle_sets(docs, "doc_id", "text", 3, hashed=False),
            alias="gram",
        )
        .distinct()
        .persist()
    )
    est = kmv_estimate(kmv_sketch(g, "gram", k=256, salt="kmv"), k=256)
    exact = g.agg(F.count("gram").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(256).alias("k"),
        "n_sketch",
        "kth_hash",
        F.round("est_distinct", 6).alias("est_distinct_r6"),
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err_r6"),
    )


@register(
    "sketch_kmv_overlap",
    oracle=f"""
    WITH {_KMV_GRAMS_SQL.format(where="WHERE doc_id % 2 = 0")},
    {_KMV_GRAMS_SQL.format(where="WHERE doc_id % 2 = 1").replace("w AS", "w2 AS").replace("g AS", "g2 AS").replace("FROM w WHERE", "FROM w2 WHERE")},
    ha AS (SELECT DISTINCT {_KMV_HASH_SQL} AS h FROM g),
    hb AS (SELECT DISTINCT {_KMV_HASH_SQL} AS h FROM g2),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
    un AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
           ORDER BY h LIMIT 256),
    st AS (SELECT count(*)::BIGINT AS n_union_sketch, max(h) AS kth_hash
           FROM un),
    ib AS (SELECT count(*)::BIGINT AS in_both
           FROM un JOIN ska USING (h) JOIN skb USING (h)),
    ex AS (
      SELECT (SELECT count(*) FROM ha)::BIGINT AS na,
             (SELECT count(*) FROM hb)::BIGINT AS nb,
             (SELECT count(*) FROM ha JOIN hb USING (h))::BIGINT AS ni),
    est AS (
      SELECT n_union_sketch, kth_hash, in_both, na, nb, ni,
             CASE WHEN n_union_sketch < 256 THEN n_union_sketch::DOUBLE
                  ELSE 1148417904979476480.0::DOUBLE / kth_hash END AS ue
      FROM st CROSS JOIN ib CROSS JOIN ex)
    SELECT 256 AS k, n_union_sketch, in_both,
           round(ue, 6) AS union_est_r6,
           round(in_both * ue / n_union_sketch, 6) AS inter_est_r6,
           round(in_both::DOUBLE / n_union_sketch, 6) AS jaccard_est_r6,
           round(ni::DOUBLE / (na + nb - ni), 6) AS exact_jaccard_r6
    FROM est
    """,
)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation from two KMV sketches
    (`sketches.kmv_intersection`): even-doc_id vs odd-doc_id halves of
    the corpus as stand-in train/eval corpora, 3-gram basis, k=256.
    Union/intersection/Jaccard estimates meet ONLY at two 256-row
    sketches — the corpora themselves are never joined — and the exact
    Jaccard rides along as the hash-matched accuracy witness.  The
    train-vs-eval contamination-RATE monitor that complements exact
    per-doc decontam (`decontam_pipeline`): this one costs O(k) per
    corpus snapshot and is incrementally mergeable."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        explode_grams,
        shingle_sets,
    )
    from mistral_ocr_pipeline_spark.operators.sketches import (
        kmv_intersection,
        kmv_sketch,
    )

    docs = _t(spark, sf_dir, "documents")

    def grams(pred):
        return explode_grams(
            shingle_sets(docs.filter(pred), "doc_id", "text", 3, hashed=False),
            alias="gram",
        )

    # each half's distinct-gram set feeds THREE consumers (its sketch, its
    # exact count, the exact intersection) — persist the stage boundary so
    # the shingle+distinct runs once per half, not per consumer; feeding
    # the sketch from the distinct set is value-identical (kmv_sketch
    # distincts the hashes anyway)
    na = grams(F.col("doc_id") % 2 == 0).distinct().persist()
    nb = grams(F.col("doc_id") % 2 == 1).distinct().persist()
    ska = kmv_sketch(na, "gram", k=256, salt="kmv")
    skb = kmv_sketch(nb, "gram", k=256, salt="kmv")
    est = kmv_intersection(ska, skb, k=256)
    exact = (
        na.agg(F.count("gram").alias("na"))
        .crossJoin(nb.agg(F.count("gram").alias("nb")))
        .crossJoin(
            na.join(nb, "gram").agg(F.count("gram").alias("ni"))
        )
        .select(
            F.round(
                F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")), 6
            ).alias("exact_jaccard_r6")
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(256).alias("k"),
        "n_union_sketch",
        "in_both",
        F.round("union_est", 6).alias("union_est_r6"),
        F.round("inter_est", 6).alias("inter_est_r6"),
        F.round("jaccard_est", 6).alias("jaccard_est_r6"),
        "exact_jaccard_r6",
    )


# --------------------------------------------------------------------------
# asymmetric n-gram containment (operators/dedup.ngram_containment_pairs)
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string((string_split({_KEY.format(c="text")}, ' '))[1:12], ' ')
      FROM documents WHERE doc_id % 10 = 0),
    t AS (SELECT id, string_split({_KEY.format(c="text")}, ' ') AS ws FROM u),
    b AS (
      SELECT id,
             unnest(list_distinct(list_transform(
                 generate_series(1, len(ws) - 7),
                 i -> array_to_string(ws[i:i+7], ' ')))) AS span
      FROM t WHERE len(ws) >= 8),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b2.id AS id_b
      FROM b a JOIN b b2 ON a.span = b2.span AND a.id < b2.id),
    g AS (
      SELECT id,
             unnest(list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i:i+2], ' ')))) AS gram
      FROM t WHERE len(ws) >= 3),
    sizes AS (SELECT id, count(*)::BIGINT AS n FROM g GROUP BY id),
    p AS (
      SELECT c.id_a, c.id_b, count(*)::BIGINT AS shared
      FROM cand c
      JOIN g ga ON ga.id = c.id_a
      JOIN g gb ON gb.id = c.id_b AND gb.gram = ga.gram
      GROUP BY 1, 2)
    SELECT id_a, id_b, shared,
           round(shared::DOUBLE / sa.n, 6) AS containment_a_r6,
           round(shared::DOUBLE / sb.n, 6) AS containment_b_r6,
           FALSE AS bucket_truncated
    FROM p JOIN sizes sa ON sa.id = p.id_a
           JOIN sizes sb ON sb.id = p.id_b
    WHERE greatest(shared::DOUBLE / sa.n, shared::DOUBLE / sb.n) >= 0.8
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (`dedup.ngram_containment_pairs`):
    every 10th doc gets a 12-word-prefix excerpt clone — near-zero
    Jaccard against its source (short ∩ long over a big union) but
    containment ≈1.0 on the excerpt side, the exact case Jaccard-only
    dedup ships to training twice.  Threshold 0.8 on max(containment);
    candidates are pairs sharing an 8-word span (the operator's rare
    block key — trigram blocking floods the fan-out at scale), and the
    oracle replays the span blocking AND the trigram set math exactly
    (buckets far below the cap here, so truncation is provably FALSE)."""
    from mistral_ocr_pipeline_spark.functions.text_functions import norm_key_col
    from mistral_ocr_pipeline_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpt = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(norm_key_col(F.col("text")), " "), 1, 12), " "
        ).alias("text"),
    )
    u = docs.unionByName(excerpt)
    out = ngram_containment_pairs(u, "doc_id", "text", n=3, threshold=0.8)
    return out.select(
        "id_a",
        "id_b",
        "shared",
        F.round("containment_a", 6).alias("containment_a_r6"),
        F.round("containment_b", 6).alias("containment_b_r6"),
        "bucket_truncated",
    )


# --------------------------------------------------------------------------
# chunk->doc embedding mean-pooling (operators/similarity.mean_pool_embeddings)
# --------------------------------------------------------------------------
@register(
    "embed_mean_pool",
    oracle="""
    WITH c AS (SELECT vec_id // 4 AS doc_id, embedding::DOUBLE[] AS v
               FROM embeddings),
    e AS (SELECT doc_id, i - 1 AS i,
                 round(v[i] * 1000000.0)::BIGINT AS xm
          FROM c, unnest(generate_series(1, len(v))) AS t(i)),
    pd AS (SELECT doc_id, i, sum(xm)::BIGINT AS sm, count(*)::BIGINT AS n
           FROM e GROUP BY 1, 2)
    SELECT doc_id, n AS n_chunks, i,
           ((CASE WHEN sm < 0 THEN -1 ELSE 1 END)
            * ((abs(sm) * 2 + n) // (2 * n)))::DOUBLE / 1000000.0
               AS pooled_r6
    FROM pd
    """,
)
def embed_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→document embedding mean-pooling
    (`similarity.mean_pool_embeddings`): the embeddings table read as 4
    chunk vectors per document (doc_id = vec_id div 4), pooled to one
    doc vector each.  Per-component micro-unit rounding BEFORE the
    cross-chunk sum makes the mean an order-independent integer fact
    (the IVF-centroid trick), so the pooled values hash-match under any
    partitioning.  Driver contract: the pooled array is flattened to
    (doc_id, n_chunks, i, pooled_r6) scalar rows."""
    from mistral_ocr_pipeline_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        F.expr("vec_id div 4").alias("doc_id"), "embedding"
    )
    pooled = mean_pool_embeddings(emb, "doc_id", "embedding")
    return pooled.select(
        F.col("key").alias("doc_id"),
        "n_chunks",
        F.posexplode("pooled").alias("i", "pooled_r6"),
    )


# --------------------------------------------------------------------------
# Flesch readability (operators/text_analysis.readability_scores)
# --------------------------------------------------------------------------
@register(
    "text_readability",
    oracle=r"""
    WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS lo
               FROM documents),
    tk AS (SELECT doc_id, lo,
                  list_filter(string_split_regex(trim(lo), '\s+'),
                              x -> x <> '') AS toks
           FROM t),
    m AS (SELECT doc_id,
                 len(toks)::BIGINT AS w,
                 greatest(len(regexp_extract_all(lo, '[.!?]+')), 1)::BIGINT
                     AS s,
                 (len(regexp_extract_all(lo, '[aeiouy]+'))
                  + len(list_filter(toks,
                        x -> NOT regexp_matches(x, '[aeiouy]'))))::BIGINT
                     AS syl
          FROM tk),
    sc AS (SELECT doc_id, w, s, syl,
                  206.835::DOUBLE - 1.015::DOUBLE * (w::DOUBLE / s::DOUBLE)
                      - 84.6::DOUBLE * (syl::DOUBLE / w::DOUBLE) AS score
           FROM m)
    SELECT doc_id AS id, w AS n_words, s AS n_sentences, syl AS n_syllables,
           CASE WHEN w > 0 THEN round(score, 6) END AS flesch_r6,
           CASE WHEN w = 0 THEN 'empty'
                WHEN score >= 70 THEN 'easy'
                WHEN score >= 50 THEN 'standard'
                ELSE 'difficult' END AS band
    FROM sc
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the documents table
    (`text_analysis.readability_scores`): vowel-group syllable heuristic
    with consonant-only tokens counting 1, [.!?]+ sentence runs floored
    at 1, banding on the unrounded score.  Map-only, zero shuffles; the
    oracle replays tokenization, all three counts, and the affine score
    to 6 dp."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        readability_scores,
    )

    return readability_scores(_t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# exact-k reservoir sample (operators/sampling.reservoir_sample)
# --------------------------------------------------------------------------
@register(
    "sample_reservoir",
    oracle="""
    SELECT o_orderkey AS id,
           md5('rsv:' || o_orderkey::varchar) AS rank_hash
    FROM orders
    ORDER BY rank_hash, id
    LIMIT 100
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic reservoir (`sampling.reservoir_sample`):
    exactly 100 orders keyed by md5 rank — the annotation-budget shape
    (`hash_sample` keeps a binomial fraction; this keeps an exact
    count).  TakeOrdered plan: each task forwards its local bottom-k,
    no corpus shuffle; per-shard reservoirs re-cut to the identical
    global sample (lattice law, pinned in test_ops)."""
    from mistral_ocr_pipeline_spark.operators.sampling import reservoir_sample

    out = reservoir_sample(_t(spark, sf_dir, "orders"), "o_orderkey", k=100)
    return out.select("id", F.col("_rsv").alias("rank_hash"))


# --------------------------------------------------------------------------
# kNN label propagation from a small seed (similarity_df.knn_classify)
# --------------------------------------------------------------------------
@register(
    "embed_knn_classify",
    oracle="""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        label::VARCHAR AS lab
                 FROM embeddings),
    seed AS (SELECT vec_id AS nid, lab, v,
                    sqrt(list_dot_product(v, v)) AS sn
             FROM emb WHERE vec_id % 7 = 0),
    unl AS (SELECT vec_id AS id, v, lab AS true_label,
                   sqrt(list_dot_product(v, v)) AS qn
            FROM emb WHERE vec_id % 7 <> 0),
    p AS (SELECT u.id, u.true_label, s.nid, s.lab,
                 round(list_dot_product(u.v, s.v) / (u.qn * s.sn), 6) AS c
          FROM unl u CROSS JOIN seed s
          WHERE u.qn > 0 AND s.sn > 0),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY id ORDER BY c DESC, nid) AS rk FROM p),
    t AS (SELECT * FROM r WHERE rk <= 5),
    w AS (SELECT id, true_label, lab,
                 sum(CAST(round(c * 1000000.0) AS BIGINT)) AS wm,
                 count(*)::BIGINT AS nv
          FROM t GROUP BY 1, 2, 3),
    b AS (SELECT *, row_number() OVER (
              PARTITION BY id ORDER BY wm DESC, lab) AS brk FROM w)
    SELECT id AS vec_id, lab AS pred_label, true_label,
           (lab = true_label) AS agree,
           wm::DOUBLE / 1000000.0 AS vote_r6, nv AS n_voters
    FROM b WHERE brk = 1
    """,
)
def embed_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised kNN label propagation
    (`similarity_df.knn_classify`): a 1-in-7 labeled seed (the
    annotation budget) assigns labels to the other six sevenths of the
    embeddings table by cosine-5NN micro-unit-weighted vote; output
    joins the held-out true label so per-row agreement is visible.  The
    seed rides the scan as ONE broadcast array row — zero shuffles, no
    pair materialization at any corpus size.  The oracle replays
    pairing, 6-dp cosines, (c DESC, nid) top-5, integer micro votes,
    and the (weight DESC, label ASC) argmax exactly."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 7 == 0)
    unl = emb.filter(F.col("vec_id") % 7 != 0)
    preds = knn_classify(unl, seed, k=5)
    truth = emb.select(
        F.col("vec_id").alias("id"), F.col("label").cast("string").alias("true_label")
    )
    return preds.join(F.broadcast(truth), "id").select(
        F.col("id").alias("vec_id"),
        "pred_label",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("agree"),
        "vote_r6",
        "n_voters",
    )


# --------------------------------------------------------------------------
# embedding-space outlier flags (similarity.centroid_outliers)
# --------------------------------------------------------------------------
@register(
    "embed_outlier_centroid",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, i - 1 AS i,
                 round(v[i] * 1000000.0)::BIGINT AS xm
          FROM c, unnest(generate_series(1, len(v))) AS t(i)),
    pd AS (SELECT i, sum(xm)::BIGINT AS sm, count(*)::BIGINT AS n
           FROM e GROUP BY 1),
    cen AS (SELECT i, ((CASE WHEN sm < 0 THEN -1 ELSE 1 END)
                * ((abs(sm) * 2 + n) // (2 * n)))::DOUBLE / 1000000.0 AS cv
            FROM pd),
    ca AS (SELECT list(cv ORDER BY i) AS carr FROM cen),
    s AS (SELECT vec_id,
                 round(list_dot_product(v, carr) /
                       (sqrt(list_dot_product(v, v)) *
                        sqrt(list_dot_product(carr, carr))), 6) AS cosr
          FROM c CROSS JOIN ca),
    th AS (SELECT quantile_cont(cosr, 0.05) AS thr FROM s)
    SELECT vec_id AS id, cosr AS cos_centroid_r6,
           round(thr, 6) AS thr_r6, (cosr <= thr) AS is_outlier
    FROM s CROSS JOIN th
    """,
)
def embed_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier gate (`similarity.centroid_outliers`):
    cosine to the integer-micro-unit global centroid
    (`mean_pool_embeddings` under a constant key), bottom-5% flagged by
    the exact interpolated percentile (the a11 Spark-percentile ↔
    DuckDB-quantile_cont parity).  Catches encoder failures / off-
    manifold noise before clustering, ANN, or SemDeDup sees them.  The
    oracle replays the centroid integer math, the sequential-fold
    cosines, and the quantile threshold."""
    from mistral_ocr_pipeline_spark.operators.similarity import centroid_outliers

    return centroid_outliers(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", q=0.05
    )


# --------------------------------------------------------------------------
# MMR diversified retrieval (similarity_df.mmr_topk_df)
# --------------------------------------------------------------------------
def _mmr_oracle_sql(
    k: int = 4, pool: int = 8, mu: int = 7, nu: int = 3, qmod: int = 23
) -> str:
    """Unrolled greedy-MMR CTE twin (the kcenter/Lloyd unroll trick):
    stage i joins the pairwise sims to the union of stages 1..i-1."""
    stages = []
    union = "SELECT * FROM s1"
    for i in range(2, k + 1):
        stages.append(f"""
    u{i - 1} AS ({union}),
    m{i} AS (SELECT p.qid, p.ai AS id, max(p.sim_m) AS maxsim_m
             FROM p JOIN u{i - 1} s ON p.qid = s.qid AND p.bi = s.id
             GROUP BY 1, 2),
    c{i} AS (SELECT pl.qid, pl.id, pl.rel_m,
                    coalesce(m.maxsim_m, 0)::BIGINT AS maxsim_m
             FROM pool pl LEFT JOIN m{i} m
                  ON pl.qid = m.qid AND pl.id = m.id
             WHERE NOT EXISTS (SELECT 1 FROM u{i - 1} s
                               WHERE s.qid = pl.qid AND s.id = pl.id)),
    s{i} AS (SELECT qid, id, rel_m, maxsim_m,
                    ({mu} * rel_m - {nu} * maxsim_m)::BIGINT AS mmr_m,
                    {i} AS sel_rank
             FROM (SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY ({mu} * rel_m - {nu} * maxsim_m) DESC, id)
                       AS rk
                   FROM c{i}) WHERE rk = 1)""")
        union += f" UNION ALL SELECT * FROM s{i}"
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM emb
          WHERE vec_id % {qmod} = 0),
    rel AS (SELECT q.qid, e.vec_id AS id,
                   round(round(list_dot_product(q.qv, e.v)
                               / (q.qn * e.nrm), 6) * 1000000.0)::BIGINT
                       AS rel_m
            FROM q CROSS JOIN emb e WHERE e.vec_id <> q.qid),
    pool AS (SELECT qid, id, rel_m FROM (
               SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY rel_m DESC, id) AS rk FROM rel)
             WHERE rk <= {pool}),
    p AS (SELECT a.qid, a.id AS ai, b.id AS bi,
                 round(round(list_dot_product(ea.v, eb.v)
                             / (ea.nrm * eb.nrm), 6) * 1000000.0)::BIGINT
                     AS sim_m
          FROM pool a JOIN pool b ON a.qid = b.qid AND a.id <> b.id
          JOIN emb ea ON ea.vec_id = a.id
          JOIN emb eb ON eb.vec_id = b.id),
    s1 AS (SELECT qid, id, rel_m, 0::BIGINT AS maxsim_m,
                  ({mu} * rel_m)::BIGINT AS mmr_m, 1 AS sel_rank
           FROM (SELECT *, row_number() OVER (PARTITION BY qid
                     ORDER BY rel_m DESC, id) AS rk FROM pool)
           WHERE rk = 1),{",".join(stages)}
    SELECT qid AS query_id, id AS vec_id, sel_rank,
           rel_m::DOUBLE / 1000000.0 AS rel_r6,
           maxsim_m::DOUBLE / 1000000.0 AS maxsim_r6,
           mmr_m
    FROM ({union})
    """


@register("retrieval_mmr_topk", oracle=_mmr_oracle_sql())
def retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (`similarity_df.mmr_topk_df`,
    Carbonell & Goldstein 1998): exact-cosine top-8 candidate pool per
    query (every 23rd embedding is a query), then λ=0.7 greedy
    re-ranking to 4 diversified picks — integer
    7·rel_m − 3·maxsim_m scoring over micro-unit cosines, ties to the
    lowest id, seed pick at maxsim = 0.  The greedy rounds run entirely
    in-engine over queries×pool-sized relations (no collect at any
    query count); the oracle unrolls the 4 rounds as CTE stages."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import mmr_topk_df

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_topk_df(
        emb, emb.filter(F.col("vec_id") % 23 == 0), k=4, pool=8
    )


# --------------------------------------------------------------------------
# margin-based cross-set pair mining (similarity_df.margin_mine)
# --------------------------------------------------------------------------
@register(
    "embed_margin_mine",
    oracle="""
    WITH x AS (SELECT vec_id AS x_id, embedding::DOUBLE[] AS xv
               FROM embeddings WHERE vec_id % 2 = 0),
    y AS (SELECT vec_id AS y_id, embedding::DOUBLE[] AS yv
          FROM embeddings WHERE vec_id % 2 = 1
          UNION ALL
          SELECT vec_id + 1000000, embedding::DOUBLE[]
          FROM embeddings WHERE vec_id % 20 = 0),
    p AS (SELECT x_id, y_id,
                 round(list_dot_product(xv, yv) /
                       (sqrt(list_dot_product(xv, xv)) *
                        sqrt(list_dot_product(yv, yv)))
                       * 1000000.0)::BIGINT AS cm
          FROM x CROSS JOIN y),
    f AS (SELECT x_id, y_id, cm FROM (
            SELECT *, row_number() OVER (PARTITION BY x_id
                 ORDER BY cm DESC, y_id) AS rn FROM p) WHERE rn <= 4),
    b AS (SELECT x_id, y_id, cm FROM (
            SELECT *, row_number() OVER (PARTITION BY y_id
                 ORDER BY cm DESC, x_id) AS rn FROM p) WHERE rn <= 4),
    ax AS (SELECT x_id, (CASE WHEN sum(cm) < 0 THEN -1 ELSE 1 END)
                 * ((abs(sum(cm)) * 2 + count(*)) // (2 * count(*))) AS am
           FROM f GROUP BY 1),
    byy AS (SELECT y_id, (CASE WHEN sum(cm) < 0 THEN -1 ELSE 1 END)
                 * ((abs(sum(cm)) * 2 + count(*)) // (2 * count(*))) AS bm
            FROM b GROUP BY 1),
    fs AS (SELECT f.x_id, f.y_id, f.cm, ax.am, byy.bm,
                  (CASE WHEN f.cm < 0 THEN -1 ELSE 1 END)
                  * ((abs(f.cm) * 4000000 + (ax.am + byy.bm))
                     // (2 * (ax.am + byy.bm))) AS margin_m
           FROM f JOIN ax USING (x_id) JOIN byy USING (y_id)
           WHERE ax.am + byy.bm > 0),
    bs AS (SELECT b.x_id, b.y_id,
                  (CASE WHEN b.cm < 0 THEN -1 ELSE 1 END)
                  * ((abs(b.cm) * 4000000 + (ax.am + byy.bm))
                     // (2 * (ax.am + byy.bm))) AS margin_m
           FROM b JOIN ax USING (x_id) JOIN byy USING (y_id)
           WHERE ax.am + byy.bm > 0),
    fbest AS (SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY x_id
                     ORDER BY margin_m DESC, y_id) AS r2 FROM fs)
              WHERE r2 = 1),
    bbest AS (SELECT x_id, y_id FROM (
                SELECT *, row_number() OVER (PARTITION BY y_id
                     ORDER BY margin_m DESC, x_id) AS r2 FROM bs)
              WHERE r2 = 1)
    SELECT fb.x_id, fb.y_id,
           fb.cm::DOUBLE / 1000000.0 AS cosine_r6,
           fb.margin_m::DOUBLE / 1000000.0 AS margin_r6,
           fb.am::DOUBLE / 1000000.0 AS knn_x_r6,
           fb.bm::DOUBLE / 1000000.0 AS knn_y_r6
    FROM fbest fb JOIN bbest bb
         ON fb.x_id = bb.x_id AND fb.y_id = bb.y_id
    WHERE fb.margin_m >= 1020000
    """,
)
def embed_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based cross-set pair mining
    (`similarity_df.margin_mine`, Artetxe & Schwenk 2019 — the
    CCMatrix/LASER bitext-mining scorer): even vec_ids are the source
    set, odd vec_ids plus identical-vector clones of every 20th source
    (the planted "translations") are the target set; a pair is mined
    iff it is the margin-argmax of BOTH directions' 4-NN lists and its
    margin cos/((a_x+b_y)/2) ≥ 1.02.  Hubness-corrected — a hub vector
    must beat its own neighbourhood mean, where a raw cosine cutoff
    drowns.  Micro-unit cosines, integer kNN means, and the half-away
    integer micro-margin make every step order-independent; the oracle
    replays the kNN lists, both means, both argmaxes, and the
    threshold.  At corpus scale the cross-join kNN stage swaps for any
    ANN kernel via ``knn_pairs`` (margin math is candidate-agnostic);
    all post-scoring relations are top-k-sized."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import margin_mine

    emb = _t(spark, sf_dir, "embeddings")
    xs = emb.filter(F.col("vec_id") % 2 == 0)
    ys = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
        )
    )
    return margin_mine(xs, ys, k=4, threshold=1.02)


# --------------------------------------------------------------------------
# margin mining over ANN candidates (the knn_pairs hand-off, certified)
# --------------------------------------------------------------------------
def _margin_mine_ivf_oracle_sql(n_probe: int = 4, k: int = 4) -> str:
    """Full oracle for margin mining restricted to IVF candidates: y
    side assigned to frozen centroid cells (argmax dot), x side probes
    its top-``n_probe`` cells, candidate pairs are the cell equi-join,
    and the ENTIRE margin chain (micro cosines, kNN means, integer
    micro-margin, mutual argmax, threshold) replays over exactly that
    candidate relation."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
      {vals}),
    x AS (SELECT vec_id AS x_id, embedding::DOUBLE[] AS xv
          FROM embeddings WHERE vec_id % 2 = 0),
    y AS (SELECT vec_id AS y_id, embedding::DOUBLE[] AS yv
          FROM embeddings WHERE vec_id % 2 = 1
          UNION ALL
          SELECT vec_id + 1000000, embedding::DOUBLE[]
          FROM embeddings WHERE vec_id % 20 = 0),
    ya AS (SELECT y_id, c AS cell FROM (
             SELECT y.y_id, cents.c,
                    row_number() OVER (PARTITION BY y.y_id
                         ORDER BY list_dot_product(y.yv, cents.cv) DESC,
                                  cents.c) AS rn
             FROM y CROSS JOIN cents) WHERE rn = 1),
    xp AS (SELECT x_id, c AS cell FROM (
             SELECT x.x_id, cents.c,
                    row_number() OVER (PARTITION BY x.x_id
                         ORDER BY list_dot_product(x.xv, cents.cv) DESC,
                                  cents.c) AS rn
             FROM x CROSS JOIN cents) WHERE rn <= {n_probe}),
    p AS (SELECT DISTINCT xp.x_id, ya.y_id,
                 round(list_dot_product(x.xv, y.yv) /
                       (sqrt(list_dot_product(x.xv, x.xv)) *
                        sqrt(list_dot_product(y.yv, y.yv)))
                       * 1000000.0)::BIGINT AS cm
          FROM xp JOIN ya USING (cell)
          JOIN x ON x.x_id = xp.x_id
          JOIN y ON y.y_id = ya.y_id),
    f AS (SELECT x_id, y_id, cm FROM (
            SELECT *, row_number() OVER (PARTITION BY x_id
                 ORDER BY cm DESC, y_id) AS rn FROM p) WHERE rn <= {k}),
    b AS (SELECT x_id, y_id, cm FROM (
            SELECT *, row_number() OVER (PARTITION BY y_id
                 ORDER BY cm DESC, x_id) AS rn FROM p) WHERE rn <= {k}),
    ax AS (SELECT x_id, (CASE WHEN sum(cm) < 0 THEN -1 ELSE 1 END)
                 * ((abs(sum(cm)) * 2 + count(*)) // (2 * count(*))) AS am
           FROM f GROUP BY 1),
    byy AS (SELECT y_id, (CASE WHEN sum(cm) < 0 THEN -1 ELSE 1 END)
                 * ((abs(sum(cm)) * 2 + count(*)) // (2 * count(*))) AS bm
            FROM b GROUP BY 1),
    fs AS (SELECT f.x_id, f.y_id, f.cm, ax.am, byy.bm,
                  (CASE WHEN f.cm < 0 THEN -1 ELSE 1 END)
                  * ((abs(f.cm) * 4000000 + (ax.am + byy.bm))
                     // (2 * (ax.am + byy.bm))) AS margin_m
           FROM f JOIN ax USING (x_id) JOIN byy USING (y_id)
           WHERE ax.am + byy.bm > 0),
    bs AS (SELECT b.x_id, b.y_id,
                  (CASE WHEN b.cm < 0 THEN -1 ELSE 1 END)
                  * ((abs(b.cm) * 4000000 + (ax.am + byy.bm))
                     // (2 * (ax.am + byy.bm))) AS margin_m
           FROM b JOIN ax USING (x_id) JOIN byy USING (y_id)
           WHERE ax.am + byy.bm > 0),
    fbest AS (SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY x_id
                     ORDER BY margin_m DESC, y_id) AS r2 FROM fs)
              WHERE r2 = 1),
    bbest AS (SELECT x_id, y_id FROM (
                SELECT *, row_number() OVER (PARTITION BY y_id
                     ORDER BY margin_m DESC, x_id) AS r2 FROM bs)
              WHERE r2 = 1)
    SELECT fb.x_id, fb.y_id,
           fb.cm::DOUBLE / 1000000.0 AS cosine_r6,
           fb.margin_m::DOUBLE / 1000000.0 AS margin_r6,
           fb.am::DOUBLE / 1000000.0 AS knn_x_r6,
           fb.bm::DOUBLE / 1000000.0 AS knn_y_r6
    FROM fbest fb JOIN bbest bb
         ON fb.x_id = bb.x_id AND fb.y_id = bb.y_id
    WHERE fb.margin_m >= 1020000
    """


@register("embed_margin_mine_ivf", oracle=_margin_mine_ivf_oracle_sql())
def embed_margin_mine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin mining at ANN scale — the ``knn_pairs`` hand-off
    CERTIFIED: the target set is indexed by the maintained IVF cell
    table (`similarity_df.ivf_index_build` — today's append path), the
    source set probes its top-4 cells in-plan, and the candidate cell
    equi-join (never a cross join) feeds `margin_mine`'s scorer —
    corpus-sized mining with every relation either cell-bucketed or
    top-k-sized.  Same sets and planted translations as
    `embed_margin_mine`; identical vectors share a cell by
    construction, so the planted pairs survive the candidate
    restriction.  Candidates are single-direction (x probes y's index)
    — at production scale run the mirrored probe and union when recall
    on the backward lists matters.  The oracle replays cell
    assignment, probing, the candidate join, and the full margin
    chain."""
    from mistral_ocr_pipeline_spark.operators.similarity import fold_dot
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        _cell_dots,
        _dvec,
        ivf_index_build,
        margin_mine,
    )

    cent = _ivf_fixed_centroids()
    emb = _t(spark, sf_dir, "embeddings")
    xs = emb.filter(F.col("vec_id") % 2 == 0)
    ys = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
        )
    )
    y_index = ivf_index_build(ys, cent).select("cell", "vec_id")
    # norms hoisted per side (same IEEE sequence as per-pair sqrt —
    # the margin_mine scorer convention; the bench exposed the 3x fold)
    xv = xs.select(
        F.col("vec_id").alias("x_id"), _dvec(F.col("embedding")).alias("_xv")
    ).withColumn("_xn", F.sqrt(fold_dot(F.col("_xv"), F.col("_xv"))))
    probes = (
        xv.select(
            "x_id",
            "_xv",
            "_xn",
            F.posexplode(_cell_dots("_xv", cent)).alias("cell", "_d"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("x_id").orderBy(
                    F.col("_d").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("_rn") <= 4)
        .select("x_id", "_xv", "_xn", "cell")
    )
    yv = ys.select(
        F.col("vec_id").alias("y_id"), _dvec(F.col("embedding")).alias("_yv")
    ).withColumn("_yn", F.sqrt(fold_dot(F.col("_yv"), F.col("_yv"))))
    cand = (
        probes.join(y_index.withColumnRenamed("vec_id", "y_id"), "cell")
        .join(yv, "y_id")
        .select(
            "x_id",
            "y_id",
            F.round(
                fold_dot(F.col("_xv"), F.col("_yv"))
                / (F.col("_xn") * F.col("_yn"))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("cm"),
        )
        # no distinct: a y vector lives in exactly ONE cell (argmax) and
        # a query's probed cells are distinct, so (x_id, y_id) is unique
        # by construction — the dedup shuffle would be pure cost
    )
    return margin_mine(xs, ys, k=4, threshold=1.02, knn_pairs=cand)


# --------------------------------------------------------------------------
# incremental IVF index maintenance (similarity_df.ivf_index_*)
# --------------------------------------------------------------------------
def _ivf_index_append_oracle_sql() -> str:
    """Full value oracle for the MAINTAINED IVF index: every vector's
    cell is the argmax dot against the 16 frozen centroid literals
    (rn=1 over d DESC, c — the engine's first-hit argmax), cd the
    winning dot in micro-units; the merged-index rows must equal this
    one-shot assignment of history ∪ batch, so the hash match IS the
    append ≡ rebuild claim, per row, at full value strength."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
      {vals}),
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cd AS (SELECT corp.vec_id, cents.c,
                  list_dot_product(corp.v, cents.cv) AS d
           FROM corp CROSS JOIN cents),
    a AS (SELECT vec_id, c, d,
                 row_number() OVER (PARTITION BY vec_id
                      ORDER BY d DESC, c) AS rn
          FROM cd)
    SELECT vec_id, c AS cell,
           round(d * 1000000.0)::BIGINT::DOUBLE / 1000000.0 AS cd_r6,
           (vec_id >= 400) AS from_batch,
           TRUE AS append_consistent
    FROM a WHERE rn = 1
    """


@register("ann_ivf_index_append", oracle=_ivf_index_append_oracle_sql())
def ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance
    (`similarity_df.ivf_index_build`/`ivf_index_append`): the cell
    index built over history (vec_id < 400), the daily batch (≥ 400)
    appended against the FROZEN centroids — history dots never
    recomputed.  Output is the merged index itself (cell, micro-unit
    centroid dot, batch provenance) plus a per-row
    ``append_consistent`` flag comparing the merged row to a one-shot
    rebuild over history ∪ batch (cell AND cd_m, null-safe full outer
    join so a row missing from either side also fails).  The oracle
    replays the full one-shot assignment, so the value hash certifies
    both the assignment math and the append ≡ rebuild claim; the
    maintained index also SERVES search identically
    (`ivf_topk_from_index` ≡ `ivf_topk_df`, pinned in
    test_similarity_df)."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        ivf_index_append,
        ivf_index_build,
    )

    cent = _ivf_fixed_centroids()
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    merged = ivf_index_append(ivf_index_build(base, cent), batch, cent)
    rebuilt = ivf_index_build(emb, cent).select(
        F.col("vec_id").alias("_rv"),
        F.col("cell").alias("_rc"),
        F.col("cd_m").alias("_rm"),
    )
    return (
        merged.join(rebuilt, merged.vec_id == rebuilt._rv, "full")
        .select(
            F.coalesce("vec_id", "_rv").alias("vec_id"),
            "cell",
            (F.col("cd_m").cast("double") / 1e6).alias("cd_r6"),
            (F.coalesce("vec_id", "_rv") >= 400).alias("from_batch"),
            (
                F.col("cell").eqNullSafe(F.col("_rc"))
                & F.col("cd_m").eqNullSafe(F.col("_rm"))
            ).alias("append_consistent"),
        )
    )


# --------------------------------------------------------------------------
# similarity-ordered packing (packing.pack_similar_neighbors)
# --------------------------------------------------------------------------
def _pack_similar_oracle_sql(budget: int = 256) -> str:
    """Value oracle for In-Context-Pretraining packing: centroid-literal
    cell assignment (rn=1 over d DESC, c), within-cell (cd_m DESC, id)
    ordering, exclusive prefix sum of ws token counts, next-fit
    pack_id = offset // budget."""
    cent = _ivf_fixed_centroids()
    vals = ",\n      ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
      {vals}),
    d AS (SELECT doc_id AS id,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(string_split_regex(
                               trim(coalesce(text, '')), '\\s+')) END::BIGINT
                     AS tokens,
                 e.embedding::DOUBLE[] AS v
          FROM documents JOIN embeddings e ON e.vec_id = doc_id),
    cd AS (SELECT d.id, d.tokens, cents.c,
                  list_dot_product(d.v, cents.cv) AS dt
           FROM d CROSS JOIN cents),
    a AS (SELECT id, tokens, c AS cell,
                 round(dt * 1000000.0)::BIGINT AS cd_m
          FROM (SELECT *, row_number() OVER (PARTITION BY id
                     ORDER BY dt DESC, c) AS rn FROM cd)
          WHERE rn = 1),
    o AS (SELECT *,
                 coalesce(sum(tokens) OVER (PARTITION BY cell
                      ORDER BY cd_m DESC, id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS start_offset,
                 row_number() OVER (PARTITION BY cell
                      ORDER BY cd_m DESC, id) AS pos
          FROM a)
    SELECT id, cell, cd_m::DOUBLE / 1000000.0 AS cd_r6, tokens,
           start_offset, (start_offset // {budget})::BIGINT AS pack_id, pos
    FROM o
    """


@register("pack_similar_order", oracle=_pack_similar_oracle_sql())
def pack_similar_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-ordered packing (`packing.pack_similar_neighbors` —
    the In-Context Pretraining recipe, Shi et al. 2024): documents
    joined to their embeddings (doc_id = vec_id), assigned to frozen
    semantic cells, ordered within each cell by centroid affinity, and
    next-fit packed into 256-token budgets — so each context window
    fills with topically related documents instead of i.i.d. ones.
    One cell-keyed shuffle; n_centroids is the skew dial (see the
    operator docstring).  The oracle replays cell assignment,
    within-cell ordering, the exclusive prefix sum, and the pack-id
    rule."""
    from mistral_ocr_pipeline_spark.operators.packing import (
        pack_similar_neighbors,
    )
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        ws_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").alias("id"),
        ws_token_count(F.coalesce(F.col("text"), F.lit(""))).alias("tokens"),
        "embedding",
    )
    return pack_similar_neighbors(
        joined, "id", "tokens", "embedding", _ivf_fixed_centroids(), budget=256
    )


# --------------------------------------------------------------------------
# host-scoped boilerplate stripping (dedup.host_boilerplate_strip)
# --------------------------------------------------------------------------
@register(
    "text_host_boilerplate",
    oracle="""
    WITH base AS (
      SELECT doc_id AS id, source AS host,
             coalesce(text, '') || chr(10) ||
             CASE WHEN doc_id % 2 = 0
                  THEN 'shared footer for ' || source
                  ELSE 'unique line ' || doc_id END ||
             CASE WHEN doc_id % 5 = 0
                  THEN chr(10) || 'promo of the week' ELSE '' END AS t
      FROM documents),
    ls AS (SELECT id, host, string_split(t, chr(10)) AS arr FROM base),
    l AS (SELECT id, host, i - 1 AS pos, arr[i] AS ln
          FROM ls, unnest(generate_series(1, len(arr))) AS u(i)),
    el AS (SELECT *, length(trim(ln)) >= 8 AS elig,
                  md5(trim(ln)) AS k
           FROM l),
    hd AS (SELECT host, k, count(DISTINCT id) AS ndocs
           FROM el WHERE elig GROUP BY 1, 2),
    hc AS (SELECT host, count(*) AS total FROM base GROUP BY 1),
    hot AS (SELECT hd.host, hd.k FROM hd JOIN hc USING (host)
            WHERE hc.total >= 4 AND hd.ndocs >= 2
              AND hd.ndocs * 10 >= hc.total * 3),
    f AS (SELECT el.id, el.host, el.pos, el.ln,
                 (el.elig AND hot.k IS NOT NULL) AS dr
          FROM el LEFT JOIN hot
               ON hot.host = el.host AND hot.k = el.k)
    SELECT id, host,
           coalesce(string_agg(ln, chr(10) ORDER BY pos)
                    FILTER (WHERE NOT dr), '') AS text_clean,
           count(*) FILTER (WHERE NOT dr)::BIGINT AS n_kept,
           count(*) FILTER (WHERE dr)::BIGINT AS n_removed
    FROM f GROUP BY 1, 2
    """,
)
def text_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template stripping
    (`dedup.host_boilerplate_strip`): each document gets a planted
    per-host footer (in half the host's pages → above the 3/10
    distinct-doc-frequency gate, stripped everywhere) plus a 'promo'
    line (1/5 of pages → below the gate, kept) and a unique line
    (kept); host = the documents table's source.  Distinct-document
    frequency per host vs per-host totals in exact integer rational
    arithmetic; digests shuffle, not line text.  The oracle replays
    line explosion, the eligibility gate, distinct-doc counting, the
    rational threshold, and the ordered rebuild."""
    from mistral_ocr_pipeline_spark.operators.dedup import (
        host_boilerplate_strip,
    )

    docs = _t(spark, sf_dir, "documents")
    fixt = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("shared footer for "), F.col("source")),
            ).otherwise(F.concat(F.lit("unique line "), F.col("doc_id"))),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("\npromo of the week")
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return host_boilerplate_strip(
        fixt, "doc_id", "t", "source", min_docs=4, df_num=3, df_den=10
    )


# --------------------------------------------------------------------------
# TextTiling topic segmentation (text_analysis.texttile_segments)
# --------------------------------------------------------------------------
@register(
    "text_texttile_segments",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id AS id,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         x -> x <> '') AS toks
      FROM documents),
    m1 AS (SELECT id, toks, ((len(toks) + 9) // 10)::INT AS nb
           FROM tk),
    m2 AS (SELECT id, toks, nb - 1 AS m FROM m1 WHERE nb >= 2),
    sc AS (SELECT id, m,
        list_transform(generate_series(1, m), i ->
          round(
            list_sum(list_transform(
                list_distinct(toks[(i-1)*10+1 : (i-1)*10+10]), t ->
                  len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                  p -> p = t))::BIGINT
                  * len(list_filter(toks[i*10+1 : i*10+10],
                                    q -> q = t))::BIGINT))
            / (sqrt(list_sum(list_transform(
                 list_distinct(toks[(i-1)*10+1 : (i-1)*10+10]), t2 ->
                   len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                   p2 -> p2 = t2))::BIGINT
                   * len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                     q2 -> q2 = t2))::BIGINT)))
               * sqrt(list_sum(list_transform(
                 list_distinct(toks[i*10+1 : i*10+10]), t3 ->
                   len(list_filter(toks[i*10+1 : i*10+10],
                                   p3 -> p3 = t3))::BIGINT
                   * len(list_filter(toks[i*10+1 : i*10+10],
                                     q3 -> q3 = t3))::BIGINT))))
            * 1000000.0)::BIGINT) AS s
        FROM m2),
    dp AS (SELECT id, m, s,
        list_transform(generate_series(1, m), i ->
          ((list_max(s[1:i]) - s[i]) + (list_max(s[i:m]) - s[i])) // 1000)
            AS d2
        FROM sc),
    st AS (SELECT id, m, s, d2,
                  list_sum(d2)::BIGINT AS dsum,
                  list_sum(list_transform(d2, x -> x * x))::BIGINT AS dsq
           FROM dp),
    g AS (SELECT id, i, s[i] AS sm, d2[i] AS dm, m, dsum, dsq
          FROM st, unnest(generate_series(1, m)) u(i))
    SELECT id, i::INT AS gap_idx, (i * 10)::BIGINT AS token_offset,
           sm::DOUBLE / 1000000.0 AS score_r6,
           dm::DOUBLE / 1000.0 AS depth_r3,
           (2 * (dm * m - dsum))::DOUBLE
               > -sqrt((m * dsq - dsum * dsum)::DOUBLE) AS is_boundary
    FROM g
    """,
)
def text_texttile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling topic segmentation
    (`text_analysis.texttile_segments`, Hearst 1997): 10-token blocks,
    integer tf-cosine cohesion per gap, prefix/suffix-peak valley
    depths, and the Hearst μ − σ/2 cutoff rendered as an exact
    integer/sqrt comparison — boundaries where the document's lexical
    cohesion dips, with no structure required.  Map-only, zero
    shuffles, no UDF; the oracle replays tokenization, block slicing,
    every integer dot/norm, the depths, and the cutoff inequality."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        texttile_segments,
    )

    return texttile_segments(_t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_texttile_passages",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id AS id,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         x -> x <> '') AS toks
      FROM documents),
    m2 AS (SELECT id, toks,
                  greatest(((len(toks) + 9) // 10) - 1, 0)::INT AS m
           FROM tk WHERE len(toks) > 0),
    sc AS (SELECT id, toks, m,
        list_transform(generate_series(1, m), i ->
          round(
            list_sum(list_transform(
                list_distinct(toks[(i-1)*10+1 : (i-1)*10+10]), t ->
                  len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                  p -> p = t))::BIGINT
                  * len(list_filter(toks[i*10+1 : i*10+10],
                                    q -> q = t))::BIGINT))
            / (sqrt(list_sum(list_transform(
                 list_distinct(toks[(i-1)*10+1 : (i-1)*10+10]), t2 ->
                   len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                   p2 -> p2 = t2))::BIGINT
                   * len(list_filter(toks[(i-1)*10+1 : (i-1)*10+10],
                                     q2 -> q2 = t2))::BIGINT)))
               * sqrt(list_sum(list_transform(
                 list_distinct(toks[i*10+1 : i*10+10]), t3 ->
                   len(list_filter(toks[i*10+1 : i*10+10],
                                   p3 -> p3 = t3))::BIGINT
                   * len(list_filter(toks[i*10+1 : i*10+10],
                                     q3 -> q3 = t3))::BIGINT))))
            * 1000000.0)::BIGINT) AS s
        FROM m2),
    dp AS (SELECT id, toks, m, s,
        list_transform(generate_series(1, m), i ->
          ((list_max(s[1:i]) - s[i]) + (list_max(s[i:m]) - s[i])) // 1000)
            AS d2
        FROM sc),
    st AS (SELECT id, toks, m, d2,
                  list_sum(d2)::BIGINT AS dsum,
                  list_sum(list_transform(d2, x -> x * x))::BIGINT AS dsq
           FROM dp),
    ct AS (SELECT id, toks,
        list_concat([0], list_transform(list_filter(
            generate_series(1, m), i ->
              (2 * (d2[i] * m - dsum))::DOUBLE
                  > -sqrt((m * dsq - dsum * dsum)::DOUBLE)),
            i -> i * 10)) AS cuts
        FROM st),
    g AS (SELECT id, toks, cuts, j
          FROM ct, unnest(generate_series(1, len(cuts))) u(j))
    SELECT id, (j - 1)::INT AS seg_idx,
           cuts[j]::BIGINT AS start_token,
           ((CASE WHEN j < len(cuts) THEN cuts[j + 1]
                  ELSE len(toks) END) - cuts[j])::BIGINT AS n_tokens,
           array_to_string(
               toks[cuts[j] + 1 :
                    CASE WHEN j < len(cuts) THEN cuts[j + 1]
                         ELSE len(toks) END], ' ') AS seg_text
    FROM g
    """,
)
def text_texttile_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized TextTiling passages
    (`text_analysis.texttile_passages`): the boundary gaps of
    `text_texttile_segments` become cut points and each document
    re-emits as topic-coherent passages — the structureless-prose
    analog of `md_section_chunks`'s section assembly, with the
    lossless-cover invariant (Σ n_tokens = doc tokens; single-block
    docs emit one whole-document passage).  Map-only, zero shuffle;
    the oracle replays the boundary math and the passage slicing."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        texttile_passages,
    )

    return texttile_passages(_t(spark, sf_dir, "documents"), "doc_id", "text")


# --------------------------------------------------------------------------
# WARC record parsing + CDX index (sources/warc.py)
# --------------------------------------------------------------------------
# fixture: 50 synthetic WARC files (10 records each) built from the
# documents table — ASCII bodies (norm-key text behind an HTTP header
# block), every 7th record a 'request', Content-Length = exact char
# length (≡ bytes under the module's latin-1 contract)
_WARC_CRLF = "chr(13) || chr(10)"
_WARC_FIXTURE_SQL = f"""doc AS (
      SELECT doc_id, doc_id // 10 AS file_id,
             'HTTP/1.1 200 OK' || {_WARC_CRLF} ||
             'Content-Type: text/plain' || {_WARC_CRLF} || {_WARC_CRLF} ||
             {_KEY.format(c='text')} AS body,
             CASE WHEN doc_id % 7 = 0 THEN 'request'
                  ELSE 'response' END AS typ
      FROM documents),
    rec0 AS (
      SELECT doc_id, file_id,
             'WARC/1.0' || {_WARC_CRLF} ||
             'WARC-Type: ' || typ || {_WARC_CRLF} ||
             'WARC-Target-URI: https://site' || (doc_id % 5)
                 || '.example.com/p/' || doc_id || {_WARC_CRLF} ||
             'Content-Length: ' || length(body)
                 || {_WARC_CRLF} || {_WARC_CRLF} ||
             body || {_WARC_CRLF} || {_WARC_CRLF} AS rec
      FROM doc),
    f AS (SELECT file_id, string_agg(rec, '' ORDER BY doc_id) AS w
          FROM rec0 GROUP BY 1)"""

_WARC_HEND = (
    "CASE WHEN strpos(substring(w, pos), {crlf2}) = 0 THEN 0 "
    "ELSE pos + strpos(substring(w, pos), {crlf2}) - 1 END"
).format(crlf2=f"{_WARC_CRLF} || {_WARC_CRLF}")

_WARC_CLEN = (
    "try_cast(nullif(regexp_extract(substring(w, pos, "
    "CASE WHEN {hend} = 0 THEN length(w) ELSE {hend} - pos END), "
    "'Content-Length: ([0-9]+)', 1), '') AS INT)"
).format(hend=_WARC_HEND)

_WARC_PARSE_SQL = f"""walk AS (
      SELECT file_id, w, 0 AS rec_idx, 1::BIGINT AS pos FROM f
      UNION ALL
      SELECT file_id, w, rec_idx + 1,
             CASE WHEN hend = 0 OR clen IS NULL THEN length(w) + 1
                  ELSE hend + 4 + clen + 4 END
      FROM (SELECT file_id, w, rec_idx, pos,
                   {_WARC_HEND} AS hend, {_WARC_CLEN} AS clen
            FROM walk) s
      WHERE pos <= length(w) AND rec_idx < 63),
    prs AS (
      SELECT file_id, rec_idx, pos, {_WARC_HEND} AS hend,
             {_WARC_CLEN} AS clen, w
      FROM walk WHERE pos <= length(w)),
    wrec AS (
      SELECT file_id, rec_idx::INT AS rec_idx,
             (pos - 1)::BIGINT AS offset,
             nullif(regexp_extract(
                 substring(w, pos, CASE WHEN hend = 0 THEN length(w)
                                        ELSE hend - pos END),
                 'WARC-Type: ([^\\r\\n]+)', 1), '') AS warc_type,
             nullif(regexp_extract(
                 substring(w, pos, CASE WHEN hend = 0 THEN length(w)
                                        ELSE hend - pos END),
                 'WARC-Target-URI: ([^\\r\\n]+)', 1), '') AS target_uri,
             clen::BIGINT AS content_length,
             CASE WHEN hend = 0 OR clen IS NULL THEN NULL
                  ELSE md5(substring(w, hend + 4, clen)) END AS digest,
             (hend = 0 OR clen IS NULL
              OR hend + 3 + clen > length(w)) AS truncated
      FROM prs)"""


def _warc_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_WARC_FIXTURE_SQL`."""
    from mistral_ocr_pipeline_spark.functions.text_functions import (
        norm_key_col,
    )

    d = F.col("doc_id")
    crlf = "\r\n"
    body = F.concat(
        F.lit(f"HTTP/1.1 200 OK{crlf}Content-Type: text/plain{crlf}{crlf}"),
        norm_key_col(F.col("text")),
    )
    typ = F.when(d % 7 == 0, F.lit("request")).otherwise(F.lit("response"))
    rec = F.concat(
        F.lit(f"WARC/1.0{crlf}WARC-Type: "),
        typ,
        F.lit(f"{crlf}WARC-Target-URI: https://site"),
        (d % 5).cast("string"),
        F.lit(".example.com/p/"),
        d.cast("string"),
        F.lit(f"{crlf}Content-Length: "),
        F.length(body).cast("string"),
        F.lit(f"{crlf}{crlf}"),
        body,
        F.lit(f"{crlf}{crlf}"),
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr("doc_id div 10").alias("file_id"),
            F.struct(d.alias("doc_id"), rec.alias("rec")).alias("p"),
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


@register(
    "warc_parse_records",
    oracle=f"""
    WITH RECURSIVE {_WARC_FIXTURE_SQL},
    {_WARC_PARSE_SQL}
    SELECT * FROM wrec
    """,
)
def warc_parse_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record parsing (`sources/warc.parse_warc_records`, ISO
    28500): 50 synthetic WARC files of 10 records each, walked by the
    sequential Content-Length framing as ONE map-only `aggregate` fold
    per file — files parallelize, records within a file are the linear
    scan the format forces.  Offsets are true byte offsets under the
    latin-1 decode contract; the body digest certifies byte-exact
    slicing.  The oracle replays the walk as a recursive CTE over the
    identical fixture."""
    from mistral_ocr_pipeline_spark.sources.warc import parse_warc_records

    return parse_warc_records(
        _warc_fixture(spark, sf_dir), "file_id", "warc", max_records=64
    )


@register(
    "warc_cdx_index",
    oracle=f"""
    WITH RECURSIVE {_WARC_FIXTURE_SQL},
    {_WARC_PARSE_SQL}
    SELECT target_uri, file_id, "offset", content_length AS length, digest
    FROM wrec WHERE warc_type = 'response' AND NOT truncated
    """,
)
def warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX lookup index over the parsed WARC fixture
    (`sources/warc.cdx_index`): one row per intact response record —
    (url, file, byte offset, record length, body digest) — the
    refetch-free random-access index wayback-style readers and corpus
    reprocessors serve from.  Request records and truncated frames are
    excluded, exactly as CDX generation does."""
    from mistral_ocr_pipeline_spark.sources.warc import (
        cdx_index,
        parse_warc_records,
    )

    return cdx_index(
        parse_warc_records(
            _warc_fixture(spark, sf_dir), "file_id", "warc", max_records=64
        )
    )


# --------------------------------------------------------------------------
# end-to-end: WARC archive -> HTTP payload -> DOM extraction (north-star)
# --------------------------------------------------------------------------
@register(
    "warc_html_extract",
    oracle=f"""
    SELECT doc_id,
           'https://site' || (doc_id % 5) || '.example.com/p/' || doc_id
               AS target_uri,
           'Doc ' || doc_id::varchar || chr(10) || chr(10) ||
               {_NORM.format(c='text')} AS extracted_text,
           '# Doc ' || doc_id::varchar || chr(10) || chr(10) ||
               {_NORM.format(c='text')} AS md
    FROM documents
    WHERE doc_id % 7 <> 0 AND {_NORM.format(c='text')} != ''
    """,
)
def warc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star path end to end from the archive surface: WARC
    files (HTML pages behind HTTP headers, every 7th record a request)
    → `parse_warc_records` framing walk → intact responses → HTTP
    header strip → the REAL mapInArrow DOM extractor
    (`extract_transcripts`, the same boilerplate classifier
    `extract_html_boilerplate` certifies) → per-page text + markdown,
    with the target URI carried from the WARC headers.  One plan:
    fold-parse, payload slice, and Arrow extraction chain without a
    single driver action; the oracle reconstructs the expected
    extraction for every response record directly from the documents
    table."""
    from mistral_ocr_pipeline_spark.functions.text_functions import (  # noqa: F401
        norm_key_col,
    )
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        extract_transcripts,
    )
    from mistral_ocr_pipeline_spark.sources.warc import parse_warc_records

    crlf = "\r\n"
    d = F.col("doc_id")
    html = F.concat(
        F.lit(
            "<html><head><title>x</title><style>p{color:red}</style></head><body>"
            '<nav><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></nav>'
            "<header><p>Site tagline boilerplate</p></header><article><h1>Doc "
        ),
        d.cast("string"),
        F.lit("</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(
            "</p></article>"
            '<p><a href="/x">read</a> <a href="/y">more</a> <a href="/z">links</a></p>'
            '<aside><ul><li><a href="/r">Related article teaser junk</a></li></ul></aside>'
            "<footer><p>© 2024 example.org</p></footer></body></html>"
        ),
    )
    body = F.concat(
        F.lit(f"HTTP/1.1 200 OK{crlf}Content-Type: text/html{crlf}{crlf}"),
        F.when(d % 7 == 0, F.concat(F.lit("GET /p/"), d.cast("string"))).otherwise(
            html
        ),
    )
    typ = F.when(d % 7 == 0, F.lit("request")).otherwise(F.lit("response"))
    rec = F.concat(
        F.lit(f"WARC/1.0{crlf}WARC-Type: "),
        typ,
        F.lit(f"{crlf}WARC-Target-URI: https://site"),
        (d % 5).cast("string"),
        F.lit(".example.com/p/"),
        d.cast("string"),
        F.lit(f"{crlf}Content-Length: "),
        F.length(body).cast("string"),
        F.lit(f"{crlf}{crlf}"),
        body,
        F.lit(f"{crlf}{crlf}"),
    )
    files = (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr("doc_id div 10").alias("file_id"),
            F.struct(d.alias("doc_id"), rec.alias("rec")).alias("p"),
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
    recs = parse_warc_records(files, "file_id", "warc", 64, keep_body=True)
    # two consumers (extractor feed + URI join-back) — materialize the
    # parse once or the fixture build + framing fold run twice
    resp = recs.filter(
        (F.col("warc_type") == "response") & ~F.col("truncated")
    ).select(
        "file_id",
        "rec_idx",
        "target_uri",
        F.expr(
            "CASE WHEN locate('\\r\\n\\r\\n', body) = 0 THEN body "
            "ELSE substring(body, locate('\\r\\n\\r\\n', body) + 4) END"
        ).alias("payload"),
    ).persist()
    t = resp.select(
        F.col("file_id").cast("string").alias("conv_id"),
        F.col("rec_idx").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("payload").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    out = extract_transcripts(t).select(
        (F.col("conv_id").cast("long") * 10 + F.col("turn_idx")).alias(
            "doc_id"
        ),
        "extracted_text",
        "md",
    )
    uri = resp.select(
        (F.col("file_id") * 10 + F.col("rec_idx")).alias("doc_id"),
        "target_uri",
    )
    return (
        out.join(uri, "doc_id")
        .filter(
            F.col("extracted_text")
            != F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
        )
        .select("doc_id", "target_uri", "extracted_text", "md")
    )


# --------------------------------------------------------------------------
# Matryoshka prefix-dimension ANN (similarity_df.mrl_refine_topk)
# --------------------------------------------------------------------------
def _mrl_base_sql(prefix: int = 32, refine: int = 160) -> str:
    """CTE chain replaying `similarity_df.mrl_refine_topk`: prefix-slice
    cosine prefilter cut at ``refine``, exact full-dimension re-rank.
    Emits through ``mr(qid, vec_id, cosine, rank)`` plus ``c``/``q``."""
    pc = f"[1:{prefix}]"
    return f"""c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8),
    mred AS (
      SELECT q.qid, c.vec_id,
             round(list_dot_product(qv{pc}, v{pc}) /
                   (sqrt(list_dot_product(qv{pc}, qv{pc})) *
                    sqrt(list_dot_product(v{pc}, v{pc}))), 6) AS rcos
      FROM c CROSS JOIN q WHERE c.vec_id != q.qid),
    mcand AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
            PARTITION BY qid ORDER BY rcos DESC, vec_id) AS rn FROM mred)
      WHERE rn <= {refine}),
    ms AS (SELECT mcand.qid, mcand.vec_id,
             round(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
           FROM mcand JOIN q ON q.qid = mcand.qid
           JOIN c ON c.vec_id = mcand.vec_id),
    mr AS (SELECT *, row_number() OVER (
             PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM ms)"""


@register(
    "ann_mrl_topk",
    oracle=f"""
    WITH {_mrl_base_sql()}
    SELECT qid AS query_id, vec_id, cosine, rank FROM mr WHERE rank <= 5
    """,
)
def ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension ANN
    (`similarity_df.mrl_refine_topk`, Kusupati et al. 2022): the first
    32 of 64 components score the prefilter (the truncation trick
    embedding APIs expose as ``dimensions=``), 160 candidates per
    query, exact re-rank — zero training, zero extra math, and at
    column-layout scale the prefilter reads half the vector bytes.
    Whole path SQL-replayed."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        mrl_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return mrl_refine_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, prefix_dim=32, refine=160
    )


@register(
    "ann_mrl_recall",
    oracle=f"""
    WITH {_mrl_base_sql()},
    mxs AS (
      SELECT qid, c.vec_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM q CROSS JOIN c WHERE c.vec_id != qid),
    mxr AS (SELECT qid, vec_id, row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
            FROM mxs),
    mhits AS (
      SELECT mxr.qid,
             sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM mxr LEFT JOIN (SELECT * FROM mr WHERE rank <= 5) a
        ON a.qid = mxr.qid AND a.vec_id = mxr.vec_id
      WHERE mxr.rank <= 5 GROUP BY mxr.qid)
    SELECT qid AS query_id, round(h / 5.0, 6) AS recall,
           h / 5.0 >= 0.6 AS recall_ok
    FROM mhits
    """,
)
def ann_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the 32-prefix MRL path vs exact cosine
    top-5 — the honesty row, on GENERIC (non-MRL-trained) embeddings,
    i.e. the unfavourable case the operator docstring warns about:
    claim floor 0.6 (measured min 0.6 at sf0.1, 1.0 at sf0.01); an
    MRL-trained encoder only improves the prefix's share of the
    signal."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
        mrl_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    approx = mrl_refine_topk(emb, q, k=5, prefix_dim=32, refine=160).select(
        "query_id", "vec_id"
    )
    exact = brute_force_topk_df(emb, q, k=5).select("query_id", "vec_id")
    hits = (
        exact.join(
            approx.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("h"))
    )
    return hits.select(
        "query_id",
        F.round(F.col("h") / F.lit(5.0), 6).alias("recall"),
        (F.col("h") / F.lit(5.0) >= 0.6).alias("recall_ok"),
    )


# --------------------------------------------------------------------------
# length-bucket padding audit (packing.length_bucket_stats)
# --------------------------------------------------------------------------
@register(
    "pack_length_buckets",
    oracle=r"""
    WITH tkc AS (
      SELECT doc_id,
             CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                  ELSE len(string_split_regex(trim(coalesce(text, '')),
                                              '\s+')) END::BIGINT AS t
      FROM documents),
    kb AS (
      SELECT doc_id, least(t, 2048) AS eff,
             (CASE WHEN t <= 16 THEN 16 WHEN t <= 32 THEN 32
                   WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128
                   WHEN t <= 256 THEN 256 WHEN t <= 512 THEN 512
                   WHEN t <= 1024 THEN 1024 ELSE 2048 END)::BIGINT AS bucket,
             (t > 2048) AS trunc
      FROM tkc)
    SELECT bucket, count(*)::BIGINT AS n_docs,
           sum(eff)::BIGINT AS total_tokens,
           sum(bucket - eff)::BIGINT AS total_waste,
           sum(CASE WHEN trunc THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
           ((sum(eff) * 1000000) // (count(*) * bucket))::BIGINT
               AS pad_eff_micro
    FROM kb GROUP BY bucket
    """,
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket padding audit (`packing.length_bucket_stats`):
    whitespace token counts over documents assigned to the fixed
    power-of-two bucket ladder, per-bucket doc counts, real tokens,
    padded waste, truncations, and the integer micro-unit padding
    efficiency — the number a batching stack reads before moving a
    bucket boundary.  CASE-chain assignment (no log/pow floats), one
    tiny groupBy; the oracle replays every column."""
    from mistral_ocr_pipeline_spark.operators.packing import (
        length_bucket_stats,
    )
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        ws_token_count,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ws_token_count(F.coalesce(F.col("text"), F.lit(""))).alias("tokens"),
    )
    return length_bucket_stats(docs, "doc_id", "tokens")


# --------------------------------------------------------------------------
# homoglyph folding (text_analysis.fold_homoglyphs)
# --------------------------------------------------------------------------
@register(
    "text_homoglyph_fold",
    oracle="""
    WITH hb AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0
                  THEN translate(coalesce(text, ''), 'aeo', 'аео')
                  ELSE coalesce(text, '') END AS t
      FROM documents)
    SELECT doc_id AS id,
           translate(t, 'АВЕКМНОРСТХаеорсух', 'ABEKMHOPCTXaeopcyx')
               AS text_folded,
           len(regexp_extract_all(t, '[АВЕКМНОРСТХаеорсух]'))::BIGINT
               AS n_homoglyphs,
           len(regexp_extract_all(t, '[АВЕКМНОРСТХаеорсух]')) > 0
               AS had_homoglyphs
    FROM hb
    """,
)
def text_homoglyph_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph folding (`text_analysis.fold_homoglyphs`): every 6th
    document gets its a/e/o spoofed to Cyrillic а/е/о (the SEO-spam
    evasion that defeats digest-keyed dedup and decontam), and the fold
    restores them with a per-doc confusable count — on folded output,
    exact dedup sees the spoofed clone again.  Pure translate +
    regexp count, map-only; the oracle replays the spoof and the fold
    with byte-identical confusable tables."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        fold_homoglyphs,
    )

    docs = _t(spark, sf_dir, "documents")
    spoofed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.translate(F.coalesce(F.col("text"), F.lit("")), "aeo", "аео"),
        )
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("t"),
    )
    return fold_homoglyphs(spoofed, "doc_id", "t")


# --------------------------------------------------------------------------
# retrieval ranking metrics (similarity_df.retrieval_rank_metrics)
# --------------------------------------------------------------------------
@register(
    "retrieval_eval_metrics",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlab
          FROM embeddings WHERE vec_id < 8),
    s AS (SELECT q.qid, c.vec_id,
                 round(list_dot_product(qv, v) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(v, v))), 6) AS cosine
          FROM q CROSS JOIN c WHERE c.vec_id != q.qid),
    r AS (SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
          FROM s),
    qr AS (SELECT q.qid, c.vec_id,
                  CASE WHEN c.label = q.qlab
                       AND c.vec_id % 3 = q.qid % 3 THEN 2
                       WHEN c.label = q.qlab THEN 1 ELSE 0 END AS grade
           FROM q CROSS JOIN c WHERE c.vec_id != q.qid),
    topk AS (SELECT r.qid, r.vec_id, r.rank,
                    coalesce(qr.grade, 0) AS grade
             FROM r LEFT JOIN qr ON qr.qid = r.qid
                  AND qr.vec_id = r.vec_id
             WHERE r.rank <= 10),
    pq AS (SELECT qid,
                  sum(CASE WHEN grade > 0 THEN
                      round(grade / (ln(rank + 1) / ln(2))
                            * 1000000.0)::BIGINT ELSE 0 END)::BIGINT AS dcg_m,
                  sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)::BIGINT
                      AS n_rel_ret,
                  min(CASE WHEN grade > 0 THEN rank END) AS first_rel
           FROM topk GROUP BY qid),
    ig AS (SELECT qid, grade, row_number() OVER (
               PARTITION BY qid ORDER BY grade DESC, vec_id) AS irank
           FROM qr WHERE grade > 0),
    ideal AS (SELECT qid,
                     sum(round(grade / (ln(irank + 1) / ln(2))
                               * 1000000.0)::BIGINT)::BIGINT AS idcg_m,
                     count(*)::BIGINT AS n_rel_total
              FROM ig WHERE irank <= 10 GROUP BY qid)
    SELECT pq.qid AS query_id,
           round(n_rel_ret / 10.0, 6) AS precision_r6,
           round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr_r6,
           round(CASE WHEN coalesce(idcg_m, 0) > 0
                      THEN dcg_m::DOUBLE / idcg_m ELSE 0.0 END, 6)
               AS ndcg_r6,
           coalesce(n_rel_total, 0) AS n_rel_total
    FROM pq LEFT JOIN ideal ON ideal.qid = pq.qid
    """,
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style ranking metrics
    (`similarity_df.retrieval_rank_metrics`): exact cosine top-10 per
    query judged against GRADED qrels derived from the embeddings'
    label column (same label = relevant, same label + matching
    residue = highly relevant) — precision@10, MRR, and graded
    NDCG@10, with every DCG/IDCG term rounded to integer micro-units
    before the cross-row sum so the totals are order-independent.  The
    eval layer for the module's retrieval kernels; the oracle replays
    ranking, qrels, both DCG sides, and all three ratios."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
        retrieval_rank_metrics,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    results = brute_force_topk_df(emb, q, k=10).select(
        "query_id", "vec_id", "rank"
    )
    qrels = (
        q.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
        )
        .crossJoin(emb.select("vec_id", "label"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.when(
                (F.col("label") == F.col("qlab"))
                & (F.col("vec_id") % 3 == F.col("query_id") % 3),
                F.lit(2),
            )
            .when(F.col("label") == F.col("qlab"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("grade"),
        )
    )
    return retrieval_rank_metrics(results, qrels, k=10)


@register(
    "retrieval_eval_summary",
    oracle=f"""
    WITH perq AS ({ORACLES["retrieval_eval_metrics"]})
    SELECT count(*)::BIGINT AS n_queries,
           ((sum(round(precision_r6 * 1000000.0)::BIGINT) * 2 + count(*))
            // (2 * count(*)))::DOUBLE / 1000000.0 AS macro_precision_r6,
           ((sum(round(mrr_r6 * 1000000.0)::BIGINT) * 2 + count(*))
            // (2 * count(*)))::DOUBLE / 1000000.0 AS macro_mrr_r6,
           ((sum(round(ndcg_r6 * 1000000.0)::BIGINT) * 2 + count(*))
            // (2 * count(*)))::DOUBLE / 1000000.0 AS macro_ndcg_r6
    FROM perq
    """,
)
def retrieval_eval_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged ranking report — the single numbers a retrieval
    paper/leaderboard actually quotes: mean precision@10 / MRR / NDCG@10
    across queries, each mean an exact half-away integer micro-unit
    fold over the per-query 6-dp values (which are themselves exact at
    that precision, so the rollup is order-independent).  One
    #queries-row aggregation over `retrieval_eval_metrics`; the oracle
    nests that query's full oracle and replays the integer means."""
    per_q = QUERIES["retrieval_eval_metrics"](spark, sf_dir)
    m = lambda c: (  # noqa: E731 — half-away integer micro mean
        F.expr(
            f"(sum(cast(round({c} * 1000000.0) as bigint)) * 2 + count(*))"
            " div (2 * count(*))"
        ).cast("double")
        / 1e6
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        m("precision_r6").alias("macro_precision_r6"),
        m("mrr_r6").alias("macro_mrr_r6"),
        m("ndcg_r6").alias("macro_ndcg_r6"),
    )


def _warc_robots_oracle_sql() -> str:
    """robots.txt rules recovered THROUGH the WARC archive: the robots
    fixture's payloads are framed into per-host WARC files (one page
    record + one robots.txt response each), the framing walk and HTTP
    header strip recover the payloads, and the SAME rules CTE chain
    parses them — the archive round-trip provably loses nothing (the
    output equals `robots_txt_rules` exactly)."""
    crlf = _WARC_CRLF
    fixture = f"""{_robots_fixture_sql()},
    wparts AS (SELECT host,
        'HTTP/1.1 200 OK' || {crlf} || {crlf} || '<html>hi</html>' AS pb,
        'HTTP/1.1 200 OK' || {crlf} || {crlf} || robots_txt AS rbody
      FROM rb),
    f AS (SELECT host AS file_id,
        'WARC/1.0' || {crlf} || 'WARC-Type: response' || {crlf}
          || 'WARC-Target-URI: https://' || host || '/index' || {crlf}
          || 'Content-Length: ' || length(pb) || {crlf} || {crlf}
          || pb || {crlf} || {crlf}
          || 'WARC/1.0' || {crlf} || 'WARC-Type: response' || {crlf}
          || 'WARC-Target-URI: https://' || host || '/robots.txt' || {crlf}
          || 'Content-Length: ' || length(rbody) || {crlf} || {crlf}
          || rbody || {crlf} || {crlf} AS w
      FROM wparts)"""
    tail = f""",
    rbp AS (
      SELECT file_id AS host,
             CASE WHEN strpos(substring(w, hend + 4, clen),
                              {crlf} || {crlf}) = 0
                  THEN substring(w, hend + 4, clen)
                  ELSE substring(substring(w, hend + 4, clen),
                       strpos(substring(w, hend + 4, clen),
                              {crlf} || {crlf}) + 4) END AS robots_txt
      FROM prs
      WHERE regexp_extract(substring(w, pos,
                CASE WHEN hend = 0 THEN length(w) ELSE hend - pos END),
            'WARC-Target-URI: ([^\\r\\n]+)', 1) LIKE '%/robots.txt'
        AND NOT (hend = 0 OR clen IS NULL
                 OR hend + 3 + clen > length(w)))"""
    rules_body = "rln AS" + _ROBOTS_RULES_CTES.split("rln AS", 1)[1]
    rules_body = rules_body.replace("FROM rb)", "FROM rbp)")
    return (
        "WITH RECURSIVE " + fixture + ",\n    " + _WARC_PARSE_SQL + tail
        + ",\n    " + rules_body
        + "\n    SELECT host, path, allow, rule_len FROM rules"
        " ORDER BY host, path, allow"
    )


@register("warc_robots_rules", oracle=_warc_robots_oracle_sql())
def warc_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop CLOSED through the archive: per-host WARC files
    carry each fixture host's robots.txt as a captured response (next
    to an ordinary page), the framing walk + HTTP header strip recover
    the payloads, and `robots.robots_txt_rules` parses them into the
    fetch-gate rule table — output provably identical to parsing the
    payloads directly (same 9 rules), certifying that archives alone
    can bootstrap robots compliance for a re-crawl.  One plan: fold
    parse → payload slice → group-machine windows."""
    from mistral_ocr_pipeline_spark.operators.robots import robots_txt_rules
    from mistral_ocr_pipeline_spark.sources.warc import parse_warc_records

    crlf = "\r\n"
    rb = spark.createDataFrame(
        sorted(_ROBOTS_TXT.items()), "host string, robots_txt string"
    )
    pb = F.lit(f"HTTP/1.1 200 OK{crlf}{crlf}<html>hi</html>")
    rbody = F.concat(
        F.lit(f"HTTP/1.1 200 OK{crlf}{crlf}"), F.col("robots_txt")
    )

    def rec(uri: F.Column, body: F.Column) -> F.Column:
        return F.concat(
            F.lit(f"WARC/1.0{crlf}WARC-Type: response{crlf}WARC-Target-URI: "),
            uri,
            F.lit(f"{crlf}Content-Length: "),
            F.length(body).cast("string"),
            F.lit(f"{crlf}{crlf}"),
            body,
            F.lit(f"{crlf}{crlf}"),
        )

    files = rb.select(
        F.col("host").alias("file_id"),
        F.concat(
            rec(F.concat(F.lit("https://"), F.col("host"), F.lit("/index")), pb),
            rec(
                F.concat(
                    F.lit("https://"), F.col("host"), F.lit("/robots.txt")
                ),
                rbody,
            ),
        ).alias("warc"),
    )
    recs = parse_warc_records(files, "file_id", "warc", 16, keep_body=True)
    robots = recs.filter(
        F.col("target_uri").endswith("/robots.txt")
        & (F.col("warc_type") == "response")
        & ~F.col("truncated")
    ).select(
        F.col("file_id").alias("host"),
        F.expr(
            "CASE WHEN locate('\\r\\n\\r\\n', body) = 0 THEN body "
            "ELSE substring(body, locate('\\r\\n\\r\\n', body) + 4) END"
        ).alias("robots_txt"),
    )
    return robots_txt_rules(robots).orderBy("host", "path", "allow")


# --------------------------------------------------------------------------
# DoReMi one-step domain reweighting (sampling.doremi_weights)
# --------------------------------------------------------------------------
# shared CTE block ending in relations b (per-domain boost) and t2
# (totals) — mix_doremi reads them directly, mix_doremi_resample chains
# the rate computation and the per-doc hash gate on top
_DOREMI_CTES = f"""toks AS (
      SELECT doc_id AS id, source,
             unnest(string_split({_KEY.format(c='text')}, ' ')) AS t
      FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT sum(c)::DOUBLE AS n FROM cnt),
    pd AS (SELECT id, source,
                  round(round(avg(-ln(c / (SELECT n FROM tot))), 6)
                        * 1000000.0)::BIGINT AS sm
           FROM toks JOIN cnt USING (t)
           GROUP BY id, source),
    dm AS (SELECT source, sum(sm)::BIGINT AS s, count(*)::BIGINT AS n_docs
           FROM pd GROUP BY source),
    d2 AS (SELECT source, n_docs,
                  (s * 2 + n_docs) // (2 * n_docs) AS lm
           FROM dm),
    r AS (SELECT (sum(sm) * 2 + count(*)) // (2 * count(*)) AS ref FROM pd),
    e AS (SELECT source, n_docs, lm, ref,
                 greatest(lm - ref, 0)::BIGINT AS ex
          FROM d2 CROSS JOIN r),
    b AS (SELECT *, round(exp(1.0 * ex / 1000000.0)
                          * 1000000.0)::BIGINT AS bm FROM e),
    t2 AS (SELECT sum(bm)::DOUBLE AS tb, count(*)::DOUBLE AS k FROM b)"""


@register(
    "mix_doremi",
    oracle=f"""
    WITH {_DOREMI_CTES}
    SELECT source, n_docs,
           lm::DOUBLE / 1000000.0 AS loss_r6,
           ref::DOUBLE / 1000000.0 AS ref_r6,
           ex::DOUBLE / 1000000.0 AS excess_r6,
           round(0.9 * bm / tb + 0.1 / k, 6) AS weight_r6
    FROM b CROSS JOIN t2
    """,
)
def mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi one-step domain reweighting (`sampling.doremi_weights`,
    Xie et al. 2023): per-domain excess unigram-surprisal over the
    corpus baseline drives an exponentiated-gradient update from
    uniform, ε=0.1-smoothed.  Per-doc losses are micro-unit rounded
    before any cross-doc aggregation and both means are half-up integer
    divisions, so the only post-round float ops are one exp and two
    6-dp rounds (the accepted ln/exp sub-ulp convention)."""
    from mistral_ocr_pipeline_spark.operators.sampling import doremi_weights

    return doremi_weights(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# transcript-level QC (operators/transcript_qc) — the north-rule payload
# --------------------------------------------------------------------------
@register(
    "transcript_integrity",
    oracle="""
    WITH t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM documents WHERE doc_id % 7 <> 0),
    s AS (SELECT conv_id, turn_idx,
                 lag(role) OVER w = role AS rep,
                 lag(ts) OVER w > ts AS inv
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts, role))
    SELECT conv_id,
           count(*)::BIGINT AS n_turns,
           count(DISTINCT turn_idx)::BIGINT AS n_idx,
           (count(*) - count(DISTINCT turn_idx))::BIGINT AS dup_turns,
           (max(turn_idx) - min(turn_idx) + 1
                <> count(DISTINCT turn_idx)) AS has_gaps,
           (min(turn_idx) = 0) AS starts_at_zero,
           sum(CASE WHEN rep THEN 1 ELSE 0 END)::BIGINT AS role_repeats,
           sum(CASE WHEN inv THEN 1 ELSE 0 END)::BIGINT AS ts_inversions
    FROM s GROUP BY conv_id
    """,
)
def transcript_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation integrity audit (`transcript_qc.transcript_integrity`)
    over the derived transcripts with every 7th source row dropped — the
    dropped-turn corruption class: gaps, missing turn 0, and the
    role-alternation repeats the drops expose (adjacent survivors two
    indices apart share a role under the fixture's period-2 rotation).
    One conv_id-keyed exchange serves both the lag window and the
    rollup."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_integrity as op,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    return op(transcripts_from_documents(docs))


@register(
    "transcript_dedup_exact",
    oracle=f"""
    WITH base AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx, text
      FROM documents),
    clones AS (
      SELECT 'clone-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx, text
      FROM documents WHERE doc_id % 10 = 3),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM clones),
    k AS (SELECT conv_id, turn_idx,
                 coalesce({_KEY.format(c='text')}, '') AS t
          FROM u),
    fp AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
                  md5(string_agg(t, chr(31) ORDER BY turn_idx, t))
                      AS fingerprint
           FROM k GROUP BY conv_id)
    SELECT conv_id, fingerprint, n_turns,
           count(*) OVER (PARTITION BY fingerprint)::BIGINT AS group_size,
           (conv_id = min(conv_id) OVER (PARTITION BY fingerprint))
               AS is_canonical
    FROM fp
    """,
)
def transcript_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup
    (`transcript_qc.transcript_dedup_exact`): the transcripts plus a
    re-ingested clone of every conv whose id ends in 3 — the duplicate
    class per-document dedup can't see (the clone's rows differ in
    conv_id, not content).  Fingerprint = md5 over normalized turn
    texts in stable (turn_idx, text) order; canonical = lexicographic
    min conv_id per group."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_dedup_exact as op,
    )

    docs = _t(spark, sf_dir, "documents")
    base = transcripts_from_documents(docs).select("conv_id", "turn_idx", "text")
    clones = (
        transcripts_from_documents(docs.filter(F.col("doc_id") % 10 == 3))
        .select(
            F.concat(F.lit("clone-"), F.expr("substr(conv_id, 6)")).alias(
                "conv_id"
            ),
            "turn_idx",
            "text",
        )
    )
    return op(base.unionByName(clones))


# --------------------------------------------------------------------------
# held-out bigram LM scoring (text_analysis.bigram_surprisal_heldout)
# --------------------------------------------------------------------------
@register(
    "text_heldout_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, doc_id % 5 = 0 AS is_train,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         t -> t != '') AS ts
      FROM documents),
    pairs AS (
      SELECT id, is_train, ts[i] AS prev, ts[i + 1] AS cur
      FROM (SELECT id, is_train, ts,
                   unnest(generate_series(1, len(ts) - 1))::INT AS i
            FROM tok WHERE len(ts) >= 2)),
    c2 AS (SELECT prev, cur, count(*) AS c2 FROM pairs
           WHERE is_train GROUP BY prev, cur),
    ctx AS (SELECT prev, sum(c2) AS ctx FROM c2 GROUP BY prev),
    voc AS (SELECT count(DISTINCT t)::DOUBLE AS v
            FROM (SELECT unnest(ts) AS t FROM tok WHERE is_train)),
    sc AS (
      SELECT p.id,
             round(-ln((coalesce(c.c2, 0) + 1)
                       / (coalesce(x.ctx, 0) + v)) * 1000000.0)::BIGINT
                 AS micro,
             (c.c2 IS NULL) AS oov
      FROM pairs p
      LEFT JOIN c2 c ON p.prev = c.prev AND p.cur = c.cur
      LEFT JOIN ctx x ON p.prev = x.prev
      CROSS JOIN voc
      WHERE NOT p.is_train)
    SELECT id AS doc_id, count(*) AS n_pairs,
           sum(CASE WHEN oov THEN 1 ELSE 0 END)::BIGINT AS oov_pairs,
           round(sum(micro) / 1000000.0 / count(*), 6) AS surprisal
    FROM sc GROUP BY id
    """,
)
def text_heldout_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped held-out LM scoring
    (`text_analysis.bigram_surprisal_heldout`): the add-1 bigram LM
    trains on the 1-in-5 'clean reference' slice and scores the other
    four fifths, with the add-1 floors for unseen bigrams/contexts and
    the train-vocabulary V — unlike `text_bigram_surprisal`, the model
    never sees the scored text, so OOV mass is real (and surfaced as
    ``oov_pairs``).  The whole model — counts, floors, vocabulary —
    is replayed in the oracle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        bigram_surprisal_heldout,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_surprisal_heldout(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id",
    )


@register(
    "mix_doremi_resample",
    oracle=f"""
    WITH {_DOREMI_CTES},
    wts AS (SELECT source, n_docs,
                   round(0.9 * bm / tb + 0.1 / k, 6) AS weight_r6
            FROM b CROSS JOIN t2),
    rr AS (SELECT source, weight_r6 / n_docs AS r_raw FROM wts),
    mx AS (SELECT max(r_raw) AS m FROM rr),
    rt AS (SELECT source, round(r_raw / m, 6) AS rate_r6
           FROM rr CROSS JOIN mx)
    SELECT d.doc_id, d.source, rt.rate_r6
    FROM documents d JOIN rt USING (source)
    WHERE ('0x' || substr(md5('dmx:' || d.doc_id::varchar), 1, 8))::UBIGINT
              / 4294967296.0 < rt.rate_r6
    """,
)
def mix_doremi_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi realized as a corpus (`sampling.doremi_resample`): the
    one-step weights become per-domain subsample rates
    (r_d ∝ w_d / n_d, max-normalized so the most over-weighted domain
    keeps everything), gated per doc by the exact dyadic md5 fraction —
    the whole weights→rates→keep decision is replayed in the oracle,
    including every kept/dropped doc id."""
    from mistral_ocr_pipeline_spark.operators.sampling import doremi_resample

    return doremi_resample(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# transcript curation battery (operators/transcript_qc, round 5 cont.)
# --------------------------------------------------------------------------
@register(
    "transcript_prefix_dedup",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    branches AS (
      SELECT 'branch-' || substr(conv_id, 6) AS conv_id, turn_idx,
             CASE WHEN turn_idx >= 3 THEN 'regenerated ' || text
                  ELSE text END AS text
      FROM t
      WHERE (substr(conv_id, 6))::INT % 5 = 0 AND turn_idx < 6),
    u AS (SELECT conv_id, turn_idx, text FROM t
          UNION ALL SELECT * FROM branches),
    k AS (SELECT conv_id, turn_idx,
                 coalesce({_KEY.format(c='text')}, '') AS t
          FROM u),
    fp AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
                  md5(array_to_string(
                      list(t ORDER BY turn_idx, t)[1:3], chr(31)))
                      AS prefix_fp
           FROM k GROUP BY conv_id),
    sized AS (SELECT conv_id, prefix_fp, n_turns,
                     count(*) OVER (PARTITION BY prefix_fp)::BIGINT
                         AS group_size,
                     max(n_turns) OVER (PARTITION BY prefix_fp) AS mx
              FROM fp)
    SELECT conv_id, prefix_fp, n_turns, group_size,
           conv_id = min(CASE WHEN n_turns = mx THEN conv_id END)
               OVER (PARTITION BY prefix_fp) AS is_canonical
    FROM sized
    """,
)
def transcript_prefix_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-branch dedup (`transcript_qc.transcript_prefix_dedup`): the
    transcripts plus a truncated REGENERATED branch of every 5th
    conversation — identical first 3 turns, divergent tail from turn 3,
    cut at 6 turns.  Whole-conversation fingerprints can't group these;
    the 3-turn prefix fingerprint does, and the longest branch (the
    original) is kept as canonical."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_prefix_dedup as op,
    )

    t = transcripts_from_documents(_t(spark, sf_dir, "documents")).select(
        "conv_id", "turn_idx", "text"
    )
    branches = (
        t.filter(
            (F.substring("conv_id", 6, 6).cast("int") % 5 == 0)
            & (F.col("turn_idx") < 6)
        )
        .select(
            F.concat(F.lit("branch-"), F.expr("substr(conv_id, 6)")).alias(
                "conv_id"
            ),
            "turn_idx",
            F.when(
                F.col("turn_idx") >= 3, F.concat(F.lit("regenerated "), "text")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return op(t.unionByName(branches), k=3)


@register(
    "transcript_loss_mask",
    oracle=rf"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    p AS (SELECT conv_id, role,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                 END AS tok
          FROM t)
    SELECT conv_id, count(*)::BIGINT AS n_turns,
           sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
               AS n_trainable_turns,
           sum(tok)::BIGINT AS tokens_total,
           sum(CASE WHEN role = 'assistant' THEN tok ELSE 0 END)::BIGINT
               AS tokens_trainable,
           round(sum(CASE WHEN role = 'assistant' THEN tok ELSE 0 END)::DOUBLE
                 / greatest(sum(tok), 1), 6) AS trainable_ratio_r6
    FROM p GROUP BY conv_id
    """,
)
def transcript_loss_mask_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask accounting (`transcript_qc.transcript_loss_mask`):
    per-conversation trainable-token budget under the standard
    assistant-turns-train mask, whitespace basis for exact SQL replay."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_loss_mask as op,
    )

    return op(transcripts_from_documents(_t(spark, sf_dir, "documents")))


@register(
    "transcript_render_sft",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    p AS (SELECT conv_id, turn_idx,
                 '<|' || role || '|>' || coalesce(text, '') AS piece,
                 length('<|' || role || '|>') AS plen,
                 length(coalesce(text, '')) AS tlen,
                 role = 'assistant' AS tr
          FROM t),
    o AS (SELECT conv_id, turn_idx, piece, tr, tlen,
                 coalesce(sum(length(piece) + 1) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + plen AS s
          FROM p)
    SELECT conv_id,
           string_agg(piece, chr(10) ORDER BY turn_idx) AS rendered,
           coalesce(string_agg(
               CASE WHEN tr THEN s::varchar || ':' || (s + tlen)::varchar END,
               ',' ORDER BY turn_idx), '') AS train_spans,
           count(*)::BIGINT AS n_turns,
           sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_trainable
    FROM o GROUP BY conv_id
    """,
)
def transcript_render_sft_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT render (`transcript_qc.transcript_render_sft`): each
    conversation becomes the literal training string (role-tagged turns)
    plus character-offset trainable spans — rendered bytes AND span
    arithmetic value-hashed against the ordered string_agg twin."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_render_sft as op,
    )

    return op(transcripts_from_documents(_t(spark, sf_dir, "documents")))


@register(
    "transcript_context_windows",
    oracle=rf"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    p AS (SELECT conv_id, turn_idx, role,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                 END AS turn_tokens
          FROM t),
    o AS (SELECT conv_id, turn_idx, role, turn_tokens::BIGINT AS turn_tokens,
                 coalesce(sum(turn_tokens) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)::BIGINT AS start_offset
          FROM p)
    SELECT conv_id, turn_idx, role, turn_tokens, start_offset,
           (start_offset // 256)::BIGINT AS win_id
    FROM o
    """,
)
def transcript_context_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-aligned context-window split
    (`transcript_qc.transcript_context_windows`): 256-token
    turn-preserving boundary cut per conversation, the conversation
    analog of `pack_token_budget`'s document-preserving packing."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_context_windows as op,
    )

    return op(
        transcripts_from_documents(_t(spark, sf_dir, "documents")), budget=256
    )


@register(
    "transcript_role_transitions",
    oracle="""
    WITH t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM documents WHERE doc_id % 7 <> 0),
    s AS (SELECT conv_id, lag(role) OVER w AS from_role, role AS to_role
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts, role))
    SELECT from_role, to_role, count(*)::BIGINT AS n
    FROM s WHERE from_role IS NOT NULL
    GROUP BY from_role, to_role
    """,
)
def transcript_role_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition matrix
    (`transcript_qc.transcript_role_transitions`) over the
    dropped-turns fixture (every 7th source row gone) — the dashboard
    that surfaces broken alternation: the drops create same-role
    adjacencies the clean rotation never has."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_role_transitions as op,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    return op(transcripts_from_documents(docs))


@register(
    "transcript_tool_stats",
    oracle="""
    WITH t0 AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM documents WHERE doc_id % 7 <> 0),
    t AS (SELECT *, CASE WHEN role = 'tool'
                         THEN 'tool-' || (turn_idx % 3)::varchar END AS tool
          FROM t0),
    s AS (SELECT conv_id, tool, tool IS NOT NULL AS it,
                 CASE WHEN tool IS NOT NULL
                       AND contains(lower(coalesce(text, '')), 'error')
                      THEN 1 ELSE 0 END AS err,
                 row_number() OVER (
                     PARTITION BY conv_id
                     ORDER BY turn_idx, ts, role) AS rn,
                 CASE WHEN tool IS NOT NULL THEN row_number() OVER (
                     PARTITION BY conv_id, (tool IS NOT NULL)
                     ORDER BY turn_idx, ts, role) END AS rt
          FROM t),
    runs AS (SELECT conv_id, max(c) AS max_run FROM (
               SELECT conv_id, rn - rt AS island, count(*) AS c
               FROM s WHERE it GROUP BY conv_id, rn - rt)
             GROUP BY conv_id),
    base AS (SELECT conv_id,
                    sum(CASE WHEN it THEN 1 ELSE 0 END)::BIGINT
                        AS n_tool_turns,
                    count(DISTINCT tool)::BIGINT AS n_distinct_tools,
                    sum(err)::BIGINT AS n_tool_errors
             FROM s GROUP BY conv_id)
    SELECT b.conv_id, n_tool_turns, n_distinct_tools, n_tool_errors,
           coalesce(max_run, 0)::BIGINT AS max_tool_run
    FROM base b LEFT JOIN runs USING (conv_id)
    """,
)
def transcript_tool_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-trace tool analytics (`transcript_qc.transcript_tool_stats`)
    over the dropped-turns fixture with a synthesized tool column
    (role='tool' turns invoke 'tool-{turn_idx%3}'): call volume,
    distinct tools, error-marker turns, and the longest consecutive
    tool run (the drops fuse adjacent tool turns into real runs)."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_tool_stats as op,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    t = transcripts_from_documents(docs).withColumn(
        "tool",
        F.when(
            F.col("role") == "tool",
            F.concat(F.lit("tool-"), (F.col("turn_idx") % 3).cast("string")),
        ),
    )
    return op(t)


@register(
    "transcript_quality_gate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN ''
                  WHEN doc_id % 9 = 0 THEN 'I cannot help with that. ' || text
                  ELSE text END AS text
      FROM documents),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text
      FROM d),
    p AS (SELECT conv_id,
                 CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS a,
                 CASE WHEN role = 'assistant' AND (
                        contains(lower(coalesce(text, '')), 'i cannot')
                        OR contains(lower(coalesce(text, '')), 'i can''t')
                        OR contains(lower(coalesce(text, '')), 'i''m sorry')
                        OR contains(lower(coalesce(text, '')), 'as an ai'))
                      THEN 1 ELSE 0 END AS r,
                 CASE WHEN role = 'assistant'
                       AND trim(coalesce(text, '')) = ''
                      THEN 1 ELSE 0 END AS e
          FROM t)
    SELECT conv_id, sum(a)::BIGINT AS n_assistant,
           sum(r)::BIGINT AS n_refusals,
           sum(e)::BIGINT AS n_empty_assistant,
           (sum(r) = 0 AND sum(e) = 0 AND sum(a) > 0) AS keep
    FROM p GROUP BY conv_id
    """,
)
def transcript_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant-turn degeneracy gate
    (`transcript_qc.transcript_refusal_flags`) over a corrupted fixture:
    every 13th source text blanked (empty completions), every 9th
    prefixed with a refusal opener — the SFT-data filter for
    conversations with nothing trainable or refusal-shaped answers."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_refusal_flags as op,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0, F.lit(""))
        .when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.lit("I cannot help with that. "), F.col("text")),
        )
        .otherwise(F.col("text")),
    )
    return op(transcripts_from_documents(docs))


@register(
    "transcript_neardup",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    conv AS (SELECT conv_id,
                    string_agg(coalesce(text, ''), ' '
                               ORDER BY turn_idx, coalesce(text, ''))
                        AS conv_text
             FROM t GROUP BY conv_id),
    u AS (SELECT conv_id, conv_text FROM conv
          UNION ALL
          SELECT 'clone-' || substr(conv_id, 6),
                 regexp_replace(conv_text, '^\\w+', 'changed')
          FROM conv WHERE (substr(conv_id, 6))::INT % 5 = 0),
    tk AS (SELECT conv_id AS id,
                  string_split({_KEY.format(c='conv_text')}, ' ') AS toks
           FROM u),
    g AS (SELECT id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, greatest(len(toks) - 1, 1))])
                     AS grams
          FROM tk),
    sz AS (SELECT id, len(grams) AS n FROM g),
    e AS (SELECT id, unnest(grams) AS gram FROM g),
    inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM e a JOIN e b ON a.gram = b.gram AND a.id < b.id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           i::DOUBLE / (sa.n + sb.n - i) AS jaccard,
           FALSE AS bucket_truncated
    FROM inter
    JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
    WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
    """,
)
def transcript_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level NEAR-dup (`transcript_qc.conversation_texts` →
    `dedup.minhash_lsh_pairs`): each conversation's stable-ordered turn
    texts joined into one conversation document, MinHash-LSH'd against a
    one-word-perturbed clone of every 5th conversation — the re-ingested
    almost-identical session class that exact conversation fingerprints
    miss.  Value-oracle = exact all-pairs 3-gram Jaccard ≥ 0.5 (the
    dedup_minhash_lsh recall-check discipline at conversation
    granularity)."""
    from mistral_ocr_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        conversation_texts,
    )

    # the minhash path consumes its input from several branches (signature,
    # fresh-shingle verify, both bucket sides) — without a boundary each
    # branch re-runs the conversation-assembly groupBy over the full turn
    # table (measured 43.7 s → ~5 s at sf0.1); the conv relation is
    # conv-cardinality-sized (tiny), so persist it once
    conv = conversation_texts(
        transcripts_from_documents(_t(spark, sf_dir, "documents"))
    ).persist()
    clones = conv.filter(
        F.substring("conv_id", 6, 6).cast("int") % 5 == 0
    ).select(
        F.concat(F.lit("clone-"), F.expr("substr(conv_id, 6)")).alias(
            "conv_id"
        ),
        F.regexp_replace("conv_text", r"^\w+", "changed").alias("conv_text"),
    )
    u = conv.unionByName(clones)
    return minhash_lsh_pairs(
        u, "conv_id", "conv_text", n=3, num_perm=64, bands=16, threshold=0.5
    )


@register(
    "transcript_preference_pairs",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    branches AS (
      SELECT 'branch-' || substr(conv_id, 6) AS conv_id, turn_idx,
             CASE WHEN turn_idx >= 3 THEN 'regenerated ' || text
                  ELSE text END AS text
      FROM t
      WHERE (substr(conv_id, 6))::INT % 5 = 0 AND turn_idx < 6),
    u AS (SELECT conv_id, turn_idx, text FROM t
          UNION ALL SELECT * FROM branches),
    kk AS (SELECT conv_id, turn_idx,
                  coalesce({_KEY.format(c='text')}, '') AS t
           FROM u),
    fp AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
                  md5(array_to_string(
                      list(t ORDER BY turn_idx, t)[1:3], chr(31)))
                      AS prefix_fp
           FROM kk GROUP BY conv_id),
    sized AS (SELECT conv_id, prefix_fp, n_turns,
                     count(*) OVER (PARTITION BY prefix_fp) AS gs,
                     max(n_turns) OVER (PARTITION BY prefix_fp) AS mx
              FROM fp),
    canon AS (SELECT conv_id, prefix_fp, gs,
                     conv_id = min(CASE WHEN n_turns = mx
                                        THEN conv_id END)
                         OVER (PARTITION BY prefix_fp) AS is_c
              FROM sized),
    fam AS (SELECT * FROM canon WHERE gs >= 2),
    arr AS (SELECT conv_id,
                   list(coalesce(text, '')
                        ORDER BY turn_idx, coalesce(text, '')) AS a
            FROM u GROUP BY conv_id),
    pc AS (SELECT conv_id,
                  array_to_string(a[1:3], chr(10)) AS prompt_text,
                  a[4] AS tk
           FROM arr),
    j AS (SELECT f.conv_id, f.prefix_fp, f.is_c, pc.prompt_text, pc.tk
          FROM fam f JOIN pc USING (conv_id) WHERE pc.tk IS NOT NULL),
    chosen AS (SELECT prefix_fp, conv_id AS chosen_conv, prompt_text,
                      tk AS chosen_text
               FROM j WHERE is_c),
    rejected AS (SELECT prefix_fp, conv_id AS rejected_conv,
                        tk AS rejected_text
                 FROM j WHERE NOT is_c)
    SELECT c.prefix_fp, chosen_conv, rejected_conv, prompt_text,
           chosen_text, rejected_text
    FROM chosen c JOIN rejected r USING (prefix_fp)
    WHERE {_KEY.format(c='chosen_text')} <> {_KEY.format(c='rejected_text')}
    """,
)
def transcript_preference_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-shape preference pairs
    (`transcript_qc.transcript_preference_pairs`) from the retry-branch
    fixture: every 5th conversation has a truncated regeneration
    diverging at turn 3, so each family yields (prompt = shared first 3
    turns, chosen = kept branch's turn 3, rejected = the retry's
    'regenerated' turn 3)."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_preference_pairs as op,
    )

    t = transcripts_from_documents(_t(spark, sf_dir, "documents")).select(
        "conv_id", "turn_idx", "text"
    )
    branches = (
        t.filter(
            (F.substring("conv_id", 6, 6).cast("int") % 5 == 0)
            & (F.col("turn_idx") < 6)
        )
        .select(
            F.concat(F.lit("branch-"), F.expr("substr(conv_id, 6)")).alias(
                "conv_id"
            ),
            "turn_idx",
            F.when(
                F.col("turn_idx") >= 3, F.concat(F.lit("regenerated "), "text")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return op(t.unionByName(branches), k=3)


@register(
    "transcript_latency_stats",
    oracle="""
    WITH t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM documents WHERE doc_id % 7 <> 0),
    s AS (SELECT conv_id,
                 CASE WHEN role = 'assistant' THEN
                   (epoch_ms(ts) - epoch_ms(lag(ts) OVER w)) / 1000.0
                 END AS lat
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts, role))
    SELECT conv_id, count(lat)::BIGINT AS n_replies,
           round(avg(lat), 6) AS mean_latency_r6,
           max(lat) AS max_latency_s
    FROM s GROUP BY conv_id
    """,
)
def transcript_latency_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant response-latency rollup
    (`transcript_qc.transcript_latency_stats`) over the dropped-turns
    fixture — the drops double the inter-turn gap ahead of some
    assistant turns, so mean and max genuinely differ per
    conversation."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_latency_stats as op,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 != 0)
    return op(transcripts_from_documents(docs))


@register(
    "transcript_sft_pipeline",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN (doc_id % 50) % 13 = 5 THEN ''
                  WHEN (doc_id % 50) % 9 = 3
                       THEN 'I cannot help with that. ' || text
                  ELSE text END AS text
      FROM documents),
    base AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM d
      WHERE NOT ((doc_id % 50) % 10 = 7 AND doc_id // 50 = 1)),
    u AS (SELECT conv_id, turn_idx, role, text, ts FROM base
          UNION ALL
          SELECT 'clone-' || substr(conv_id, 6), turn_idx, role, text, ts
          FROM base WHERE (substr(conv_id, 6))::INT % 10 = 3),
    s AS (SELECT conv_id, turn_idx, role, text,
                 CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                 END AS tok,
                 coalesce({_KEY.format(c='text')}, '') AS nk
          FROM u),
    facts AS (
      SELECT conv_id,
             count(*)::BIGINT AS n_turns,
             (count(*) - count(DISTINCT turn_idx)) AS dup_turns,
             (max(turn_idx) - min(turn_idx) + 1
                  <> count(DISTINCT turn_idx)) AS has_gaps,
             (min(turn_idx) = 0) AS starts_at_zero,
             sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                 AS n_assistant,
             sum(CASE WHEN role = 'assistant' AND (
                    contains(lower(coalesce(text, '')), 'i cannot')
                    OR contains(lower(coalesce(text, '')), 'i can''t')
                    OR contains(lower(coalesce(text, '')), 'i''m sorry')
                    OR contains(lower(coalesce(text, '')), 'as an ai'))
                 THEN 1 ELSE 0 END) AS n_refusals,
             sum(CASE WHEN role = 'assistant'
                       AND trim(coalesce(text, '')) = ''
                 THEN 1 ELSE 0 END) AS n_empty,
             sum(tok)::BIGINT AS tokens_total,
             sum(CASE WHEN role = 'assistant' THEN tok ELSE 0 END)::BIGINT
                 AS tokens_trainable,
             md5(string_agg(nk, chr(31) ORDER BY turn_idx, nk))
                 AS fingerprint
      FROM s GROUP BY conv_id),
    based AS (SELECT *,
                     (NOT has_gaps AND dup_turns = 0 AND starts_at_zero
                      AND n_refusals = 0 AND n_empty = 0
                      AND n_assistant > 0 AND tokens_trainable > 0)
                         AS base_keep
              FROM facts),
    canon AS (SELECT *,
                     conv_id = min(CASE WHEN base_keep THEN conv_id END)
                         OVER (PARTITION BY fingerprint) AS is_c
              FROM based),
    keep AS (SELECT conv_id, n_turns, tokens_total, tokens_trainable
             FROM canon WHERE base_keep AND is_c),
    p AS (SELECT s.conv_id, turn_idx, tok
          FROM s JOIN keep USING (conv_id)),
    o AS (SELECT conv_id,
                 coalesce(sum(tok) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS so
          FROM p),
    wn AS (SELECT conv_id, count(DISTINCT so // 256)::BIGINT AS n_windows
           FROM o GROUP BY conv_id)
    SELECT k.conv_id, n_turns, tokens_total, tokens_trainable,
           round(tokens_trainable::DOUBLE / greatest(tokens_total, 1), 6)
               AS trainable_ratio_r6,
           n_windows
    FROM keep k JOIN wn USING (conv_id)
    """,
)
def transcript_sft_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT transcript-curation composite in ONE plan — the north-rule
    payload end-to-end: corrupted warehouse (conv-targeted so the
    survivor count is SCALE-STABLE — per-document corruption rates
    would kill every 100-turn conversation at sf0.1: convs ≡5 (mod 13)
    blanked, ≡3 (mod 9) refusal-prefixed, ≡7 (mod 10) lose turn 1
    creating a gap, ≡3 (mod 10) re-ingested as clones) → fused
    per-conversation facts (`transcript_qc.transcript_conv_facts`: ONE
    conv_id exchange instead of the four the à-la-carte integrity /
    refusal / loss-mask / fingerprint passes would pay) → keep rule
    (intact ∧ non-degenerate ∧ trainable ∧ canonical-per-fingerprint) →
    broadcast-join survivors → turn-aligned 256-token context windows →
    per-conversation emit with window counts.  Zero driver actions; the
    corrupted turn relation is persisted once for its two scans (facts +
    window cut)."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_context_windows,
        transcript_conv_facts,
    )

    suffix = F.col("doc_id") % 50
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(suffix % 13 == 5, F.lit(""))
        .when(
            suffix % 9 == 3,
            F.concat(F.lit("I cannot help with that. "), F.col("text")),
        )
        .otherwise(F.col("text")),
    ).filter(~((suffix % 10 == 7) & (F.floor(F.col("doc_id") / 50) == 1)))
    base = transcripts_from_documents(docs).select(
        "conv_id", "turn_idx", "role", "text", "ts"
    )
    clones = base.filter(
        F.substring("conv_id", 6, 6).cast("int") % 10 == 3
    ).select(
        F.concat(F.lit("clone-"), F.expr("substr(conv_id, 6)")).alias(
            "conv_id"
        ),
        "turn_idx",
        "role",
        "text",
        "ts",
    )
    u = base.unionByName(clones).persist()
    facts = transcript_conv_facts(u)
    wfp = W.partitionBy("fingerprint")
    # canonical = min conv_id among the RULE-PASSING members of the
    # fingerprint group (a corrupted clone with the same surviving texts
    # must never shadow a clean copy)
    base_rule = (
        ~F.col("has_gaps")
        & (F.col("dup_turns") == 0)
        & F.col("starts_at_zero")
        & (F.col("n_refusals") == 0)
        & (F.col("n_empty_assistant") == 0)
        & (F.col("n_assistant") > 0)
        & (F.col("tokens_trainable") > 0)
    )
    keep = (
        facts.withColumn("_base", base_rule)
        .withColumn(
            "is_c",
            F.col("conv_id")
            == F.min(F.when(F.col("_base"), F.col("conv_id"))).over(wfp),
        )
        .filter(F.col("_base") & F.col("is_c"))
        .select("conv_id", "n_turns", "tokens_total", "tokens_trainable")
    )
    surv = u.join(F.broadcast(keep.select("conv_id")), "conv_id")
    wn = (
        transcript_context_windows(surv, budget=256)
        .groupBy("conv_id")
        .agg(F.countDistinct("win_id").alias("n_windows"))
    )
    return keep.join(wn, "conv_id").select(
        "conv_id",
        "n_turns",
        "tokens_total",
        "tokens_trainable",
        F.round(
            F.col("tokens_trainable")
            / F.greatest(F.col("tokens_total"), F.lit(1)).cast("double"),
            6,
        ).alias("trainable_ratio_r6"),
        "n_windows",
    )


@register(
    "transcript_template_lint",
    oracle="""
    WITH t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             TIMESTAMP '2024-01-01 00:00:00'
                 + doc_id * INTERVAL 1 SECOND AS ts
      FROM documents),
    s AS (SELECT conv_id, role,
                 row_number() OVER w AS rn,
                 lag(role) OVER w AS prev,
                 CASE WHEN role IN ('user', 'assistant') THEN
                   lag(role) OVER (
                     PARTITION BY conv_id, (role IN ('user', 'assistant'))
                     ORDER BY turn_idx, ts, role)
                 END AS prev_ua,
                 role IN ('user', 'assistant') AS ua
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts, role)),
    a AS (SELECT conv_id,
                 max(CASE WHEN rn = 1 THEN role END) AS first_role,
                 sum(CASE WHEN role = 'system' AND rn > 1
                     THEN 1 ELSE 0 END)::BIGINT AS n_late_system,
                 sum(CASE WHEN role = 'tool' AND (prev IS NULL
                          OR prev NOT IN ('assistant', 'tool'))
                     THEN 1 ELSE 0 END)::BIGINT AS n_orphan_tools,
                 sum(CASE WHEN ua AND prev_ua = role
                     THEN 1 ELSE 0 END)::BIGINT AS n_alt_violations
          FROM s GROUP BY conv_id)
    SELECT conv_id, first_role, n_late_system, n_orphan_tools,
           n_alt_violations,
           (first_role IN ('system', 'user') AND n_late_system = 0
            AND n_orphan_tools = 0 AND n_alt_violations = 0)
               AS template_ok
    FROM a
    """,
)
def transcript_template_lint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template lint (`transcript_qc.transcript_template_lint`)
    over the derived transcripts — the fixture's period-2 role rotation
    gives each conv-id class a distinct violation profile (tool-opening
    conversations, orphan tool results, assistant-opening sessions,
    mid-conversation system turns)."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_template_lint as op,
    )

    return op(transcripts_from_documents(_t(spark, sf_dir, "documents")))


@register(
    "transcript_pii_scrub",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || doc_id ||
                       '@example.com or 555-123-4567' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
                  THEN ' ssn 123-45-6789 from 10.0.0.' || (doc_id % 255)
                  ELSE '' END AS text
      FROM documents),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text
      FROM d),
    s1 AS (SELECT conv_id, turn_idx, role,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))::bigint
                 AS n_email,
             regexp_replace(text,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g') AS t
           FROM t),
    s2 AS (SELECT conv_id, turn_idx, role, n_email,
             len(regexp_extract_all(t,
                 '[0-9]{3}-[0-9]{2}-[0-9]{4}'))::bigint AS n_ssn,
             regexp_replace(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}',
                 '[SSN]', 'g') AS t
           FROM s1),
    s3 AS (SELECT conv_id, turn_idx, role, n_email, n_ssn,
             len(regexp_extract_all(t,
                 '(?:\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}'))::bigint
                 AS n_phone,
             regexp_replace(t,
                 '(?:\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}',
                 '[PHONE]', 'g') AS t
           FROM s2)
    SELECT conv_id, turn_idx, role, n_email, n_ssn, n_phone,
           len(regexp_extract_all(t,
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))::bigint
               AS n_ip,
           regexp_replace(t,
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
               '[IP]', 'g') AS scrubbed
    FROM s3
    """,
)
def transcript_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level PII redaction over the north-rule payload
    (`text_analysis.pii_scrub` keyed by conversation/turn): the same
    staged JVM regex cascade as `text_pii_scrub`, with PII synthesized
    onto every 7th/11th source row before the transcript derivation —
    scrubbed turn STRINGS hash-matched, proving the map-only privacy
    pass composes with the transcript shape unchanged."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" ssn 123-45-6789 from 10.0.0."),
                    (F.col("doc_id") % 255).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    t = transcripts_from_documents(docs)
    return pii_scrub(t, "conv_id", keep_cols=["turn_idx", "role"]).select(
        F.col("id").alias("conv_id"),
        "turn_idx",
        "role",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        "scrubbed",
    )


@register(
    "transcript_hot_turns",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id < 50 THEN 'How can I help you today?'
                  WHEN doc_id % 17 = 4 THEN 'Standard tool banner.'
                  ELSE text END AS text
      FROM documents),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text
      FROM d),
    k AS (SELECT conv_id, turn_idx, role,
                 coalesce({_KEY.format(c='text')}, '') AS nk,
                 trim(coalesce(text, '')) = '' AS empty
          FROM t),
    fr AS (SELECT nk, count(DISTINCT conv_id)::BIGINT AS n
           FROM k GROUP BY nk)
    SELECT conv_id, turn_idx, role, n AS n_convs_sharing,
           (n >= 3 AND NOT empty) AS is_hot
    FROM k JOIN fr USING (nk)
    """,
)
def transcript_hot_turns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation boilerplate-turn detection
    (`transcript_qc.transcript_hot_turns`): every conversation's turn 0
    replaced with the same greeting and every 17th source row with a
    tool banner — the template-turn class that inflates loss mass;
    digest-keyed conv-distinct counts, flag-only."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_hot_turns as op,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") < 50, F.lit("How can I help you today?"))
        .when(F.col("doc_id") % 17 == 4, F.lit("Standard tool banner."))
        .otherwise(F.col("text")),
    )
    return op(transcripts_from_documents(docs), min_convs=3)


_PP_ORACLE = ORACLES["transcript_preference_pairs"]


@register(
    "preference_pair_stats",
    oracle=rf"""
    WITH pp AS ({_PP_ORACLE}),
    tk AS (SELECT
             CASE WHEN trim(coalesce(chosen_text, '')) = '' THEN 0
                  ELSE len(string_split_regex(trim(chosen_text), '\s+'))
             END AS c,
             CASE WHEN trim(coalesce(rejected_text, '')) = '' THEN 0
                  ELSE len(string_split_regex(trim(rejected_text), '\s+'))
             END AS r
           FROM pp)
    SELECT count(*)::BIGINT AS n_pairs,
           round(avg(c - r), 6) AS mean_len_delta_r6,
           round(avg(CASE WHEN c > r THEN 1.0 ELSE 0.0 END), 6)
               AS frac_chosen_longer_r6,
           round(avg(CASE WHEN c = r THEN 1.0 ELSE 0.0 END), 6)
               AS frac_equal_len_r6,
           round(avg(c), 6) AS mean_chosen_tokens_r6,
           round(avg(r), 6) AS mean_rejected_tokens_r6
    FROM tk
    """,
)
def preference_pair_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO length-bias audit (`transcript_qc.preference_pair_stats`)
    over the retry-branch preference pairs — the rejected completions
    carry an extra 'regenerated' token, so the report's deltas are
    known-signed and the whole pair-construction + audit path replays
    in one nested SQL oracle."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        preference_pair_stats as op,
    )

    return op(transcript_preference_pairs_q(spark, sf_dir))


@register(
    "transcript_retrieval_topk",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    conv AS (SELECT conv_id,
                    string_agg(coalesce(text, ''), ' '
                               ORDER BY turn_idx, coalesce(text, ''))
                        AS conv_text
             FROM t GROUP BY conv_id),
    e AS (
      SELECT conv_id,
             [('0x' || substring(md5(conv_text || '#' || i::varchar), 1, 8))
                  ::UBIGINT / 4294967296.0 * 2 - 1
              for i in range(0, 8)] AS v
      FROM conv),
    q AS (SELECT conv_id AS qid, v AS qv FROM e
          WHERE (substr(conv_id, 6))::INT < 4),
    s AS (
      SELECT qid, conv_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM q CROSS JOIN e WHERE conv_id != qid),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid
              ORDER BY cosine DESC, conv_id) AS rank FROM s)
    SELECT qid AS query_conv, conv_id, cosine, rank
    FROM r WHERE rank <= 3
    """,
)
def transcript_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-conversation retrieval in ONE plan
    (`transcript_qc.conversation_texts` → `similarity.hash_embedding_col`
    → exact cosine top-3): each query conversation (ids 0-3) against the
    whole conversation corpus, self excluded — the session-level
    retrieval shape (find prior sessions like this one) with the
    deterministic hash embedding standing in for a model embedding so
    the ENTIRE path replays in SQL.  Only the 4-row query block rides
    the broadcast; ranking is one window per query id — scan →
    broadcast NLJ → per-qid top-k, no corpus shuffle."""
    from mistral_ocr_pipeline_spark.operators.similarity import (
        fold_dot as dot,
        hash_embedding_col,
    )
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        conversation_texts,
    )

    conv = conversation_texts(
        transcripts_from_documents(_t(spark, sf_dir, "documents"))
    )
    emb = conv.select(
        "conv_id", hash_embedding_col(F.col("conv_text"), 8).alias("v")
    )
    q = emb.filter(F.substring("conv_id", 6, 6).cast("int") < 4).select(
        F.col("conv_id").alias("qid"), F.col("v").alias("qv")
    )
    s = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("conv_id") != F.col("qid"))
        .select(
            "qid",
            "conv_id",
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("v"), F.col("v")))
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), "conv_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("query_conv"), "conv_id", "cosine", "rank"
        )
    )


# --------------------------------------------------------------------------
# Pareto-threshold stochastic quality gate (CCNet §4.4 / LLaMA-1 CommonCrawl)
# --------------------------------------------------------------------------
@register(
    "quality_pareto_gate",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             length(text)::bigint AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint
                 AS n_tokens,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for')))::bigint AS n_stop,
             len(regexp_extract_all(text, '[^\w\s]'))::bigint AS n_punct,
             len(regexp_extract_all(text, '[0-9]'))::bigint AS n_digit
      FROM documents),
    sc AS (
      SELECT doc_id,
             CASE WHEN n_tokens < 5 THEN 0.0
                  ELSE round(
                    least(1.0, (n_stop::double / greatest(n_tokens, 1)) * 2)
                    * (1.0 - least(1.0, (n_punct::double / greatest(n_chars, 1)) * 4))
                    * (1.0 - least(1.0, (n_digit::double / greatest(n_chars, 1)) * 4)),
                    6) END AS s
      FROM f),
    g AS (
      SELECT doc_id, s,
             ('0x' || substring(md5('pareto' || doc_id::varchar), 1, 8))::UBIGINT
               / 4294967296.0 AS u
      FROM sc)
    SELECT doc_id,
           round(s, 6) AS score_r6,
           round(u, 6) AS pareto_u,
           round(least(1.0, 0.02 * pow(1.0 - u, -1.0)), 6) AS pareto_threshold,
           round(s, 6) > round(least(1.0, 0.02 * pow(1.0 - u, -1.0)), 6)
               AS keep
    FROM g
    """,
)
def quality_pareto_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/LLaMA-1 stochastic quality gate: keep a document iff its
    heuristic quality score beats a PARETO-quantile threshold driven by a
    content-hash uniform (`sampling.pareto_quality_gate`) — low-quality
    docs survive with probability P(T < s), so the kept corpus keeps its
    tail diversity instead of a hard cliff at the cutoff.  Every piece —
    the quality score, the md5 uniform, the Pareto quantile, the rounded
    keep decision — replays in SQL.  (x_m, α) = (0.02, 1.0) sits inside
    this synthetic corpus's score range (~0.01–0.15), giving a genuinely
    mixed keep/drop outcome: P(keep | s) = 1 − x_m/s for s > x_m."""
    from mistral_ocr_pipeline_spark.operators.sampling import pareto_quality_gate
    from mistral_ocr_pipeline_spark.operators.text_analysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    scored = quality_features(docs.select("doc_id", "text"))
    return pareto_quality_gate(
        scored, score_col="q_score", id_col="doc_id", alpha=1.0, x_m=0.02
    )


# --------------------------------------------------------------------------
# tokenizer fertility per language (Ács 2019; UniMax budget conversion)
# --------------------------------------------------------------------------
@register(
    "text_fertility",
    oracle=r"""
    WITH l AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
             len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS ar,
             len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS ru,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'was', 'for'))) AS en,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'mit', 'auf', 'zu'))) AS de,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('le', 'la', 'les', 'et', 'de', 'un', 'une', 'est', 'dans', 'pour'))) AS fr,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9_]+'), x -> x IN ('el', 'la', 'los', 'de', 'que', 'y', 'en', 'un', 'una', 'es'))) AS es,
             length(text)::bigint AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::bigint
                 AS ws,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::bigint AS bpe
      FROM documents),
    lid AS (
      SELECT *,
             CASE WHEN cjk > 0 THEN 'cjk'
                  WHEN ar > 0 THEN 'ar'
                  WHEN ru > 0 THEN 'ru'
                  WHEN greatest(en, de, fr, es) > 0 AND en = greatest(en, de, fr, es)
                      THEN 'en'
                  WHEN greatest(en, de, fr, es) > 0 AND de = greatest(en, de, fr, es)
                      THEN 'de'
                  WHEN greatest(en, de, fr, es) > 0 AND fr = greatest(en, de, fr, es)
                      THEN 'fr'
                  WHEN greatest(en, de, fr, es) > 0 AND es = greatest(en, de, fr, es)
                      THEN 'es'
                  ELSE 'unknown' END AS lang_id
      FROM l)
    SELECT lang_id,
           count(*)::bigint AS n_docs,
           sum(ws)::bigint AS n_words,
           sum(bpe)::bigint AS n_subwords,
           round(sum(bpe) / greatest(sum(ws), 1), 6) AS fertility_r6,
           round(sum(n_chars) / greatest(sum(bpe), 1), 6) AS chars_per_token_r6
    FROM lid
    GROUP BY lang_id
    """,
)
def text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (`text_analysis.tokenizer_fertility`):
    subword tokens per word and chars per subword token, the statistic that
    converts a language's TOKEN budget into a CONTENT budget when building
    a multilingual mix.  Corpus-ratio (sum/sum) estimator; one partial-agg
    shuffle on a ≤8-value key."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        tokenizer_fertility,
    )

    return tokenizer_fertility(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# transcript echo detection (assistant regurgitation of earlier context)
# --------------------------------------------------------------------------
# shared fixture + gram stream for the echo family: roles alternate by TURN
# parity; every third assistant turn verbatim-appends its conversation's
# previous user turn.  Emits ``gr(conv_id, turn_idx, role, g)``.
_ECHO_GR_SQL = rf"""base AS (
      SELECT 'conv-' || lpad((d.doc_id % 50)::varchar, 6, '0') AS conv_id,
             (d.doc_id // 50)::int AS turn_idx,
             CASE WHEN (d.doc_id // 50) % 2 = 0 THEN 'user' ELSE 'assistant' END
                 AS role,
             d.text || CASE WHEN (d.doc_id // 50) % 2 = 1 AND d.doc_id % 3 = 0
                                 AND p.text IS NOT NULL
                            THEN ' ' || p.text ELSE '' END AS text
      FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 50),
    tok AS (
      SELECT conv_id, turn_idx, role,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         x -> x != '') AS w
      FROM base),
    gr AS (
      SELECT conv_id, turn_idx, role,
             unnest(list_distinct(list_transform(
                 generate_series(1, len(w) - 4),
                 i -> md5(array_to_string(w[i : i + 4], ' '))))) AS g
      FROM tok WHERE len(w) >= 5)"""

# one-shot echo rollup over ``gr``, parameterized by an extra predicate on
# the ASSISTANT side (the incremental query restricts to the batch's turns)
_ECHO_TAIL_SQL = """
    src AS (
      SELECT conv_id, g, min(turn_idx) AS first_turn
      FROM gr WHERE role = 'user' GROUP BY conv_id, g),
    ag AS (
      SELECT a.conv_id, a.turn_idx,
             count(*) AS n_grams,
             sum(CASE WHEN s.first_turn < a.turn_idx THEN 1 ELSE 0 END)
                 AS n_echoed
      FROM gr a LEFT JOIN src s ON s.conv_id = a.conv_id AND s.g = a.g
      WHERE a.role = 'assistant' AND {pred} GROUP BY a.conv_id, a.turn_idx)
    SELECT b.conv_id, b.turn_idx,
           coalesce(n_grams, 0)::bigint AS n_grams,
           coalesce(n_echoed, 0)::bigint AS n_echoed,
           round(coalesce(n_echoed, 0) / greatest(coalesce(n_grams, 0), 1), 6)
               AS echo_fraction,
           coalesce(n_grams, 0) > 0
             AND coalesce(n_echoed, 0) / greatest(coalesce(n_grams, 0), 1) >= 0.5
               AS is_echo
    FROM (SELECT conv_id, turn_idx FROM base
          WHERE role = 'assistant' AND {spine_pred}) b
    LEFT JOIN ag ON ag.conv_id = b.conv_id AND ag.turn_idx = b.turn_idx
"""


@register(
    "transcript_echo",
    oracle=f"""
    WITH {_ECHO_GR_SQL},
    {_ECHO_TAIL_SQL.format(pred='TRUE', spine_pred='TRUE')}
    """,
)
def transcript_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant ECHO detection (`transcript_qc.transcript_echo`): the
    fraction of each assistant turn's distinct word 5-grams that already
    appeared in an earlier user turn of the same conversation — the
    SFT-curation signal for replies that merely restate the prompt.
    Fixture: roles alternate BY TURN PARITY (turn t-1 always has the
    opposite role of turn t — parity on doc_id would give every turn the
    same role as its predecessor, since adjacent turns differ by 50);
    every third assistant turn VERBATIM-appends its conversation's
    previous user turn, so the corpus carries real echoes with known
    provenance and known expected fractions.  Gram
    digests, the min-first-turn collapse, the join, and both the fraction
    and the ≥0.5 flag all replay in SQL."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_echo as echo_op,
    )

    base = _echo_fixture(spark, sf_dir)
    return echo_op(base, k=5, source_roles=("user",), flag_threshold=0.5)


def _echo_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The echo family's shared fixture (engine twin of `_ECHO_GR_SQL`'s
    ``base`` CTE): roles alternate by turn parity, every third assistant
    turn verbatim-appends the previous user turn."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    prior = docs.select(
        (F.col("doc_id") + 50).alias("doc_id"), F.col("text").alias("ptext")
    )
    turn = F.floor(d / 50)
    return docs.join(prior, "doc_id", "left").select(
        F.concat(F.lit("conv-"), F.lpad((d % 50).cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        turn.cast("int").alias("turn_idx"),
        F.when(turn % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")).alias(
            "role"
        ),
        F.concat(
            F.col("text"),
            F.when(
                (turn % 2 == 1) & (d % 3 == 0) & F.col("ptext").isNotNull(),
                F.concat(F.lit(" "), F.col("ptext")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


# --------------------------------------------------------------------------
# incremental echo vs a persisted gram index (history text never re-read)
# --------------------------------------------------------------------------
@register(
    "transcript_echo_incremental",
    oracle=f"""
    WITH {_ECHO_GR_SQL},
    {_ECHO_TAIL_SQL.format(pred='a.turn_idx >= 7', spine_pred='turn_idx >= 7')}
    """,
)
def transcript_echo_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Echo detection for a NEW batch of turns (turn_idx ≥ 7) against all
    conversation history through a persisted `(conv_id, g, first_turn)`
    index — history text is never re-tokenized
    (`transcript_qc.transcript_echo_incremental`).  The oracle is the
    ONE-SHOT echo over history ∪ batch restricted to the batch's
    assistant turns: the value-hash match IS the proof that
    index-mediated incremental scoring ≡ full recompute."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        build_echo_index,
        transcript_echo_incremental as inc_op,
    )

    base = _echo_fixture(spark, sf_dir)
    hist = base.filter(F.col("turn_idx") < 7)
    batch = base.filter(F.col("turn_idx") >= 7)
    index = build_echo_index(hist, k=5, source_roles=("user",))
    return inc_op(batch, index, k=5, source_roles=("user",), flag_threshold=0.5)


@register(
    "echo_index_append",
    oracle=f"""
    WITH {_ECHO_GR_SQL}
    SELECT conv_id, g, min(turn_idx)::int AS first_turn
    FROM gr WHERE role = 'user' GROUP BY conv_id, g
    """,
)
def echo_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Echo-index maintenance: history index + new batch, merged by the
    min-lattice (`transcript_qc.echo_index_append`).  The oracle REBUILDS
    the index over history ∪ batch in one shot — the hash match proves
    append ≡ rebuild, so daily maintenance never touches history text."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        build_echo_index,
        echo_index_append as append_op,
    )

    base = _echo_fixture(spark, sf_dir)
    hist = base.filter(F.col("turn_idx") < 7)
    batch = base.filter(F.col("turn_idx") >= 7)
    index = build_echo_index(hist, k=5, source_roles=("user",))
    return append_op(index, batch, k=5, source_roles=("user",))


# --------------------------------------------------------------------------
# agent-trace pathology gates (r5 late): spin loops, truncated sessions,
# context-window tail trim
# --------------------------------------------------------------------------
_SPIN_FIXTURE_SQL = """
    SELECT doc_id,
           CASE WHEN (doc_id % 50) % 3 = 0
                     AND (doc_id // 50) BETWEEN 2 AND 5
                THEN 'retry search {"q": 42}'
                WHEN (doc_id % 50) % 3 = 1 AND (doc_id // 50) >= 4
                THEN (CASE WHEN (doc_id // 50) % 2 = 0
                           THEN 'PING' ELSE 'PONG' END)
                ELSE text END AS text
    FROM documents
"""


def _spin_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts with injected loop pathologies: every conv≡0 (mod 3)
    repeats one tool call verbatim on turns 2-5 (period-1 retry storm);
    every conv≡1 alternates PING/PONG from turn 4 on (the period-2
    call/result cycle a stuck agent produces); conv≡2 stays natural."""
    conv = F.col("doc_id") % 50
    turn = F.floor(F.col("doc_id") / 50)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            (conv % 3 == 0) & turn.between(2, 5),
            F.lit('retry search {"q": 42}'),
        )
        .when(
            (conv % 3 == 1) & (turn >= 4),
            F.when(turn % 2 == 0, F.lit("PING")).otherwise(F.lit("PONG")),
        )
        .otherwise(F.col("text")),
    )
    return transcripts_from_documents(docs)


@register(
    "transcript_spin_runs",
    oracle=f"""
    WITH d AS ({_SPIN_FIXTURE_SQL}),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx, text
      FROM d),
    k AS (
      SELECT conv_id, turn_idx,
             md5(coalesce({_KEY.format(c='text')}, '')) AS k,
             trim(coalesce(text, '')) = '' AS e
      FROM t),
    c AS (
      SELECT conv_id, turn_idx, k,
             coalesce(((k = lag(k, 1) OVER w) OR (k = lag(k, 2) OVER w))
                          AND NOT e,
                      FALSE) AS cyc
      FROM k WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, k)),
    s AS (
      SELECT conv_id, turn_idx, k, cyc,
             CASE WHEN lag(cyc) OVER w IS NULL
                       OR cyc != lag(cyc) OVER w THEN 1 ELSE 0 END AS chg
      FROM c WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, k)),
    g AS (
      SELECT conv_id, cyc,
             sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx, k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM s),
    runs AS (
      SELECT conv_id, grp, count(*)::bigint AS len
      FROM g WHERE cyc GROUP BY conv_id, grp),
    per AS (
      SELECT conv_id,
             sum(CASE WHEN len >= 2 THEN 1 ELSE 0 END)::bigint AS n_spin_runs,
             max(len)::bigint AS max_spin_run,
             sum(CASE WHEN len >= 2 THEN len ELSE 0 END)::bigint AS spin_turns
      FROM runs GROUP BY conv_id)
    SELECT t.conv_id,
           coalesce(per.n_spin_runs, 0)::bigint AS n_spin_runs,
           coalesce(per.max_spin_run, 0)::bigint AS max_spin_run,
           coalesce(per.spin_turns, 0)::bigint AS spin_turns,
           coalesce(per.n_spin_runs, 0) > 0 AS is_spinning
    FROM (SELECT DISTINCT conv_id FROM t) t
    LEFT JOIN per USING (conv_id)
    """,
)
def transcript_spin_runs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-loop detection (`transcript_qc.transcript_spin_runs`) over
    the injected-pathology fixture: period-1 retry storms AND period-2
    ping-pong cycles both surface through the lag/lag2 digest probe +
    island runs; natural conversations report zero episodes.  The
    oracle replays the full window chain."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_spin_runs as op,
    )

    return op(_spin_fixture(spark, sf_dir), min_run=2)


@register(
    "transcript_truncation_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) AS text
      FROM documents),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text
      FROM d),
    p AS (
      SELECT conv_id, turn_idx, role,
             trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS nt
      FROM t),
    r AS (
      SELECT conv_id, turn_idx, role, nt,
             row_number() OVER (PARTITION BY conv_id
                 ORDER BY turn_idx DESC, role DESC, nt DESC) AS rn,
             count(*) OVER (PARTITION BY conv_id)::bigint AS n_turns
      FROM p)
    SELECT conv_id, n_turns, turn_idx AS last_turn_idx, role AS last_role,
           role = 'user' AS ends_with_user,
           nt = '' AS last_turn_empty,
           (nt != '' AND NOT regexp_matches(nt, '[.!?…"'')\\]]$'))
               AS ends_midsentence
    FROM r WHERE rn = 1
    """,
)
def transcript_truncation_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandoned/cut-off session gate
    (`transcript_qc.transcript_truncation_audit`): terminal punctuation
    appended to every even source row so both `ends_midsentence`
    branches fire, and the formulaic role layout makes a quarter of
    conversations end on a user turn.  W1 max-turn pick + same-exchange
    count, replayed verbatim."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_truncation_audit as op,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    return op(transcripts_from_documents(docs))


@register(
    "transcript_tail_trim",
    oracle=f"""
    WITH t AS ({_TRANSCRIPTS_SQL}),
    b AS (
      SELECT conv_id, turn_idx, role,
             (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+'))
              END)::bigint AS tokens
      FROM t),
    r AS (
      SELECT conv_id, turn_idx, role, tokens,
             sum(tokens) OVER w AS suffix_tokens,
             row_number() OVER w AS rn
      FROM b WINDOW w AS (PARTITION BY conv_id
          ORDER BY turn_idx DESC, role DESC, tokens DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT conv_id, turn_idx, role, tokens,
           suffix_tokens::bigint AS suffix_tokens,
           (suffix_tokens <= 256 OR rn = 1) AS kept
    FROM r
    """,
)
def transcript_tail_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window tail trim (`transcript_qc.transcript_tail_trim`,
    budget 256): the longest turn-boundary suffix of each conversation
    that fits the budget survives (final turn always kept) — the chat
    history preparation before SFT rendering.  Reverse-cumsum window
    replayed exactly; fixture conversations total ~300-700 tokens, so
    every conversation exercises both kept and dropped turns."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_tail_trim as op,
    )

    return op(
        transcripts_from_documents(_t(spark, sf_dir, "documents")), budget=256
    )


# --------------------------------------------------------------------------
# logistic-regression quality filter — unrolled-GD training replayed in SQL
# --------------------------------------------------------------------------
def _lr_model_sql(n_buckets: int = 16, n_iters: int = 6, lr: float = 4.0) -> str:
    """CTE block replaying `text_analysis.lr_quality_classifier` over a
    labeled relation ``lab(id, text, label, is_train)`` — emits
    ``lrscored(doc_id, is_train, label, pred, n_grams, score)``.  Each
    of the ``n_iters`` gradient steps is UNROLLED (the `_ivf_training_
    ctes` convention): margins are exact bigint dot products of
    micro-unit weights and features, the fast sigmoid is add/mul/div/abs
    only, per-row gradient contributions round to micro ints before the
    cross-row sum, and the weight update re-rounds to integers — so both
    engines re-synchronize to the SAME integer state every iteration and
    float drift cannot accumulate.  Assumes ≥1 training row (the labeled
    fixtures guarantee it; the Spark side skips training when empty)."""
    nb, p12 = n_buckets, "1000000000000.0"
    key = _KEY.format(c="text")
    parts = [
        f"""lrtk AS (
      SELECT id, label, is_train,
             list_filter(string_split(coalesce({key}, ''), ' '),
                         x -> x != '') AS ts
      FROM lab),
    lrfb AS (
      SELECT id, label, is_train, len(ts)::BIGINT AS n,
             list_transform(ts, t ->
                 (('0x' || substring(md5(t), 1, 8))::UBIGINT % {nb})::BIGINT)
                 AS bs
      FROM lrtk),
    lrft AS (
      SELECT id, label, is_train,
             (CASE WHEN label THEN 1.0 ELSE 0.0 END) AS y, n,
             list_transform(generate_series(0, {nb - 1}),
                 i -> CASE WHEN n > 0
                      THEN round(len(list_filter(bs, b -> b = i))
                                 / n * 1000000.0)::BIGINT
                      ELSE 0::BIGINT END) AS f
      FROM lrfb),
    lrnt AS (SELECT count(*)::BIGINT AS nt FROM lrft WHERE is_train),
    lrw0 AS (SELECT list_transform(generate_series(0, {nb - 1}),
                                   i -> 0::BIGINT) AS w,
                    0::BIGINT AS wb)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(f"""lrm{k} AS (
      SELECT f.id, f.y, f.f,
             (list_sum(list_transform(generate_series(1, {nb}),
                                      j -> w.w[j] * f.f[j]))
                  + w.wb * 1000000)::BIGINT AS mp
      FROM lrft f CROSS JOIN lrw{k - 1} w WHERE f.is_train),
    lrr{k} AS (
      SELECT id, f,
             (0.5 + 0.5 * (mp / {p12}) / (1 + abs(mp / {p12}))) - y AS r
      FROM lrm{k}),
    lrg{k} AS (
      SELECT j, sum(round(r * (CASE WHEN j <= {nb} THEN f[j]
                                    ELSE 1000000 END))::BIGINT)::BIGINT AS g
      FROM lrr{k}, unnest(generate_series(1, {nb + 1})) s(j)
      GROUP BY j),
    lrgl{k} AS (SELECT list(g ORDER BY j) AS gs FROM lrg{k}),
    lrw{k} AS (
      SELECT list_transform(generate_series(1, {nb}),
                 j -> (w.w[j] - round({lr} * gl.gs[j] / nt.nt))::BIGINT) AS w,
             (w.wb - round({lr} * gl.gs[{nb + 1}] / nt.nt))::BIGINT AS wb
      FROM lrw{k - 1} w CROSS JOIN lrgl{k} gl CROSS JOIN lrnt nt)""")
    parts.append(f"""lrsc AS (
      SELECT f.id, f.is_train, f.label, f.n,
             (list_sum(list_transform(generate_series(1, {nb}),
                                      j -> w.w[j] * f.f[j]))
                  + w.wb * 1000000)::BIGINT AS mp
      FROM lrft f CROSS JOIN lrw{n_iters} w),
    lrscored AS (
      SELECT id AS doc_id, is_train, label,
             mp > 0 AS pred,
             n AS n_grams,
             round(mp / {p12}, 6) AS score
      FROM lrsc)""")
    return ",\n    ".join(parts)


@register(
    "text_lr_quality",
    oracle=f"""
    WITH {_NB_LABEL_SQL},
    {_lr_model_sql(16, 6, 4.0)}
    SELECT doc_id, is_train, label, pred, n_grams, score FROM lrscored
    """,
)
def text_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter with an ITERATED trainer
    (`text_analysis.lr_quality_classifier`): the same surprisal-median
    pseudo-labeled spine and 70% content-hash split as `text_nb_quality`,
    but fit by 6 full-batch gradient-descent steps over hashed-unigram
    frequency features instead of the NB closed form — the third
    engine-replayable trainer in the repo (after unrolled-Lloyd k-means
    and the BPE merge loop).  The oracle unrolls all 6 steps: micro-unit
    integer weights/features, exact bigint margins, fast-sigmoid
    residuals (no libm), per-row micro-rounded gradients — the hash
    match pins every intermediate weight vector, every per-doc score,
    and every decision, train and held-out alike."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        lr_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    return lr_quality_classifier(
        _nb_labeled(docs), "doc_id", "label", "is_train",
        n_buckets=16, n_iters=6, lr=4.0,
    )


@register(
    "text_lr_calibration",
    oracle=f"""
    WITH {_NB_LABEL_SQL},
    {_lr_model_sql(16, 6, 4.0)},
    pb AS (
      SELECT label,
             0.5 + 0.5 * score / (1 + abs(score)) AS p,
             score
      FROM lrscored WHERE NOT is_train),
    bn AS (
      SELECT least(floor(p * 10), 9)::BIGINT AS bin, label, score FROM pb)
    SELECT bin,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS n_pos,
           round(sum(CASE WHEN label THEN 1 ELSE 0 END) / count(*), 6)
               AS pos_rate_r6,
           round(avg(score), 6) AS mean_score_r6
    FROM bn GROUP BY bin
    """,
)
def text_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability report for the trained LR filter — the model-ops
    query a production gate ships with: HELD-OUT rows only (calibration
    on the train split flatters the model), fast-sigmoid probability
    from the published 6-dp score, decile bins, observed positive rate
    per bin.  Both engines compute the identical double for p (same
    correctly-rounded formula on the same rounded score), so the bin
    edges can never disagree; one tiny aggregation after the scoring
    projection."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        lr_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = lr_quality_classifier(
        _nb_labeled(docs), "doc_id", "label", "is_train",
        n_buckets=16, n_iters=6, lr=4.0,
    )
    p = F.lit(0.5) + F.lit(0.5) * F.col("score") / (
        F.lit(1.0) + F.abs(F.col("score"))
    )
    return (
        scored.filter(~F.col("is_train"))
        .select("label", "score", F.least(F.floor(p * 10), F.lit(9)).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("label").cast("long")).alias("n_pos"),
            F.round(
                F.sum(F.col("label").cast("long")) / F.count(F.lit(1)), 6
            ).alias("pos_rate_r6"),
            F.round(F.avg("score"), 6).alias("mean_score_r6"),
        )
    )


# --------------------------------------------------------------------------
# committee-disagreement annotation audit (NB × LR)
# --------------------------------------------------------------------------
@register(
    "quality_disagreement_audit",
    oracle=f"""
    WITH {_NB_LABEL_SQL},
    {_NB_MODEL_SQL.format(key=_KEY.format(c='text'))},
    {_lr_model_sql(16, 6, 4.0)}
    SELECT n.doc_id, n.is_train, n.label,
           n.pred AS nb_pred, l.pred AS lr_pred,
           (n.pred <> l.pred) AS disagree,
           n.score AS nb_score, l.score AS lr_score
    FROM nbscored n JOIN lrscored l ON l.doc_id = n.doc_id
    """,
)
def quality_disagreement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-committee disagreement audit (Seung et al. 1992 — the
    active-learning step after model-based filtering): the repo's two
    engine-replayable quality filters, closed-form Naive Bayes and
    6-step-GD logistic regression, score every document off the SAME
    persisted pseudo-labeled spine, and the rows where the committee
    splits are exactly the ones worth human/LLM annotation budget — a
    filter both models agree on needs no review, a disagreement marks
    the decision boundary.  One doc_id equi-join of two already-scored
    relations; the labeled spine persists once and feeds both trainers.
    The oracle chains both published CTE blocks (`_NB_MODEL_SQL`,
    `_lr_model_sql`) off the shared `lab` spine, so the hash certifies
    the composition end to end."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        lr_quality_classifier,
        nb_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    lab = _nb_labeled(docs)
    nb = nb_quality_classifier(lab, "doc_id", "label", "is_train").select(
        "doc_id",
        "is_train",
        "label",
        F.col("pred").alias("nb_pred"),
        F.col("score").alias("nb_score"),
    )
    lr = lr_quality_classifier(
        lab, "doc_id", "label", "is_train", n_buckets=16, n_iters=6, lr=4.0
    ).select(
        "doc_id",
        F.col("pred").alias("lr_pred"),
        F.col("score").alias("lr_score"),
    )
    return nb.join(lr, "doc_id").select(
        "doc_id",
        "is_train",
        "label",
        "nb_pred",
        "lr_pred",
        (F.col("nb_pred") != F.col("lr_pred")).alias("disagree"),
        "nb_score",
        "lr_score",
    )


@register(
    "text_kn_surprisal",
    oracle=f"""
    WITH ktk AS (
      SELECT doc_id AS id,
             list_filter(string_split({_KEY.format(c='text')}, ' '),
                         x -> x != '') AS ts
      FROM documents),
    kpr AS (
      SELECT id, ts[i] AS prev, ts[i + 1] AS cur
      FROM ktk, unnest(generate_series(1, len(ts) - 1)) s(i)
      WHERE len(ts) >= 2),
    kc2 AS (SELECT prev, cur, count(*)::BIGINT AS c2 FROM kpr GROUP BY 1, 2),
    kctx AS (SELECT prev, sum(c2)::BIGINT AS ctx, count(*)::BIGINT AS n1pf
             FROM kc2 GROUP BY 1),
    knb AS (SELECT cur, count(*)::BIGINT AS n1pb FROM kc2 GROUP BY 1),
    ktot AS (SELECT count(*)::BIGINT AS n1pp FROM kc2),
    ktab AS (
      SELECT prev, cur,
             round(-ln((c2 - 0.75) / ctx
                       + 0.75 * n1pf / ctx * (n1pb / n1pp))
                   * 1000000.0)::BIGINT AS micro
      FROM kc2 JOIN kctx USING (prev) JOIN knb USING (cur) CROSS JOIN ktot)
    SELECT id AS doc_id, count(*)::BIGINT AS n_pairs,
           round(sum(micro) / 1000000.0 / count(*), 6) AS kn_surprisal
    FROM kpr JOIN ktab USING (prev, cur)
    GROUP BY id
    """,
)
def text_kn_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal per document
    (`text_analysis.kn_bigram_surprisal`) — the KenLM-smoothing-class
    fluency filter, one rung above the add-1 `text_bigram_surprisal`:
    absolute discounting plus the continuation-probability backoff that
    stops common-after-rare bigram artifacts.  Discounted counts,
    continuation/history type counts, the distinct-bigram total, the
    micro-unit probability table, and the per-doc bigint means all
    replay in the oracle."""
    from mistral_ocr_pipeline_spark.operators.text_analysis import (
        kn_bigram_surprisal,
    )

    docs = _t(spark, sf_dir, "documents")
    return kn_bigram_surprisal(docs, "doc_id")


@register(
    "transcript_pathology_facts",
    oracle=f"""
    WITH sp AS ({_SPIN_FIXTURE_SQL}),
    d AS (
      SELECT doc_id,
             text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) AS text
      FROM sp),
    t AS (
      SELECT 'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text
      FROM d),
    sc AS (
      SELECT conv_id, turn_idx, role,
             md5(coalesce({_KEY.format(c='text')}, '')) AS k,
             trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) = ''
                 AS empty,
             regexp_matches(
                 trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')),
                 '[.!?…"'')\\]]$') AS term,
             (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+'))
              END)::BIGINT AS tok
      FROM t),
    s1 AS (
      SELECT *,
             coalesce(((k = lag(k, 1) OVER wa) OR (k = lag(k, 2) OVER wa))
                          AND NOT empty, FALSE) AS cyc,
             row_number() OVER wd AS rnd,
             sum(tok) OVER (PARTITION BY conv_id
                 ORDER BY turn_idx DESC, role DESC, k DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suffix
      FROM sc
      WINDOW wa AS (PARTITION BY conv_id ORDER BY turn_idx, role, k),
             wd AS (PARTITION BY conv_id
                    ORDER BY turn_idx DESC, role DESC, k DESC)),
    s2 AS (
      SELECT *, CASE WHEN lag(cyc) OVER wa IS NULL
                          OR cyc != lag(cyc) OVER wa THEN 1 ELSE 0 END AS chg
      FROM s1
      WINDOW wa AS (PARTITION BY conv_id ORDER BY turn_idx, role, k)),
    s3 AS (
      SELECT *, sum(chg) OVER (PARTITION BY conv_id
                    ORDER BY turn_idx, role, k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM s2),
    s4 AS (
      SELECT *, count(*) OVER (PARTITION BY conv_id, grp) AS len,
             row_number() OVER (PARTITION BY conv_id, grp
                 ORDER BY turn_idx, role, k) AS rig
      FROM s3)
    SELECT conv_id,
           count(*)::BIGINT AS n_turns,
           sum(tok)::BIGINT AS total_tokens,
           sum(CASE WHEN cyc AND len >= 2 AND rig = 1 THEN 1 ELSE 0 END)
               ::BIGINT AS n_spin_runs,
           coalesce(max(CASE WHEN cyc THEN len END), 0)::BIGINT
               AS max_spin_run,
           sum(CASE WHEN cyc AND len >= 2 THEN 1 ELSE 0 END)::BIGINT
               AS spin_turns,
           sum(CASE WHEN cyc AND len >= 2 AND rig = 1 THEN 1 ELSE 0 END) > 0
               AS is_spinning,
           max(CASE WHEN rnd = 1 THEN role END) AS last_role,
           max(CASE WHEN rnd = 1 THEN role = 'user' END) AS ends_with_user,
           max(CASE WHEN rnd = 1 THEN empty END) AS last_turn_empty,
           max(CASE WHEN rnd = 1 THEN (NOT empty AND NOT term) END)
               AS ends_midsentence,
           sum(CASE WHEN suffix <= 256 OR rnd = 1 THEN 1 ELSE 0 END)::BIGINT
               AS kept_turns_budget
    FROM s4 GROUP BY conv_id
    """,
)
def transcript_pathology_facts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUSED pathology facts (`transcript_qc.transcript_pathology_facts`)
    over the spin fixture with terminal punctuation injected on even
    source rows: spin episodes, session-ending flags, and the
    256-token suffix-fit count in ONE conv_id exchange (a-la-carte the
    three gates pay four).  The '.' injection rides THROUGH the spin
    digests untouched (the matching key strips punctuation) while
    flipping the terminal-punctuation flag per parity — both fact
    families exercised on one fixture, every window replayed."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_pathology_facts as op,
    )

    conv = F.col("doc_id") % 50
    turn = F.floor(F.col("doc_id") / 50)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            (conv % 3 == 0) & turn.between(2, 5),
            F.lit('retry search {"q": 42}'),
        )
        .when(
            (conv % 3 == 1) & (turn >= 4),
            F.when(turn % 2 == 0, F.lit("PING")).otherwise(F.lit("PONG")),
        )
        .otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    return op(transcripts_from_documents(docs), min_run=2, budget=256)


@register(
    "transcript_pathology_append",
    oracle=ORACLES["transcript_pathology_facts"],
)
def transcript_pathology_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fact-table maintenance
    (`transcript_qc.pathology_facts_append`): history = every turn
    except even conversations' turns ≥ 7, batch = those turns; the facts
    built over history are merged with the batch by recomputing ONLY the
    touched (even) conversations while odd conversations' rows carry
    over untouched.  The oracle is the ONE-SHOT rebuild over
    history ∪ batch — the hash match proves append ≡ rebuild exactly
    (the `substring_index_append` convention), which spin/ending/budget
    facts need because they are not lattice-mergeable."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        pathology_facts_append,
        transcript_pathology_facts,
    )

    conv = F.col("doc_id") % 50
    turn = F.floor(F.col("doc_id") / 50)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            (conv % 3 == 0) & turn.between(2, 5),
            F.lit('retry search {"q": 42}'),
        )
        .when(
            (conv % 3 == 1) & (turn >= 4),
            F.when(turn % 2 == 0, F.lit("PING")).otherwise(F.lit("PONG")),
        )
        .otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    t = transcripts_from_documents(docs)
    conv_num = F.substring("conv_id", 6, 6).cast("int")
    is_batch = (F.col("turn_idx") >= 7) & (conv_num % 2 == 0)
    hist = t.filter(~is_batch)
    batch = t.filter(is_batch)
    facts = transcript_pathology_facts(hist, min_run=2, budget=256)
    return pathology_facts_append(facts, hist, batch, min_run=2, budget=256)


# --------------------------------------------------------------------------
# Fenced-code extraction (The-Stack-style code curation front door)
# --------------------------------------------------------------------------
_CODE_PAGES_SQL = """
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'intro prose' || chr(10) || '```python' || chr(10)
                    || substr(text, 1, 60) || chr(10) || 'print(1)' || chr(10)
                    || '```' || chr(10) || 'tail prose'
               WHEN 1 THEN 'a' || chr(10) || '```sql  limit=5' || chr(10)
                    || substr(text, 61, 40) || chr(10) || '```' || chr(10)
                    || 'mid' || chr(10) || '```' || chr(10) || '```'
                    || chr(10) || 'z'
               WHEN 2 THEN 'pre' || chr(10) || '```JS' || chr(10)
                    || substr(text, 1, 30)
               ELSE substr(text, 1, 50)
             END AS md
      FROM documents
"""

_CODE_BLOCKS_SQL = f"""
    pages AS ({_CODE_PAGES_SQL}),
    ls AS (SELECT doc_id, string_split(md, chr(10)) AS a FROM pages),
    l AS (SELECT doc_id,
                 unnest(range(0, len(a)))::INT AS pos,
                 unnest(a) AS line
          FROM ls),
    m AS (SELECT doc_id, pos, line,
                 (line LIKE '```%') AS is_m,
                 sum(CASE WHEN line LIKE '```%' THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS cum
          FROM l),
    opens AS (SELECT doc_id, cum AS oc,
                     lower(regexp_extract(line,
                         '^```[ \t]*([A-Za-z0-9_+.#-]*)', 1)) AS lang,
                     row_number() OVER (PARTITION BY doc_id ORDER BY pos)::INT
                         AS block_idx
              FROM m WHERE is_m AND cum % 2 = 1),
    content AS (SELECT doc_id, cum, pos, line
                FROM m WHERE NOT is_m AND cum % 2 = 1),
    blocks AS (
      SELECT o.doc_id, o.block_idx, o.lang,
             coalesce(string_agg(c.line, chr(10) ORDER BY c.pos), '') AS code
      FROM opens o
      LEFT JOIN content c ON c.doc_id = o.doc_id AND c.cum = o.oc
      GROUP BY o.doc_id, o.block_idx, o.lang),
    bstat AS (
      SELECT doc_id AS id, block_idx, lang, code,
             (CASE WHEN code = '' THEN 0
                   ELSE len(string_split(code, chr(10))) END)::BIGINT
                 AS n_lines,
             length(code)::BIGINT AS n_chars
      FROM blocks)
"""


def _code_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic markdown fixture: %4==0 one python block, %4==1 an
    attributed sql block plus an EMPTY bare fence, %4==2 an UNCLOSED
    upper-cased 'JS' fence running to EOF, %4==3 no fences at all —
    identical construction in both engines."""
    d = F.col("doc_id")
    t = F.col("text")
    page0 = F.concat(
        F.lit("intro prose\n```python\n"),
        F.substring(t, 1, 60),
        F.lit("\nprint(1)\n```\ntail prose"),
    )
    page1 = F.concat(
        F.lit("a\n```sql  limit=5\n"),
        F.substring(t, 61, 40),
        F.lit("\n```\nmid\n```\n```\nz"),
    )
    page2 = F.concat(F.lit("pre\n```JS\n"), F.substring(t, 1, 30))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(d % 4 == 0, page0)
        .when(d % 4 == 1, page1)
        .when(d % 4 == 2, page2)
        .otherwise(F.substring(t, 1, 50))
        .alias("md"),
    )


@register(
    "text_code_blocks",
    oracle=f"""
    WITH {_CODE_BLOCKS_SQL}
    SELECT id, block_idx, lang, code, n_lines, n_chars
    FROM bstat ORDER BY id, block_idx
    """,
)
def text_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fenced-code extraction (`codeblocks.code_fence_blocks`): one
    MAP-ONLY ``F.aggregate`` fold over each page's line array pulls out
    every ``` block with its info-string language tag — zero shuffle,
    zero UDF.  The fixture cycles a closed python block, an attributed
    sql block plus an empty bare fence, an unclosed 'JS' fence (runs to
    EOF, tag lower-cased), and a fence-free page; the oracle replays
    the same grammar in window form (odd cumulative fence count =
    inside), so the hash match also proves fold ≡ window."""
    from mistral_ocr_pipeline_spark.operators.codeblocks import (
        code_fence_blocks,
    )

    return code_fence_blocks(
        _code_pages(spark, sf_dir), "doc_id", "md"
    ).orderBy("id", "block_idx")


@register(
    "code_lang_stats",
    oracle=f"""
    WITH {_CODE_BLOCKS_SQL}
    SELECT lang,
           count(*)::BIGINT AS n_blocks,
           count(DISTINCT id)::BIGINT AS n_docs,
           sum(n_lines)::BIGINT AS total_lines,
           sum(n_chars)::BIGINT AS total_chars
    FROM bstat GROUP BY lang ORDER BY lang
    """,
)
def code_lang_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language code inventory (`codeblocks.code_lang_stats`) — the
    fact table a language-balanced code-mixing recipe (UniMax caps over
    The-Stack languages) starts from.  All-BIGINT facts, one
    map-side-combinable groupBy on the tiny language domain."""
    from mistral_ocr_pipeline_spark.operators.codeblocks import (
        code_lang_stats,
    )

    return code_lang_stats(_code_pages(spark, sf_dir), "doc_id", "md").orderBy(
        "lang"
    )


# --------------------------------------------------------------------------
# IVF-SQ composite (FAISS IndexIVFScalarQuantizer shape)
# --------------------------------------------------------------------------
def _ivfsq_cte_tail(n_probe: int) -> str:
    """From trained centroids ``c8(c, cv)`` + ``corp``/``q`` in scope:
    IVF assignment/probes (`_ivf_assign_ctes`) + the exact SQ8
    train/encode/dequant replay (the `_SQ8_BASE_SQL` arithmetic over
    ``corp``), emitting scored candidates ``s(qid, vec_id, sq8_cosine)``."""
    return f"""{_ivf_assign_ctes("c8", n_probe)},
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    bounds AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
               FROM corp CROSS JOIN dims GROUP BY i),
    ba AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
           FROM bounds),
    enc AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(v)), i ->
               CASE WHEN hi[i] = lo[i] THEN 0
                    ELSE round(greatest(0.0, least(255.0,
                           (v[i] - lo[i]) / (hi[i] - lo[i]) * 255.0)))::INT
               END) AS codes
      FROM corp CROSS JOIN ba),
    dq AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(codes)), i ->
               lo[i] + codes[i] * (hi[i] - lo[i]) / 255.0) AS dv
      FROM enc CROSS JOIN ba),
    cand AS (
      SELECT DISTINCT qp.qid, ca.vec_id
      FROM qprobe qp JOIN cassign ca ON qp.c = ca.c
      WHERE ca.vec_id != qp.qid),
    s AS (
      SELECT cand.qid, cand.vec_id,
             round(list_dot_product(q.qv, dq.dv) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(dq.dv, dq.dv))), 6) AS sq8_cosine
      FROM cand
      JOIN q ON q.qid = cand.qid
      JOIN dq ON dq.vec_id = cand.vec_id)"""


_IVFSQ_HEAD_SQL = f"""{_ivf_training_ctes(16, 8, 2048)},
    corp AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
                          FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 8)"""


@register(
    "ann_ivfsq_topk",
    oracle=f"""
    WITH {_IVFSQ_HEAD_SQL},
    {_ivfsq_cte_tail(6)},
    r AS (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY sq8_cosine DESC, vec_id) AS rank FROM s)
    SELECT qid AS query_id, vec_id, sq8_cosine, rank FROM r WHERE rank <= 5
    """,
)
def ann_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ composite (`similarity_df.ivfsq_topk`) — FAISS's
    IndexIVFScalarQuantizer, completing the quantized-index family
    (IVF-Flat / IVFPQ / IVF-SQ): trained coarse cells prune the corpus,
    globally-trained 8-bit scalar codes score inside the probed cells.
    Both trained halves replay in SQL — the centroids via the unrolled
    Lloyd CTEs, the SQ bounds via exact min/max — so the whole composite
    is value-hashed end to end."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import ivfsq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfsq_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=6
    )


@register(
    "ann_ivfsq_recall",
    oracle=f"""
    WITH {_IVFSQ_HEAD_SQL},
    {_ivfsq_cte_tail(6)},
    r AS (SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY sq8_cosine DESC, vec_id) AS rank FROM s),
    xs AS (
      SELECT qid, corp.vec_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine
      FROM q CROSS JOIN corp WHERE corp.vec_id != qid),
    xr AS (SELECT qid, vec_id, row_number() OVER (
              PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank FROM xs),
    hits AS (
      SELECT xr.qid, sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM xr LEFT JOIN (SELECT * FROM r WHERE rank <= 5) r
        ON r.qid = xr.qid AND r.vec_id = xr.vec_id
      WHERE xr.rank <= 5 GROUP BY xr.qid)
    SELECT qid AS query_id, round(h / 5.0, 6) AS recall,
           h / 5.0 >= 0.4 AS recall_ok
    FROM hits
    """,
)
def ann_ivfsq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the IVF-SQ composite vs exact cosine top-5 —
    the honesty row: losses come almost entirely from the IVF pruning
    (probe misses), the SQ8 grid being near-lossless at 8 bits/dim.
    Claim floor 0.4 (the IVFPQ convention), verified at both sf0.01 and
    sf0.1."""
    from mistral_ocr_pipeline_spark.operators.similarity_df import (
        brute_force_topk_df,
        ivfsq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    approx = ivfsq_topk(emb, q, k=5, n_centroids=16, n_probe=6).select(
        "query_id", "vec_id"
    )
    exact = brute_force_topk_df(emb, q, k=5).select("query_id", "vec_id")
    hits = (
        exact.join(approx.withColumn("_hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("h"))
    )
    return hits.select(
        "query_id",
        F.round(F.col("h") / F.lit(5.0), 6).alias("recall"),
        (F.col("h") / F.lit(5.0) >= 0.4).alias("recall_ok"),
    )


# --------------------------------------------------------------------------
# Markdown STRUCTURE extraction: pipe tables + heading sections
# --------------------------------------------------------------------------
_MDSTRUCT_PAGES_SQL = """
      SELECT doc_id AS id,
             CASE doc_id % 5
               WHEN 0 THEN 'intro prose' || chr(10)
                    || '# Results' || chr(10)
                    || '| name | value | note |' || chr(10)
                    || '| --- | ---: | :-: |' || chr(10)
                    || '| alpha | ' || (doc_id % 97)::varchar || ' | '
                    || substr(text, 1, 12) || ' |' || chr(10)
                    || '  | beta | ' || (doc_id % 13)::varchar || ' | ok |'
                    || chr(10) || 'tail prose'
               WHEN 1 THEN '## Data' || chr(10) || 'lead' || chr(10)
                    || '| k | v |' || chr(10) || '|--|--|' || chr(10)
                    || '| a | 1 |' || chr(10)
                    || '| b | 2 | extra |' || chr(10) || 'after'
               WHEN 2 THEN '| x | y |' || chr(10) || '| p | q |' || chr(10)
                    || '### Deep dive' || chr(10) || substr(text, 1, 30)
               WHEN 3 THEN 'pre' || chr(10) || '# Top' || chr(10)
                    || '## Sub' || chr(10) || '| h |' || chr(10)
                    || '| - |' || chr(10) || '| ' || substr(text, 5, 9)
                    || ' |'
               ELSE substr(text, 1, 50)
             END AS md
      FROM documents
"""

# Gaps-and-islands window replay of the pipe-table fold (mdstruct.py):
# consecutive pipe lines group by pos − cum(non-pipe); a group is a
# table iff its 2nd line is a separator.  Emits cells(cs list per row).
_MDTABLE_CELLS_SQL = f"""
    pages AS ({_MDSTRUCT_PAGES_SQL}),
    ls AS (SELECT id, string_split(coalesce(md, ''), chr(10)) AS a
           FROM pages),
    l AS (SELECT id, unnest(range(0, len(a)))::INT AS pos,
                 trim(unnest(a)) AS t
          FROM ls),
    m AS (SELECT id, pos, t, starts_with(t, '|') AS isp,
                 sum(CASE WHEN starts_with(t, '|') THEN 0 ELSE 1 END)
                     OVER (PARTITION BY id ORDER BY pos) AS grp
          FROM l),
    runs AS (SELECT id, grp, list(t ORDER BY pos) AS run
             FROM m WHERE isp GROUP BY id, grp),
    valid AS (SELECT id, run,
                     row_number() OVER (PARTITION BY id ORDER BY grp)::INT
                         AS table_idx
              FROM runs
              WHERE len(run) >= 2
                AND regexp_matches(run[2], '^\\|[ \t:|-]+$')
                AND contains(run[2], '-')),
    rows_ AS (SELECT id, table_idx,
                     unnest(range(0, len(run) - 1))::INT AS row_idx,
                     unnest(list_concat([run[1]], run[3:])) AS r
              FROM valid),
    bodies AS (SELECT id, table_idx, row_idx,
                      CASE WHEN ends_with(substr(r, 2), '|')
                           THEN substr(substr(r, 2), 1,
                                       len(substr(r, 2)) - 1)
                           ELSE substr(r, 2) END AS body
               FROM rows_),
    cells AS (SELECT id, table_idx, row_idx,
                     list_transform(string_split(body, '|'), x -> trim(x))
                         AS cs
              FROM bodies)
"""


def _mdstruct_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_MDSTRUCT_PAGES_SQL` (same literals, same
    arithmetic): %5==0 prose + heading + 3-col table with an indented
    pipe line, %5==1 heading + ragged table (a 3-cell row under a
    2-col header), %5==2 an INVALID pipe run (no separator) + deep
    heading, %5==3 two headings + an unterminated single-column table
    at EOF, %5==4 plain prose (preamble-only, no tables)."""
    d = F.col("doc_id")
    t = F.col("text")
    nl = "\n"
    page0 = F.concat(
        F.lit("intro prose" + nl + "# Results" + nl
              + "| name | value | note |" + nl
              + "| --- | ---: | :-: |" + nl + "| alpha | "),
        (d % 97).cast("string"),
        F.lit(" | "),
        F.substring(t, 1, 12),
        F.lit(" |" + nl + "  | beta | "),
        (d % 13).cast("string"),
        F.lit(" | ok |" + nl + "tail prose"),
    )
    page1 = F.lit(
        "## Data" + nl + "lead" + nl + "| k | v |" + nl + "|--|--|" + nl
        + "| a | 1 |" + nl + "| b | 2 | extra |" + nl + "after"
    )
    page2 = F.concat(
        F.lit("| x | y |" + nl + "| p | q |" + nl + "### Deep dive" + nl),
        F.substring(t, 1, 30),
    )
    page3 = F.concat(
        F.lit("pre" + nl + "# Top" + nl + "## Sub" + nl + "| h |" + nl
              + "| - |" + nl + "| "),
        F.substring(t, 5, 9),
        F.lit(" |"),
    )
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"),
        F.when(d % 5 == 0, page0)
        .when(d % 5 == 1, page1)
        .when(d % 5 == 2, page2)
        .when(d % 5 == 3, page3)
        .otherwise(F.substring(t, 1, 50))
        .alias("md"),
    )


@register(
    "md_table_cells",
    oracle=f"""
    WITH {_MDTABLE_CELLS_SQL}
    SELECT id, table_idx, row_idx,
           unnest(range(0, len(cs)))::INT + 1 AS col_idx,
           unnest(cs) AS cell
    FROM cells
    ORDER BY id, table_idx, row_idx, col_idx
    """,
)
def md_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-table extraction to structured CELLS
    (`mdstruct.pipe_table_cells`): one MAP-ONLY ``F.aggregate`` fold
    groups consecutive pipe lines per document, keeps runs whose 2nd
    line is a separator, and explodes header+data rows into (id,
    table_idx, row_idx, col_idx, cell) — the table-QA/grounding corpus
    shape.  The oracle replays the grammar as gaps-and-islands windows,
    so the hash match also proves fold ≡ window.  The fixture covers
    indented pipe lines, a ragged row, an invalid run (no separator),
    an unterminated EOF table, and a pipe-free page."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import (
        pipe_table_cells,
    )

    return pipe_table_cells(
        _mdstruct_pages(spark, sf_dir), "id", "md"
    ).orderBy("id", "table_idx", "row_idx", "col_idx")


@register(
    "md_table_stats",
    oracle=f"""
    WITH {_MDTABLE_CELLS_SQL},
    csz AS (SELECT id, table_idx, row_idx, len(cs) AS nc FROM cells),
    hdr AS (SELECT id, table_idx, nc AS hc FROM csz WHERE row_idx = 0)
    SELECT c.id, c.table_idx,
           (count(*) FILTER (WHERE c.row_idx > 0))::BIGINT AS n_rows,
           any_value(h.hc)::BIGINT AS n_cols,
           coalesce(bool_or(c.row_idx > 0 AND c.nc <> h.hc), false)
               AS ragged
    FROM csz c JOIN hdr h ON h.id = c.id AND h.table_idx = c.table_idx
    GROUP BY c.id, c.table_idx
    ORDER BY c.id, c.table_idx
    """,
)
def md_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table health facts (`mdstruct.pipe_table_stats`): data-row
    count, header column count, and the RAGGED flag (any data row whose
    cell count differs from the header's) — the malformed-table gate a
    table corpus filters on.  Computed INSIDE the run array (F.exists
    over the data rows), so the per-cell relation never materializes:
    still map-only."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import (
        pipe_table_stats,
    )

    return pipe_table_stats(
        _mdstruct_pages(spark, sf_dir), "id", "md"
    ).orderBy("id", "table_idx")


@register(
    "md_sections",
    oracle=f"""
    WITH pages AS ({_MDSTRUCT_PAGES_SQL}),
    ls AS (SELECT id, string_split(coalesce(md, ''), chr(10)) AS a
           FROM pages),
    l AS (SELECT id, unnest(range(0, len(a)))::INT AS pos, unnest(a) AS line
          FROM ls),
    m AS (SELECT id, pos, line,
                 regexp_matches(line, '^#{{1,6}} ') AS ish,
                 sum(CASE WHEN regexp_matches(line, '^#{{1,6}} ')
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id ORDER BY pos) AS cum
          FROM l),
    heads AS (SELECT id, cum,
                     len(regexp_extract(line, '^(#{{1,6}}) ', 1))::INT
                         AS level,
                     trim(regexp_replace(line, '^#{{1,6}} ', '')) AS heading,
                     pos AS start_line
              FROM m WHERE ish),
    content AS (SELECT id, cum, pos, line FROM m WHERE NOT ish),
    pre AS (SELECT id, 0 AS cum, 0 AS level, '' AS heading, 0 AS start_line
            FROM content WHERE cum = 0 GROUP BY id),
    secs AS (SELECT * FROM pre UNION ALL SELECT * FROM heads),
    agg AS (SELECT s.id, s.cum, s.level, s.heading, s.start_line,
                   count(c.pos)::BIGINT AS n_lines,
                   length(coalesce(
                       string_agg(c.line, chr(10) ORDER BY c.pos),
                       ''))::BIGINT AS n_chars
            FROM secs s
            LEFT JOIN content c ON c.id = s.id AND c.cum = s.cum
            GROUP BY s.id, s.cum, s.level, s.heading, s.start_line)
    SELECT id,
           row_number() OVER (PARTITION BY id ORDER BY cum)::INT
               AS section_idx,
           level, heading, start_line, n_lines, n_chars
    FROM agg ORDER BY id, section_idx
    """,
)
def md_sections_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline SECTION segmentation (`mdstruct.md_sections`):
    the document split at ATX headings into (section_idx, level,
    heading, start_line, n_lines, n_chars) — section-aware chunk
    boundaries with LINE OFFSETS (the same span-bookkeeping contract
    the extraction path keeps), preamble as a level-0 section.  One
    map-only fold; the oracle replays it in cumulative-heading-count
    window form."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import md_sections

    return md_sections(_mdstruct_pages(spark, sf_dir), "id", "md").orderBy(
        "id", "section_idx"
    )


# --------------------------------------------------------------------------
# HTML hyperlink extraction + the domain link graph
# --------------------------------------------------------------------------
_LINK_PAGES_SQL = """
      SELECT doc_id AS id,
             'site' || (doc_id % 5)::varchar || '.example.com' AS src_host,
             CASE WHEN doc_id % 13 = 0 THEN NULL
             ELSE '<html><body><p>' || substr(text, 1, 40) || '</p>'
               || '<a href="https://site' || ((doc_id + 1) % 5)::varchar
               || '.example.com/p/' || (doc_id % 20)::varchar
               || '?utm_source=z&x=1">read ' || (doc_id % 7)::varchar
               || '</a>'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<a href="HTTP://WWW.Site'
                            || (doc_id % 5)::varchar
                            || '.Example.com:80/nav/">home</a>'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN '<a href="/rel/' || (doc_id % 9)::varchar
                            || '">more</a>'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN '<a href="mailto:x@y">mail</a>'
                       ELSE '' END
               || '</body></html>'
             END AS html
      FROM documents
"""

_ANCHOR_RE = '<a href="([^"]*)">([^<]*)</a>'

_LINK_ROWS_SQL = f"""
    pages AS ({_LINK_PAGES_SQL}),
    x AS (SELECT id, src_host,
                 regexp_extract_all(coalesce(html, ''), '{_ANCHOR_RE}', 1)
                     AS hs,
                 regexp_extract_all(coalesce(html, ''), '{_ANCHOR_RE}', 2)
                     AS ans
          FROM x0),
    lk2 AS (SELECT id, src_host,
                   unnest(range(0, len(hs)))::INT + 1 AS link_idx,
                   unnest(hs) AS url, unnest(ans) AS anchor
            FROM x)
""".replace("FROM x0", "FROM pages")


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_LINK_PAGES_SQL`: every page links the NEXT site
    (cross-domain edge); %3==0 adds a messy self-link (scheme/WWW/port
    noise that canonicalizes back to src_host — the INTERNAL edge);
    %4==0 a relative href (canonicalizes to the '' junk host); %11==0 a
    mailto (no '://', junk); %13==0 a NULL page."""
    d = F.col("doc_id")
    t = F.col("text")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.substring(t, 1, 40),
        F.lit('</p><a href="https://site'),
        ((d + 1) % 5).cast("string"),
        F.lit(".example.com/p/"),
        (d % 20).cast("string"),
        F.lit('?utm_source=z&x=1">read '),
        (d % 7).cast("string"),
        F.lit("</a>"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit('<a href="HTTP://WWW.Site'),
                (d % 5).cast("string"),
                F.lit('.Example.com:80/nav/">home</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<a href="/rel/'),
                (d % 9).cast("string"),
                F.lit('">more</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit('<a href="mailto:x@y">mail</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</body></html>"),
    )
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"),
        F.concat(
            F.lit("site"), (d % 5).cast("string"), F.lit(".example.com")
        ).alias("src_host"),
        F.when(d % 13 == 0, F.lit(None).cast("string"))
        .otherwise(html)
        .alias("html"),
    )


@register(
    "html_links",
    oracle=f"""
    WITH {_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')}
    SELECT id, link_idx, url AS href, canon_url,
           regexp_extract(canon_url, '{_URLRE}', 2) AS dst_host,
           anchor, length(anchor)::BIGINT AS anchor_chars
    FROM lk2_c ORDER BY id, link_idx
    """,
)
def html_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor link extraction (`htmllinks.html_links`): ONE
    regexp_extract_all scan pulls hrefs + anchor texts (two capture
    groups, zipped positionally), then the existing URL canonicalizer
    normalizes targets — map-only, zero UDF.  Relative and mailto
    hrefs canonicalize to the explicit '' junk host (rows never vanish
    on a NULL key); NULL pages emit no rows via the coalesce guard."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import html_links

    return html_links(_link_pages(spark, sf_dir), "id", "html").orderBy(
        "id", "link_idx"
    )


@register(
    "html_link_graph",
    oracle=f"""
    WITH {_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')}
    SELECT src_host,
           regexp_extract(canon_url, '{_URLRE}', 2) AS dst_host,
           count(*)::BIGINT AS n_links,
           count(DISTINCT id)::BIGINT AS n_docs,
           sum(length(anchor))::BIGINT AS total_anchor_chars,
           bool_or(src_host = regexp_extract(canon_url, '{_URLRE}', 2))
               AS internal
    FROM lk2_c
    GROUP BY src_host, dst_host
    ORDER BY src_host, dst_host
    """,
)
def html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link graph (`htmllinks.link_graph`) — the Common
    Crawl host-graph shape: (src_host, dst_host) edges with link/doc
    counts, anchor-text mass, and the INTERNAL flag (self-edges the
    messy-self-link fixture branch produces after canonicalization
    strips WWW/port/case).  src_host rides THROUGH the explode — scan →
    Generate → ONE map-side-combinable groupBy, no join back to the
    page table."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import link_graph

    return link_graph(
        _link_pages(spark, sf_dir), "id", "html", "src_host"
    ).orderBy("src_host", "dst_host")


def _host_pagerank_oracle_sql(n_iter: int = 5, tail: str | None = None) -> str:
    """Unrolled directed PageRank with dangling-mass redistribution over
    the link-graph fixture's external edges — operand order and literals
    identical to `htmllinks.host_pagerank` (1.0-0.85 constant-folds to
    the same double in both engines)."""
    ctes = [
        f"""{_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')},
    eg AS (SELECT DISTINCT src_host AS src,
                  regexp_extract(canon_url, '{_URLRE}', 2) AS dst
           FROM lk2_c
           WHERE src_host <> regexp_extract(canon_url, '{_URLRE}', 2)),
    u AS (SELECT src AS host FROM eg UNION SELECT dst FROM eg),
    dg AS (SELECT src, count(*)::DOUBLE AS deg FROM eg GROUP BY src),
    ew AS (SELECT src, dst, 1.0 / deg AS w FROM eg JOIN dg USING (src)),
    nn AS (SELECT count(*)::DOUBLE AS n FROM u),
    pr0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS pr FROM u)"""
    ]
    for k in range(n_iter):
        ctes.append(
            f"""dang{k} AS (
      SELECT coalesce(sum(pr), 0)::DOUBLE AS m FROM pr{k} p
      WHERE p.host NOT IN (SELECT src FROM dg)),
    pr{k + 1} AS (
      SELECT u.host,
             (1.0 - 0.85) / (SELECT n FROM nn)
             + 0.85 * (COALESCE(sum(p.pr * ew.w), 0)
                       + (SELECT m FROM dang{k}) / (SELECT n FROM nn)) AS pr
      FROM u
      LEFT JOIN ew ON ew.dst = u.host
      LEFT JOIN pr{k} p ON p.host = ew.src
      GROUP BY u.host)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + (
            tail
            if tail is not None
            else f"\n    SELECT host, round(pr, 9) AS pagerank"
            f" FROM pr{n_iter}\n    ORDER BY host"
        )
    )


def _lpa_oracle_sql(n_iter: int = 4, tail: str | None = None) -> str:
    """Unrolled synchronous label propagation over the link-graph
    fixture's external edges: symmetrize + dedup + strip self-loops,
    seed each node with its own id, then per round the plurality
    neighbour label with (count DESC, label ASC) tie-break — exactly
    `htmllinks.label_propagation`."""
    ctes = [
        f"""{_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')},
    eg AS (SELECT DISTINCT src_host AS src,
                  regexp_extract(canon_url, '{_URLRE}', 2) AS dst
           FROM lk2_c
           WHERE src_host <> regexp_extract(canon_url, '{_URLRE}', 2)),
    und AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM eg
              UNION ALL
              SELECT dst, src FROM eg)
            WHERE src <> dst),
    l0 AS (SELECT DISTINCT src AS host, src AS lab FROM und)"""
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""c{k} AS (
      SELECT und.src AS host, l.lab, count(*)::BIGINT AS n
      FROM und JOIN l{k - 1} l ON l.host = und.dst
      GROUP BY 1, 2),
    l{k} AS (SELECT host, lab FROM (
               SELECT *, row_number() OVER (PARTITION BY host
                    ORDER BY n DESC, lab ASC) AS rn FROM c{k})
             WHERE rn = 1)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + (
            tail
            if tail is not None
            else f"\n    SELECT host, lab AS community FROM l{n_iter}"
            " ORDER BY host"
        )
    )


@register("host_communities", oracle=_lpa_oracle_sql())
def host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host communities (`htmllinks.label_propagation`, Raghavan et al.
    2007): deterministic synchronous LPA — plurality neighbour label,
    smallest-label tie-break, fixed 4 rounds — over the link graph's
    symmetrized external edges; completes the graph family next to
    PageRank (authority), HITS (hubs), and connected components
    (reachability).  Each round is one edge⋈label join + one counted
    groupBy + a per-node argmax window on the HOST-pair relation; the
    oracle unrolls all 4 rounds."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        label_propagation,
        link_graph,
    )

    g = link_graph(_link_pages(spark, sf_dir), "id", "html", "src_host")
    edges = g.filter(F.col("src_host") != F.col("dst_host"))
    return label_propagation(edges).orderBy("host")


def _community_waves_oracle_sql() -> str:
    """LPA communities (unrolled) + frontier canonicalization + the
    per-community wave arithmetic, in one statement."""
    tail = f""",
    comm AS (SELECT host, lab AS community FROM l4),
    cw AS (SELECT doc_id AS id,
                  'https://site' || (doc_id % 5) || '.example.com/p/'
                      || doc_id AS url
           FROM documents),
    {_url_canon_ctes('cw')},
    fr AS (SELECT canon_url, max((id * 37) % 101)::BIGINT AS priority
           FROM cw_c GROUP BY canon_url),
    jh AS (SELECT canon_url, priority,
                  regexp_extract(canon_url, '{_URLRE}', 2) AS host
           FROM fr),
    j2 AS (SELECT jh.*, coalesce(c.community, jh.host) AS community
           FROM jh LEFT JOIN comm c ON c.host = jh.host),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY community
              ORDER BY priority DESC, canon_url)::BIGINT AS community_rank
          FROM j2)
    SELECT canon_url, host, community, priority, community_rank,
           ((community_rank - 1) // 4)::BIGINT AS wave
    FROM r"""
    return _lpa_oracle_sql(4, tail=tail)


@register("crawl_community_waves", oracle=_community_waves_oracle_sql())
def crawl_community_waves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-cluster politeness (`urls.crawl_community_waves`): the
    frontier is budgeted per link-graph COMMUNITY (LPA over the host
    graph) instead of per host — sister hosts that share infrastructure
    share one fetch budget, and graph-unseen hosts degrade to their own
    singleton community (per-host politeness).  The oracle chains the
    unrolled LPA, the shared URL canonicalizer, and the wave arithmetic
    in one statement."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        label_propagation,
        link_graph,
    )
    from mistral_ocr_pipeline_spark.operators.urls import (
        canonicalize_url,
        crawl_community_waves,
    )

    docs = _t(spark, sf_dir, "documents")
    g = link_graph(_link_pages(spark, sf_dir), "id", "html", "src_host")
    comm = label_propagation(
        g.filter(F.col("src_host") != F.col("dst_host"))
    ).select("host", "community")
    frontier = (
        docs.select(
            canonicalize_url(
                F.concat(
                    F.lit("https://site"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit(".example.com/p/"),
                    F.col("doc_id").cast("string"),
                )
            ).alias("canon_url"),
            ((F.col("doc_id") * 37) % 101).cast("long").alias("priority"),
        )
        .groupBy("canon_url")
        .agg(F.max("priority").alias("priority"))
    )
    return crawl_community_waves(
        frontier, "canon_url", "priority", comm, per_wave=4
    )


@register("host_authority", oracle=_host_pagerank_oracle_sql())
def host_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority (`htmllinks.host_pagerank`): DIRECTED PageRank
    with dangling-mass redistribution over the link graph's external
    edges — the '' junk sink has no out-links, so the dangling branch
    is live in the fixture.  Unlike `graph_pagerank` (undirected
    dedup-cluster canonicality), direction is kept: authority flows
    along hrefs.  5 iterations, each ONE shuffle on the HOST-pair
    relation + two 1-row broadcasts; the oracle unrolls the exact
    recurrence."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        host_pagerank,
        link_graph,
    )

    g = link_graph(_link_pages(spark, sf_dir), "id", "html", "src_host")
    edges = g.filter(F.col("src_host") != F.col("dst_host"))
    return host_pagerank(edges).orderBy("host")


@register(
    "anchor_text_index",
    oracle=f"""
    WITH {_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')},
    a AS (SELECT canon_url, anchor FROM lk2_c WHERE canon_url <> ''),
    counts AS (SELECT canon_url, anchor, count(*)::BIGINT AS n_mentions
               FROM a GROUP BY canon_url, anchor),
    ranked AS (SELECT *, row_number() OVER (
                   PARTITION BY canon_url
                   ORDER BY n_mentions DESC, anchor ASC)::INT AS rank
               FROM counts),
    tot AS (SELECT canon_url, sum(n_mentions)::BIGINT AS total_mentions
            FROM counts GROUP BY canon_url)
    SELECT r.canon_url, r.anchor, r.n_mentions, r.rank, t.total_mentions
    FROM ranked r JOIN tot t USING (canon_url)
    WHERE r.rank <= 3
    ORDER BY r.canon_url, r.rank
    """,
)
def anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index — the classic IR signal (anchor text describes
    the TARGET document better than its own words; every web-scale
    retrieval stack aggregates it): per canonical target URL, the top-3
    anchor strings by mention count (ties → lexicographic) plus the
    URL's total mention mass.  One groupBy on (url, anchor), a top-k
    window over the URL domain, and a broadcast-sized totals join —
    the per-anchor relation never lands anywhere else."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import html_links

    links = html_links(_link_pages(spark, sf_dir), "id", "html").filter(
        F.col("canon_url") != ""
    )
    counts = links.groupBy("canon_url", "anchor").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    w = W.partitionBy("canon_url").orderBy(
        F.col("n_mentions").desc(), F.col("anchor").asc()
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= 3)
    totals = counts.groupBy("canon_url").agg(
        F.sum("n_mentions").alias("total_mentions")
    )
    return ranked.join(totals, "canon_url").orderBy("canon_url", "rank")


@register(
    "md_section_chunks",
    oracle=rf"""
    WITH pages AS ({_MDSTRUCT_PAGES_SQL}),
    ls AS (SELECT id, string_split(coalesce(md, ''), chr(10)) AS a
           FROM pages),
    l AS (SELECT id, unnest(range(0, len(a)))::INT AS pos, unnest(a) AS line
          FROM ls),
    m AS (SELECT id, pos, line,
                 regexp_matches(line, '^#{{1,6}} ') AS ish,
                 sum(CASE WHEN regexp_matches(line, '^#{{1,6}} ')
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id ORDER BY pos) AS cum
          FROM l),
    heads AS (SELECT id, cum FROM m WHERE ish),
    content AS (SELECT id, cum, pos, line FROM m WHERE NOT ish),
    pre AS (SELECT id, 0 AS cum FROM content WHERE cum = 0 GROUP BY id),
    secs AS (SELECT * FROM pre UNION ALL SELECT * FROM heads),
    sagg AS (SELECT s.id, s.cum,
                    coalesce(string_agg(c.line, chr(10) ORDER BY c.pos),
                             '') AS sec_text
             FROM secs s
             LEFT JOIN content c ON c.id = s.id AND c.cum = s.cum
             GROUP BY s.id, s.cum),
    sidx AS (SELECT id,
                    row_number() OVER (PARTITION BY id ORDER BY cum)::INT
                        AS section_idx,
                    sec_text
             FROM sagg),
    k AS (SELECT id::varchar || '#' || section_idx::varchar AS sec_key,
                 CASE WHEN trim(sec_text) = '' THEN []::varchar[]
                      ELSE string_split_regex(trim(sec_text), '\s+')
                 END AS toks
          FROM sidx),
    c2 AS (SELECT sec_key, len(toks) AS n, toks,
                  unnest(range(0, len(toks)::bigint, 12))::int AS chunk_start
           FROM k WHERE len(toks) > 0)
    SELECT sec_key, chunk_start,
           array_to_string(toks[chunk_start + 1:chunk_start + 16], ' ')
               AS chunk_text,
           least(16, n - chunk_start)::bigint AS n_tokens
    FROM c2 ORDER BY sec_key, chunk_start
    """,
)
def md_section_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section-aware passage chunking: the outline segmentation
    (`mdstruct.md_section_text`) feeds the token-window chunker
    (`packing.chunk_text_tokens`, window=16 overlap=4) so no passage
    straddles a heading boundary — the RAG ingest shape structure-blind
    windows get wrong.  Both halves are map-only folds/fan-outs in ONE
    plan; sec_key = id#section_idx keeps the composite key through the
    chunker's single-column contract."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import md_section_text
    from mistral_ocr_pipeline_spark.operators.packing import chunk_text_tokens

    secs = md_section_text(_mdstruct_pages(spark, sf_dir), "id", "md").select(
        F.concat_ws(
            "#",
            F.col("id").cast("string"),
            F.col("section_idx").cast("string"),
        ).alias("sec_key"),
        "sec_text",
    )
    return (
        chunk_text_tokens(secs, "sec_key", "sec_text", window=16, overlap=4)
        .select(
            F.col("id").alias("sec_key"), "chunk_start", "chunk_text",
            "n_tokens",
        )
        .orderBy("sec_key", "chunk_start")
    )


# --------------------------------------------------------------------------
# Turn-retry collapse (latest-wins turn versioning)
# --------------------------------------------------------------------------
_RETRY_FIXTURE_SQL = """
    b0 AS (
      SELECT doc_id,
             'conv-' || lpad((doc_id % 50)::varchar, 6, '0') AS conv_id,
             (doc_id // 50)::int AS turn_idx,
             (['user','assistant','tool','system'])[(doc_id % 4) + 1] AS role,
             text,
             CAST(NULL AS varchar) AS tool,
             TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND
                 AS ts
      FROM documents),
    allr AS (
      SELECT conv_id, turn_idx, role, text, tool, ts FROM b0
      UNION ALL
      SELECT conv_id, turn_idx, role, text || ' (edited)', tool,
             ts + INTERVAL 1000 SECOND
      FROM b0 WHERE doc_id % 6 = 0
      UNION ALL
      SELECT conv_id, turn_idx, role, 'stale retry', tool,
             CAST(NULL AS TIMESTAMP)
      FROM b0 WHERE doc_id % 9 = 0)
"""


@register(
    "transcript_retry_collapse",
    oracle=f"""
    WITH {_RETRY_FIXTURE_SQL},
    g AS (SELECT conv_id, turn_idx,
                 max({{'t': coalesce(ts, TIMESTAMP '1970-01-01 00:00:00'),
                      'fp': md5(coalesce(text, '')),
                      'nt': text IS NOT NULL,
                      'role_c': coalesce(role, ''),
                      'nr': role IS NOT NULL,
                      'tfp': md5(coalesce(tool, '')),
                      'ntool': tool IS NOT NULL,
                      'role': role, 'text': text, 'tool': tool}}) AS b,
                 count(*)::BIGINT AS n_versions
          FROM allr GROUP BY conv_id, turn_idx)
    SELECT conv_id, turn_idx, b.role AS role, b.text AS text,
           b.tool AS tool, n_versions
    FROM g ORDER BY conv_id, turn_idx
    """,
)
def transcript_retry_collapse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins turn versioning
    (`transcript_qc.transcript_retry_collapse`): every 6th turn carries
    a LATER edited retry (the edit must win), every 9th a NULL-ts stale
    double-write (the timestamped original must win via the epoch
    coalesce).  ONE map-side-combinable max(struct) on (conv_id,
    turn_idx) — the turn analog of `url_dedup_latest`'s crawl rule; no
    window."""
    from mistral_ocr_pipeline_spark.operators.transcript_qc import (
        transcript_retry_collapse,
    )

    docs = _t(spark, sf_dir, "documents")
    base = transcripts_from_documents(docs)
    edited = transcripts_from_documents(
        docs.filter(F.col("doc_id") % 6 == 0)
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.concat(F.col("text"), F.lit(" (edited)")).alias("text"),
        "tool",
        (F.col("ts") + F.make_interval(secs=F.lit(1000.0))).alias("ts"),
    )
    stale = transcripts_from_documents(
        docs.filter(F.col("doc_id") % 9 == 0)
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.lit("stale retry").alias("text"),
        "tool",
        F.lit(None).cast("timestamp").alias("ts"),
    )
    allr = base.unionAll(edited).unionAll(stale)
    return transcript_retry_collapse(allr).orderBy("conv_id", "turn_idx")


@register(
    "md_table_linearize",
    oracle=f"""
    WITH {_MDTABLE_CELLS_SQL},
    hdr AS (SELECT id, table_idx, cs AS hs FROM cells WHERE row_idx = 0),
    dat AS (SELECT id, table_idx, row_idx, cs FROM cells WHERE row_idx > 0)
    SELECT d.id, d.table_idx, d.row_idx,
           array_to_string(list_transform(
               range(1, least(len(h.hs), len(d.cs)) + 1),
               j -> h.hs[j] || ': ' || d.cs[j]), ' | ') AS row_text
    FROM dat d JOIN hdr h ON h.id = d.id AND h.table_idx = d.table_idx
    ORDER BY d.id, d.table_idx, d.row_idx
    """,
)
def md_table_linearize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ToTTo-style table linearization
    (`mdstruct.pipe_table_linearize`): each data row rendered as
    'h1: v1 | h2: v2 | …' for table-to-text / table-QA training; the
    positional header pairing stops at the shorter side (the fixture's
    ragged 3-cell row under a 2-col header keeps its first 2 pairs).
    Map-only — the pairing runs inside the run array."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import (
        pipe_table_linearize,
    )

    return pipe_table_linearize(
        _mdstruct_pages(spark, sf_dir), "id", "md"
    ).orderBy("id", "table_idx", "row_idx")


# --------------------------------------------------------------------------
# Markdown image/figure inventory
# --------------------------------------------------------------------------
_IMG_PAGES_SQL = """
      SELECT doc_id AS id,
             CASE doc_id % 4
               WHEN 0 THEN 'intro ![Figure ' || (doc_id % 9)::varchar
                    || '](images/fig' || (doc_id % 9)::varchar
                    || '.png) tail'
               WHEN 1 THEN '![](assets/' || (doc_id % 5)::varchar
                    || '.jpg) and ![logo](https://cdn.example.com/l'
                    || (doc_id % 7)::varchar || '.svg)'
               WHEN 2 THEN 'no images here ' || substr(text, 1, 20)
               ELSE 'broken ![alt without close](open'
             END AS md
      FROM documents
"""


def _img_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_IMG_PAGES_SQL`: %4==0 one captioned figure,
    %4==1 an empty-alt image plus an absolute-URL logo, %4==2 no
    images, %4==3 an unclosed paren (must NOT match)."""
    d = F.col("doc_id")
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("intro ![Figure "),
                (d % 9).cast("string"),
                F.lit("](images/fig"),
                (d % 9).cast("string"),
                F.lit(".png) tail"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("![](assets/"),
                (d % 5).cast("string"),
                F.lit(".jpg) and ![logo](https://cdn.example.com/l"),
                (d % 7).cast("string"),
                F.lit(".svg)"),
            ),
        )
        .when(d % 4 == 2, F.concat(F.lit("no images here "), F.substring(t, 1, 20)))
        .otherwise(F.lit("broken ![alt without close](open"))
        .alias("md"),
    )


@register(
    "md_images",
    oracle=f"""
    WITH pages AS ({_IMG_PAGES_SQL}),
    x AS (SELECT id,
                 regexp_extract_all(coalesce(md, ''),
                     '!\\[([^\\]]*)\\]\\(([^)]*)\\)', 1) AS alts,
                 regexp_extract_all(coalesce(md, ''),
                     '!\\[([^\\]]*)\\]\\(([^)]*)\\)', 2) AS srcs
          FROM pages)
    SELECT id,
           unnest(range(0, len(alts)))::INT + 1 AS img_idx,
           unnest(alts) AS alt,
           unnest(srcs) AS src,
           length(unnest(alts))::BIGINT AS alt_chars
    FROM x
    ORDER BY id, img_idx
    """,
)
def md_images_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Figure/image inventory (`mdstruct.md_images`) — the markdown
    twin of the reference's figure-span bookkeeping
    (`extractors/blocks.py` renders figures as ``![text](ref)``):
    one row per image reference with alt text and source, scan-level
    regexp_extract_all, map-only.  The fixture covers empty alt,
    absolute-URL sources, image-free pages, and an unclosed paren
    that must not match."""
    from mistral_ocr_pipeline_spark.operators.mdstruct import md_images

    return md_images(_img_pages(spark, sf_dir), "id", "md").orderBy(
        "id", "img_idx"
    )


@register(
    "link_graph_append",
    oracle=f"""
    WITH {_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')}
    SELECT src_host,
           regexp_extract(canon_url, '{_URLRE}', 2) AS dst_host,
           count(*)::BIGINT AS n_links,
           count(DISTINCT id)::BIGINT AS n_docs,
           sum(length(anchor))::BIGINT AS total_anchor_chars,
           bool_or(src_host = regexp_extract(canon_url, '{_URLRE}', 2))
               AS internal
    FROM lk2_c
    GROUP BY src_host, dst_host
    ORDER BY src_host, dst_host
    """,
)
def link_graph_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified claim: link-graph maintenance ≡ one-shot rebuild.  The
    persisted host-graph facts over the even-doc history get the odd-doc
    batch merged via `htmllinks.link_graph_append` — history pages are
    never re-scanned — and the oracle is the ONE-SHOT graph over the
    whole corpus, so the hash match IS the append-law proof (every
    column is a lattice fact: sums, one-batch-per-page n_docs, bool_or
    internal)."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        link_graph,
        link_graph_append,
    )

    pages = _link_pages(spark, sf_dir)
    hist = pages.filter(F.col("id") % 2 == 0)
    batch = pages.filter(F.col("id") % 2 == 1)
    stats = link_graph(hist, "id", "html", "src_host")
    return link_graph_append(stats, batch, "id", "html", "src_host").orderBy(
        "src_host", "dst_host"
    )


def _hits_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled HITS (sum-normalized) over the link-graph fixture's
    external edges — identical raw-sum / normalize operand order to
    `htmllinks.hits_scores`."""
    ctes = [
        f"""{_LINK_ROWS_SQL},
    {_url_canon_ctes('lk2')},
    eg AS MATERIALIZED (SELECT DISTINCT src_host AS src,
                  regexp_extract(canon_url, '{_URLRE}', 2) AS dst
           FROM lk2_c
           WHERE src_host <> regexp_extract(canon_url, '{_URLRE}', 2)),
    u AS MATERIALIZED (SELECT src AS host FROM eg UNION SELECT dst FROM eg),
    nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM u),
    a0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS v FROM u),
    h0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS v FROM u)"""
    ]
    for k in range(n_iter):
        ctes.append(
            f"""ar{k} AS MATERIALIZED (
      SELECT u.host, COALESCE(sum(hx.v), 0) AS raw
      FROM u LEFT JOIN eg ON eg.dst = u.host
             LEFT JOIN h{k} hx ON hx.host = eg.src
      GROUP BY u.host),
    at{k} AS (SELECT sum(raw) AS t FROM ar{k}),
    a{k + 1} AS MATERIALIZED (
      SELECT host, raw / (SELECT t FROM at{k}) AS v FROM ar{k}),
    hr{k} AS MATERIALIZED (
      SELECT u.host, COALESCE(sum(ax.v), 0) AS raw
      FROM u LEFT JOIN eg ON eg.src = u.host
             LEFT JOIN a{k + 1} ax ON ax.host = eg.dst
      GROUP BY u.host),
    ht{k} AS (SELECT sum(raw) AS t FROM hr{k}),
    h{k + 1} AS MATERIALIZED (
      SELECT host, raw / (SELECT t FROM ht{k}) AS v FROM hr{k})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.host, round(a.v, 9) AS authority, round(h.v, 9) AS hub
    FROM a{n_iter} a JOIN h{n_iter} h USING (host) ORDER BY a.host"""
    )


@register("host_hits", oracle=_hits_oracle_sql())
def host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (`htmllinks.hits_scores`) over the same
    external-edge host graph `host_authority` scores — Kleinberg's
    complement to PageRank (good hubs = directory hosts, good
    authorities = content hosts worth crawling deeper).  5 sum-
    normalized iterations, two host-relation shuffles each, the whole
    recurrence unrolled in the oracle."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        hits_scores,
        link_graph,
    )

    g = link_graph(_link_pages(spark, sf_dir), "id", "html", "src_host")
    edges = g.filter(F.col("src_host") != F.col("dst_host"))
    return hits_scores(edges).orderBy("host")


# --------------------------------------------------------------------------
# rel=canonical-aware crawl dedup
# --------------------------------------------------------------------------
_CANON_PAGES_SQL = """
      SELECT doc_id AS id,
             CASE doc_id % 3
               WHEN 1 THEN 'https://site' || (doc_id % 5)::varchar
                    || '.example.com/p/' || (doc_id % 25)::varchar
                    || '?utm_source=x'
               WHEN 2 THEN 'HTTP://WWW.SITE' || (doc_id % 5)::varchar
                    || '.EXAMPLE.COM:80/p/' || (doc_id % 25)::varchar
               ELSE 'https://site' || (doc_id % 5)::varchar
                    || '.example.com/p/' || (doc_id % 25)::varchar
             END AS url,
             CASE doc_id % 4
               WHEN 0 THEN '<head><link rel="canonical" href="https://site'
                    || (doc_id % 5)::varchar || '.example.com/p/'
                    || (doc_id % 25)::varchar || '"></head><body>x</body>'
               WHEN 1 THEN '<body>no decl</body>'
               WHEN 2 THEN
                    '<head><link rel="canonical" href="/print/view"></head>'
               ELSE NULL
             END AS html
      FROM documents
"""


def _canon_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_CANON_PAGES_SQL`: page URLs cycle clean /
    tracking-param / scheme-case-port variants; declarations cycle a
    clean rel=canonical (shared by every variant of the same page), no
    declaration, a JUNK relative declaration (must fall back to the
    page's own URL), and a NULL page."""
    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://site"),
        (d % 5).cast("string"),
        F.lit(".example.com/p/"),
        (d % 25).cast("string"),
    )
    url = (
        F.when(d % 3 == 1, F.concat(base, F.lit("?utm_source=x")))
        .when(
            d % 3 == 2,
            F.concat(
                F.lit("HTTP://WWW.SITE"),
                (d % 5).cast("string"),
                F.lit(".EXAMPLE.COM:80/p/"),
                (d % 25).cast("string"),
            ),
        )
        .otherwise(base)
    )
    html = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<head><link rel="canonical" href="'),
                base,
                F.lit('"></head><body>x</body>'),
            ),
        )
        .when(d % 4 == 1, F.lit("<body>no decl</body>"))
        .when(
            d % 4 == 2,
            F.lit('<head><link rel="canonical" href="/print/view"></head>'),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"), url.alias("url"), html.alias("html")
    )


@register(
    "crawl_canonical_dedup",
    oracle=f"""
    WITH pages AS ({_CANON_PAGES_SQL}),
    p1 AS (SELECT id, url FROM pages),
    {_url_canon_ctes('p1')},
    d1 AS (SELECT id,
                  regexp_extract(coalesce(html, ''),
                      '<link rel="canonical" href="([^"]*)"', 1) AS url
           FROM pages),
    {_url_canon_ctes('d1')},
    k AS (SELECT p.id, p.url,
                 CASE WHEN d.canon_url <> '' THEN d.canon_url
                      ELSE p.canon_url END AS canon_key,
                 (CASE WHEN d.canon_url <> '' THEN d.canon_url
                       ELSE p.canon_url END) = p.canon_url AS self_canon
          FROM p1_c p JOIN d1_c d USING (id)),
    g AS (SELECT canon_key, count(*)::BIGINT AS group_size,
                 max({{'sc': self_canon, 'ni': -id}}) AS b
          FROM k GROUP BY canon_key)
    SELECT k.id, k.url, k.canon_key,
           k.id = -(g.b.ni) AS is_canonical,
           (-(g.b.ni))::BIGINT AS canonical_id,
           g.group_size
    FROM k JOIN g USING (canon_key) ORDER BY k.id
    """,
)
def crawl_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical-aware crawl dedup (`htmllinks.canonical_dedup`):
    tracking-param and scheme-case-port variants of a page group under
    the page's DECLARED canonical URL (both sides normalized through
    the URL canonicalizer, so the declared form and the crawled form
    meet); junk declarations fall back to the page's own URL; the kept
    copy prefers the SELF-CANONICAL page over any variant, then lowest
    id.  One max(struct) + join-back, both replayed in SQL."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        canonical_dedup,
    )

    return canonical_dedup(
        _canon_pages(spark, sf_dir), "id", "html", "url"
    ).orderBy("id")


_FRONTIER_TAIL = f""",
    pr_final AS (SELECT host, round(pr, 9) AS pagerank FROM pr5),
    tgt AS (SELECT canon_url,
                   regexp_extract(canon_url, '{_URLRE}', 2) AS dst_host,
                   count(*)::BIGINT AS n_mentions
            FROM lk2_c WHERE canon_url <> ''
            GROUP BY canon_url)
    SELECT t.canon_url, t.dst_host, t.n_mentions, p.pagerank,
           round(p.pagerank * ln(1 + t.n_mentions), 6) AS priority
    FROM tgt t JOIN pr_final p ON p.host = t.dst_host
    ORDER BY priority DESC, t.canon_url LIMIT 50"""


@register(
    "crawl_frontier_priority",
    oracle=_host_pagerank_oracle_sql(tail=_FRONTIER_TAIL),
)
def crawl_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization — the capstone composite over the
    link family: every discovered target URL scored
    authority(dst_host) × ln(1 + mention count), the classic
    crawl-scheduler shape (OPIC/BFS-by-authority hybrids rank frontier
    URLs by where the link mass points).  The anchor rollup and the
    full 5-iteration directed PageRank both replay in ONE oracle; the
    micro-unit-rounded ln absorbs libm ULP differences (the PMI
    convention).  Top-50 with a total (priority, url) order so the cut
    is deterministic."""
    from mistral_ocr_pipeline_spark.operators.htmllinks import (
        host_pagerank,
        html_links,
        link_graph,
    )

    pages = _link_pages(spark, sf_dir)
    links = html_links(pages, "id", "html").filter(F.col("canon_url") != "")
    tgt = links.groupBy("canon_url", "dst_host").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    g = link_graph(pages, "id", "html", "src_host")
    pr = host_pagerank(g.filter(F.col("src_host") != F.col("dst_host")))
    return (
        tgt.join(pr, tgt["dst_host"] == pr["host"])
        .select(
            "canon_url",
            "dst_host",
            "n_mentions",
            "pagerank",
            F.round(
                F.col("pagerank") * F.log(F.lit(1) + F.col("n_mentions")), 6
            ).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "canon_url")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Robots-directive compliance gate
# --------------------------------------------------------------------------
_ROBOTS_PAGES_SQL = """
      SELECT doc_id AS id,
             CASE doc_id % 6
               WHEN 0 THEN '<head><meta name="robots" content="noindex, '
                    || 'follow"></head><body>' || substr(text, 1, 20)
                    || '</body>'
               WHEN 1 THEN '<head><meta name="robots" content="INDEX, '
                    || 'NoFollow"></head><body>x</body>'
               WHEN 2 THEN '<head><meta name="robots" content="none">'
                    || '</head>'
               WHEN 3 THEN '<head><meta name="robots" content='
                    || '"nofollowup,indexed"></head>'
               WHEN 4 THEN '<body>no robots meta at all</body>'
               ELSE NULL
             END AS html
      FROM documents
"""


def _robots_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_ROBOTS_PAGES_SQL`: noindex+follow, mixed-case
    nofollow, the 'none' shorthand (= noindex+nofollow), CUSTOM tokens
    that must not substring-match real directives, no meta, NULL."""
    d = F.col("doc_id")
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        d.alias("id"),
        F.when(
            d % 6 == 0,
            F.concat(
                F.lit('<head><meta name="robots" content="noindex, '
                      'follow"></head><body>'),
                F.substring(t, 1, 20),
                F.lit("</body>"),
            ),
        )
        .when(
            d % 6 == 1,
            F.lit('<head><meta name="robots" content="INDEX, '
                  'NoFollow"></head><body>x</body>'),
        )
        .when(d % 6 == 2, F.lit('<head><meta name="robots" content="none">'
                                "</head>"))
        .when(d % 6 == 3, F.lit('<head><meta name="robots" content='
                                '"nofollowup,indexed"></head>'))
        .when(d % 6 == 4, F.lit("<body>no robots meta at all</body>"))
        .otherwise(F.lit(None).cast("string"))
        .alias("html"),
    )


@register(
    "robots_gate",
    oracle=f"""
    WITH pages AS ({_ROBOTS_PAGES_SQL}),
    r AS (SELECT id,
                 regexp_extract(coalesce(html, ''),
                     '<meta name="robots" content="([^"]*)"', 1) AS raw
          FROM pages),
    tk AS (SELECT id, raw,
                  list_transform(string_split(lower(raw), ','),
                                 t -> trim(t)) AS toks
           FROM r),
    fl AS (SELECT id, raw,
                  (list_contains(toks, 'noindex')
                   OR list_contains(toks, 'none')) AS noindex,
                  (list_contains(toks, 'nofollow')
                   OR list_contains(toks, 'none')) AS nofollow
           FROM tk)
    SELECT id, raw AS robots_content, noindex, nofollow,
           NOT noindex AS indexable
    FROM fl ORDER BY id
    """,
)
def robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-directive compliance gate (`robots.robots_directives`):
    noindex drops the page from the training corpus (publisher
    opt-out), nofollow gates the link-graph extraction, the 'none'
    shorthand implies both; token-exact matching over the lower-cased
    comma list so custom tokens ('nofollowup') cannot substring-match
    real directives; pages without a robots meta are indexable by
    default.  Map-only, zero shuffle."""
    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_directives,
    )

    return robots_directives(_robots_pages(spark, sf_dir), "id", "html").orderBy(
        "id"
    )
