"""The flagship Spark job: transcripts → per-turn extraction.

Spark shape (SURVEY.md §3.1): ``scan(transcripts) → [per-turn repartition
of a coarse input] → mapInArrow(extract) → [ordering window where order
matters] → sink``.

Design points, per the north rule:

* **No per-row Python in Spark's pipeline** — extraction runs inside one
  ``mapInArrow`` stage: ``pyarrow.RecordBatch`` in, ``RecordBatch`` out,
  no pandas in between.  Spark bounds each input batch by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows and
  ``maxBytesPerBatch`` bytes (a batch ends with the row that crosses the
  byte bound).  Each batch is routed with ``pyarrow.compute``: tool-less
  turns that are blank (``empty``) or cannot be HTML (``plain``) are
  computed as whole Arrow columns; only tool, HTML-candidate and
  PDF-layout rows reach the per-row kernel ``extract_turn``, whose
  per-document loops live inside the batch (same contract as lxml/NumPy
  inner loops).
* **Per-turn repartitioning** defuses long-conversation skew: each turn is
  independent (the reference re-sorts after unordered completion,
  main.py:203-209, so per-turn parallelism is semantics-preserving), and
  the shuffle key is the turn, ``(conv_id, turn_idx)``, so one 10⁶-turn
  conversation spreads evenly over every task.
* **One way to shape the stage's input**: ``stage_input`` (column select
  plus the "auto" repartition) feeds both ``extract_transcripts``
  and ``checkpoint.lineage.run_extraction``, whose stage runs
  ``_extract_one`` and writes the rows to Parquet in the same task.
* **Stable turn ordering** is restored only where an order-sensitive
  derivation needs it (W6): ``with_stable_order`` and
  ``assemble_conversations`` window/sort on ``(conv_id, turn_idx)``.
"""

from __future__ import annotations

from collections.abc import Iterator, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mistral_ocr_pipeline_spark.extractors.dispatch import (
    KIND_EMPTY,
    KIND_PLAIN,
    extract_turn,
)
from mistral_ocr_pipeline_spark.extractors.textnorm import (
    WS_CLASS,
    WS_COLLAPSIBLE_RUN,
    nfc,
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("ref", T.StringType(), True),
        ]
    )
)

EXTRACT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("md", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_PASS_THROUGH = ("conv_id", "turn_idx", "role", "ts")
_RESULT_FIELDS = [
    f for f in to_arrow_schema(EXTRACT_OUTPUT_SCHEMA) if f.name not in _PASS_THROUGH
]
_SPANS_TYPE = next(f.type for f in _RESULT_FIELDS if f.name == "spans")
_BLANK = f"^{WS_CLASS}*$"  # the kernel's `not text.strip(ASCII_WS)`


def _extract_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        yield _extract_one(batch)


def _extract_one(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Extract one batch, equal row for row to ``extract_turn``.

    Tool-less rows whose text is null or all ASCII whitespace (``empty``)
    or holds no ``<`` (``plain``: the HTML sniff needs one) are computed as
    whole columns; every other row goes through ``extract_turn``.  A batch
    with such rows copies the per-row rows' ``text`` and ``tool`` once, on their way
    to Python strings, and puts the result rows back in input order with
    one ``take`` per result column; the pass-through columns are never
    copied."""
    text, tool = batch["text"], batch["tool"]
    blank = pc.fill_null(pc.match_substring_regex(text, _BLANK), True)
    maybe_html = pc.fill_null(pc.match_substring(text, "<"), False)
    fast = pc.and_(pc.is_null(tool), pc.or_(blank, pc.invert(maybe_html)))
    plain = pc.invert(blank)  # of the fast rows
    n_fast = pc.sum(fast).as_py() or 0
    if n_fast == batch.num_rows:  # skips the filter, concat and take copies
        cols = _columnar(text, plain)
    else:
        slow = pc.invert(fast)
        done = _columnar(text.filter(fast), plain.filter(fast))
        # the filtered payload copies die once they are Python strings
        rest = _per_row(text.filter(slow).to_pylist(), tool.filter(slow).to_pylist())
        # output row i is row order[i] of done ++ rest
        is_slow = slow.to_numpy(zero_copy_only=False)
        slow_before = np.cumsum(is_slow) - is_slow
        order = np.where(
            is_slow, n_fast + slow_before, np.arange(len(is_slow)) - slow_before
        )
        cols = [pa.concat_arrays(pair).take(order) for pair in zip(done, rest)]
    return pa.RecordBatch.from_arrays(
        [batch[c] for c in _PASS_THROUGH] + cols, names=EXTRACT_OUTPUT_SCHEMA.names
    )


def _per_row(texts: list, tools: list) -> list[pa.Array]:
    """The result columns from ``extract_turn`` on ``to_pylist()`` values
    (None for nulls, as the dispatcher expects); ``pa.array`` takes the
    kernel's span tuples as struct values."""
    recs = list(map(extract_turn, texts, tools))
    return [pa.array([r[f.name] for r in recs], f.type) for f in _RESULT_FIELDS]


def _columnar(text: pa.Array, plain: pa.Array) -> list[pa.Array]:
    """The result columns of tool-less rows without ``<``: ``plain`` rows
    get ``normalize_plain`` (NFC, ASCII-whitespace collapse, strip ' ') and
    one paragraph span; the others are blank and come out ``empty``.

    pyarrow 16's ``utf8_normalize(form="NFC")`` returns decomposed text, so
    only the non-ASCII rows take ``unicodedata``'s NFC; RE2's ``\\s`` misses
    ``\\v``, so the collapse uses textnorm's explicit class."""
    non_ascii = pc.and_(plain, pc.invert(pc.fill_null(pc.string_is_ascii(text), True)))
    if pc.any(non_ascii).as_py():
        composed = [nfc(s) for s in text.filter(non_ascii).to_pylist()]
        text = pc.replace_with_mask(text, non_ascii, pa.array(composed, pa.string()))
    out = pc.replace_substring_regex(text, WS_COLLAPSIBLE_RUN, " ")
    out = pc.fill_null(pc.utf8_trim(out, " "), "")
    length = pc.utf8_length(out)  # code points, as Python's len
    has_span = pc.greater(length, 0)
    ends = length.filter(has_span)
    n = len(ends)
    spans = pa.StructArray.from_arrays(
        [
            pa.repeat(pa.scalar(0, pa.int32()), n),
            ends,
            pa.repeat(pa.scalar("paragraph"), n),
            pa.repeat(pa.scalar(""), n),
        ],
        fields=list(_SPANS_TYPE.value_type),
    )
    offsets = pa.concat_arrays(
        [pa.array([0], pa.int32()), pc.cumulative_sum(has_span.cast(pa.int32()))]
    )
    return [
        pc.if_else(plain, KIND_PLAIN, KIND_EMPTY),
        out,
        pa.ListArray.from_arrays(offsets, spans, type=_SPANS_TYPE),
        out,
        pa.nulls(len(out), pa.string()),
    ]


_STAGE_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def stage_input(
    df: DataFrame,
    num_partitions: int | None = None,
    repartition: bool | str = "auto",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """The extraction stage's input: the six transcript columns (plus the
    ``extra`` ones a stage function needs, e.g. ``run_extraction``'s
    ``conv_bucket``), hash-repartitioned on the turn, ``(conv_id,
    turn_idx)``, into ``num_partitions`` partitions (default
    ``spark.sql.shuffle.partitions``) when ``repartition`` says so.

    Turns are spread evenly over the tasks, however the conversations are
    sized: a Zipf-head conversation (FIXTURES.md skew profile: one conv =
    50% of turns) lands on every task, in equal shares.  The key does not
    co-locate a conversation; order-sensitive steps downstream
    (``with_stable_order``, ``assemble_conversations``) shuffle on
    ``conv_id`` themselves.

    ``repartition``:
      * ``"auto"`` (default) — shuffle only when the incoming partitioning
        is too coarse (fewer partitions than the cluster's parallelism).
        Extraction is per-turn-independent, so an input that is already
        fine-grained (Iceberg/parquet splits sized by
        ``maxPartitionBytes``) spreads long conversations across tasks *by
        construction* and a pre-shuffle is pure overhead (~30% wall in the
        local bench).  A conv-grouped source (e.g. bucketed-by-conv_id
        table) arrives coarse → auto engages the shuffle.
      * ``True`` — always shuffle (explicitly skewed sources).
      * ``False`` — never shuffle."""
    src = df.select(*_STAGE_COLUMNS, *extra)
    if repartition == "auto":
        target = src.sparkSession.sparkContext.defaultParallelism
        repartition = src.rdd.getNumPartitions() < target
    if repartition and num_partitions:
        src = src.repartition(num_partitions, "conv_id", "turn_idx")
    elif repartition:
        src = src.repartition("conv_id", "turn_idx")
    return src


def extract_transcripts(
    df: DataFrame,
    num_partitions: int | None = None,
    repartition: bool | str = "auto",
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction table.

    The input is shaped by ``stage_input`` (see there for ``repartition``).
    Null ``text``/``tool`` reach the dispatcher as None; ``role`` and ``ts``
    pass through the Arrow stage unchanged."""
    src = stage_input(df, num_partitions, repartition)
    return src.mapInArrow(_extract_batches, EXTRACT_OUTPUT_SCHEMA)


def with_stable_order(df: DataFrame) -> DataFrame:
    """W6: global stable ordering rank within each conversation."""
    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def assemble_conversations(df: DataFrame, text_col: str = "md") -> DataFrame:
    """A1 analog: deterministic per-conversation markdown assembly.

    Order-stability does NOT rely on shuffle arrival order: turns are
    collected as (turn_idx, md) structs and ``array_sort``-ed before the
    join — the Spark expression of the reference's "sort chunks by start
    page, then merge" contract (main.py:203-216).  All built-in exprs
    (codegen'd), no UDF."""
    return (
        df.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col(text_col).alias("t")))
            ).alias("_turns")
        )
        .select(
            "conv_id",
            F.array_join(
                F.transform(F.col("_turns"), lambda x: x["t"]), "\n\n"
            ).alias("conv_md"),
            F.size("_turns").alias("n_turns"),
        )
    )
