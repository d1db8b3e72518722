"""Golden equality: Spark engine output == pure-Python oracle, byte-for-byte,
under stable (conv_id, turn_idx) ordering — the BASELINE.json correctness
criterion (per-turn text equality under stable turn ordering)."""

import pandas as pd
import pytest

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn_golden
from mistral_ocr_pipeline_spark.fixtures.gen import gen_transcripts, transcripts_schema
from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
    assemble_conversations,
    extract_transcripts,
    with_stable_order,
)


def _golden(rows):
    out = []
    for conv_id, turn_idx, role, text, tool, ts in sorted(rows, key=lambda r: (r[0], r[1])):
        rec = extract_turn_golden(text, tool)
        out.append(
            (
                conv_id,
                turn_idx,
                rec["payload_kind"],
                rec["extracted_text"],
                tuple(rec["spans"]),
                rec["md"],
                rec["error"],
            )
        )
    return out


def _spark_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, schema=transcripts_schema())
    got = extract_transcripts(df, **kw)
    collected = got.orderBy("conv_id", "turn_idx").collect()
    return [
        (
            r.conv_id,
            r.turn_idx,
            r.payload_kind,
            r.extracted_text,
            tuple((s.start, s.end, s.kind, s.ref) for s in (r.spans or [])),
            r.md,
            r.error,
        )
        for r in collected
    ]


@pytest.fixture(scope="module")
def unit_rows():
    return gen_transcripts(20, (2, 30), seed=42, profile="unit")


class TestGoldenEquality:
    def test_tiny_slice(self, spark):
        rows = gen_transcripts(3, (5, 10), seed=7, profile="tiny")
        assert _spark_rows(spark, rows) == _golden(rows)

    def test_unit_profile_full_matrix(self, spark, unit_rows):
        assert _spark_rows(spark, unit_rows) == _golden(unit_rows)

    def test_order_independence_of_salting(self, spark, unit_rows):
        """Salted repartition (shuffle) must not change any per-turn result."""
        a = _spark_rows(spark, unit_rows, repartition=True)
        b = _spark_rows(spark, unit_rows, repartition=False)
        assert a == b

    def test_skew_profile(self, spark):
        rows = gen_transcripts(12, 4, seed=11, profile="skew")
        # conv 0 holds ~half of all turns
        n0 = sum(1 for r in rows if r[0] == "conv-000000")
        assert n0 >= len(rows) * 0.4
        assert _spark_rows(spark, rows) == _golden(rows)


class TestConversationAssembly:
    def test_assemble_matches_oracle_order(self, spark):
        """A1: per-conversation md assembly must follow turn_idx order, not
        shuffle arrival order (reference main.py:203-216 re-sort contract)."""
        rows = gen_transcripts(5, (3, 9), seed=13, profile="tiny")
        df = spark.createDataFrame(rows, schema=transcripts_schema())
        ext = extract_transcripts(df)
        conv = assemble_conversations(ext).orderBy("conv_id").collect()

        golden = {}
        for conv_id, turn_idx, *_ in sorted(rows, key=lambda r: (r[0], r[1])):
            pass
        by_conv = {}
        for conv_id, turn_idx, role, text, tool, ts in sorted(
            rows, key=lambda r: (r[0], r[1])
        ):
            rec = extract_turn_golden(text, tool)
            by_conv.setdefault(conv_id, []).append(rec["md"])
        golden = {k: "\n\n".join(v) for k, v in by_conv.items()}

        for r in conv:
            assert r.conv_md == golden[r.conv_id]

    def test_stable_order_rank(self, spark):
        rows = gen_transcripts(3, 6, seed=3, profile="tiny")
        df = spark.createDataFrame(rows, schema=transcripts_schema())
        ranked = with_stable_order(extract_transcripts(df)).collect()
        for r in ranked:
            assert r.turn_rank == r.turn_idx + 1


class TestByteBoundedRebatch:
    """Spark, not the engine, bounds the bytes of each batch the extraction
    stage receives: ``spark.sql.execution.arrow.maxBytesPerBatch`` ends a
    batch with the row that crosses it."""

    KEY = "spark.sql.execution.arrow.maxBytesPerBatch"

    def test_split_preserves_rows_and_bounds(self, spark):
        import pyarrow as pa
        import pyarrow.compute as pc

        sql_conf = spark._jsparkSession.sessionState().conf()
        assert sql_conf.arrowMaxBytesPerBatch() <= 64 * 1024 * 1024

        def census(batches):
            for i, b in enumerate(batches):
                sizes = pc.binary_length(b["text"]).fill_null(0).cast(pa.int64())
                seq = pa.array([i] * b.num_rows, pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [seq, b["conv_id"], sizes], names=["batch", "conv_id", "size"]
                )

        t = spark.createDataFrame(
            [(f"c{i}", "x" * 3_000_000 if i < 9 else None) for i in range(10)],
            "conv_id string, text string",  # 27 MB total + null
        ).coalesce(1)
        prior = spark.conf.get(self.KEY)
        try:
            spark.conf.set(self.KEY, "10000000")
            rows = t.mapInArrow(census, "batch long, conv_id string, size long").collect()
        finally:
            spark.conf.set(self.KEY, prior)
        # rows preserved in order; each batch is under the bound until its
        # last row (or is that one row)
        assert [r.conv_id for r in rows] == [f"c{i}" for i in range(10)]
        batches = {}
        for r in rows:
            batches.setdefault(r.batch, []).append(r.size)
        assert len(batches) >= 3
        for sizes in batches.values():
            assert sum(sizes[:-1]) < 10_000_000, sizes

    def test_extraction_output_independent_of_budget(self, spark):
        from mistral_ocr_pipeline_spark.plans import extract_pipeline as ep

        t = spark.createDataFrame(
            [(f"c{i % 3}", i, "u", f"turn {i} text with words " * 20, None, None)
             for i in range(50)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        prior = spark.conf.get(self.KEY)
        for repartition in (True, False):
            big = {
                (r.conv_id, r.turn_idx): r.extracted_text
                for r in ep.extract_transcripts(t, repartition=repartition).collect()
            }
            # a 1000-byte bound cuts the input into many batches before
            # they reach the Python workers
            try:
                spark.conf.set(self.KEY, "1000")
                small = {
                    (r.conv_id, r.turn_idx): r.extracted_text
                    for r in ep.extract_transcripts(t, repartition=repartition).collect()
                }
            finally:
                spark.conf.set(self.KEY, prior)
            assert big == small and len(big) == 50, repartition


class TestArrowBoundary:
    """The extraction stage hands ``role`` and ``ts`` back exactly as they
    came in and feeds null payloads to the dispatcher as None."""

    ROWS = [
        # conv_id, turn_idx, role, text, tool, unix micros of ts
        ("c0", 0, "user", "hello  world", None, 1_710_052_200_123_456),
        ("c0", 1, None, None, None, None),
        ("c1", 0, "assistant", None, '{"kind": "other"}', 1_710_000_000_000_001),
        ("c1", 1, "tool", "<p>x</p>", "[}", -1),
        ("c2", 0, "", "  ", None, 0),
    ]
    KINDS = {
        ("c0", 0): "plain", ("c0", 1): "empty", ("c1", 0): "empty",
        ("c1", 1): "error", ("c2", 0): "empty",
    }

    def test_pass_through_columns_and_null_payloads(self, spark):
        from pyspark.sql import functions as F

        from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
            extract_transcripts,
        )

        key = "spark.sql.session.timeZone"
        prior = spark.conf.get(key)
        try:
            for tz in (prior, "America/New_York"):
                spark.conf.set(key, tz)
                src = spark.createDataFrame(
                    self.ROWS,
                    "conv_id string, turn_idx int, role string, text string, "
                    "tool string, us long",
                ).withColumn("ts", F.expr("timestamp_micros(us)"))
                want = {
                    (r.conv_id, r.turn_idx): (r.role, r.ts, r.us)
                    for r in src.collect()
                }
                for repartition in (True, False):
                    out = extract_transcripts(src, repartition=repartition)
                    got = out.withColumn("us", F.expr("unix_micros(ts)")).collect()
                    assert {
                        (r.conv_id, r.turn_idx): (r.role, r.ts, r.us) for r in got
                    } == want, (tz, repartition)
                    assert {
                        (r.conv_id, r.turn_idx): r.payload_kind for r in got
                    } == self.KINDS
                    empty = extract_transcripts(
                        src.filter(F.lit(False)), repartition=repartition
                    )
                    assert empty.collect() == []
        finally:
            spark.conf.set(key, prior)

    def test_zero_row_batch(self):
        import pyarrow as pa

        from mistral_ocr_pipeline_spark.plans import extract_pipeline as ep

        batch = pa.RecordBatch.from_pydict(
            {
                "conv_id": pa.array([], pa.string()),
                "turn_idx": pa.array([], pa.int32()),
                "role": pa.array([], pa.string()),
                "text": pa.array([], pa.string()),
                "tool": pa.array([], pa.string()),
                "ts": pa.array([], pa.timestamp("us", tz="UTC")),
            }
        )
        out = ep._extract_one(batch)
        assert out.num_rows == 0
        assert out.schema.names == ep.EXTRACT_OUTPUT_SCHEMA.names
