"""Physical-plan guards (the 100-TB contract: pushdown, pruning, broadcast)
plus unit tests for schema-align / struct-merge / scalar-function operators."""

from pyspark.sql import functions as F, types as T

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanShape:
    def test_pricing_summary_pushdown_and_pruning(self, spark):
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        df = QUERIES["pricing_summary"](spark, SF_DIR)
        plan = _plan(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
        # column pruning: never reads more than the 6 needed columns
        assert "l_orderkey" not in plan and "l_partkey" not in plan

    def test_resume_anti_join_is_broadcast(self, spark):
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        plan = _plan(QUERIES["j1_resume_anti_join"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_extraction_avoids_redundant_shuffle(self, spark):
        """Adaptive salting: a finely-partitioned input must NOT be
        re-shuffled before extraction (serial/shuffle stages are what break
        N→4N scaling)."""
        from mistral_ocr_pipeline_spark.fixtures.gen import (
            gen_transcripts,
            transcripts_schema,
        )
        from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
            extract_transcripts,
        )

        rows = gen_transcripts(4, 4, seed=2, profile="tiny")
        fine = spark.createDataFrame(rows, schema=transcripts_schema()).repartition(64)
        plan_fine = _plan(extract_transcripts(fine))
        # exactly the one explicit repartition(64); no extra exchange on top
        assert plan_fine.count("Exchange") == 1

        coarse = spark.createDataFrame(rows, schema=transcripts_schema()).coalesce(1)
        plan_coarse = _plan(extract_transcripts(coarse))
        assert "hashpartitioning(conv_id" in plan_coarse  # per-turn shuffle engaged


class TestSchemaAlign:
    def test_cast_fill_drop(self, spark):
        from mistral_ocr_pipeline_spark.operators.schema_align import align_to_schema

        df = spark.createDataFrame(
            [(1, "5", "extra")], "a int, b string, junk string"
        )
        target = T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("b", T.IntegerType()),
                T.StructField("missing", T.StringType()),
            ]
        )
        out = align_to_schema(df, target)
        assert [f.name for f in out.schema.fields] == ["a", "b", "missing"]
        row = out.first()
        assert row.a == 1 and row.b == 5 and row.missing is None
        assert out.schema["a"].dataType == T.LongType()


class TestScalarFunctions:
    def test_truncate_at_references(self, spark):
        from mistral_ocr_pipeline_spark.functions.text_functions import (
            truncate_at_references,
        )

        df = spark.createDataFrame(
            [("body text\nReferences\n[1] cite",),
             ("no refs here at all",),
             ("head\nBIBLIOGRAPHY:\ntail",)],
            "t string",
        )
        got = [r.kept for r in df.select(truncate_at_references(F.col("t")).alias("kept")).collect()]
        assert got[0] == "body text\n"
        assert got[1] == "no refs here at all"
        assert got[2] == "head\n"

    def test_canonical_country(self, spark):
        from mistral_ocr_pipeline_spark.functions.text_functions import (
            canonical_country,
        )

        df = spark.createDataFrame(
            [("USA",), (" uk ",), ("France",), ("Deutschland",)], "c string"
        )
        got = [r.x for r in df.select(canonical_country(F.col("c")).alias("x")).collect()]
        assert got == ["united states", "united kingdom", "france", "germany"]

    def test_concept_tags(self, spark):
        from mistral_ocr_pipeline_spark.operators.text_analysis import concept_tags

        df = spark.createDataFrame(
            [("the sql JOIN was fast",), ("nothing relevant here",)], "t string"
        )
        got = [r.x for r in df.select(concept_tags(F.col("t")).alias("x")).collect()]
        assert got[0] == ["query", "perf"]
        assert got[1] == []


class TestGateConsistency:
    """Reference main.py:114-159 semantics, case by case."""

    def test_all_branches(self, spark):
        from mistral_ocr_pipeline_spark.functions.gate_rules import apply_gate_rules

        rows = [
            # (id, gate, outcomes, followup)
            (1, None, "real outcome", "f1"),   # infer Yes → keep deps
            (2, None, " [] ", "f2"),           # infer No → null deps
            (3, None, None, "f3"),             # infer No → null deps
            (4, " No ", "real outcome", "f4"), # kept byte-identical, strips to No → null deps
            (5, "Yes", "real outcome", "f5"),  # untouched
            (6, " None ", "real outcome", "f6"),  # sentinel → infer Yes
            (7, "Maybe", None, "f7"),          # non-sentinel gate kept, deps kept
            (8, "nan", None, "f8"),            # sentinel → infer No
        ]
        df = spark.createDataFrame(
            rows, "id long, gate string, outcomes string, followup string"
        )
        got = {
            r.id: (r.gate, r.outcomes, r.followup)
            for r in apply_gate_rules(
                df, "gate", "outcomes", ("outcomes", "followup")
            ).collect()
        }
        assert got[1] == ("Yes", "real outcome", "f1")
        assert got[2] == ("No", None, None)
        assert got[3] == ("No", None, None)
        assert got[4] == (" No ", None, None)      # original bytes preserved
        assert got[5] == ("Yes", "real outcome", "f5")
        assert got[6] == ("Yes", "real outcome", "f6")
        assert got[7] == ("Maybe", None, "f7")
        assert got[8] == ("No", None, None)


class TestDriverContract:
    def test_every_query_constructs_with_scalar_output(self, spark):
        """Registry-wide guard: each driver query must (a) build its plan
        without error and (b) emit only scalar columns — the external
        checker canonicalizes with pandas sort_values, which cannot hash
        array/map/struct cells (the r01 c13 failure class).  Also checks
        every oracle key refers to a registered query."""
        from pyspark.sql import types as T

        from mistral_ocr_pipeline_spark.plans.entry_queries import ORACLES, QUERIES

        assert set(ORACLES) <= set(QUERIES)
        bad = []
        for name, fn in QUERIES.items():
            df = fn(spark, SF_DIR)
            for f in df.schema.fields:
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                    bad.append((name, f.name, f.dataType.simpleString()))
        assert not bad, bad
