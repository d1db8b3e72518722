"""Physical-plan regression guards for the scale-critical plan shapes.

Correctness tests prove the operators compute the right rows; these prove
the PLANS stay the plans we engineered for 100 TB:

* filters and column pruning reach the parquet scan,
* the resume anti-join broadcasts its (tiny) build side,
* pandas-UDF pipelines contain exactly ONE Arrow node — guarding against
  the Catalyst pitfall where a filter on a UDF output is pushed through an
  exchange by duplicating the ArrowEvalPython below it (observed: the
  whole simhash ran twice, once on the unsplit pre-shuffle partition),
* extraction stays a single narrow mapInArrow stage over the scan.

Plan inspection only — nothing here drains data, so the module is cheap.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestScanPruning:
    def test_filter_pushed_to_parquet_scan(self, docs):
        plan = _plan(docs.filter(F.col("doc_id") > 100).select("doc_id", "text"))
        assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan

    def test_column_pruning_reaches_scan(self, docs):
        plan = _plan(docs.select("doc_id"))
        # ReadSchema must carry only the projected column, not text/meta
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "doc_id" in read_schema and "text" not in read_schema

    def test_extractor_input_projection_pruned(self, spark):
        from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
            extract_transcripts,
        )

        t = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            F.col("l_orderkey").cast("string").alias("conv_id"),
            F.col("l_linenumber").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("l_returnflag").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        plan = _plan(extract_transcripts(t, repartition=False))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        # only the 3 source columns the pipeline consumes are read
        assert "l_returnflag" in read_schema
        assert "l_quantity" not in read_schema and "l_extendedprice" not in read_schema


class TestJoinStrategies:
    def test_resume_anti_join_broadcasts(self, spark, docs):
        # the J1 resume anti-join shape (SURVEY §2.4, the registry's
        # j1_resume_anti_join): a tiny key set, one row per bucket,
        # broadcast against the scan.  run_extraction needs no join: it
        # filters with isin over the buckets still to do
        from mistral_ocr_pipeline_spark.checkpoint.lineage import with_conv_bucket

        src = with_conv_bucket(
            docs.select(F.col("doc_id").cast("string").alias("conv_id"), "text")
        )
        keys = spark.createDataFrame([(1,), (3,)], "conv_bucket int")
        todo = src.join(F.broadcast(keys), "conv_bucket", "left_anti")
        plan = _plan(todo)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_exact_dedup_single_shuffle_with_partial_agg(self, docs):
        from mistral_ocr_pipeline_spark.operators.dedup import exact_dedup

        plan = _plan(
            docs.groupBy(F.md5("text").alias("k")).agg(F.count("*").alias("c"))
        )
        # map-side combine: HashAggregate(partial) below the exchange
        assert plan.count("Exchange") == 1
        assert "partial_count" in plan


class TestSingleArrowNode:
    """One pandas-UDF evaluation per pipeline — the UDF-duplication guard."""

    def test_simhash_single_arrow_eval(self, docs):
        from mistral_ocr_pipeline_spark.operators.dedup import simhash_pairs

        plan = _plan(simhash_pairs(docs, "doc_id", "text"))
        assert plan.count("ArrowEvalPython") == 1

    def test_minhash_two_arrow_evals_no_dup(self, docs):
        from mistral_ocr_pipeline_spark.operators.dedup import minhash_lsh_pairs

        # one signature eval; verification is JVM-only (array_intersect) —
        # the candidate-pair subplan must appear exactly once
        plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text"))
        assert plan.count("ArrowEvalPython") == 1

    def test_extraction_single_map_in_pandas(self, spark, docs):
        from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
            extract_transcripts,
        )

        t = docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.col("doc_id").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        plan = _plan(extract_transcripts(t, repartition=True))
        assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
        # exactly the one per-turn repartition feeds the extractor: keyed on
        # the turn itself, with no salt expression
        assert plan.count("Exchange") == 1
        exchange = plan.split("Exchange ", 1)[1].splitlines()[0]
        assert re.match(r"hashpartitioning\(conv_id#\d+, turn_idx#\d+, \d+\)", exchange), exchange
        assert "pmod" not in plan


class TestSinglePlanComposites:
    def test_decontam_pipeline_single_gram_scan(self, spark):
        """decontam_pipeline must be ONE plan with ONE corpus gram-scan:
        no driver-side count() re-executing the audit subplan, no
        crossJoin duplicating the flagged-set subtree.  Exactly 2
        Generate nodes (one gram explode per side: eval + corpus) and 3
        parquet scans (eval grams, corpus grams, corpus id/lang)."""
        import __spark_entry__ as entry

        df = entry.queries()["decontam_pipeline"](spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("Generate") == 2, plan
        assert plan.count("Scan parquet") == 3, plan


class TestNewOpPlanShapes:
    def test_pii_scrub_is_map_only(self, docs):
        """The privacy pass must be a pure scan→project pipeline — zero
        Exchange, whole-stage codegen, no Python — or it costs a shuffle
        per 100 TB pass it doesn't need."""
        from mistral_ocr_pipeline_spark.operators.text_analysis import pii_scrub

        plan = _plan(pii_scrub(docs, "doc_id", "text"))
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert plan.lstrip().startswith("*(")  # whole-stage-codegen'd project

    def test_packing_single_shuffle_on_shard(self, docs):
        """Sequence packing is one shuffle (hashpartitioning on shard) +
        one per-shard sort window; the rollup reuses the same partitioning
        (no second exchange on the same keys)."""
        from mistral_ocr_pipeline_spark.operators.packing import (
            pack_rollup,
            pack_token_budget,
        )
        from mistral_ocr_pipeline_spark.operators.text_analysis import ws_token_count

        d = docs.select("doc_id", ws_token_count(F.col("text")).alias("tokens"))
        packed = pack_token_budget(d, "doc_id", "tokens", budget=512, n_shards=8)
        assert _plan(packed).count("Exchange") == 1
        # groupBy(shard, pack_id) after a window partitioned by shard:
        # hash(shard, pack_id) isn't satisfied by hash(shard), so AQE may
        # add one small post-agg exchange — but never more
        assert _plan(pack_rollup(packed, budget=512)).count("Exchange") <= 2


class TestRoundFourPlans:
    def test_bloom_expr_probe_is_map_only(self, docs):
        """The literal-array bloom probe must stay a pure scan expression:
        no Join, no Exchange, no Python — that's its entire reason to
        exist over the join-based probe."""
        from mistral_ocr_pipeline_spark.operators.sketches import (
            bloom_build,
            bloom_might_contain_expr,
            bloom_words_dense,
        )

        words = bloom_words_dense(
            bloom_build(docs.select("source"), "source", m=1024, k=3), 1024
        )
        probed = docs.select(
            "doc_id",
            bloom_might_contain_expr(F.col("source"), words, 1024, 3).alias("m"),
        )
        plan = _plan(probed)
        assert "Exchange" not in plan, plan
        assert "Join" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_heavy_hitters_no_cartesian_blowup(self, docs):
        """The scalar total-err crossJoin must plan as a broadcast of ONE
        row, never a CartesianProduct; stage-1 counts keep map-side
        partial aggregation."""
        from mistral_ocr_pipeline_spark.operators.sketches import heavy_hitters_rollup

        hh = heavy_hitters_rollup(
            docs.select((F.col("doc_id") % 8).alias("shard"), "source"),
            "shard",
            "source",
            k=4,
        )
        plan = _plan(hh)
        assert "CartesianProduct" not in plan, plan
        assert "partial_count" in plan or "partial" in plan.lower()

    def test_line_dedup_digest_join_broadcasts_hot_side(self, spark, docs):
        """The hot-line flag-back join keys on md5 digests; the hot side
        is count-filtered and tiny, so the executed plan must broadcast
        it rather than shuffle the full line stream a second time."""
        from mistral_ocr_pipeline_spark.operators.dedup import line_dedup

        out = line_dedup(docs, "doc_id", "text", min_dup_count=2)
        out.write.format("noop").mode("overwrite").save()
        # AQE decides at runtime — read the final adaptive plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan


class TestRuntimeFilters:
    def test_bloom_filter_injects_on_dim_join_at_lowered_thresholds(
        self, spark, tmp_path
    ):
        """Runtime bloom-filter semi-join pruning, demonstrated at sandbox
        scale by lowering the engagement thresholds (defaults: application
        side > 10 GB, creation side < 10 MB — untriggerable on sf0.01).

        Where it engages at 100 TB in THIS engine: the decontam audit's
        corpus-grams ⋈ eval-grams inner join once the eval side outgrows
        broadcast, and any filtered-dim ⋈ fact join (fuzzy blocking,
        IVF cell assignment ⋈ corpus).  Two shapes it can NOT serve, by
        semantics/implementation: (a) the resume/decontam LEFT ANTI joins —
        a bloom of build keys cannot prune the preserved side (false
        positives would wrongly DROP rows); (b) the LSH verification joins —
        their creation side is an aggregate subplan, and InjectRuntimeFilter
        only fires for scan+filter creation sides (probed empirically).
        The plan must show bloom_filter_agg on the dim side and
        might_contain pushed into the fact scan's filter."""
        big = spark.read.parquet(f"{SF_DIR}/../sf0.01/documents.parquet")
        big.write.parquet(str(tmp_path / "fact"))
        spark.range(0, 50).select(
            F.col("id").alias("doc_id"), (F.col("id") * 2).alias("x")
        ).write.parquet(str(tmp_path / "dim"))
        keep = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
            )
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "0",
            )
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
                "100MB",
            )
            fact = spark.read.parquet(str(tmp_path / "fact"))
            dim = spark.read.parquet(str(tmp_path / "dim")).filter(
                F.col("x") % 4 == 0
            )
            joined = fact.join(dim, "doc_id")
            plan = _plan(joined)
            assert "might_contain" in plan, plan
            assert "bloom_filter_agg" in plan, plan
            # and it prunes correctly: x%4==0 keeps doc_ids 0,4,8,...,48
            assert joined.count() == 25
        finally:
            for k, v in keep.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestAqeSkewJoin:
    def test_skew_join_split_engages_at_lowered_thresholds(self, spark, tmp_path):
        """AQE skew-join is the documented runtime BACKSTOP behind the
        salting defenses — demonstrate it actually engages: a join with
        one hot key (half the fact table) under lowered skew thresholds
        must show `skew=true` in the final adaptive plan, splitting the
        hot partition instead of pinning one task.  At 100 TB the same
        mechanism splits any residual skew the deterministic salts miss."""
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("dim")
        )
        big.write.parquet(str(tmp_path / "fact"))
        small.write.parquet(str(tmp_path / "dim"))
        keep = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.adaptive.coalescePartitions.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
            joined = (
                spark.read.parquet(str(tmp_path / "fact"))
                .join(spark.read.parquet(str(tmp_path / "dim")), "k")
            )
            # execute THIS Dataset (collect, not count — count builds its
            # own execution) so the adaptive plan finalizes with skew info
            rows = joined.collect()
            # hot k=7 (100k even-id rows) + odd ids whose k < 1000 (500)
            assert len(rows) == 100_500
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, plan
        finally:
            for k, v in keep.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestBucketedJoins:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on the same key/count must hash-join with
        ZERO Exchange — the Iceberg ``bucket(conv_id)`` co-location story
        served by the Parquet fallback (sources/catalog.write_bucketed)."""
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh"))
        left = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b")
        )
        try:
            cat.write_bucketed(left, "bk_left", "k", n_buckets=8, sort_col="k")
            cat.write_bucketed(right, "bk_right", "k", n_buckets=8, sort_col="k")
            joined = cat.read_bucketed("bk_left").join(
                cat.read_bucketed("bk_right").hint("merge"), "k"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 500
            # control: the same files read WITHOUT the catalog lose the
            # bucketing spec and the join shuffles again
            raw = spark.read.parquet(cat.path("bk_left")).join(
                spark.read.parquet(cat.path("bk_right")).hint("merge"), "k"
            )
            raw_plan = raw._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in raw_plan
        finally:
            spark.sql("DROP TABLE IF EXISTS bk_left")
            spark.sql("DROP TABLE IF EXISTS bk_right")


class TestRetrievalPlans:
    """BM25 / fusion / token-budget-mix plan shapes (round 4)."""

    def test_bm25_query_join_broadcasts_no_cartesian(self, spark, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

        qdf = spark.createDataFrame(
            [(0, "alpha beta"), (1, "gamma delta")],
            "query_id long, query_text string",
        )
        plan = _plan(bm25_topk(docs, qdf, k=5))
        # query terms (small) broadcast against the postings on term —
        # the corpus never shuffles per query batch
        assert "BroadcastHashJoin [term" in plan
        # the 1-row stats relation rides a broadcast NLJ, never a cartesian
        assert "CartesianProduct" not in plan

    def test_champion_cap_salted_two_phase_windows(self, spark, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import bm25_topk

        qdf = spark.createDataFrame(
            [(0, "alpha beta")], "query_id long, query_text string"
        )
        base = _plan(bm25_topk(docs, qdf, k=5))
        capped = _plan(bm25_topk(docs, qdf, k=5, max_postings_per_term=10))
        # exactly two extra Window NODES: the salted per-(term, shard)
        # phase (spreads a stop-word term's postings over 16 tasks) and
        # the exact merge phase on term — the plain single window gets
        # only a Final WindowGroupLimit, i.e. the hot term's whole
        # posting list on one task, which is the skew the cap bounds
        assert capped.count("Window [row_number()") == base.count(
            "Window [row_number()"
        ) + 2
        assert "windowspecdefinition(term" in capped
        assert "pmod(xxhash64(doc" in capped  # the salt phase is real
        assert "windowspecdefinition(term" not in base

    def test_token_budget_mix_shuffles_on_shard_only(self, spark, docs):
        from mistral_ocr_pipeline_spark.operators.sampling import token_budget_mix

        src = docs.select("doc_id", F.length("text").alias("tokens"))
        plan = _plan(
            token_budget_mix([(src, 10_000)], "doc_id", "tokens", n_shards=8)
        )
        # the only wide op per source is the per-shard cumsum window:
        # one exchange, hash-partitioned on shard — no global sort
        assert plan.count("Exchange hashpartitioning") == 1
        assert "shard" in plan.split("Exchange hashpartitioning", 1)[1].splitlines()[0]
        assert "rangepartitioning" not in plan


class TestPretrainPipelinePlan:
    def test_one_plan_no_cartesian_broadcast_threshold(self, spark):
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        plan = _plan(QUERIES["pretrain_pipeline"](spark, SF_DIR))
        # the DSIR median threshold and bucket-probability relations ride
        # broadcasts; nothing corpus-sized ever cross-joins
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan
        # no global (empty-partition) sort anywhere in the composite —
        # the pack window partitions on shard, dedup/DSIR on keys
        assert "rangepartitioning" not in plan


class TestLateR4OpPlans:
    def test_paragraph_dedup_partial_agg_and_broadcast_flagback(self, spark, docs):
        """The canonical-occurrence rule must be a map-side-combinable
        min(struct) aggregate (partial_min before the digest exchange —
        a hot paragraph collapses per input partition, never one giant
        window sort), and the flag-back join must broadcast under AQE at
        this scale."""
        from mistral_ocr_pipeline_spark.operators.dedup import paragraph_dedup

        out = paragraph_dedup(docs, "doc_id", "text")
        plan = _plan(out)
        assert "partial_min" in plan, plan
        assert "CartesianProduct" not in plan
        out.write.format("noop").mode("overwrite").save()
        final = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final, final

    def test_unimax_mix_broadcasts_plan_no_corpus_shuffle(self, spark, docs):
        """The language-cardinality allocation rides a broadcast onto the
        corpus scan; the corpus itself must never hash-exchange — the
        replica fan-out is scan-side explode."""
        from mistral_ocr_pipeline_spark.operators.sampling import unimax_mix

        src = docs.select(
            "doc_id", "lang", F.length("text").cast("long").alias("tok")
        )
        out = unimax_mix(src, "doc_id", "lang", "tok", 100_000, 2)
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # the only exchanges allowed are broadcast (plan) + the tiny
        # language-stats aggregation — never a corpus-sized hash exchange
        # keyed on the document id
        assert "hashpartitioning(doc_id" not in plan

    def test_perplexity_buckets_single_window_per_lang(self, spark, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            perplexity_buckets,
        )

        scored = docs.select(
            "doc_id", "lang", F.length("text").cast("double").alias("surprisal")
        )
        plan = _plan(perplexity_buckets(scored, "doc_id", "surprisal", "lang"))
        # one hash exchange on lang for the ntile window; no global
        # single-partition window, no range shuffle
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Exchange SinglePartition" not in plan


class TestRoundFivePlans:
    """r5 plan-shape guards: the lineage-re-derivation fixes on the
    multi-pass queries (persisted spines) and the new operators' shapes."""

    @staticmethod
    def _formatted_ops(df) -> list[str]:
        # the formatted explain numbers each operator ONCE; the raw
        # executedPlan string re-prints the whole cached lineage inside
        # every InMemoryRelation block, inflating naive scan counts
        import re

        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return re.findall(r"\(\d+\) (\w+)", txt)

    def test_nb_quality_spine_cached_not_rederived(self, spark):
        # before the persist, the surprisal-labeled spine re-derived per
        # reference: 32 parquet scans / 49 shuffles.  Pin the fixed shape.
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        df = QUERIES["text_nb_quality"](spark, SF_DIR)
        ops = self._formatted_ops(df)
        assert "InMemoryTableScan" in ops
        assert ops.count("Scan") <= 10, ops

    def test_pretrain_pipeline_stage_boundaries_cached(self, spark):
        # gate -> dedup -> DSIR -> pack composite: 66 scans before the
        # stage-boundary persists, 2 after.
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        df = QUERIES["pretrain_pipeline"](spark, SF_DIR)
        ops = self._formatted_ops(df)
        assert ops.count("Scan") <= 6, ops

    def test_winnow_single_id_shuffle_no_udf(self, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        plan = _plan(winnow_fingerprints(docs, "doc_id"))
        # one hash exchange keyed on the doc id for the sliding window
        # (plus the distinct's reuse of it); never a Python node — the
        # array-expression form this replaced went O(n^2 w) via Catalyst
        # inlining, and a regression to it would show as runtime, not
        # shape, so pin the structural invariants we can
        assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
        assert "Exchange hashpartitioning(id" in plan

    def test_sq8_model_broadcast_zero_python(self, spark):
        from mistral_ocr_pipeline_spark.operators.similarity_df import sq8_topk_df

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = _plan(sq8_topk_df(emb, emb.filter(F.col("vec_id") < 4), k=3))
        # train is min/max aggregation; model + queries ride broadcasts;
        # no Arrow kernel anywhere in the quantized path
        assert "ArrowEval" not in plan and "mapInPandas" not in plan.lower()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_cms_collapses_to_grid_sized_groups(self, docs):
        from mistral_ocr_pipeline_spark.operators.sketches import cms_build

        plan = _plan(cms_build(docs.select(F.col("text").alias("k")), "k", w=64, d=4))
        # one map-side-combined shuffle into <= w*d cells
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial_sum" in plan or "partial_count" in plan, plan


class TestSessionAdditionsPlans:
    """Plan-shape guards for the late-r5 additions: novelty, cluster
    balance, JL, and the classifier-gated mix composite."""

    def test_ngram_novelty_digest_shuffles_no_python(self, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            ngram_novelty,
        )

        plan = _plan(ngram_novelty(docs, "doc_id", "text", n=3))
        # gram digests are built scan-side; no Arrow/Python node anywhere
        assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
        # the doc-frequency aggregation combines map-side before its shuffle
        assert "partial_count" in plan or "partial_sum" in plan, plan

    def test_cluster_balanced_centroids_broadcast(self, spark):
        from mistral_ocr_pipeline_spark.operators.sampling import (
            cluster_balanced_sample,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = _plan(cluster_balanced_sample(emb, n_cells=8, per_cell_cap=5))
        # the n_cells-row centroid relation rides a broadcast; the only
        # Arrow node is the ivf_build assignment kernel (exactly one)
        assert "BroadcastExchange" in plan
        assert plan.count("MapInPandas") == 1, plan

    def test_jl_refine_all_catalyst_queries_broadcast(self, spark):
        from mistral_ocr_pipeline_spark.operators.similarity_df import (
            jl_refine_topk,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = _plan(jl_refine_topk(emb, emb.filter(F.col("vec_id") < 4), k=3))
        # training-free: zero Python anywhere; the query relation and the
        # refine join-back ride broadcasts
        assert "ArrowEval" not in plan and "mapinpandas" not in plan.lower()
        assert "BroadcastExchange" in plan

    def test_quality_mix_selection_is_broadcast_case(self, spark):
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        df = QUERIES["quality_mix_pipeline"](spark, SF_DIR)
        plan = _plan(df)
        # the allocation table is a 5-row broadcast onto the kept-corpus
        # scan; the fate rule adds no corpus shuffle of its own
        assert "BroadcastExchange" in plan
        assert "ArrowEval" not in plan and "BatchEvalPython" not in plan


class TestTranscriptPlans:
    """Plan-shape guards for the transcript-curation battery."""

    def _transcripts(self, spark):
        import datetime as dt

        rows = [
            (f"c{i % 4}", i // 4, ["user", "assistant"][i % 2], f"text {i}",
             None, dt.datetime(2024, 1, 1, second=i % 60))
            for i in range(64)
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def test_conv_facts_single_exchange(self, spark):
        """The fused facts pass exists to pay ONE conv_id exchange where
        the a-la-carte operators would pay four — the lag window and the
        rollup must share the exchange."""
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_conv_facts,
        )

        plan = _plan(transcript_conv_facts(self._transcripts(spark)))
        assert plan.count("Exchange") == 1, plan

    def test_loss_mask_map_side_combine(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_loss_mask,
        )

        plan = _plan(transcript_loss_mask(self._transcripts(spark)))
        assert plan.count("Exchange") == 1
        assert "partial" in plan  # counts combine before the shuffle

    def test_context_windows_single_exchange(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_context_windows,
        )

        plan = _plan(transcript_context_windows(self._transcripts(spark)))
        assert plan.count("Exchange") == 1

    def test_template_lint_conv_keyed_only(self, spark):
        """Two windows (full order + ua-subset) + rollup: every exchange
        is conv-keyed — nothing partitions on a corpus-wide key."""
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_template_lint,
        )

        plan = _plan(transcript_template_lint(self._transcripts(spark)))
        assert plan.count("Exchange") <= 3
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "conv_id" in line, line

    def test_role_transitions_matrix_combines_map_side(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_role_transitions,
        )

        plan = _plan(transcript_role_transitions(self._transcripts(spark)))
        # window exchange (conv_id) + tiny matrix rollup exchange
        assert plan.count("Exchange") == 2
        assert "partial_count" in plan


class TestRoundFiveLatePlans:
    def test_c4_clean_is_map_only(self, docs):
        """The C4 rule battery is a scan-level gate like pii_scrub: zero
        Exchange, zero Python, whole-stage codegen — anything else would
        cost a 100 TB pass a shuffle it doesn't need."""
        from mistral_ocr_pipeline_spark.operators.text_analysis import c4_clean

        plan = _plan(c4_clean(docs, blocklist=("casino bonus",)))
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert plan.lstrip().startswith("*(")

    def test_turn_contamination_audit_broadcasts_eval_grams(self, spark, docs):
        """transcript_decontam's audit leg: the eval gram set must ride a
        broadcast into the turn-gram stream (the corpus side never
        shuffles before the per-turn agg), and no exchange may partition
        on the gram key."""
        from pyspark.sql import functions as F

        from mistral_ocr_pipeline_spark.operators.dedup import (
            contamination_flags,
        )
        from mistral_ocr_pipeline_spark.plans.entry_queries import (
            transcripts_from_documents,
        )

        turns = transcripts_from_documents(docs).withColumn(
            "turn_key",
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
        )
        ev = docs.filter(F.col("doc_id") % 25 == 0).withColumnRenamed(
            "doc_id", "turn_key"
        )
        out = contamination_flags(
            turns, ev, "turn_key", "text", n=4, keep_cols=["conv_id"]
        )
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # exactly ONE gram-keyed exchange: the eval side's distinct
        # (eval-sized, by design).  A second would mean the corpus gram
        # stream is shuffling on g — the 100 TB mistake this guards.
        g_exchanges = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
            and "g#" in line.split("hashpartitioning", 1)[1][:60]
        ]
        assert len(g_exchanges) == 1, plan

    def test_render_sft_single_conv_exchange(self, spark, docs):
        """The offset window and the ordered-reassembly agg must share
        the conv_id exchange — a render pass is one shuffle, not two."""
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_render_sft,
        )
        from mistral_ocr_pipeline_spark.plans.entry_queries import (
            transcripts_from_documents,
        )

        plan = _plan(transcript_render_sft(transcripts_from_documents(docs)))
        assert plan.count("Exchange") == 1, plan


class TestLateR5Plans:
    """Plan-shape guards for the late-round-5 operators: map-only passes
    stay shuffle-free, single-aggregation passes stay single-exchange,
    and nothing grows a Python node or a cartesian product."""

    def test_script_profile_is_map_only(self, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            script_profile,
        )

        plan = _plan(script_profile(docs))
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_zorder_one_broadcast_no_shuffle_no_python(self, docs):
        from mistral_ocr_pipeline_spark.operators.layout import zorder_shards

        plan = _plan(zorder_shards(docs, ["doc_id", "n_chars"]))
        # the only exchanges are the 1-row min/max stats aggregate and
        # its broadcast back — the corpus itself never hash-partitions
        assert "Exchange hashpartitioning" not in plan, plan
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_profiler_single_expand_aggregate(self, docs):
        from mistral_ocr_pipeline_spark.operators.profiling import (
            profile_columns,
        )

        plan = _plan(profile_columns(docs))
        # multi-distinct rides ONE Expand; metrics are partial aggs into
        # a single-partition exchange; no per-column rescans
        assert plan.count("Scan ") <= 1 or plan.count("FileScan") <= 1, plan
        assert "Expand" in plan
        assert "BatchEvalPython" not in plan

    def test_pmi_vocab_joins_never_cartesian(self, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            pmi_collocations,
        )

        plan = _plan(pmi_collocations(docs))
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_edit_distance_no_python_no_cartesian(self, docs):
        from mistral_ocr_pipeline_spark.operators.dedup import (
            edit_distance_pairs,
        )

        plan = _plan(edit_distance_pairs(docs, "doc_id", "text"))
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        # levenshtein is a JVM expression in the verify projection
        assert "levenshtein" in plan.lower()

    def test_skipgram_rollup_no_python(self, docs):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            skipgram_pairs,
        )

        plan = _plan(skipgram_pairs(docs))
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "CartesianProduct" not in plan, plan


class TestAgentPathologyPlans:
    """Plan-shape guards for the agent-trace pathology gates (r5 final):
    every pass is pure Catalyst (no Python nodes), never cartesian, and
    pays the minimum number of conv_id exchanges — the window chain and
    every downstream groupBy share one partitioning because grouping
    keys are supersets of the window key."""

    def _transcripts(self, spark):
        import datetime as dt

        rows = [
            (f"c{i % 4}", i // 4, ["user", "assistant"][i % 2], f"text {i}",
             None, dt.datetime(2024, 1, 1, second=i % 60))
            for i in range(64)
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def test_spin_runs_two_exchanges_no_python(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_spin_runs,
        )

        plan = _plan(transcript_spin_runs(self._transcripts(spark)))
        # one exchange feeds the lag/island window chain AND both
        # run-length groupBys (superset grouping keys reuse it); the
        # second is the distinct conv spine — nothing else shuffles
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "CartesianProduct" not in plan

    def test_truncation_audit_single_exchange(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_truncation_audit,
        )

        plan = _plan(transcript_truncation_audit(self._transcripts(spark)))
        # the max-turn pick and the same-conv count share ONE window
        # exchange (W1 shape)
        assert plan.count("Exchange") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_tail_trim_single_exchange_no_text_on_shuffle(self, spark):
        from mistral_ocr_pipeline_spark.operators.transcript_qc import (
            transcript_tail_trim,
        )

        out = transcript_tail_trim(self._transcripts(spark))
        plan = _plan(out)
        assert plan.count("Exchange") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        # tokens are computed scan-side: the exchange input carries the
        # token count, not the turn text
        import re

        m = re.search(r"Exchange hashpartitioning[^\n]*", plan)
        assert m and "text" not in m.group(0), plan


class TestLRClassifierPlan:
    def test_scoring_is_map_only_over_cached_features(self, spark):
        """The trained-LR scoring pass: a projection over the persisted
        feature frame — zero exchanges, zero Python nodes, zero
        Generate (the dense feature vector is array HOFs, not explode);
        only the per-iteration gradient aggregations shuffle, and those
        collapse map-side to n_buckets+1 rows."""
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            lr_quality_classifier,
        )

        rows = [
            (i, f"tok{i} words here", i % 2 == 0, i % 3 != 0)
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, "id long, text string, label boolean, is_train boolean"
        )
        out = lr_quality_classifier(
            df, "id", "label", "is_train", n_buckets=8, n_iters=2
        )
        plan = _plan(out)
        assert plan.count("Exchange") == 0, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert "Generate" not in plan, plan
        assert "InMemoryTableScan" in plan


class TestCrawlAdmissionPlans:
    def test_robots_rules_join_broadcasts(self, spark):
        from mistral_ocr_pipeline_spark.plans.entry_queries import QUERIES

        plan = _plan(QUERIES["crawl_admission_pipeline"](spark, SF_DIR))
        # the tiny robots rule table must ride a broadcast join, and the
        # composite must never degenerate into a cartesian product
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_trap_and_blocklist_gates_stay_map_only(self, spark):
        from mistral_ocr_pipeline_spark.operators.urls import (
            host_blocklist_gate,
            url_trap_flags,
        )

        urls = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.col("doc_id").alias("id"),
            F.concat(F.lit("https://ex.com/p/"), F.col("doc_id")).alias("url"),
        )
        assert "Exchange" not in _plan(url_trap_flags(urls, "id", "url"))
        assert "Exchange" not in _plan(
            host_blocklist_gate(urls, "id", "url", ["bad.com"])
        )


class TestNewFamilyPlans:
    """Plan guards for the r5+ additions: margin mining, similarity
    packing, host boilerplate — all pure Catalyst (no Python nodes),
    with the shuffle structure each docstring promises."""

    def test_margin_mine_no_python_nodes(self, spark):
        from mistral_ocr_pipeline_spark.operators.similarity_df import (
            margin_mine,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        plan = _plan(
            margin_mine(
                emb.filter(F.col("vec_id") % 2 == 0),
                emb.filter(F.col("vec_id") % 2 == 1),
                k=4,
            )
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_pack_similar_one_cell_exchange_no_python(self, spark):
        """Assignment is map-only centroid-literal arithmetic; the only
        hash exchange the packing itself introduces is keyed on cell
        (the window), exactly as documented."""
        import numpy as np

        from mistral_ocr_pipeline_spark.operators.packing import (
            pack_similar_neighbors,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            F.col("vec_id").alias("id"),
            F.lit(7).alias("tokens"),
            "embedding",
        )
        cent = np.random.RandomState(5).standard_normal((8, 64))
        plan = _plan(
            pack_similar_neighbors(emb, "id", "tokens", "embedding", cent, 64)
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert (
            "cell"
            in plan.split("Exchange hashpartitioning", 1)[1].splitlines()[0]
        )

    def test_host_boilerplate_digest_shuffles_no_python(self, spark):
        """The strip never shuffles raw line text: every hash exchange
        key set is (host, k)/(id, host)-shaped — 32-char digests and
        ids move, the `line` column rides only inside its own doc's
        rebuild group."""
        from mistral_ocr_pipeline_spark.operators.dedup import (
            host_boilerplate_strip,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _plan(
            host_boilerplate_strip(docs, "doc_id", "text", "source")
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        for frag in plan.split("Exchange hashpartitioning")[1:]:
            keys = frag.splitlines()[0]
            assert "line#" not in keys, keys


class TestFoldParserPlans:
    """The r5+ fold-scan parsers keep their map-only promises."""

    def test_texttile_zero_exchange_no_python(self, spark):
        from mistral_ocr_pipeline_spark.operators.text_analysis import (
            texttile_segments,
            texttile_passages,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        for op in (texttile_segments, texttile_passages):
            plan = _plan(op(docs, "doc_id", "text"))
            assert "Exchange" not in plan, plan
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_warc_parse_no_python_no_extra_exchange(self, spark):
        """Parsing itself adds NO shuffle: a pre-assembled (file_id,
        warc) relation parses as scan → fold → Generate, zero Exchange,
        zero Python."""
        from mistral_ocr_pipeline_spark.sources.warc import parse_warc_records

        df = spark.createDataFrame(
            [(1, "WARC/1.0\r\nContent-Length: 2\r\n\r\nok\r\n\r\n")],
            "file_id long, warc string",
        )
        plan = _plan(parse_warc_records(df))
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
