"""Cluster entry point for incremental CRAWL-FRONTIER maintenance —
``spark-submit --py-files mistral_ocr_pipeline_spark.zip spark_jobs/frontier_job.py``.

Each batch of discovered links canonicalizes into per-URL frontier facts
(`frontier_facts`: mention mass per canonical URL) and merges into the
persisted frontier via the additive `frontier_append` law — history
batches are never re-scanned.  The job then emits the next politeness-
scheduled fetch plan over the ADMITTED frontier: spider-trap gate →
optional domain blocklist → optional robots.txt fetch gate →
already-crawled anti-join (against the warehouse's ``crawled`` table if
one exists) → `crawl_politeness_waves` with mention mass as priority.
Frontier, lineage, and schedule publish in ONE atomic catalog commit.

Idempotent per ``--batch-id``: a rerun of an already-recorded batch is a
no-op (the lineage table is the ledger), so the job is safe under
scheduler retries.  The admission dataflow is the oracled
`crawl_admission_pipeline` composite; this CLI is its maintained-state
spark-submit twin, as `linkgraph_job` is to `html_link_graph`.

Example (multi-executor cluster):
  spark-submit \\
    --master yarn --deploy-mode cluster \\
    --num-executors 64 --executor-cores 4 \\
    --py-files mistral_ocr_pipeline_spark.zip \\
    spark_jobs/frontier_job.py \\
    --input /landing/links/2026-08-20 --warehouse /warehouse/crawl \\
    --batch-id 2026-08-20 --block-host ads.tracker.net \\
    --robots /warehouse/crawl_robots --per-wave 4
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="batch parquet path")
    p.add_argument("--warehouse", required=True, help="crawl warehouse dir")
    p.add_argument("--batch-id", required=True,
                   help="idempotency key; one merge per batch")
    p.add_argument("--url-col", default="url")
    p.add_argument("--block-host", action="append", default=[],
                   help="blocklist entry (repeatable; parent-domain match)")
    p.add_argument("--robots", default=None,
                   help="parquet of (host, robots_txt) to gate fetches by")
    p.add_argument("--per-wave", type=int, default=2,
                   help="max fetches per host per wave")
    args = p.parse_args()

    spark = SparkSession.builder.appName("frontier_ingest").getOrCreate()

    from mistral_ocr_pipeline_spark.operators.robots import (
        robots_txt_gate,
        robots_txt_rules,
    )
    from mistral_ocr_pipeline_spark.operators.urls import (
        crawl_politeness_waves,
        frontier_append,
        frontier_facts,
        host_blocklist_gate,
        url_trap_flags,
    )
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    catalog = TableCatalog(spark, args.warehouse)
    have_lineage = catalog.exists("frontier_lineage")
    if have_lineage:
        seen = (
            catalog.read("frontier_lineage")
            .filter(F.col("batch_id") == args.batch_id)
            .limit(1)
            .count()
        )
        if seen:
            print({"batch": args.batch_id, "status": "already-recorded",
                   "action": "no-op"})
            return

    batch = spark.read.parquet(args.input)
    facts = frontier_facts(batch, args.url_col)
    if catalog.exists("frontier"):
        merged = frontier_append(catalog.read("frontier"), facts)
    else:
        merged = facts
    # the merge reads the table it replaces → materialize before staging
    merged = merged.localCheckpoint(eager=True)

    # admission over the MERGED frontier (canonicalization is idempotent,
    # so the gates run on canon_url directly).  Every gate is a per-URL
    # verdict, so each one reads `merged` and the passing keys intersect
    # by semi-join; a gate fed the previous gate's output would inline its
    # whole canonicalization tree into the next one's filter and the
    # optimizer would churn on a plan that grows with every gate.
    def passing(gated, flag):
        return gated.filter(flag).select(F.col("id").alias("canon_url"))

    gates = [
        passing(
            url_trap_flags(merged, "canon_url", "canon_url"),
            F.col("verdict") == "ok",
        )
    ]
    if args.block_host:
        gates.append(passing(
            host_blocklist_gate(
                merged, "canon_url", "canon_url", args.block_host
            ),
            F.col("kept"),
        ))
    if args.robots:
        rules = robots_txt_rules(spark.read.parquet(args.robots))
        gates.append(passing(
            robots_txt_gate(merged, rules, "canon_url", "canon_url"),
            F.col("fetch_allowed"),
        ))
    admitted = merged
    for ok in gates:
        admitted = admitted.join(ok, "canon_url", "left_semi")
    if catalog.exists("crawled"):
        admitted = admitted.join(
            catalog.read("crawled").select("canon_url"),
            "canon_url",
            "left_anti",
        )
    schedule = crawl_politeness_waves(
        admitted.select(
            "canon_url", F.col("n_mentions").alias("priority")
        ),
        "canon_url",
        "priority",
        per_wave=args.per_wave,
    )

    lineage = spark.createDataFrame([(args.batch_id,)], "batch_id string")
    staged = {
        "frontier": catalog.stage_overwrite(merged, "frontier"),
        "crawl_schedule": catalog.stage_overwrite(
            schedule, "crawl_schedule"
        ),
        "frontier_lineage": (
            catalog.stage_append(lineage, "frontier_lineage")
            if have_lineage
            else catalog.stage_overwrite(lineage, "frontier_lineage")
        ),
    }
    catalog.commit(staged)
    print({
        "batch": args.batch_id,
        "status": "recorded",
        "frontier_urls": merged.count(),
        "scheduled": schedule.count(),
    })


if __name__ == "__main__":
    main()
