"""Skew-defense evidence: per-turn repartitioning on a Zipf-head input.

Scenario (FIXTURES.md skew profile): one conversation holds ~50% of all
turns and the input arrives **grouped by conv_id** — the realistic layout
for an Iceberg table bucketed/partitioned by conversation.  Without a
shuffle, the hot conversation pins one task for half the total work; the
repartition on the turn (`conv_id`, `turn_idx`) spreads it evenly over
every task.

Appends a "## Skew defense" section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from bench import mixed_transcripts
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
    from mistral_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app_name="skew_run", cores=32)
    base = mixed_transcripts(spark, "/root/testdata/sf0.1", 40)
    # Zipf head: remap half of all turns onto ONE conversation, then lay the
    # data out grouped by conv_id (Iceberg bucket(conv_id) layout)
    skewed = base.withColumn(
        "conv_id",
        F.when(F.pmod(F.hash("conv_id"), F.lit(2)) == 0, F.lit("conv-hot")).otherwise(
            F.col("conv_id")
        ),
    )
    grouped = skewed.repartition(64, "conv_id").persist()
    n = grouped.count()

    def run(repartition):
        df = extract_transcripts(grouped, repartition=repartition)
        df.write.format("noop").mode("overwrite").save()

    results = {}
    for name, mode in [("unsalted (conv-grouped layout)", False), ("per-turn", True)]:
        run(mode)  # warm
        t0 = time.perf_counter()
        run(mode)
        sec = time.perf_counter() - t0
        results[name] = {"sec": round(sec, 2), "turns_per_sec": round(n / sec, 1)}

    hot_share = grouped.filter(F.col("conv_id") == "conv-hot").count() / n
    speedup = results["unsalted (conv-grouped layout)"]["sec"] / results["per-turn"]["sec"]
    section = f"""

## Skew defense (per-turn repartitioning)

Zipf-head input: one conversation holds {hot_share:.0%} of {n} turns, data
laid out grouped by conv_id (the Iceberg ``bucket(conv_id)`` layout).
local[32]:

| plan | wall sec | turns/sec |
|---|---|---|
| unsalted (extraction inherits the conv-grouped partitioning) | {results['unsalted (conv-grouped layout)']['sec']} | {results['unsalted (conv-grouped layout)']['turns_per_sec']} |
| repartition (conv_id, turn_idx) | {results['per-turn']['sec']} | {results['per-turn']['turns_per_sec']} |

**Repartition speedup on the skewed layout: {speedup:.2f}×** — the hot
conversation spreads over every task instead of pinning one
(`plans/extract_pipeline.stage_input`).  On evenly-partitioned
input the adaptive mode skips this shuffle entirely (see above).
"""
    path = ROOT / "BENCH" / "BASELINE.md"
    existing = path.read_text() if path.exists() else ""
    if "## Skew defense" in existing:  # replace stale section, don't stack
        existing = existing.split("## Skew defense", 1)[0].rstrip() + "\n\n"
    path.write_text(existing + section.lstrip("\n"))
    print(json.dumps({"results": results, "hot_share": round(hot_share, 3),
                      "repartition_speedup": round(speedup, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
