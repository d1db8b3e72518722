"""Two-parallelism scaling run — the sandbox proxy for the north rule's
"N vs 4N executors, efficiency ≥ 0.8" criterion (no real cluster here;
driver instruction: evidence it with the same job at two parallelism
levels on the same input, reporting throughput at both + efficiency).

Three measurements per level, each in a fresh process:
  1. the Spark job (salted-auto repartition → mapInArrow → noop sink);
  2. the pure-Python extraction kernel under multiprocessing — NO Spark —
     which bounds what ANY engine can achieve on this single box;
together they separate engine scaling from the machine's memory-bandwidth
ceiling (4N real executors bring 4× memory channels; 4N local cores do
not).  Reported:
  * raw local efficiency   = spark_4N / (4 × spark_N)
  * kernel ceiling         = kernel_4N / (4 × kernel_N)
  * Spark-attributable eff = (spark_4N / kernel_4N) / (spark_N / kernel_N)
    — the engine-overhead scaling that transfers to independent executors.

Usage:
  python tools/scaling_run.py                   # orchestrate + write BENCH/BASELINE.md
  python tools/scaling_run.py --child N REP     # one Spark measurement
  python tools/scaling_run.py --kernel N        # one kernel measurement
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REP = int(os.environ.get("SPARK_GRAFT_SCALING_REP", "240"))
N_CORES = int(os.environ.get("SPARK_GRAFT_SCALING_N", "8"))

_ROWS = None


def _kernel_work(n):
    from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn

    for t, tl in _ROWS:
        extract_turn(t, tl)
    return n


def kernel(cores: int) -> None:
    """Pure-Python multiprocessing baseline on the exact bench payload mix."""
    global _ROWS
    import multiprocessing as mp

    from bench import mixed_transcripts
    from mistral_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app_name="kernel_sample", cores=8)
    sample = mixed_transcripts(spark, SF_DIR, 2).select("text", "tool").collect()
    _ROWS = [(r.text, r.tool) for r in sample]
    spark.stop()
    tasks = 32
    with mp.Pool(cores) as p:
        p.map(_kernel_work, range(cores))  # warm imports
        sec = None
        for _ in range(2):  # best-of-2: periodic whole-VM stalls on this box
            t0 = time.perf_counter()
            p.map(_kernel_work, range(tasks))
            dt = time.perf_counter() - t0
            sec = dt if sec is None else min(sec, dt)
    total = tasks * len(_ROWS)
    print(json.dumps({"cores": cores, "turns": total, "sec": round(sec, 3),
                      "turns_per_sec": round(total / sec, 1)}))


def child(cores: int, rep: int) -> None:
    from bench import mixed_transcripts
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
    from mistral_ocr_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling_{cores}", cores=cores,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "4096"},
    )
    # 256 equal partitions at both levels: same physical work, balanced waves
    t_input = mixed_transcripts(spark, SF_DIR, rep).repartition(256).persist()
    n_turns = t_input.count()

    def drain():
        extract_transcripts(t_input).write.format("noop").mode("overwrite").save()

    drain()  # warmup (codegen, python worker pool spin-up)
    sec = None
    for _ in range(2):  # best-of-2: periodic whole-VM stalls on this box
        t0 = time.perf_counter()
        drain()
        dt = time.perf_counter() - t0
        sec = dt if sec is None else min(sec, dt)
    print(json.dumps({"cores": cores, "turns": n_turns, "sec": round(sec, 3),
                      "turns_per_sec": round(n_turns / sec, 1)}))
    spark.stop()


def _sub(args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, *args],
        capture_output=True, text=True, cwd=str(ROOT), timeout=1800,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no output from {args}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--kernel":
        kernel(int(sys.argv[2]))
        return
    n, n4 = N_CORES, N_CORES * 4
    runs = []
    for _ in range(int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "1"))):
        runs.append({
            "s_n": _sub(["--child", str(n), str(REP)]),
            "s_n4": _sub(["--child", str(n4), str(REP)]),
            "k_n": _sub(["--kernel", str(n)]),
            "k_n4": _sub(["--kernel", str(n4)]),
        })
    # headline = the MEDIAN run by raw efficiency (lower-middle for even
    # counts).  Best-of would be an outcome-favoring selection criterion —
    # noise, not just stall-deflation, could push a borderline config over
    # the ≥0.8 target; the median is robust to a single stalled run while
    # staying selection-neutral.  All runs are tabled below the headline.
    def _eff(r):
        return (r["s_n4"]["turns_per_sec"] / r["k_n4"]["turns_per_sec"]) / (
            r["s_n"]["turns_per_sec"] / r["k_n"]["turns_per_sec"]
        )

    def _raw(r):
        return r["s_n4"]["turns_per_sec"] / (4 * r["s_n"]["turns_per_sec"])

    best = sorted(runs, key=_raw)[(len(runs) - 1) // 2]
    s_n, s_n4, k_n, k_n4 = best["s_n"], best["s_n4"], best["k_n"], best["k_n4"]
    raw_eff = s_n4["turns_per_sec"] / (4 * s_n["turns_per_sec"])
    ceil_eff = k_n4["turns_per_sec"] / (4 * k_n["turns_per_sec"])
    spark_frac_n = s_n["turns_per_sec"] / k_n["turns_per_sec"]
    spark_frac_n4 = s_n4["turns_per_sec"] / k_n4["turns_per_sec"]
    spark_eff = spark_frac_n4 / spark_frac_n
    report = f"""# BENCH — scaling evidence (N vs 4N)

North-rule criterion: throughput scaling efficiency ≥ 0.8 between N and 4N
executors.  No real cluster exists in this sandbox; per the driver
instruction this is evidenced by the same job at two parallelism levels
(local[{n}] vs local[{n4}]) on the same deterministic input.

Input: mixed-payload transcripts (1/3 plain, 1/3 HTML page, 1/3 PDF-layout
tool payload) derived from `{SF_DIR}/documents.parquet` × {REP} =
{s_n["turns"]} turns.  Job: scan → (adaptive salted repartition — input is
already fine-grained, so no shuffle engages) → `mapInArrow` extraction →
noop sink.  Fresh JVM/process per measurement, warmup drain before
timing, best-of-2 drains per measurement (this VM has periodic
multi-second whole-machine stalls; interference only ever deflates a run).

## Spark job

| parallelism | turns | wall sec | turns/sec |
|---|---|---|---|
| local[{n}]  (N)  | {s_n["turns"]} | {s_n["sec"]} | {s_n["turns_per_sec"]} |
| local[{n4}] (4N) | {s_n4["turns"]} | {s_n4["sec"]} | {s_n4["turns_per_sec"]} |

**Raw local scaling efficiency = {raw_eff:.3f}**

## Hardware ceiling (no Spark): the same extraction kernel under multiprocessing

| processes | turns/sec |
|---|---|
| {n} | {k_n["turns_per_sec"]} |
| {n4} | {k_n4["turns_per_sec"]} |

**Kernel ceiling efficiency = {ceil_eff:.3f}** — this single VM's memory
bandwidth saturates well before {n4} cores for this string-heavy workload,
with zero engine code involved.  A 4N-executor cluster brings 4× memory
channels; 4N local cores do not, so the raw local number under-states
cluster scaling by construction.

## Engine-attributable scaling

Spark delivers {spark_frac_n:.2f}× the kernel throughput at N and
{spark_frac_n4:.2f}× at 4N; the engine-overhead scaling that transfers to
independent executors is

**Spark-attributable efficiency = {spark_frac_n4:.3f} / {spark_frac_n:.3f}
= {min(spark_eff, 1.0):.3f}** (unclamped: {spark_eff:.3f}; target ≥ 0.8; a
ratio above 1 means the N and 4N measurements landed in different
machine-noise regimes and the headline is clamped — the unclamped value is
shown so the clamp can't hide a suspicious measurement)

The job has no shuffle, no driver-side loop, and no cross-task state —
each task is scan → Arrow batch → Python kernel → sink, so executor-count
scaling on a real cluster tracks the kernel's embarrassingly-parallel
shape, bounded only by the engine-attributable term above.
"""
    if len(runs) > 1:
        report += (
            "\n## All orchestrations (median-by-raw shown above; "
            "VM-stall interference only ever deflates a run)\n\n"
            "| run | spark N | spark 4N | kernel N | kernel 4N | raw | ceiling | attributable |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for idx, r in enumerate(runs, 1):
            raw = r["s_n4"]["turns_per_sec"] / (4 * r["s_n"]["turns_per_sec"])
            ceil = r["k_n4"]["turns_per_sec"] / (4 * r["k_n"]["turns_per_sec"])
            report += (
                f"| {idx} | {r['s_n']['turns_per_sec']} | {r['s_n4']['turns_per_sec']} "
                f"| {r['k_n']['turns_per_sec']} | {r['k_n4']['turns_per_sec']} "
                f"| {raw:.3f} | {ceil:.3f} | {_eff(r):.3f} |\n"
            )
    (ROOT / "BENCH").mkdir(exist_ok=True)
    out_path = ROOT / "BENCH" / "BASELINE.md"
    prior = out_path.read_text() if out_path.exists() else ""
    # hand-written analysis survives regeneration: any block delimited by
    # <!-- MANUAL --> ... <!-- /MANUAL --> in the existing file is carried
    # over verbatim (in order) between the generated report and the
    # skew-defense tail — regenerating must never destroy human-written
    # sections (this bit two earlier rounds)
    manual_blocks = re.findall(
        r"<!-- MANUAL -->.*?<!-- /MANUAL -->", prior, flags=re.DOTALL
    )
    for block in manual_blocks:
        report += "\n" + block.strip() + "\n"
    # keep the skew-defense section skew_run.py appends below this report
    if "## Skew defense" in prior:
        tail = prior.split("## Skew defense", 1)[1]
        report += "\n## Skew defense" + tail.rstrip() + "\n"
    out_path.write_text(report)
    print(json.dumps({
        "spark_n": s_n, "spark_4n": s_n4, "kernel_n": k_n, "kernel_4n": k_n4,
        "raw_efficiency": round(raw_eff, 3),
        "kernel_ceiling_efficiency": round(ceil_eff, 3),
        "spark_attributable_efficiency": round(spark_eff, 3),
    }))


if __name__ == "__main__":
    main()
