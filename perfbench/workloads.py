"""The three workloads: input registration, warm-up, timed pass, checks and
per-layer measurements, all through the program's public API.

* ``extract_mixed`` — ``extract_transcripts`` over the evenly split ``mix``
  input into a noop sink: the extractor kernels do most of the work.
* ``ordered_skew`` — the conversation-grouped ``skew`` input through
  ``extract_transcripts`` -> ``with_stable_order`` -> ``assemble_conversations``.
  A pass materialises both derived tables with noop sinks: the ordered
  per-turn table and the assembled conversations (written from the
  ordered frame; the optimizer prunes the unread ``turn_rank`` window
  there, which is why the ordered table is its own sink).
* ``checkpoint_resume`` — the ``mix`` input through ``run_extraction`` into
  a fresh ``TableCatalog`` warehouse: a run limited to half the buckets
  (the simulated kill), then the resume run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from mistral_ocr_pipeline_spark.checkpoint.lineage import DEFAULT_N_BUCKETS, run_extraction
from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn
from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
    assemble_conversations,
    extract_transcripts,
    with_stable_order,
)
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

from . import gate
from .inputs import InputSet
from .tracing import Tracer

KINDS = ("plain", "html", "pdf_layout", "empty", "error")
KERNEL_SAMPLE = 3000  # turns timed one by one in the traced run
KILL_BUCKETS = frozenset(range(DEFAULT_N_BUCKETS // 2))
OUTPUT_TABLE, LINEAGE_TABLE = "extracted", "run_partitions"


@dataclass
class Ctx:
    spark: SparkSession
    slots: int
    inputs: InputSet
    work_dir: str
    df: DataFrame | None = None

    def fresh_dir(self, tag: str) -> str:
        return os.path.join(self.work_dir, f"{tag}-{uuid.uuid4().hex[:8]}")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _census(batches):
    n = 0
    for b in batches:
        n += len(b)
    yield pd.DataFrame({"rows": [n]})


def partition_rows(df: DataFrame) -> list[int]:
    """Rows per partition of ``df`` as it executes (after AQE), one entry
    per partition task."""
    return df.mapInPandas(_census, "rows long").toPandas()["rows"].tolist()


class TracedCatalog(TableCatalog):
    """Benchmark-side wrapper: spans around the catalog calls the lineage
    layer makes (``read`` returns a lazy frame, so its span is plan time)."""

    def __init__(self, spark: SparkSession, warehouse: str, tracer: Tracer) -> None:
        super().__init__(spark, warehouse)
        self._tracer = tracer

    def stage_append(self, *args, **kwargs):
        with self._tracer.span("catalog.stage_append"):
            return super().stage_append(*args, **kwargs)

    def commit(self, *args, **kwargs):
        self._tracer.count("catalog.commits")
        with self._tracer.span("catalog.commit"):
            return super().commit(*args, **kwargs)

    def read(self, *args, **kwargs):
        with self._tracer.span("catalog.read"):
            return super().read(*args, **kwargs)


class Workload:
    name = ""
    family = "mix"
    coarse_input = False
    min_passes = 3

    def register(self, ctx: Ctx) -> DataFrame:
        return ctx.spark.read.parquet(ctx.inputs.table_dir)

    def check_layout(self, ctx: Ctx, res: gate.GateResult) -> None:
        """The registered input must hold every turn, in at least as many
        data-carrying partitions as task slots — or, for a coarse input,
        in fewer (so ``extract_transcripts`` takes its salted shuffle)."""
        rows = [r["count"] for r in ctx.df.groupBy(F.spark_partition_id()).count().collect()]
        busy = len(rows)
        if sum(rows) != ctx.inputs.n_turns:
            res.fail(f"input scan returned {sum(rows)} of {ctx.inputs.n_turns} turns")
        n_parts = ctx.df.rdd.getNumPartitions()
        if self.coarse_input != (busy < ctx.slots and n_parts < ctx.slots):
            want = "<" if self.coarse_input else ">="
            res.fail(
                f"input has {busy} data-carrying of {n_parts} partitions, "
                f"needs {want} {ctx.slots}"
            )

    def warm_up(self, ctx: Ctx) -> Callable[[gate.GateResult], None]:
        """One untimed pass that starts the Python workers and warms the
        JVM; returns the check of its output, run outside set-up time."""
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, tracer: Tracer) -> None:
        raise NotImplementedError

    def after_pass(self, ctx: Ctx, res: gate.GateResult) -> None:
        """Untimed checks on the pass just run."""

    def finish(self, ctx: Ctx, res: gate.GateResult, tracer: Tracer) -> dict[str, float]:
        """Checks and layer readings due after the timed passes."""
        return {}


class ExtractMixed(Workload):
    name = "extract_mixed"

    def warm_up(self, ctx):
        out = extract_transcripts(ctx.df).select("conv_id", "turn_idx", *gate.FIELDS).toPandas()

        def check(res):
            res.merge(gate.check_turns(out, gate.oracle_records(ctx.inputs.read_oracle())))

        return check

    def run_pass(self, ctx, tracer):
        with tracer.span("plans.extract_drain"):
            noop(extract_transcripts(ctx.df))


class OrderedSkew(Workload):
    name = "ordered_skew"
    family = "skew"
    coarse_input = True
    # passes of ~3.5 s jitter by ~10% and the first one or two after the
    # warm-up still run slow: the median of five is not moved by them
    min_passes = 5

    def _ordered(self, ctx):
        return with_stable_order(extract_transcripts(ctx.df))

    def warm_up(self, ctx):
        ordered = self._ordered(ctx)
        turns = ordered.select("conv_id", "turn_idx", "turn_rank", *gate.FIELDS).toPandas()
        convs = assemble_conversations(ordered).toPandas()
        # the first noop pass after the collects still runs ~20% slower
        # while the JIT catches up: keep it out of the timed passes
        self.run_pass(ctx, Tracer(False))

        def check(res):
            expected = gate.oracle_records(ctx.inputs.read_oracle())
            res.merge(gate.check_turns(turns, expected))
            res.merge(gate.check_ranks(turns))
            res.merge(gate.check_conversations(convs, expected))

        return check

    def run_pass(self, ctx, tracer):
        ordered = self._ordered(ctx)
        with tracer.span("plans.order"):
            noop(ordered)
        with tracer.span("plans.assemble"):
            noop(assemble_conversations(ordered))


class CheckpointResume(Workload):
    name = "checkpoint_resume"
    # a cycle costs ~7 s on a 4-core host, a third of it run_extraction's
    # fixed costs; passes keep speeding up for a few cycles, and with five
    # the median is the middle pass, not the mean of a slow and a fast one
    min_passes = 5

    def __init__(self) -> None:
        self.last_warehouse: str | None = None
        self.passes: list[dict] = []  # per timed pass: lineage results + warehouse stats

    def _cycle(self, ctx, tracer, catalog) -> tuple[dict, dict]:
        with tracer.span("lineage.killed_run"):
            killed = run_extraction(
                ctx.spark, catalog, ctx.df, OUTPUT_TABLE, LINEAGE_TABLE,
                run_id="killed", only_buckets=set(KILL_BUCKETS),
            )
        with tracer.span("lineage.resume_run"):
            resumed = run_extraction(
                ctx.spark, catalog, ctx.df, OUTPUT_TABLE, LINEAGE_TABLE, run_id="resume"
            )
        return killed, resumed

    def warm_up(self, ctx):
        # a whole cycle: most of its cost is the first run of each query
        # (Python workers, code generation), which a half-size cycle pays
        # as well.  The timed passes' own output is checked instead (see
        # finish)
        wh = ctx.fresh_dir("warehouse")
        self._cycle(ctx, Tracer(False), TableCatalog(ctx.spark, wh))
        shutil.rmtree(wh, ignore_errors=True)
        return lambda res: None

    def run_pass(self, ctx, tracer):
        if self.last_warehouse:
            shutil.rmtree(self.last_warehouse, ignore_errors=True)
        wh = self.last_warehouse = ctx.fresh_dir("warehouse")
        catalog = TracedCatalog(ctx.spark, wh, tracer) if tracer.enabled else TableCatalog(ctx.spark, wh)
        killed, resumed = self._cycle(ctx, tracer, catalog)
        self.passes.append({"killed": killed, "resumed": resumed, "warehouse": wh, "traced": tracer.enabled})

    def after_pass(self, ctx, res: gate.GateResult) -> None:
        """Untimed: lineage checks and write accounting for the last pass."""
        p = self.passes[-1]
        cat = TableCatalog(ctx.spark, p["warehouse"])
        lineage = pq.read_table(cat.data_path(LINEAGE_TABLE)).to_pydict()
        rows, fails = sum(lineage["rows"]), sum(lineage["failures"])
        n_err = ctx.inputs.kinds.get("error", 0)
        if rows != ctx.inputs.n_turns:
            res.fail(f"lineage rows sum to {rows}, input has {ctx.inputs.n_turns} turns")
        if fails != n_err:
            res.fail(f"lineage failures sum to {fails}, input has {n_err} error rows")
        if len(set(lineage["conv_bucket"])) != len(lineage["conv_bucket"]):
            res.fail("a bucket was committed twice")
        if p["resumed"]["skipped_buckets"] != p["killed"]["processed_buckets"]:
            res.fail("resume did not skip exactly the killed run's buckets")
        if p["traced"]:
            p.update(_warehouse_stats(p["warehouse"]))

    def finish(self, ctx, res, tracer):
        wh = self.last_warehouse
        t = time.perf_counter()
        noop_run = run_extraction(
            ctx.spark, TableCatalog(ctx.spark, wh), ctx.df, OUTPUT_TABLE, LINEAGE_TABLE,
            run_id="noop",
        )
        noop_s = time.perf_counter() - t
        if noop_run["processed_buckets"] != 0:
            res.fail(f"noop rerun processed {noop_run['processed_buckets']} buckets")
        out = pq.read_table(TableCatalog(ctx.spark, wh).data_path(OUTPUT_TABLE)).to_pandas()
        res.merge(gate.check_turns(out, gate.oracle_records(ctx.inputs.read_oracle())))
        shutil.rmtree(wh, ignore_errors=True)
        return {"lineage.noop_rerun_s": noop_s}


WORKLOADS = {w.name: w for w in (ExtractMixed, OrderedSkew, CheckpointResume)}


def _warehouse_stats(wh: str) -> dict:
    """Files and bytes a pass wrote: distinct inodes under the warehouse
    (appends carry earlier files forward as hardlinks)."""
    seen: dict[int, int] = {}
    parquet = set()
    for root, _dirs, files in os.walk(wh):
        for f in files:
            st = os.stat(os.path.join(root, f))
            seen[st.st_ino] = st.st_size
            if f.endswith(".parquet"):
                parquet.add(st.st_ino)
    return {"files": len(parquet), "bytes": sum(seen.values())}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def kernel_sample(inputs: InputSet) -> dict[str, float]:
    """One thread calling ``extract_turn`` over a stride sample of the
    workload's turns: the single-core kernel rate, split by payload kind."""
    t = inputs.read_table()
    step = max(1, t.num_rows // KERNEL_SAMPLE)
    texts = t.column("text").to_pylist()[::step]
    tools = t.column("tool").to_pylist()[::step]
    busy = {k: 0.0 for k in KINDS}
    n = {k: 0 for k in KINDS}
    clock = time.perf_counter
    for text, tool in zip(texts, tools):
        t0 = clock()
        kind = extract_turn(text, tool)["payload_kind"]
        busy[kind] += clock() - t0
        n[kind] += 1
    total = sum(busy.values())
    out = {"extractors.kernel_turns_per_s": len(texts) / total}
    for k in ("html", "pdf_layout", "plain"):
        out[f"extractors.{k}_us_per_turn"] = busy[k] / n[k] * 1e6 if n[k] else 0.0
    return out


def layer_metrics(w: Workload, ctx: Ctx, tracer: Tracer, untraced_tps: float, traced_tps: float) -> dict[str, float]:
    """Per-layer readings for the traced run (after the timed passes)."""
    inputs = ctx.inputs
    m: dict[str, float] = {}
    m["session.get_spark_s"] = _median(tracer.durations("session.get_spark"))
    m.update(kernel_sample(inputs))
    for k in KINDS:
        m[f"extractors.turns.{k}"] = inputs.kinds.get(k, 0)

    drains = tracer.durations("plans.extract_drain")
    if not drains:  # the pass is not a bare drain: time drains of its own
        for i in range(2):
            tracer.run_id = f"drain-{i}"
            with tracer.span("plans.extract_drain"):
                noop(extract_transcripts(ctx.df))
        drains = tracer.durations("plans.extract_drain")
    drain = _median(drains)
    m["plans.extract_drain_s"] = drain
    order = tracer.durations("plans.order")
    m["plans.order_s"] = _median(order) - drain if order else 0.0
    assemble = tracer.durations("plans.assemble")
    m["plans.assemble_s"] = _median(assemble) - drain if assemble else 0.0
    m["plans.task_slots"] = ctx.slots
    m["plans.engine_efficiency"] = untraced_tps / (ctx.slots * m["extractors.kernel_turns_per_s"])
    rows = partition_rows(extract_transcripts(ctx.df))
    m["plans.input_partitions"] = len(rows)
    m["plans.busy_tasks"] = sum(1 for r in rows if r)
    m["plans.task_rows_max_over_mean"] = max(rows) / (sum(rows) / len(rows))

    passes = [p for p in getattr(w, "passes", []) if p["traced"]]
    for name in ("stage_append", "commit", "read"):
        m[f"catalog.{name}_s"] = _median(tracer.per_run(f"catalog.{name}", "pass"))
    m["catalog.commits"] = tracer.counts.get("catalog.commits", 0) / len(passes) if passes else 0
    m["catalog.files_written"] = _median([p["files"] for p in passes])
    m["catalog.bytes_written_per_input_byte"] = _median([p["bytes"] for p in passes]) / inputs.n_bytes
    killed = _median(tracer.durations("lineage.killed_run"))
    resumed = _median(tracer.durations("lineage.resume_run"))
    m["lineage.killed_run_s"] = killed
    m["lineage.resume_run_s"] = resumed
    m["lineage.overhead_s"] = killed + resumed - drain if passes else 0.0
    m["lineage.noop_rerun_s"] = 0.0  # checkpoint_resume's finish() reports it
    m["lineage.buckets_processed"] = _median(
        [p["killed"]["processed_buckets"] + p["resumed"]["processed_buckets"] for p in passes]
    )
    m["lineage.buckets_skipped"] = _median([p["resumed"]["skipped_buckets"] for p in passes])
    m["trace.overhead_frac"] = 1 - traced_tps / untraced_tps
    return m
