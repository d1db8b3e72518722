"""Checkpoint / resume with per-partition lineage + metrics.

Spark-native generalization of the reference's resume machinery: the CSV
hash index that skips already-processed documents (reference
utils/utils.py:291-304, main.py:244-257) and the failures.jsonl sidecar
(main.py:304-311) become one ``run_partitions`` lineage table
(FIXTURES.md §3):

    run_partitions(run_id, partition_id, conv_bucket, rows, bytes,
                   failures, status, started_at, finished_at)

Unit of work = ``conv_bucket = pmod(hash(conv_id), n_buckets)`` — a
deterministic, data-independent partition of conversation space (the
Iceberg ``bucket(N, conv_id)`` transform's moral equivalent).  A run
reads the lineage once, on the driver (at most one row per bucket per
run): it yields both the committed set and the prior totals.  A killed
run resumes with an ``isin`` filter over the buckets still to do, ahead
of extraction, and recomputes nothing that committed.

Commit protocol (write-audit-publish, SURVEY.md §7.4.6): a batch's data
files AND its lineage rows are staged as unreferenced snapshots, the
staged data is audited (per bucket, the staged Parquet footers' row
counts must equal the rows ``observe()`` counted during the write), and
both publish in ONE atomic catalog commit (``TableCatalog.commit`` — a
single ``_HEAD`` pointer swap).  A kill at any instant leaves either both
visible or neither; the orphan-drop below remains as defense-in-depth for
catalogs whose data/lineage got out of sync through external surgery
(e.g. a partial restore), publishing a new data snapshot that omits the
orphan bucket dirs (metadata-only, hardlinks) before reprocessing.
Lineage rows are written with pyarrow and totals are prior lineage plus
observed values, so, as in an Iceberg commit, nothing is read back: the
staged output write is a run's only Spark job.  Lineage reads file lists
from the catalog (``TableCatalog.files``), never directories."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
    types as T,
)
from pyspark.sql.pandas.types import to_arrow_schema

from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("conv_bucket", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("failures", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("finished_at", T.TimestampType(), True),
    ]
)
# times are timestamp("us", tz="UTC"): no session timezone can shift them
_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)

DEFAULT_N_BUCKETS = 16


def with_conv_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    return df.withColumn(
        "conv_bucket", F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def _read_lineage(catalog: TableCatalog, lineage_table: str) -> tuple[set[int], int, int]:
    """(committed buckets, total rows, total failures) of the current
    lineage snapshot, read on the driver — no Spark job."""
    files = catalog.files(lineage_table)
    if not files:
        return set(), 0, 0
    t = pq.read_table(
        files, columns=["conv_bucket", "rows", "failures", "status"]
    ).to_pydict()
    committed = {b for b, s in zip(t["conv_bucket"], t["status"]) if s == "committed"}
    return committed, sum(t["rows"]), sum(t["failures"])


def committed_buckets(catalog: TableCatalog, lineage_table: str) -> set[int]:
    return _read_lineage(catalog, lineage_table)[0]


def _bucket_of(path: str) -> int | None:
    """``N`` of the ``conv_bucket=N`` dir holding a data file, else None."""
    col, _, val = os.path.basename(os.path.dirname(path)).partition("=")
    return int(val) if col == "conv_bucket" else None


def _drop_orphan_buckets(
    catalog: TableCatalog, output_table: str, committed: set[int]
) -> list[int]:
    """Remove bucket partitions that have data but no lineage commit so
    reprocessing cannot double-write.  With the single-commit protocol
    this cannot arise from a kill (data+lineage publish atomically); it
    covers externally-desynced catalogs.  The drop is a new snapshot
    omitting the orphan dirs — metadata-only, no data rewrite."""
    buckets = {_bucket_of(f) for f in catalog.files(output_table)} - {None}
    orphans = sorted(buckets - committed)
    if orphans:
        catalog.drop_partition_dirs(
            output_table, [f"conv_bucket={b}" for b in orphans]
        )
    return orphans


def _footer_mismatches(
    catalog: TableCatalog, table: str, snap: str, lineage_rows: list[dict]
) -> dict[int, tuple]:
    """bucket → (staged, observed) rows for each new bucket whose staged
    Parquet footers do not sum to the rows ``observe()`` counted — a
    missing or short file shows here; only footers are read, never data
    pages.  New buckets were uncommitted and orphan-free, so every file
    of the staged snapshot in one of their dirs is this run's."""
    observed = {r["conv_bucket"]: r["rows"] for r in lineage_rows}
    staged = dict.fromkeys(observed, 0)
    for f in catalog.files(table, snap):
        b = _bucket_of(f)
        if b in staged:
            staged[b] += pq.read_metadata(f).num_rows
    return {b: (staged[b], n) for b, n in observed.items() if staged[b] != n}


def run_extraction(
    spark: SparkSession,
    catalog: TableCatalog,
    input_df: DataFrame,
    output_table: str = "extracted",
    lineage_table: str = "run_partitions",
    run_id: str = "run-0",
    n_buckets: int = DEFAULT_N_BUCKETS,
    only_buckets: set[int] | None = None,
    num_partitions: int | None = None,
) -> dict:
    """One (possibly resumed) extraction run.

    ``only_buckets`` restricts the run to a subset — the test hook that
    simulates a kill after k bucket-batches committed.  Returns summary
    metrics {processed_buckets, skipped_buckets, orphans_dropped,
    total_rows, total_failures}; when every wanted bucket has committed
    it returns them before planning anything.

    Every staged footer is audited (``_footer_mismatches``) before
    anything publishes.  Rows/bytes/failures per bucket come from
    ``DataFrame.observe`` DURING the write and the audit reads footers
    only — at 100 TB a read-back would be a second complete scan of the
    output per run (r01 design flaw)."""
    committed, prior_rows, prior_failures = _read_lineage(catalog, lineage_table)
    orphans = _drop_orphan_buckets(catalog, output_table, committed)
    wanted = range(n_buckets) if only_buckets is None else only_buckets
    todo = sorted({int(b) for b in wanted} - committed)
    summary = {
        "run_id": run_id,
        "processed_buckets": 0,
        "skipped_buckets": len(committed),
        "orphans_dropped": orphans,
        "total_rows": prior_rows,
        "total_failures": prior_failures,
    }
    if not todo:
        return summary

    src = with_conv_bucket(input_df, n_buckets).filter(F.col("conv_bucket").isin(todo))
    started_at = datetime.now(timezone.utc)
    extracted = extract_transcripts(src, num_partitions=num_partitions)
    out = with_conv_bucket(extracted, n_buckets)

    # per-bucket rows/bytes/failures ride the WRITE pass via observe():
    # one conditional-aggregate triple per bucket still to do — all
    # map-side, no extra job, no output re-scan
    bytes_col = (
        F.coalesce(F.octet_length("extracted_text"), F.lit(0))
        + F.coalesce(F.octet_length("md"), F.lit(0))
    ).cast("long")
    fail_col = F.col("error").isNotNull().cast("long")
    obs = Observation(f"lineage_{run_id}_{uuid.uuid4().hex[:8]}")
    aggs = []
    for b in todo:
        in_b = (F.col("conv_bucket") == b).cast("long")
        aggs.append(F.sum(in_b).alias(f"rows_{b}"))
        aggs.append(F.sum(in_b * bytes_col).alias(f"bytes_{b}"))
        aggs.append(F.sum(in_b * fail_col).alias(f"fails_{b}"))
    out = out.observe(obs, *aggs)
    # WRITE-audit-PUBLISH, for real: stage the data snapshot (invisible),
    # audit the staged files, stage the lineage rows, publish BOTH in one
    # atomic catalog commit — a kill anywhere leaves both or neither.
    data_snap = catalog.stage_append(out, output_table, partition_by=["conv_bucket"])
    vals = obs.get  # blocks until the staging write finishes
    finished_at = datetime.now(timezone.utc)
    rows = [
        {"run_id": run_id, "partition_id": b, "conv_bucket": b,
         "rows": vals[f"rows_{b}"], "bytes": vals[f"bytes_{b}"],
         "failures": vals[f"fails_{b}"], "status": "committed",
         "started_at": started_at, "finished_at": finished_at}
        for b in todo
        if vals[f"rows_{b}"]
    ]
    if not rows:
        catalog.discard_staged(data_snap)
        return summary
    bad = _footer_mismatches(catalog, output_table, data_snap, rows)
    if bad:
        catalog.discard_staged(data_snap)
        raise RuntimeError(
            "write audit failed: staged footer rows != observed rows "
            f"(bucket: (staged, observed)) {bad}; nothing published"
        )
    lineage_snap = catalog.stage_append(
        pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW), lineage_table
    )
    catalog.commit({output_table: data_snap, lineage_table: lineage_snap})
    summary["processed_buckets"] = len(rows)
    summary["total_rows"] += sum(r["rows"] for r in rows)
    summary["total_failures"] += sum(r["failures"] for r in rows)
    return summary
