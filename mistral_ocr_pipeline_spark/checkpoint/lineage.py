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
staged data is audited, and both publish in ONE atomic catalog commit
(``TableCatalog.commit`` — a single ``_HEAD`` pointer swap).  A kill at
any instant leaves either both visible or neither; the orphan-drop below
remains as defense-in-depth for catalogs whose data/lineage got out of
sync through external surgery (e.g. a partial restore), publishing a new
data snapshot that omits the orphan bucket dirs (metadata-only,
hardlinks) before reprocessing.

A run's only Spark job is one extract-and-write stage: its ``mapInArrow``
tasks extract each Arrow batch and write its rows to ``conv_bucket=N/``
Parquet files with pyarrow — no conversion to Spark rows, no write sort,
no parquet-mr — under the staged snapshot's hidden ``_pending/`` dir, and
return one metadata row per file (bucket, path, rows, bytes, failures,
task clocks).  The driver moves the reported files into the snapshot's
bucket dirs, so what a failed or speculative attempt wrote stays hidden,
and audits the staged snapshot against those rows: the same files under
this run's bucket dirs, each with the reported row count in its footer.
Lineage rows are built from the metadata rows and written with pyarrow,
and totals are prior lineage plus reported values, so, as in an Iceberg
commit, nothing is read back.  Lineage reads file lists from the
catalog (``TableCatalog.files``), never directories."""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterable, Iterator
from datetime import datetime, timezone
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from mistral_ocr_pipeline_spark.plans.extract_pipeline import _extract_one, stage_input
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

# one row per Parquet file run_extraction's stage writes; ``path`` is
# relative to the snapshot (``conv_bucket=N/part-….parquet``)
_FILE_SCHEMA = T.StructType(
    [
        T.StructField("conv_bucket", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("failures", T.LongType(), False),
        T.StructField("started", T.DoubleType(), False),
        T.StructField("finished", T.DoubleType(), False),
    ]
)
_FILE_ARROW = to_arrow_schema(_FILE_SCHEMA)
# Parquet codecs pyarrow writes, by the names Spark's codec conf uses
_PYARROW_CODECS = frozenset({"none", "snappy", "gzip", "brotli", "lz4", "zstd"})
# parquet-mr's default zstd level, which Spark's write used (pyarrow's is
# 1); with no Arrow schema in each footer (``store_schema=False``, Spark
# reads the Parquet schema) the files are no larger than Spark's were
_ZSTD_LEVEL = 3

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


def _pyarrow_codec(spark: SparkSession) -> str:
    """pyarrow's name for the session's ``spark.sql.parquet.compression.codec``,
    checked on the driver: a codec pyarrow cannot write (``lzo``,
    ``lz4_raw``) fails here, before any task starts."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec")
    name = {"uncompressed": "none"}.get(codec, codec)
    if name not in _PYARROW_CODECS:
        raise ValueError(
            f"spark.sql.parquet.compression.codec={codec!r}: run_extraction writes "
            f"with pyarrow, which supports {sorted(_PYARROW_CODECS)} (or 'uncompressed')"
        )
    return name


def _write_buckets(
    pending: str, codec: str, budget: int, batches: Iterable[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` function of ``run_extraction``'s one stage: extract
    each batch with ``_extract_one`` and write its rows to one Parquet file
    per ``conv_bucket`` this task sees,
    ``conv_bucket=N/part-<partition>-<attempt>-<uuid>.parquet`` under
    ``pending`` (the bucket lives only in the directory name).

    Each bucket's slices are held until the task holds more than
    ``budget`` bytes of output (one input batch's byte bound); then the
    largest bucket's slices are written as one row group, and at the end
    each bucket's rest.  A task whose output fits the budget thus writes
    one row group per file and has one file open at a time, as Spark's
    sorted write does; only the buckets written early keep a writer open.
    Yields one metadata row per file: bucket, relpath, rows, UTF-8 bytes
    of ``extracted_text`` + ``md``, failures, and the task's start and
    finish clocks (epoch seconds)."""
    started = time.time()
    ctx = TaskContext.get()
    prefix = f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}"
    meta: dict[int, dict] = {}
    held: dict[int, list[pa.RecordBatch]] = {}
    held_bytes: dict[int, int] = {}
    writers: dict[int, pq.ParquetWriter] = {}

    def flush(b: int) -> None:
        part = pa.Table.from_batches(held.pop(b))
        del held_bytes[b]
        if b not in writers:
            meta[b]["path"] = f"conv_bucket={b}/{prefix}-{uuid.uuid4()}.parquet"
            os.makedirs(os.path.join(pending, f"conv_bucket={b}"), exist_ok=True)
            writers[b] = pq.ParquetWriter(
                os.path.join(pending, meta[b]["path"]), part.schema, compression=codec,
                compression_level=_ZSTD_LEVEL if codec == "zstd" else None,
                store_schema=False,
            )
        writers[b].write_table(part)

    try:
        total = 0
        for batch in batches:
            out = _extract_one(batch)
            buckets = batch["conv_bucket"].to_numpy()
            for b in np.unique(buckets).tolist():
                part = out.filter(pa.array(buckets == b))
                m = meta.setdefault(b, {"conv_bucket": b, "rows": 0, "bytes": 0,
                                        "failures": 0, "started": started})
                m["rows"] += part.num_rows
                m["failures"] += part.num_rows - part["error"].null_count
                for c in ("extracted_text", "md"):
                    m["bytes"] += pc.sum(pc.binary_length(part[c])).as_py() or 0
                held.setdefault(b, []).append(part)
                held_bytes[b] = held_bytes.get(b, 0) + part.nbytes
                total += part.nbytes
            while total > budget:
                b = max(held_bytes, key=held_bytes.__getitem__)
                total -= held_bytes[b]
                flush(b)
        for b in list(held):
            flush(b)
            writers.pop(b).close()
    finally:
        for w in writers.values():
            w.close()
    finished = time.time()
    if meta:
        yield pa.RecordBatch.from_pylist(
            [{**m, "finished": finished} for m in meta.values()], schema=_FILE_ARROW
        )


def _publish(snap_dir: str, pending: str, files: list) -> dict[str, int]:
    """Move the files the tasks reported from ``pending`` into their
    ``conv_bucket=N/`` dirs of the snapshot, then drop ``pending``; returns
    path → reported rows.  Only the attempts Spark kept report, so a file
    of a failed, killed or speculative attempt is never moved; under the
    hidden ``_pending`` dir no reader or listing sees it."""
    made: set[str] = set()
    reported = {}
    for f in files:
        d = os.path.dirname(f.path)
        if d not in made:
            os.makedirs(os.path.join(snap_dir, d), exist_ok=True)
            made.add(d)
        dst = os.path.join(snap_dir, f.path)
        os.rename(os.path.join(pending, f.path), dst)
        reported[dst] = f.rows
    shutil.rmtree(pending, ignore_errors=True)
    return reported


def _footer_rows(path: str) -> int | str:
    try:
        return pq.read_metadata(path).num_rows
    except (OSError, pa.ArrowException):
        return "unreadable footer"


def _audit(
    catalog: TableCatalog, table: str, snap: str, todo: set[int], reported: dict[str, int]
) -> dict[str, tuple]:
    """path → (footer rows, reported rows) for each data file, staged under
    this run's bucket dirs or reported by its tasks, whose two counts
    differ (None where it is absent): a missing, short or footerless file,
    or one no task reported.  Equal files imply equal per-bucket sums.
    Only footers are read, never data pages.  The buckets were uncommitted
    and orphan-free, so every file in their dirs is this run's."""
    staged = {
        f: _footer_rows(f) for f in catalog.files(table, snap) if _bucket_of(f) in todo
    }
    return {
        f: (staged.get(f), reported.get(f))
        for f in sorted(staged.keys() | reported.keys())
        if staged.get(f) != reported.get(f)
    }


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

    The run's one Spark job extracts and writes: its ``mapInArrow`` tasks
    (``_write_buckets``) write Parquet files with pyarrow under the staged
    snapshot's hidden ``_pending`` dir and report rows/bytes/failures and
    their clocks per file.  The driver moves the reported files into their
    bucket dirs (``_publish``), so a failed or speculative task attempt's
    file is never published, and audits the staged snapshot against the
    reports (``_audit``: file list and footers only) before anything
    publishes; the output is never read back — at 100 TB a read-back would
    be a second complete scan of the output per run (r01 design flaw).  A
    bucket's ``started_at`` and ``finished_at`` are the first start and
    last finish of the tasks that wrote it.  The codec is the session's
    ``spark.sql.parquet.compression.codec``, checked before the job (a
    codec pyarrow cannot write raises ``ValueError``); Spark's other
    Parquet write settings do not reach these files."""
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
    stage = stage_input(src, num_partitions, extra=("conv_bucket",))
    codec = _pyarrow_codec(spark)
    # a task holds at most one input batch's byte bound of unwritten output
    budget = spark._jsparkSession.sessionState().conf().arrowMaxBytesPerBatch()
    files: list = []
    reported: dict[str, int] = {}

    def write(snap_dir: str) -> None:
        pending = os.path.join(snap_dir, "_pending")
        task = partial(_write_buckets, pending, codec, budget)
        files.extend(stage.mapInArrow(task, _FILE_SCHEMA).collect())
        reported.update(_publish(snap_dir, pending, files))

    # WRITE-audit-PUBLISH, for real: stage the data snapshot (invisible),
    # audit the staged files, stage the lineage rows, publish BOTH in one
    # atomic catalog commit — a kill anywhere leaves both or neither.
    data_snap = catalog.stage_append(write, output_table)
    if not files:
        catalog.discard_staged(data_snap)
        return summary
    bad = _audit(catalog, output_table, data_snap, set(todo), reported)
    if bad:
        catalog.discard_staged(data_snap)
        raise RuntimeError(
            "write audit failed: staged files != reported files "
            f"(path: (footer rows, reported rows)) {bad}; nothing published"
        )
    by_bucket: dict[int, list] = {}
    for f in files:
        by_bucket.setdefault(f.conv_bucket, []).append(f)
    rows = [
        {"run_id": run_id, "partition_id": b, "conv_bucket": b,
         "rows": sum(f.rows for f in fs), "bytes": sum(f.bytes for f in fs),
         "failures": sum(f.failures for f in fs), "status": "committed",
         "started_at": datetime.fromtimestamp(min(f.started for f in fs), timezone.utc),
         "finished_at": datetime.fromtimestamp(max(f.finished for f in fs), timezone.utc)}
        for b, fs in sorted(by_bucket.items())
    ]
    lineage_snap = catalog.stage_append(
        pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW), lineage_table
    )
    catalog.commit({output_table: data_snap, lineage_table: lineage_snap})
    summary["processed_buckets"] = len(rows)
    summary["total_rows"] += sum(r["rows"] for r in rows)
    summary["total_failures"] += sum(r["failures"] for r in rows)
    return summary
