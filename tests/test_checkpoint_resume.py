"""Kill/resume protocol test (SURVEY.md §5.2.4): kill after k bucket-batches
commit → rerun → identical final table, zero recomputation of committed
buckets, lineage metrics recorded per partition."""

import os
import time
from datetime import timedelta
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mistral_ocr_pipeline_spark.checkpoint.lineage import (
    committed_buckets,
    run_extraction,
    with_conv_bucket,
)
from mistral_ocr_pipeline_spark.fixtures.gen import gen_transcripts, transcripts_schema
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

N_BUCKETS = 8


@pytest.fixture()
def input_df(spark):
    rows = gen_transcripts(24, (2, 10), seed=5, profile="unit")
    return spark.createDataFrame(rows, schema=transcripts_schema())


def _sorted_rows(df):
    return [
        tuple(r)
        for r in df.select(
            "conv_id", "turn_idx", "payload_kind", "extracted_text", "md", "error"
        )
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def test_kill_resume_equals_single_shot(spark, tmp_path, input_df):
    # single-shot reference run
    cat_a = TableCatalog(spark, str(tmp_path / "wh_a"))
    run_extraction(spark, cat_a, input_df, run_id="oneshot", n_buckets=N_BUCKETS)
    expected = _sorted_rows(cat_a.read("extracted"))

    # killed run: only half the buckets commit
    cat_b = TableCatalog(spark, str(tmp_path / "wh_b"))
    first_half = set(range(N_BUCKETS // 2))
    s1 = run_extraction(
        spark, cat_b, input_df, run_id="run-1", n_buckets=N_BUCKETS,
        only_buckets=first_half,
    )
    assert s1["processed_buckets"] <= len(first_half)
    committed_mid = committed_buckets(cat_b, "run_partitions")
    assert committed_mid and committed_mid.issubset(first_half)

    # resume: must process only the remaining buckets
    s2 = run_extraction(spark, cat_b, input_df, run_id="run-2", n_buckets=N_BUCKETS)
    assert s2["skipped_buckets"] == len(committed_mid)

    got = _sorted_rows(cat_b.read("extracted"))
    assert got == expected

    # zero recomputation: no bucket appears under two run_ids
    lineage = cat_b.read("run_partitions").collect()
    seen = {}
    for r in lineage:
        assert r.status == "committed"
        assert r.conv_bucket not in seen, "bucket committed twice"
        seen[r.conv_bucket] = r.run_id
        assert r.rows > 0 and r.bytes >= 0 and r.failures >= 0
    # lineage row count covers every non-empty bucket exactly once
    n_nonempty = (
        with_conv_bucket(input_df, N_BUCKETS).select("conv_bucket").distinct().count()
    )
    assert len(seen) == n_nonempty

    # lineage rows total == table rows (metrics faithful)
    total = sum(r.rows for r in lineage)
    assert total == cat_b.read("extracted").count()
    failures = sum(r.failures for r in lineage)
    assert failures == cat_b.read("extracted").filter(F.col("error").isNotNull()).count()


def test_orphan_bucket_dropped_before_resume(spark, tmp_path, input_df):
    """Data published but lineage missing (kill between publish and lineage
    commit) → resume must drop the orphan and reprocess it exactly once."""
    cat = TableCatalog(spark, str(tmp_path / "wh_c"))
    run_extraction(
        spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS, only_buckets={0, 1}
    )
    # simulate mid-commit kill: wipe lineage for bucket 1 only
    lineage = cat.read("run_partitions").filter(F.col("conv_bucket") != 1)
    cat.overwrite(lineage.coalesce(1), "run_partitions")

    s = run_extraction(spark, cat, input_df, run_id="r2", n_buckets=N_BUCKETS)
    assert 1 in s["orphans_dropped"]

    # final table identical to a clean one-shot run
    cat_ref = TableCatalog(spark, str(tmp_path / "wh_ref"))
    run_extraction(spark, cat_ref, input_df, run_id="ref", n_buckets=N_BUCKETS)
    assert _sorted_rows(cat.read("extracted")) == _sorted_rows(cat_ref.read("extracted"))


def test_metrics_do_not_rescan_output(spark, tmp_path, input_df):
    """Lineage rows/bytes/failures come from the tasks that write the
    staged files, as they write them — the output table must never be
    READ (r01 re-scanned the whole output per run; at 100 TB that is a
    second full pass).  The write audit reads only the staged Parquet
    footers, with pyarrow.  Metrics must still be faithful."""
    cat = TableCatalog(spark, str(tmp_path / "wh_e"))
    reads = []
    orig_read = cat.read

    def spy_read(table):
        reads.append(table)
        return orig_read(table)

    cat.read = spy_read
    run_extraction(spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS)
    assert "extracted" not in reads, reads
    cat.read = orig_read
    lineage = cat.read("run_partitions").collect()
    assert sum(r.rows for r in lineage) == cat.read("extracted").count()
    assert sum(r.failures for r in lineage) == (
        cat.read("extracted").filter(F.col("error").isNotNull()).count()
    )
    bytes_expected = (
        cat.read("extracted")
        .agg(
            F.sum(
                F.coalesce(F.octet_length("extracted_text"), F.lit(0))
                + F.coalesce(F.octet_length("md"), F.lit(0))
            ).cast("long")
        )
        .first()[0]
    )
    assert sum(r.bytes for r in lineage) == bytes_expected


def test_idempotent_rerun_noop(spark, tmp_path, input_df):
    cat = TableCatalog(spark, str(tmp_path / "wh_d"))
    run_extraction(spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS)
    before = _sorted_rows(cat.read("extracted"))
    s = run_extraction(spark, cat, input_df, run_id="r2", n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == 0
    assert _sorted_rows(cat.read("extracted")) == before


def _jobs_launched(spark, tag, fn):
    """Run ``fn`` under Spark job group ``tag``; return its result and the
    number of Spark jobs it launched.  Listener events reach the status
    tracker asynchronously but in order, so once a later marker job is
    visible, every job ``fn`` launched is too."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
        sc.setJobGroup(f"{tag}-marker", "marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{tag}-marker"):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(tag))


def test_run_extraction_job_budget(spark, tmp_path, input_df):
    """The staged output write is a run's only Spark job (two when
    extract_transcripts takes its salted shuffle): lineage is read and
    written on the driver, the audit reads footers, totals are computed.
    A rerun with nothing left to do launches no job at all."""
    n_nonempty = (
        with_conv_bucket(input_df, N_BUCKETS).select("conv_bucket").distinct().count()
    )
    assert n_nonempty == N_BUCKETS  # else the noop rerun would still scan
    cat = TableCatalog(spark, str(tmp_path / "wh_jobs"))
    first_half = set(range(N_BUCKETS // 2))
    runs = {}
    for tag, kw in (
        ("killed", {"only_buckets": first_half}),
        ("resume", {}),
        ("noop", {}),
    ):
        runs[tag] = _jobs_launched(
            spark,
            f"job-budget-{tag}-{tmp_path.name}",
            lambda: run_extraction(
                spark, cat, input_df, run_id=tag, n_buckets=N_BUCKETS, **kw
            ),
        )
    (killed, n_killed), (resumed, n_resumed), (noop, n_noop) = runs.values()
    assert killed["processed_buckets"] == len(first_half) and n_killed in (1, 2)
    assert resumed["processed_buckets"] == N_BUCKETS - len(first_half)
    assert n_resumed in (1, 2)
    assert noop["processed_buckets"] == 0 and n_noop == 0
    # the computed totals agree with what was published
    assert noop["total_rows"] == resumed["total_rows"] == cat.read("extracted").count()
    assert noop["total_failures"] == resumed["total_failures"]


class _ShortWriteCatalog(TableCatalog):
    """Loses one staged output file of a bucket this run is writing, after
    the write and before the audit: a short write the old sampled
    read-back (``limit(n).count() > 0``) could not see."""

    def __init__(self, spark, warehouse, new_buckets):
        super().__init__(spark, warehouse)
        self.new_buckets = new_buckets
        self.snapshots_staged = []

    def stage_append(self, df, table, partition_by=None):
        rel = super().stage_append(df, table, partition_by)
        self.snapshots_staged.append(rel)
        if table == "extracted":
            b = min(self.new_buckets)
            bucket_dir = os.path.join(self.warehouse, rel, f"conv_bucket={b}")
            victim = sorted(f for f in os.listdir(bucket_dir) if f.endswith(".parquet"))[0]
            os.remove(os.path.join(bucket_dir, victim))
        return rel


def test_footer_audit_rejects_short_write(spark, tmp_path, input_df):
    wh = str(tmp_path / "wh_short")
    cat = TableCatalog(spark, wh)
    first_half = set(range(N_BUCKETS // 2))
    run_extraction(
        spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS, only_buckets=first_half
    )
    head = open(os.path.join(wh, "_HEAD")).read()
    tables = cat.current_tables()

    short = _ShortWriteCatalog(spark, wh, set(range(N_BUCKETS)) - first_half)
    with pytest.raises(RuntimeError, match="write audit failed"):
        run_extraction(spark, short, input_df, run_id="r2", n_buckets=N_BUCKETS)

    assert open(os.path.join(wh, "_HEAD")).read() == head
    assert cat.current_tables() == tables
    assert committed_buckets(cat, "run_partitions") == first_half
    # the data snapshot was staged, then discarded; lineage was never staged
    assert len(short.snapshots_staged) == 1
    assert not os.path.exists(os.path.join(wh, short.snapshots_staged[0]))


def test_pyarrow_lineage_appends_to_spark_written_lineage(spark, tmp_path, input_df):
    """Existing warehouses hold Spark-written lineage (INT96 timestamps);
    run_extraction now appends pyarrow-written rows (INT64 timestamps,
    UTC-adjusted).  The mixed table must still read as LINEAGE_SCHEMA and
    resume must see both runs' buckets."""
    from mistral_ocr_pipeline_spark.checkpoint.lineage import LINEAGE_SCHEMA

    cat = TableCatalog(spark, str(tmp_path / "wh_mixed"))
    first_half = set(range(N_BUCKETS // 2))
    run_extraction(
        spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS, only_buckets=first_half
    )
    # rewrite the lineage through Spark, as every pre-existing warehouse has it
    cat.overwrite(cat.read("run_partitions").coalesce(1), "run_partitions")
    (spark_file,) = [
        f for f in os.listdir(cat.data_path("run_partitions")) if f.endswith(".parquet")
    ]
    spark_schema = pq.ParquetFile(
        os.path.join(cat.data_path("run_partitions"), spark_file)
    ).schema
    assert spark_schema.column(spark_schema.names.index("started_at")).physical_type == "INT96"

    s = run_extraction(spark, cat, input_df, run_id="r2", n_buckets=N_BUCKETS)
    assert s["skipped_buckets"] == len(first_half)
    assert s["processed_buckets"] == N_BUCKETS - len(first_half)

    lineage = cat.read("run_partitions")
    assert [f.dataType for f in lineage.schema] == [f.dataType for f in LINEAGE_SCHEMA]
    assert lineage.columns == LINEAGE_SCHEMA.names
    assert committed_buckets(cat, "run_partitions") == set(range(N_BUCKETS))
    rows = lineage.collect()
    assert {r.run_id for r in rows} == {"r1", "r2"}
    # both encodings decode to the same clock: no unit or timezone skew
    times = [t for r in rows for t in (r.started_at, r.finished_at)]
    assert None not in times and max(times) - min(times) < timedelta(minutes=10)
    assert sum(r.rows for r in rows) == s["total_rows"] == cat.read("extracted").count()


class _ExtraFileCatalog(TableCatalog):
    """Plants a ``part-*.parquet`` in a bucket dir this run wrote, after the
    write and before the audit: a zero-row file (its footer adds no rows,
    so a per-bucket row count cannot see it) or one with no footer at all
    (what a writer killed mid-file leaves)."""

    def __init__(self, spark, warehouse, footer):
        super().__init__(spark, warehouse)
        self.footer = footer

    def stage_append(self, df, table, partition_by=None):
        rel = super().stage_append(df, table, partition_by)
        if table == "extracted":
            self.planted = max(self.files(table, rel))
            stray = os.path.join(os.path.dirname(self.planted), "part-00000-1-stray.parquet")
            if self.footer:
                pq.write_table(pq.read_schema(self.planted).empty_table(), stray)
            else:
                with open(stray, "wb") as f:
                    f.write(b"PAR1 cut off before its footer")
        return rel


@pytest.mark.parametrize("footer", [True, False], ids=["zero_rows", "no_footer"])
def test_write_audit_rejects_unreported_file(spark, tmp_path, input_df, footer):
    wh = str(tmp_path / "wh_stray")
    cat = TableCatalog(spark, wh)
    first_half = set(range(N_BUCKETS // 2))
    run_extraction(
        spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS, only_buckets=first_half
    )
    head = open(os.path.join(wh, "_HEAD")).read()
    tables = cat.current_tables()

    stray = _ExtraFileCatalog(spark, wh, footer)
    with pytest.raises(RuntimeError, match="write audit failed.*part-00000-1-stray"):
        run_extraction(spark, stray, input_df, run_id="r2", n_buckets=N_BUCKETS)
    # the stray file sat in a bucket of this run, not a committed one
    assert int(stray.planted.split("conv_bucket=")[1].split("/")[0]) not in first_half
    assert open(os.path.join(wh, "_HEAD")).read() == head
    assert cat.current_tables() == tables
    assert committed_buckets(cat, "run_partitions") == first_half
    assert not [d for d in os.listdir(os.path.join(wh, "extracted"))
                if os.path.join("extracted", d) not in tables.values()]


class _ZombieAttemptCatalog(TableCatalog):
    """Plants what task attempts Spark did not keep leave under the staged
    snapshot's ``_pending`` dir: a footerless file of an attempt that died
    before the write finished, and one a killed speculative attempt opens
    after the driver moved the reported files."""

    def stage_overwrite(self, df, table, partition_by=None):
        if table != "extracted":
            return super().stage_overwrite(df, table, partition_by)

        def write(snap_dir):
            self.zombies = [self._plant(snap_dir, "dead")]
            df(snap_dir)
            self.zombies.append(self._plant(snap_dir, "late"))

        return super().stage_overwrite(write, table, partition_by)

    @staticmethod
    def _plant(snap_dir, tag):
        d = os.path.join(snap_dir, "_pending", "conv_bucket=0")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"part-00000-9-{tag}.parquet")
        with open(path, "wb") as f:
            f.write(b"PAR1 cut off before its footer")
        return path


def test_unreported_attempt_files_stay_hidden(spark, tmp_path, input_df):
    """Only the files of the task attempts Spark kept are published: files
    other attempts leave in ``_pending`` neither fail the run nor reach a
    reader."""
    ref = TableCatalog(spark, str(tmp_path / "wh_zref"))
    run_extraction(spark, ref, input_df, run_id="ref", n_buckets=N_BUCKETS)
    cat = _ZombieAttemptCatalog(spark, str(tmp_path / "wh_zombie"))
    s = run_extraction(spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == N_BUCKETS
    assert os.path.exists(cat.zombies[1])  # written after the move, on disk
    assert not any("part-00000-9-" in f for f in cat.files("extracted"))
    assert _sorted_rows(cat.read("extracted")) == _sorted_rows(ref.read("extracted"))


def _all_rows(df):
    return [tuple(r) for r in df.select(*sorted(df.columns)).orderBy("conv_id", "turn_idx").collect()]


def test_resume_onto_spark_written_output(spark, tmp_path, input_df):
    """Existing warehouses hold Spark-written output (INT96 ``ts``);
    run_extraction now appends pyarrow-written files (INT64 ``ts``,
    UTC-adjusted).  The mixed table must read with one schema, equal a
    clean one-shot run in every column, and keep the input's ``ts``."""
    ref = TableCatalog(spark, str(tmp_path / "wh_ref"))
    run_extraction(spark, ref, input_df, run_id="ref", n_buckets=N_BUCKETS)

    cat = TableCatalog(spark, str(tmp_path / "wh_mixed_out"))
    first_half = set(range(N_BUCKETS // 2))
    run_extraction(
        spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS, only_buckets=first_half
    )
    # rewrite the output through Spark, as every pre-existing warehouse has it
    cat.overwrite(cat.read("extracted"), "extracted", partition_by=["conv_bucket"])
    old_files = cat.files("extracted")
    ts_type = pq.ParquetFile(old_files[0]).schema.column(3)
    assert ts_type.name == "ts" and ts_type.physical_type == "INT96"

    s = run_extraction(spark, cat, input_df, run_id="r2", n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == N_BUCKETS - len(first_half)
    resumed = [
        f for f in cat.files("extracted")
        if int(f.split("conv_bucket=")[1].split("/")[0]) not in first_half
    ]
    assert resumed
    for f in resumed:
        assert pq.ParquetFile(f).schema.column(3).physical_type == "INT64"

    got, want = cat.read("extracted"), ref.read("extracted")
    assert got.schema == want.schema
    assert _all_rows(got) == _all_rows(want)
    ts_in = {(r.conv_id, r.turn_idx): r.ts for r in input_df.collect()}
    ts_out = {(r.conv_id, r.turn_idx): r.ts for r in got.collect()}
    assert ts_out == ts_in and any(t is not None for t in ts_in.values())


def test_staged_files_use_session_codec(spark, tmp_path, input_df):
    """pyarrow writes the staged files with the codec the session names in
    ``spark.sql.parquet.compression.codec`` (not pyarrow's snappy)."""
    key = "spark.sql.parquet.compression.codec"
    session_codec = spark.conf.get(key)
    try:
        for i, codec in enumerate((session_codec, "gzip")):
            spark.conf.set(key, codec)
            cat = TableCatalog(spark, str(tmp_path / f"wh_codec{i}"))
            run_extraction(spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS)
            used = {
                pq.read_metadata(f).row_group(0).column(c).compression.lower()
                for f in cat.files("extracted")
                for c in range(pq.read_metadata(f).num_columns)
            }
            assert used == {codec}
        # a codec pyarrow cannot write fails on the driver, before any job
        spark.conf.set(key, "lzo")
        cat = TableCatalog(spark, str(tmp_path / "wh_lzo"))
        with pytest.raises(ValueError, match="lzo"):
            run_extraction(spark, cat, input_df, run_id="r1", n_buckets=N_BUCKETS)
        assert cat.current_tables() == {} and not os.path.exists(cat.path("extracted"))
    finally:
        spark.conf.set(key, session_codec)
    assert session_codec != "snappy"


def test_lineage_times_are_per_bucket(spark, tmp_path, input_df):
    """Each bucket's ``started_at``/``finished_at`` are the first start and
    last finish of the tasks that wrote it, inside the run's wall clock.
    With the input hash-partitioned on the bucket, each task writes its own
    buckets: buckets share an interval exactly when one task wrote them."""
    from datetime import datetime, timezone

    parted = with_conv_bucket(input_df, N_BUCKETS).repartition(4, "conv_bucket")
    task_of = dict(
        parted.rdd.mapPartitionsWithIndex(
            lambda i, rows: {(r.conv_bucket, i) for r in rows}
        ).collect()
    )
    assert len(task_of) == N_BUCKETS and len(set(task_of.values())) > 1

    cat = TableCatalog(spark, str(tmp_path / "wh_times"))
    t0 = datetime.now(timezone.utc)
    run_extraction(spark, cat, parted, run_id="r1", n_buckets=N_BUCKETS)
    t1 = datetime.now(timezone.utc)
    lineage = pq.read_table(cat.files("run_partitions")).to_pylist()
    assert len(lineage) == N_BUCKETS
    for r in lineage:
        assert t0 <= r["started_at"] <= r["finished_at"] <= t1, r
    interval = {r["conv_bucket"]: (r["started_at"], r["finished_at"]) for r in lineage}
    for a in interval:
        for b in interval:
            assert (interval[a] == interval[b]) == (task_of[a] == task_of[b]), (a, b)


def test_single_commit_kill_shows_both_or_neither(spark, tmp_path, input_df):
    """SURVEY §7.4.6 single-commit semantics: a kill between staging the
    data and publishing must leave NEITHER data nor lineage visible (the
    staged snapshot is unreferenced); after the atomic commit, BOTH are.
    Simulated by driving the same stage/commit calls run_extraction makes
    and stopping at each kill point."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh_atomic"))
    df = input_df.limit(10)

    # kill point 1: data staged, lineage not staged, no commit
    data_snap = cat.stage_append(df, "extracted")
    assert not cat.exists("extracted") and not cat.exists("run_partitions")

    # kill point 2: both staged, commit not reached
    lin = spark.createDataFrame([("r1", 0, 0)], "run_id string, partition_id int, conv_bucket int")
    lin_snap = cat.stage_append(lin, "run_partitions")
    assert not cat.exists("extracted") and not cat.exists("run_partitions")

    # the commit: one pointer swap publishes both
    cat.commit({"extracted": data_snap, "run_partitions": lin_snap})
    assert cat.exists("extracted") and cat.exists("run_partitions")
    assert cat.read("extracted").count() == 10
    assert cat.read("run_partitions").count() == 1

    # vacuum's grace window protects a snapshot staged by an in-flight
    # writer (between stage_append and commit) from a concurrent
    # maintenance run — fresh unreferenced dirs survive the default grace
    abandoned = cat.stage_append(df, "extracted")
    assert cat.vacuum("extracted") == []
    # ...and with the grace waived (no writer in flight), vacuum removes a
    # staged-then-abandoned snapshot, never a committed one
    removed = cat.vacuum("extracted", grace_secs=0)
    assert abandoned in removed
    assert cat.read("extracted").count() == 10


def test_snapshot_isolation_and_time_travel(spark, tmp_path, input_df):
    """Appends create immutable snapshots; a superseded snapshot stays
    readable (time travel) until expire_snapshots."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh_tt"))
    cat.append(input_df.limit(5), "t")
    first = cat.current_tables()["t"]
    cat.append(input_df.limit(3), "t")
    assert cat.read("t").count() == 8
    # time travel to the pre-append snapshot
    assert cat.read("t", snapshot=first.split("/", 1)[1]).count() == 5
    assert cat.snapshots("t")[-1] == first
    expired = cat.expire_snapshots("t", keep_last=1)
    assert first in expired
    # current snapshot unaffected (hardlinked files survive expiry)
    assert cat.read("t").count() == 8


def test_overwrite_never_exposes_missing_table(spark, tmp_path, input_df):
    """ADVICE r2 (medium): the old overwrite() did rmtree(table) then
    rename(staging) — readers in that window saw a missing table.  With
    the pointer swap the old snapshot serves reads up to the commit
    instant: the previous data dir must still exist WHILE the new staged
    snapshot is fully written, and a crash before commit() leaves the old
    state current."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh_ow"))
    cat.overwrite(input_df.limit(7), "t")
    old_dir = cat.data_path("t")
    staged = cat.stage_overwrite(input_df.limit(2), "t")  # crash before commit
    assert os.path.isdir(old_dir) and cat.read("t").count() == 7
    cat.commit({"t": staged})
    assert cat.read("t").count() == 2


def test_concurrent_commit_conflict_detected_and_retryable(spark, tmp_path):
    """Snapshot-level optimistic concurrency: two writers (separate
    catalog objects, same warehouse) both stage appends on the same
    table; the second commit must raise CommitConflictError — its staged
    hardlinks carried the pre-first-commit snapshot, so publishing it
    would silently drop the first writer's rows — and a re-stage from the
    new current must succeed with BOTH writers' rows visible."""
    import pytest as _pytest

    from mistral_ocr_pipeline_spark.sources.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    wh = str(tmp_path / "wh_conc")
    a = TableCatalog(spark, wh)
    b = TableCatalog(spark, wh)
    base = spark.range(5).withColumnRenamed("id", "v")
    a.overwrite(base, "t")

    snap_a = a.stage_append(spark.range(100, 103).withColumnRenamed("id", "v"), "t")
    snap_b = b.stage_append(spark.range(200, 204).withColumnRenamed("id", "v"), "t")
    b.commit({"t": snap_b})  # B wins the race
    with _pytest.raises(CommitConflictError):
        a.commit({"t": snap_a})
    # A retries: re-stage from the NEW current and commit
    a.discard_staged(snap_a)
    a.commit({"t": a.stage_append(
        spark.range(100, 103).withColumnRenamed("id", "v"), "t"
    )})
    got = sorted(r.v for r in a.read("t").collect())
    assert got == sorted([*range(5), *range(100, 103), *range(200, 204)])


def test_concurrent_commits_different_tables_interleave(spark, tmp_path):
    """Writers on DIFFERENT tables never conflict: stage order A,B —
    commit order B,A — both tables end up current and complete."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    wh = str(tmp_path / "wh_conc2")
    a = TableCatalog(spark, wh)
    b = TableCatalog(spark, wh)
    snap_a = a.stage_overwrite(spark.range(3).withColumnRenamed("id", "v"), "ta")
    snap_b = b.stage_overwrite(spark.range(7).withColumnRenamed("id", "v"), "tb")
    b.commit({"tb": snap_b})
    a.commit({"ta": snap_a})
    assert a.read("ta").count() == 3 and a.read("tb").count() == 7


def test_commit_lock_released_on_conflict(spark, tmp_path):
    """The commit lockfile must not leak when validation raises."""
    import os

    import pytest as _pytest

    from mistral_ocr_pipeline_spark.sources.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    wh = str(tmp_path / "wh_lock")
    a = TableCatalog(spark, wh)
    b = TableCatalog(spark, wh)
    a.overwrite(spark.range(2).withColumnRenamed("id", "v"), "t")
    snap_a = a.stage_append(spark.range(10, 12).withColumnRenamed("id", "v"), "t")
    b.append(spark.range(20, 22).withColumnRenamed("id", "v"), "t")
    with _pytest.raises(CommitConflictError):
        a.commit({"t": snap_a})
    # lock file is persistent (flock-based) but must be UNLOCKED after the
    # failed commit — a fresh non-blocking flock succeeds immediately
    import fcntl

    lock_fd = os.open(os.path.join(wh, "_HEAD.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(lock_fd, fcntl.LOCK_UN)
    finally:
        os.close(lock_fd)
    # subsequent commits proceed normally
    b.append(spark.range(30, 31).withColumnRenamed("id", "v"), "t")
    assert a.read("t").count() == 2 + 2 + 1


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style ADD COLUMN: an append introducing a new column leaves
    old files untouched (hardlinked forward); merge_schema reads surface
    the union schema with nulls for pre-evolution rows, and compact()
    rewrites everything to the current schema so the flag becomes
    unnecessary."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh_se"))
    cat.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "t"
    )
    cat.append(
        spark.createDataFrame(
            [(3, "c", 1.5)], "id long, v string, score double"
        ),
        "t",
    )
    evolved = cat.read("t", merge_schema=True)
    assert set(evolved.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in evolved.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}
    # compact homogenizes the files: plain read now carries the union
    cat.compact("t")
    assert set(cat.read("t").columns) == {"id", "v", "score"}
    assert cat.read("t").count() == 3


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path, input_df):
    """Incremental appends fragment the table (one+ file per run-bucket);
    compact() must rewrite to few files, atomically, without changing a
    single row — the lakehouse maintenance pass (Iceberg
    rewrite_data_files twin)."""
    import os

    cat = TableCatalog(spark, str(tmp_path / "wh_f"))
    # three appending runs over disjoint bucket subsets → many small files
    for rid, buckets in (("r1", {0, 1, 2}), ("r2", {3, 4}), ("r3", None)):
        run_extraction(
            spark, cat, input_df, run_id=rid, n_buckets=N_BUCKETS,
            only_buckets=buckets,
        )
    before_rows = _sorted_rows(cat.read("extracted"))
    n_files_before = sum(
        1
        for root, _d, files in os.walk(cat.data_path("extracted"))
        for f in files
        if not f.startswith(("_", "."))
    )
    assert n_files_before > 8  # fragmented
    stats = cat.compact(
        "extracted", sort_within_by=["conv_id", "turn_idx"]
    )
    assert stats["files_before"] == n_files_before
    assert stats["files_after"] < n_files_before
    assert stats["files_after"] <= 2
    assert _sorted_rows(cat.read("extracted")) == before_rows


class TestIncrementalRead:
    def test_delta_reads_only_new_rows(self, spark, tmp_path):
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh"))
        cat.append(spark.createDataFrame([(1,), (2,)], "id long"), "t")
        snap1 = cat.current_tables()["t"]
        cat.append(spark.createDataFrame([(3,)], "id long"), "t")
        snap2 = cat.current_tables()["t"]
        cat.append(spark.createDataFrame([(4,), (5,)], "id long"), "t")

        assert {r.id for r in cat.read_incremental("t", snap1).collect()} == {3, 4, 5}
        assert {r.id for r in cat.read_incremental("t", snap2).collect()} == {4, 5}
        # delta from the CURRENT snapshot is empty, schema intact
        cur = cat.current_tables()["t"]
        empty = cat.read_incremental("t", cur)
        assert empty.count() == 0 and empty.columns == ["id"]
        # bare snapshot name (no table/ prefix) accepted
        assert cat.read_incremental("t", snap1.split("/", 1)[1]).count() == 3

    def test_rewrite_between_snapshots_raises(self, spark, tmp_path):
        import pytest as _pytest

        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh"))
        cat.append(spark.createDataFrame([(1,)], "id long"), "t")
        snap1 = cat.current_tables()["t"]
        cat.overwrite(spark.createDataFrame([(9,)], "id long"), "t")
        with _pytest.raises(RuntimeError, match="not an append delta"):
            cat.read_incremental("t", snap1)
        assert {r.id for r in
                cat.read_incremental("t", snap1, allow_rewrite=True).collect()} == {9}

    def test_expired_since_snapshot_raises(self, spark, tmp_path):
        import pytest as _pytest

        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh"))
        cat.append(spark.createDataFrame([(1,)], "id long"), "t")
        snap1 = cat.current_tables()["t"]
        cat.append(spark.createDataFrame([(2,)], "id long"), "t")
        cat.expire_snapshots("t", keep_last=1)
        with _pytest.raises(FileNotFoundError, match="expired"):
            cat.read_incremental("t", snap1)


class TestMergeUpsert:
    def _cat(self, spark, tmp_path):
        return TableCatalog(spark, str(tmp_path / "wh_merge"))

    def test_update_and_insert_in_one_commit(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.overwrite(
            spark.createDataFrame(
                [(1, "old-a"), (2, "old-b"), (3, "old-c")], "id long, v string"
            ),
            "docs",
        )
        pre = cat.current_tables()["docs"]
        cat.merge_upsert(
            spark.createDataFrame(
                [(2, "NEW-b"), (9, "NEW-i")], "id long, v string"
            ),
            "docs",
            ["id"],
        )
        got = {r.id: r.v for r in cat.read("docs").collect()}
        assert got == {1: "old-a", 2: "NEW-b", 3: "old-c", 9: "NEW-i"}
        # time travel: pre-merge snapshot intact (atomic single commit)
        old = {r.id: r.v for r in cat.read("docs", snapshot=pre.split("/")[1]).collect()}
        assert old == {1: "old-a", 2: "old-b", 3: "old-c"}

    def test_rerun_is_idempotent(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.overwrite(
            spark.createDataFrame([(1, "a")], "id long, v string"), "docs"
        )
        batch = spark.createDataFrame([(1, "a2"), (2, "b")], "id long, v string")
        cat.merge_upsert(batch, "docs", ["id"])
        once = sorted(map(tuple, cat.read("docs").collect()))
        cat.merge_upsert(batch, "docs", ["id"])
        assert sorted(map(tuple, cat.read("docs").collect())) == once

    def test_duplicate_source_keys_rejected(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.overwrite(
            spark.createDataFrame([(1, "a")], "id long, v string"), "docs"
        )
        dup = spark.createDataFrame([(2, "x"), (2, "y")], "id long, v string")
        with pytest.raises(ValueError, match="duplicate key"):
            cat.merge_upsert(dup, "docs", ["id"])

    def test_missing_table_becomes_create(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.merge_upsert(
            spark.createDataFrame([(5, "v")], "id long, v string"),
            "fresh",
            ["id"],
        )
        assert {r.id for r in cat.read("fresh").collect()} == {5}

    def test_schema_evolution_on_merge(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.overwrite(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            "docs",
        )
        cat.merge_upsert(
            spark.createDataFrame(
                [(2, "b2", 0.5)], "id long, v string, score double"
            ),
            "docs",
            ["id"],
        )
        rows = {r.id: (r.v, r.score) for r in cat.read("docs").collect()}
        assert rows[2] == ("b2", 0.5)
        assert rows[1] == ("a", None)  # pre-merge row null-filled

    def test_merge_delete(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.overwrite(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
            ),
            "docs",
        )
        cat.merge_delete(
            spark.createDataFrame([(2,), (99,)], "id long"), "docs", ["id"]
        )
        assert {r.id for r in cat.read("docs").collect()} == {1, 3}
        # deleting from a missing table is a no-op, not a crash
        cat.merge_delete(
            spark.createDataFrame([(1,)], "id long"), "nope", ["id"]
        )


class TestMergeConcurrencyAndLayout:
    def test_commit_landing_in_read_window_raises(self, spark, tmp_path):
        """The merge base is captured at READ time: a writer committing
        between the merge's read and its commit must surface as
        CommitConflictError, never as silently lost updates."""
        from mistral_ocr_pipeline_spark.sources.catalog import (
            CommitConflictError,
        )

        cat = TableCatalog(spark, str(tmp_path / "wh_race"))
        cat.overwrite(
            spark.createDataFrame([(1, "a")], "id long, v string"), "docs"
        )
        base = cat.current_tables()["docs"]
        merged = cat.read("docs").unionByName(
            spark.createDataFrame([(2, "b")], "id long, v string")
        )
        # a concurrent writer lands AFTER the read captured its base
        cat.overwrite(
            spark.createDataFrame([(9, "z")], "id long, v string"), "docs"
        )
        with pytest.raises(CommitConflictError):
            cat._commit_cow(merged, "docs", base, None)
        # the conflicting writer's row is still there (nothing lost)
        assert {r.id for r in cat.read("docs").collect()} == {9}

    def test_merge_preserves_partition_layout(self, spark, tmp_path):
        cat = TableCatalog(spark, str(tmp_path / "wh_layout"))
        cat.overwrite(
            spark.createDataFrame(
                [(1, "en", "a"), (2, "de", "b")], "id long, lang string, v string"
            ),
            "docs",
            partition_by=["lang"],
        )
        cat.merge_upsert(
            spark.createDataFrame([(2, "de", "B2")], "id long, lang string, v string"),
            "docs",
            ["id"],
        )
        # hive layout survived the COW rewrite without re-stating it
        assert cat._current_partition_cols("docs") == ["lang"]
        dp = cat.data_path("docs")
        assert any(s.startswith("lang=") for s in os.listdir(dp))
        got = {r.id: r.v for r in cat.read("docs").collect()}
        assert got == {1: "a", 2: "B2"}


def test_append_retry_cas_loop_lands_both_writers(spark, tmp_path):
    """Concurrent-append CAS: writer B lands between A's stage and
    commit; A's append_retry discards the conflicted snapshot,
    re-stages from the new current, and commits — BOTH appends land,
    and time travel shows the intermediate snapshot without A's rows."""
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    wh = str(tmp_path / "wh_cas")
    a, b = TableCatalog(spark, wh), TableCatalog(spark, wh)
    a.overwrite(spark.range(1).withColumnRenamed("id", "v"), "t")

    orig_commit = a.commit
    fired = {"n": 0}

    def hooked(updates, validate_bases=True):
        if fired["n"] == 0:
            fired["n"] += 1
            b.append(spark.range(100, 102).withColumnRenamed("id", "v"), "t")
        return orig_commit(updates, validate_bases)

    a.commit = hooked
    a.append_retry(spark.range(10, 13).withColumnRenamed("id", "v"), "t")
    got = sorted(r.v for r in a.read("t").collect())
    assert got == [0, 10, 11, 12, 100, 101]
    # time travel: B's intermediate snapshot has B's rows but not A's
    mid = b.current_tables  # noqa: F841 (doc: current after both)
    snaps = []
    name = a._current_manifest_name()
    while name:
        man = a._load_manifest(name)
        snaps.append(man["tables"].get("t"))
        name = man["parent"]
    assert len(set(filter(None, snaps))) >= 3  # base, +B, +A(retried)
    inter = sorted(r.v for r in a.read("t", snapshot=snaps[1].split("/", 1)[1]).collect())
    assert inter == [0, 100, 101]


def test_concurrent_overwrite_conflicts(spark, tmp_path):
    from mistral_ocr_pipeline_spark.sources.catalog import (
        CommitConflictError,
        TableCatalog,
    )
    import pytest as _pytest

    wh = str(tmp_path / "wh_ow")
    a, b = TableCatalog(spark, wh), TableCatalog(spark, wh)
    a.overwrite(spark.range(2).withColumnRenamed("id", "v"), "t")
    rel = a.stage_overwrite(spark.range(5).withColumnRenamed("id", "v"), "t")
    b.overwrite(spark.range(9).withColumnRenamed("id", "v"), "t")
    with _pytest.raises(CommitConflictError):
        a.commit({"t": rel})
    # deliberate last-wins is still available
    a.commit({"t": rel}, validate_bases=False)
    assert a.read("t").count() == 5


def _cas_child(wh: str, tag: str) -> None:
    import os as _os
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from mistral_ocr_pipeline_spark.sources.catalog import (
        CommitConflictError,
        TableCatalog,
    )

    cat = TableCatalog(None, wh)  # commit path is pure filesystem
    for i in range(5):
        for attempt in range(200):
            base = cat.current_tables().get("t")
            snap = f"t/snap-{tag}-{i}-{attempt}"
            _os.makedirs(_os.path.join(wh, snap), exist_ok=True)
            with open(_os.path.join(wh, snap, "part.txt"), "w") as fh:
                fh.write(f"{tag}-{i}")
            cat._staged_bases[snap] = base
            try:
                cat.commit({"t": snap})
                break
            except CommitConflictError:
                continue
        else:
            raise AssertionError(f"{tag}-{i} never committed")


def test_two_process_concurrent_appends_all_land(tmp_path):
    """TRUE two-process contention on one warehouse: each process runs
    5 CAS commits against table t concurrently.  flock serializes the
    pointer swaps and base validation rejects lost updates, so the
    manifest chain must be LINEAR and contain all 10 commits — a lost
    update would drop one from the parent chain."""
    import multiprocessing as mp

    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    wh = str(tmp_path / "wh_2proc")
    TableCatalog(None, wh)  # create warehouse dirs
    ctx = mp.get_context("fork")
    ps = [
        ctx.Process(target=_cas_child, args=(wh, tag)) for tag in ("pa", "pb")
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(120)
        assert p.exitcode == 0
    cat = TableCatalog(None, wh)
    committed = []
    name = cat._current_manifest_name()
    while name:
        man = cat._load_manifest(name)
        if man["tables"].get("t"):
            committed.append(man["tables"]["t"])
        name = man["parent"]
    # every one of the 10 (tag, i) commits appears exactly once
    keys = sorted(tuple(s.split("-")[1:3]) for s in committed)
    assert keys == sorted(
        (tag, str(i)) for tag in ("pa", "pb") for i in range(5)
    )


class TestDiffSnapshots:
    def test_keyed_diff_add_remove_change(self, spark, tmp_path):
        """Content diff across a MERGE rewrite: the path-diff CDC read
        would refuse here (files rewritten); the keyed diff reports the
        exact add/remove/change set and nothing else."""
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh"))
        base_df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k long, v string, n long",
        )
        cat.commit({"t": cat.stage_overwrite(base_df, "t")})
        base_snap = cat.current_tables()["t"]

        upd = spark.createDataFrame(
            [(2, "B", 20), (4, "d", 40)], "k long, v string, n long"
        )
        cat.merge_upsert(upd, "t", ["k"])
        dels = spark.createDataFrame([(3,)], "k long")
        cat.merge_delete(dels, "t", ["k"])

        diff = {
            r.k: r.status
            for r in cat.diff_snapshots("t", base_snap, key_cols=["k"]).collect()
        }
        assert diff == {2: "changed", 3: "removed", 4: "added"}

    def test_keyless_diff_is_set_difference(self, spark, tmp_path):
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh2"))
        cat.commit({
            "t": cat.stage_overwrite(
                spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string"),
                "t",
            )
        })
        s1 = cat.current_tables()["t"]
        cat.commit({
            "t": cat.stage_overwrite(
                spark.createDataFrame([(2, "y"), (9, "z")], "k long, v string"),
                "t",
            )
        })
        rows = {
            (r.k, r.v, r.status)
            for r in cat.diff_snapshots("t", s1).collect()
        }
        assert rows == {(9, "z", "added"), (1, "x", "removed")}

    def test_diff_across_append_that_adds_a_column(self, spark, tmp_path):
        """The base snapshot lacks a column the append added: both forms
        compare under the union schema, the base side reading it as null,
        so only the appended rows show up."""
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh4"))
        base_df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        cat.commit({"t": cat.stage_overwrite(base_df, "t")})
        s1 = cat.current_tables()["t"]
        wider = spark.createDataFrame(
            [(3, "c", 30), (4, "d", None)], "k long, v string, n long"
        )
        cat.commit({"t": cat.stage_append(wider, "t")})
        assert "n" in cat.read("t", merge_schema=True).columns

        keyed = {
            r.k: r.status
            for r in cat.diff_snapshots("t", s1, key_cols=["k"]).collect()
        }
        assert keyed == {3: "added", 4: "added"}
        keyless = cat.diff_snapshots("t", s1)
        assert keyless.columns == ["k", "v", "n", "status"]
        assert {tuple(r) for r in keyless.collect()} == {
            (3, "c", 30, "added"), (4, "d", None, "added")
        }
        # and the reverse direction: the added column is base-only there
        s2 = cat.current_tables()["t"]
        back = {tuple(r) for r in cat.diff_snapshots("t", s2, s1).collect()}
        assert back == {(3, "c", 30, "removed"), (4, "d", None, "removed")}

    def test_identical_snapshots_empty_diff(self, spark, tmp_path):
        from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

        cat = TableCatalog(spark, str(tmp_path / "wh3"))
        df = spark.createDataFrame([(1, "x")], "k long, v string")
        cat.commit({"t": cat.stage_overwrite(df, "t")})
        s1 = cat.current_tables()["t"]
        assert cat.diff_snapshots("t", s1, key_cols=["k"]).count() == 0
        assert cat.diff_snapshots("t", s1).count() == 0


def _scanned(df):
    """Local paths of the files a Spark read of ``df`` scans."""
    return {urlparse(f).path for f in df.inputFiles()}


def test_files_lists_what_spark_scans(spark, tmp_path):
    """``files()`` is the one listing of a snapshot: exactly the files
    Spark's reader scans (never ``_SUCCESS`` or ``.crc``), and a staged
    snapshot only when it is named."""
    wh = str(tmp_path / "wh_files")
    cat = TableCatalog(spark, wh)
    schema = "id long, b int"
    cat.append(spark.createDataFrame([(i, i % 3) for i in range(6)], schema), "t", ["b"])
    first = cat.current_tables()["t"]
    cat.append(spark.createDataFrame([(i, i % 3) for i in range(6, 9)], schema), "t", ["b"])
    cat.drop_partition_dirs("t", ["b=1"])

    # the first snapshot was written by Spark: its dirs hold _SUCCESS and
    # .crc files beside the data files
    on_disk = {f for _r, _d, fs in os.walk(os.path.join(wh, first)) for f in fs}
    assert "_SUCCESS" in on_disk and any(f.endswith(".crc") for f in on_disk)
    for snap, df in ((None, cat.read("t")), (first, cat.read("t", snapshot=first.split("/")[1]))):
        listed = cat.files("t", snap)
        assert listed and set(listed) == _scanned(df)
        assert not any(os.path.basename(f).startswith(("_", ".")) for f in listed)
    assert not any("/b=1/" in f for f in cat.files("t"))
    assert cat.read("t").count() == 6

    staged = cat.stage_append(spark.createDataFrame([(9, 0)], schema), "t", ["b"])
    in_staged = cat.files("t", snapshot=staged)
    assert in_staged == cat.files("t", snapshot=staged.split("/")[1])
    assert len(in_staged) > len(cat.files("t"))
    assert not set(in_staged) & set(cat.files("t"))
    assert all(f.startswith(os.path.join(wh, staged) + os.sep) for f in in_staged)
    assert _scanned(cat.read("t")) == set(cat.files("t"))

    # a table with only a staged snapshot does not exist, and lists nothing
    only = cat.stage_overwrite(spark.createDataFrame([(1, 1)], schema), "u")
    assert not cat.exists("u") and cat.files("u") == []
    assert cat.files("u", snapshot=only)


class _CollidingCatalog(TableCatalog):
    """Its staged writes already hold one of the current snapshot's files
    under the same relpath: the collision the carry-forward must refuse."""

    def __init__(self, spark, warehouse):
        super().__init__(spark, warehouse)
        self.staged = []

    def stage_overwrite(self, df, table, partition_by=None):
        rel = super().stage_overwrite(df, table, partition_by)
        self.staged.append(rel)
        base_dir = os.path.join(self.warehouse, self.current_tables()[table])
        victim = self.files(table)[0]
        os.link(victim, os.path.join(self.warehouse, rel, os.path.relpath(victim, base_dir)))
        return rel


def test_stage_append_name_collision_discards_staged(spark, tmp_path):
    wh = str(tmp_path / "wh_collide")
    TableCatalog(spark, wh).append(spark.createDataFrame([(1,), (2,)], "id long"), "t")
    cat = _CollidingCatalog(spark, wh)
    victim = os.path.basename(cat.files("t")[0])
    with pytest.raises(FileExistsError, match=f"'t'.*{victim}"):
        cat.stage_append(spark.createDataFrame([(3,)], "id long"), "t")
    (rel,) = cat.staged
    assert not os.path.exists(os.path.join(wh, rel))
    assert rel not in cat._staged_bases
    assert sorted(r.id for r in cat.read("t").collect()) == [1, 2]


def test_stage_overwrite_failed_write_leaves_no_snapshot(tmp_path):
    """A write that raises after writing a file leaves no ``snap-*`` dir
    under the table and no staged base: no manifest would ever name it."""
    import pyarrow as pa

    cat = TableCatalog(None, str(tmp_path / "wh_failed_write"))
    kept = cat.stage_overwrite(pa.table({"id": [1]}), "t")
    before = dict(cat._staged_bases)

    def write(snap_dir):
        with open(os.path.join(snap_dir, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1 cut off before its footer")
        raise OSError("write failed")

    with pytest.raises(OSError, match="write failed"):
        cat.stage_overwrite(write, "t")
    snaps = [d for d in os.listdir(cat.path("t")) if d.startswith("snap-")]
    assert ["t/" + d for d in snaps] == [kept]
    assert cat._staged_bases == before


def test_commit_forgets_published_staged_bases(spark, tmp_path):
    """``commit`` drops the bases of the snapshots it publishes, so a
    long-lived catalog does not grow by one entry per commit."""
    import pyarrow as pa

    cat = TableCatalog(spark, str(tmp_path / "wh_bases"))
    for i in range(5):
        cat.commit({"t": cat.stage_append(pa.table({"id": [i]}), "t")})
    assert len(cat._staged_bases) == 0
    assert sorted(r.id for r in cat.read("t").collect()) == list(range(5))


def test_read_snapshot_takes_both_forms(spark, tmp_path):
    """``read(table, snapshot=…)`` takes the ``table/snap-…`` relpath the
    catalog returns as well as the bare ``snap-…``."""
    cat = TableCatalog(spark, str(tmp_path / "wh_read_forms"))
    cat.append(spark.createDataFrame([(1,), (2,)], "id long"), "t")
    rel = cat.current_tables()["t"]
    cat.append(spark.createDataFrame([(3,)], "id long"), "t")
    by_rel = sorted(r.id for r in cat.read("t", snapshot=rel).collect())
    by_name = sorted(r.id for r in cat.read("t", snapshot=rel.split("/", 1)[1]).collect())
    assert by_rel == by_name == [1, 2]
