"""Import-cache invalidation re-reads a zip archive only when it changed.

``mistral_ocr_pipeline_spark._zipcache`` (installed by importing the
package, on CPython < 3.13) keys each archive read on its
``(st_mtime_ns, st_size, st_ino)``.  These tests count
``zipimport._read_directory`` calls: in-process on an archive shared by
several importers, and inside reused Spark Python workers, where
``pyspark.worker_util.setup_spark_files`` invalidates the import caches
at the start of every task."""

from __future__ import annotations

import collections
import importlib
import sys
import zipfile
import zipimport

import mistral_ocr_pipeline_spark  # noqa: F401  (installs the patch)


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    tmp.replace(path)  # a re-shipped archive: new inode, new size


def test_patch_installed_only_before_313():
    installed = (
        zipimport.zipimporter.invalidate_caches.__module__
        == "mistral_ocr_pipeline_spark._zipcache"
    )
    assert installed == (sys.version_info < (3, 13))


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    files = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/leaf/__init__.py": "",
        "zpkg/sub/leaf/m.py": "X = 1\n",
    }
    _write_zip(archive, files)
    reads = collections.Counter()
    real_read = zipimport._read_directory

    def counting_read(path):
        reads[path] += 1
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zpkg.sub.leaf.m

        assert zpkg.sub.leaf.m.X == 1
        importers = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and v.archive == str(archive)
        ]
        assert len(importers) >= 3  # the archive and its package dirs
        importlib.invalidate_caches()  # first call: no key recorded yet
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads[str(archive)] == 0

        _write_zip(archive, {**files, "zpkg/sub/leaf/new.py": "Y = 2\n"})
        importlib.invalidate_caches()
        import zpkg.sub.leaf.new

        assert zpkg.sub.leaf.new.Y == 2
        reads.clear()
        importlib.invalidate_caches()
        assert reads[str(archive)] == 0
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if str(archive) in k]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_reused_worker_tasks_do_not_reread_archives(spark, tmp_path):
    """Each Python task starts with ``importlib.invalidate_caches()``.  A
    probe job wraps it and ``zipimport._read_directory`` in the workers it
    lands on and logs the reads per task; extraction jobs then run in the
    same reused workers; the probe's own later tasks are dropped from the
    log.  A worker's first extraction task may still read (the package is
    not imported yet), its second too (no key is recorded yet); every
    later task must read nothing.  Without the patch every task re-reads
    ``pyspark.zip`` once per package importer, py4j and the spark-core
    jar."""
    from mistral_ocr_pipeline_spark.fixtures.gen import (
        gen_transcripts,
        transcripts_schema,
    )
    from mistral_ocr_pipeline_spark.plans.extract_pipeline import (
        extract_transcripts,
    )

    log_dir = str(tmp_path)

    def instrument(batches):
        import importlib as il
        import os
        import time
        import zipimport as zi

        log = os.path.join(log_dir, f"{os.getpid()}.log")
        if getattr(il, "_reads_logged", False):
            with open(log, "a") as f:
                f.write("probe\n")  # the line above is this probe task's
        else:
            real_read, real_invalidate = zi._read_directory, il.invalidate_caches
            reads = [0]

            def counting_read(path):
                reads[0] += 1
                return real_read(path)

            def logging_invalidate():
                before = reads[0]
                real_invalidate()
                with open(log, "a") as f:
                    f.write(f"{reads[0] - before}\n")

            zi._read_directory = counting_read
            il.invalidate_caches = logging_invalidate
            il._reads_logged = True
        time.sleep(0.2)  # hold the worker so the tasks land on distinct ones
        yield from batches

    # idle workers are reused first-in first-out: 16 tasks reach up to 16
    # of them, and so do the 8 tasks of each extraction job below
    spark.range(16, numPartitions=16).mapInArrow(instrument, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    df = spark.createDataFrame(
        gen_transcripts(12, 3, seed=5, profile="unit"), transcripts_schema()
    ).repartition(8)

    def per_task_reads() -> dict[str, list[int]]:
        logs = {}
        for p in tmp_path.glob("*.log"):
            counts = logs[p.stem] = []
            for line in p.read_text().split():
                if line == "probe":
                    counts.pop()
                else:
                    counts.append(int(line))
        return logs

    for _ in range(20):
        extract_transcripts(df, repartition=False).write.format("noop").mode(
            "overwrite"
        ).save()
        logs = per_task_reads()
        if logs and max(len(v) for v in logs.values()) >= 4:
            break
    assert logs and max(len(v) for v in logs.values()) >= 4, logs
    for pid, counts in logs.items():
        assert sum(counts[2:]) == 0, (pid, counts)
