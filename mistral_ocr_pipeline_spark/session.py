"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what a 1000-executor cluster run would set via
``spark-submit --conf`` (AQE on, Arrow on, sane shuffle parallelism);
session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 48g: a heap sized for a
    large host would overcommit a small one."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(
    app_name: str = "mistral_ocr_pipeline_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_shuffle = shuffle_partitions or (
        int(cores) * 2 if str(cores).isdigit() else 32
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MB-scale HTML payloads: bound Arrow batch memory (SURVEY §7.4.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate synthesizes size(arr)>0 && isnotnull(arr)
        # above every explode and pushdown then INLINES the whole array
        # expression into the scan filter — for computed gram/shingle
        # arrays the lambda-bound token indexing re-tokenizes the document
        # once per element per position (measured 96.7 s -> 0.8 s on the
        # sf0.1 containment gram stream).  The rule only helps when arrays
        # come cheap from storage; this engine always computes them, so it
        # is pure harm here.  Operator-level explode_outer guards cover
        # the proven-pathological sites even under a foreign session.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
