"""SparkSession factory with scale-ready defaults.

The reference delegates physical execution to PostgreSQL and tunes it
per-session (work_mem, jit=off — see BASELINE.md). The Spark analog is
a session configured so Catalyst/AQE make the same class of decisions
automatically: adaptive query execution for runtime re-planning and
skew handling, dynamic partition overwrite for the reference's
delete+insert-by-day idempotency (reference sql/marts/*.sql), Arrow for
any pandas-UDF path, and a shuffle-partition count sized to the local
parallelism (on a real cluster this should be ~2-3x total cores or
left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "inpe-queimadas-etl-spark"

_WARNED_DRIVER_MEM = False


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are chosen to be correct on ``local[N]`` and to carry the
    right semantics to a large cluster:

    - AQE on (coalesce post-shuffle partitions, skew-join splitting) —
      the runtime analog of the reference's manual session tuning.
    - ``partitionOverwriteMode=dynamic`` so writing a day's mart only
      replaces that day's partition (reference's delete+insert by day).
    - UTC session timezone so date/timestamp semantics are stable and
      match the DuckDB oracle.
    - Arrow enabled for the pandas-UDF passes (the batch pass, geo,
      corpus).
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Driver heap sized to the role it plays: in local[N] mode the
    # driver JVM is every executor, and Spark's unconfigured default
    # (1g) leaves about 420 MB of unified memory for N concurrent
    # tasks plus every localCheckpoint block (the corpus pipeline
    # checkpoints its dd7 labels and gate outputs), which runs the
    # JVM into GC thrash. Env-overridable; on a real cluster submit
    # sets driver/executor memory explicitly and this default is
    # irrelevant.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # Throughput collector: in local[N] the driver JVM is every
    # executor, and its tasks allocate in bursts (aggregation and
    # collect_set reducers). G1, the JDK default, degrades on an aged
    # heap under such bursts: one collect_set-heavy aggregation read
    # 5.1 s under aged G1 and 1.5 s under ParallelGC. Env-overridable (set
    # SPARK_GRAFT_DRIVER_GC="" to keep the JVM default); on a real
    # cluster submit-time executor JVM options override this, same as
    # driver memory. Like spark.driver.memory, only effective when
    # THIS process launches the JVM.
    driver_gc = os.environ.get("SPARK_GRAFT_DRIVER_GC", "-XX:+UseParallelGC")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.maxResultSize", "2g")
    )
    if driver_gc:
        builder = builder.config("spark.driver.extraJavaOptions", driver_gc)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # spark.driver.memory only takes effect when THIS call launches
    # the JVM gateway; a pre-existing in-process session (second
    # get_spark call, pyspark shell, spark-submit with its own sizing)
    # silently keeps its original heap (ADVICE r12). Warn once so a
    # caller cannot believe the heap is sized when it is not.
    global _WARNED_DRIVER_MEM
    try:
        effective = spark.conf.get("spark.driver.memory", "")
    except Exception:
        effective = ""
    if effective != driver_mem and not _WARNED_DRIVER_MEM:
        _WARNED_DRIVER_MEM = True
        import warnings

        warnings.warn(
            f"requested spark.driver.memory={driver_mem} but the "
            f"already-running JVM reports {effective or 'unset'}; "
            "driver memory is fixed at first JVM launch",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic testdata parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def local_df(spark: SparkSession, rows, schema: T.StructType):
    """Small driver-built dims (geometry tables, lookup rows) as JVM
    LocalRelations: routing createDataFrame through pandas + Arrow
    turns the plan's `Scan ExistingRDD` (a Python RDD that must spin
    Python workers every time the dim is scanned or broadcast) into a
    `LocalTableScan` that lives entirely JVM-side. Falls back to the
    plain list path if the Arrow conversion is unavailable."""
    rows = list(rows)
    try:
        import pandas as pd

        names = [f.name for f in schema.fields]
        pdf = pd.DataFrame(rows or None, columns=names, dtype=object)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)
