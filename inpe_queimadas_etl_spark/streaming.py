"""Structured Streaming wrapper over the landing directory (§2.9).

The reference is a daily-scheduled micro-batch (Windows Task
Scheduler, scripts/run_daily.ps1:10-39) with exactly-once-by-key
semantics from the idempotent upsert + per-day partition overwrite.
SURVEY §2.9 maps that to an OPTIONAL Structured Streaming stretch: a
file source over the landing dir whose ``foreachBatch`` runs the very
same batch transform + enrich + marts step — no separate streaming
code path, no watermarks needed (late data is already handled by the
event-day recompute inside process_batch).

Each micro-batch can contain several landed files. Their paths come
from ``input_file_name()``, their file_date from the landing naming
(e.g. ``focos_diario_br_20240502.csv``), and every file runs through
the identical ``process_batch`` the batch pipeline uses, which reads
it again in its own pass. Spark's streaming checkpoint guarantees each
landed file is processed once; the anti-join append makes even a
replayed file harmless.
"""

from __future__ import annotations

import datetime as dt
import logging
import re
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import Warehouse, process_batch
from .sources.csv_ingest import sniff_delimiter

log = logging.getLogger(__name__)

_SRC_COL = "__source_file"

# date inside a landed file name: YYYYMMDD (daily key) or YYYY-MM-DD
_NAME_DATE = re.compile(r"(\d{4})-?(\d{2})-?(\d{2})")


def file_date_from_name(name: str) -> dt.date:
    """Landing file name -> file_date (extract:38-43 naming)."""
    m = _NAME_DATE.search(Path(name).name)
    if not m:
        raise ValueError(f"no date in landing file name: {name!r}")
    return dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))


def landing_schema(sample_path: str) -> tuple[T.StructType, str]:
    """All-string schema + delimiter from one landed sample file
    (streaming CSV sources need a fixed schema upfront; the header is
    driver-sniffed exactly like the batch reader)."""
    sep = sniff_delimiter(sample_path)
    with open(sample_path, encoding="utf-8", errors="replace") as fh:
        header = fh.readline().rstrip("\r\n")
    cols = [c.strip() for c in header.split(sep)]
    return (
        T.StructType([T.StructField(c, T.StringType(), True) for c in cols]),
        sep,
    )


def start_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse: Warehouse,
    dims: dict,
    checkpoint_dir: str,
    sample_path: str | None = None,
    available_now: bool = True,
    on_batch=None,
):
    """readStream over the landing dir -> foreachBatch(process_batch).

    ``available_now=True`` drains everything currently landed and
    stops (the scheduled micro-batch shape); False keeps the query
    live, picking up files as the extractor lands them. ``on_batch``
    (optional) receives (file_date, metrics) per processed file.

    Only ``*.csv`` files are read, and a CSV whose name carries no
    daily date (the extract cache's ``focos_mensal_YYYYMM.csv``) is
    skipped with a warning, as ``run``'s file discovery skips it: the
    batch still commits, so such a file can never wedge the stream on
    restart.

    Returns the StreamingQuery.
    """
    sample = sample_path
    if sample is None:
        csvs = [
            p
            for p in sorted(Path(landing_dir).glob("*.csv"))
            if _NAME_DATE.search(p.name)
        ]
        if not csvs:
            raise FileNotFoundError(f"no landed CSVs in {landing_dir}")
        sample = str(csvs[0])
    schema, sep = landing_schema(sample)

    raw = (
        spark.readStream.option("header", True)
        .option("sep", sep)
        .option("pathGlobFilter", "*.csv")
        .schema(schema)
        .csv(landing_dir)
        .withColumn(_SRC_COL, F.input_file_name())
    )

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        files = [
            r[_SRC_COL]
            for r in batch_df.select(_SRC_COL).distinct().collect()
        ]
        for src in sorted(files):
            try:
                fdate = file_date_from_name(src)
            except ValueError:
                log.warning("skipping undated landing file %s", src)
                continue
            path = unquote(urlparse(src).path)
            metrics = process_batch(spark, warehouse, [(fdate, path)], dims)
            if on_batch is not None:
                on_batch(fdate, metrics)

    writer = (
        raw.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
