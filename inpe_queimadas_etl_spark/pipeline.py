"""Pipeline orchestration: run_day / run_range (reference §3).

The reference loops per day because Postgres idempotency is
delete+insert per date (app.py:276-300, backfill.py:138-224). In Spark
the same guarantees come from:

- idempotent append: left anti-join on event_hash against the existing
  curated table (K1). The curated append is the batch's last write,
  so a batch that fails before it is new again to the rerun;
- dynamic partition overwrite for enriched + daily marts (partitioned
  by event day) and monthly marts (partitioned by month) — re-running
  a day replaces exactly the affected partitions (K2/K3);
- event-day spillover handled by recomputing every event day present
  in the batch, not just the file date (SURVEY.md §7.6).

A batch runs in four steps:

1. one Python pass reads, curates, dedups and enriches the batch's
   landed files: a single ``mapInPandas`` with one task per
   ``file_date`` (``transform.curate_file``, then
   ``enrich.enrich_batch``), collected once with ``toArrow()``. Before
   enriching, each task drops the rows whose ``event_hash`` its own
   ``file_date`` partition of ``curated_focos`` already holds (a
   pyarrow read), so a replay enriches nothing;
2. with history, the prior rows of the affected event days are read
   from ``enriched_focos`` with pyarrow, minus the batch's hashes, and
   merged with the new rows; ``marts.day_cube`` counts them at the
   fact MV's grain with a pyarrow ``group_by``;
3. pyarrow publishes ``enriched_focos``, then rolls the cube up into
   the five daily marts and the fact MV, the published daily marts of
   the affected months into the two monthly marts, and the whole daily
   UF mart into the trend, publishing each in turn;
4. ``curated_focos`` is appended last, as staged files renamed into
   their partitions.

After the pass, Spark only collects the small UF-area dim; every write
is ``_stage_arrow``, an audit, then renames.

``run_range`` feeds a date range through ``process_batch`` one
calendar month of file dates at a time, which bounds the events the
driver holds. The hash payload starts with ``file_date``, so a row can
only repeat one of the same date: dedup within one task, and the
anti-join against that date's partition, are exact.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from itertools import groupby
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from . import marts
from .enrich import BATCH_SCHEMA, ENRICHED_LAYOUT, enrich_batch, enrich_dims
from .functions.core import event_day
from .schemas import CURATED_FOCOS
from .transform import curate_file

# the Spark reference path of the batch pass; no pipeline step calls it
from .enrich import enrich, new_rows_only  # noqa: F401
from .sources.csv_ingest import read_csv_all_string  # noqa: F401
from .transform import curated_from_raw  # noqa: F401


class PublishAuditError(RuntimeError):
    """A staged write failed its pre-publish audit; the live table was
    not touched."""


class Warehouse:
    """Partitioned-parquet warehouse: the engine's table layer.

    Layout: <root>/<table>/ partitioned parquet. Daily tables are
    partitioned by day (partition pruning on every day-ranged query —
    the Spark analog of the reference's B-tree-on-day indexes,
    SURVEY.md §4), monthly tables by month.

    Every write follows write-audit-publish (VERDICT r3 "Next round"
    #3 — the Spark analog of the reference's delete+insert inside one
    Postgres transaction, sql_runner.py:132-157): pyarrow stages the
    rows under ``<root>/_tmp/<table>__<uuid>`` (``_stage_arrow``), the
    staged output is audited (_SUCCESS commit marker + every parquet
    footer readable + the exact row count), and only then do atomic
    renames move it into the live table: whole partition directories
    for an overwrite, single files for an append. A failure at ANY
    point before publish — including a write dying mid-way — leaves
    the live table byte-identical; readers never
    see a half-written partition because staging lives outside every
    table path. The publish itself is atomic ACROSS partitions: once
    the audit passes an ``_AUDITED`` marker commits the intent, and a
    crash anywhere in the swap loop (including between the two renames
    of one partition's swap) is rolled FORWARD by the next publish's
    _gc_stale, which completes the remaining swaps from the surviving
    staged dir — so a multi-partition publish lands all-old or
    all-new, mirroring the reference's delete+insert-in-one-
    transaction semantics at the table level, not just per-partition.
    """

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> str:
        return str(self.root / table)

    def exists(self, table: str) -> bool:
        p = self.root / table
        return p.exists() and any(p.rglob("*.parquet"))

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        if not self.exists(table):
            return None
        return spark.read.parquet(self.path(table))

    # -- write-audit-publish internals ---------------------------------

    def _stage_dir(self, table: str) -> Path:
        import uuid

        d = self.root / "_tmp" / f"{table}__{uuid.uuid4().hex}"
        d.parent.mkdir(parents=True, exist_ok=True)
        return d

    @staticmethod
    def _staging_dirs(base: Path, table: str) -> list[Path]:
        """Staging/backup dirs belonging to THIS table: name must be
        exactly ``<table>__<32-hex-uuid>``. A bare ``{table}__*`` glob
        also matches dirs of any table whose own name starts with
        ``<table>__`` (e.g. table 't__archive' vs table 't'), and
        recovery renaming ANOTHER table's staged partitions into this
        table's live dir would be cross-table corruption (r5 review)."""
        out = []
        for d in sorted(base.glob(f"{table}__*")):
            suffix = d.name[len(table) + 2 :]
            if len(suffix) == 32 and all(
                c in "0123456789abcdef" for c in suffix
            ):
                out.append(d)
        return out

    def _gc_stale(self, table: str) -> None:
        """Recover from earlier interrupted publishes of this table,
        then clear the staging areas (single-writer pipeline, like the
        reference's per-day runner). Recovery is two-phase:

        1. Roll FORWARD any publish that crashed after its audit
           passed (the ``_AUDITED`` marker in the staged dir): the
           staged output is known-good, so the remaining partition
           swaps complete exactly as the interrupted publish loop
           would have — a multi-partition publish lands all-new
           instead of being finalized in a torn old/new mix
           (ADVICE r4 #1: cross-partition atomicity). Idempotent:
           a crash during roll-forward resumes from the same marker.
        2. Restore backups of publishes that never reached the
           publish phase. A crash BETWEEN the two renames of a
           partition swap leaves the only copy of the old data in
           _trash — trash contents are RESTORED to any live location
           that is missing before anything is deleted; a leftover
           whose live counterpart exists means that swap completed
           and the backup is safe to drop.
        """
        import shutil

        live = self.root / table
        trash_base = self.root / "_trash"
        tmp_base = self.root / "_tmp"
        if tmp_base.exists():
            for tmp in self._staging_dirs(tmp_base, table):
                if not (tmp.is_dir() and (tmp / "_AUDITED").exists()):
                    continue  # unaudited staging leftover: dropped below
                trash = trash_base / tmp.name
                staged = sorted(
                    d for d in tmp.iterdir() if d.is_dir() and "=" in d.name
                )
                live.mkdir(parents=True, exist_ok=True)
                for pdir in staged:
                    target = live / pdir.name
                    if target.exists():
                        # this partition's swap never started: back the
                        # old copy up first, like the publish loop does
                        trash.mkdir(parents=True, exist_ok=True)
                        target.rename(trash / pdir.name)
                    # else: crashed between the two renames (old copy
                    # already in trash) or a brand-new partition —
                    # either way the staged dir moves straight in
                    pdir.rename(target)
                shutil.rmtree(tmp, ignore_errors=True)
                shutil.rmtree(trash, ignore_errors=True)
        if trash_base.exists():
            for d in self._staging_dirs(trash_base, table):
                if d.is_dir() and any(d.iterdir()):
                    entries = sorted(p for p in d.iterdir())
                    if all(e.is_dir() and "=" in e.name for e in entries):
                        # partition-level backup: restore missing parts
                        live.mkdir(parents=True, exist_ok=True)
                        for part in entries:
                            target = live / part.name
                            if not target.exists():
                                part.rename(target)
                    elif not live.exists():
                        # whole-table backup from overwrite(): restore
                        d.rename(live)
                        continue
                shutil.rmtree(d, ignore_errors=True)
        if tmp_base.exists():
            for d in self._staging_dirs(tmp_base, table):
                shutil.rmtree(d, ignore_errors=True)

    @staticmethod
    def _audit_staged(
        tmp: Path, table: str, expected_rows: int | None = None
    ) -> list[Path]:
        """Audit a staged write before any live mutation: the commit
        marker must exist (the write finished every file) and every
        staged file's parquet footer must be readable (metadata only —
        a truncated/corrupt file fails here). When the caller knows the
        intended row count, ``expected_rows`` additionally asserts the
        footers sum to it. Returns the staged partition directories
        (possibly empty for an empty input)."""
        if not (tmp / "_SUCCESS").exists():
            raise PublishAuditError(
                f"staged write for {table!r} has no _SUCCESS marker: "
                "the write did not commit; live table untouched"
            )
        import pyarrow.parquet as pq

        total = 0
        for f in tmp.rglob("*.parquet"):
            try:
                total += pq.ParquetFile(str(f)).metadata.num_rows
            except Exception as ex:  # unreadable footer = failed write
                raise PublishAuditError(
                    f"staged file {f} unreadable for {table!r}: {ex}; "
                    "live table untouched"
                ) from ex
        if expected_rows is not None and total != expected_rows:
            raise PublishAuditError(
                f"staged row count {total} != expected {expected_rows} "
                f"for {table!r}; live table untouched"
            )
        return sorted(
            d for d in tmp.iterdir() if d.is_dir() and "=" in d.name
        )

    def overwrite_partitions(self, rows: pa.Table, table: str, partition_col: str) -> None:
        """K2/K3: replace only the partitions present in ``rows``, via
        write-audit-publish. Each partition directory swaps in with
        two atomic renames (old -> _trash, staged -> live); a crash
        between swaps leaves every partition either fully-old or
        fully-new, never partial."""
        import shutil

        self._gc_stale(table)
        tmp = self._stage_dir(table)
        _stage_arrow(rows, tmp, partition_col)
        staged_parts = self._audit_staged(tmp, table, rows.num_rows)
        # Publish-phase marker: from here the staged output is audited
        # good, so _gc_stale rolls an interrupted swap loop FORWARD
        # (completes the remaining swaps) instead of discarding it —
        # the publish is atomic across partitions: every partition
        # lands either all-old (crash before this marker) or all-new
        # (crash after it), never a finalized mix (ADVICE r4 #1).
        (tmp / "_AUDITED").touch()

        live = self.root / table
        live.mkdir(parents=True, exist_ok=True)
        trash = self.root / "_trash" / tmp.name
        trash.mkdir(parents=True, exist_ok=True)
        for pdir in staged_parts:
            target = live / pdir.name
            if target.exists():
                target.rename(trash / pdir.name)
            pdir.rename(target)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)

    def append(self, rows: pa.Table, table: str, partition_col: str | None = None) -> None:
        """Add ``rows`` as new files, via write-audit-publish: one
        staged file per partition, audited for the exact row count,
        then each renamed into its live partition. A failure before the
        renames leaves the live table byte-identical, and each rename
        lands one partition's file whole. No ``_AUDITED`` marker is
        written: recovery must never swap an append's staged
        partitions in for the live ones."""
        import shutil

        self._gc_stale(table)
        tmp = self._stage_dir(table)
        _stage_arrow(rows, tmp, partition_col)
        self._audit_staged(tmp, table, rows.num_rows)
        live = self.root / table
        for f in sorted(tmp.rglob("*.parquet")):
            target = live / f.relative_to(tmp)
            target.parent.mkdir(parents=True, exist_ok=True)
            f.rename(target)
        shutil.rmtree(tmp, ignore_errors=True)

    def overwrite(self, rows: pa.Table, table: str) -> None:
        """K5 truncate+reload, via write-audit-publish: the staged dir
        swaps in whole (old table -> _trash, staged -> live) so readers
        see the old table until the instant the new one is complete.
        The audit also checks the staged row count."""
        import shutil

        self._gc_stale(table)
        tmp = self._stage_dir(table)
        _stage_arrow(rows, tmp)
        self._audit_staged(tmp, table, rows.num_rows)

        live = self.root / table
        trash = self.root / "_trash" / tmp.name
        trash.parent.mkdir(parents=True, exist_ok=True)
        if live.exists():
            live.rename(trash)
        tmp.rename(live)
        shutil.rmtree(trash, ignore_errors=True)


def _stage_arrow(rows: pa.Table, tmp: Path, partition_col: str | None = None) -> None:
    """Write ``rows`` into the fresh staging dir ``tmp`` as Spark lays
    a table out: one zstd parquet file per ``partition_col=value``
    directory (the column itself lives in the directory name), or one
    file, then the ``_SUCCESS`` commit marker."""
    import uuid

    import pyarrow.parquet as pq

    name = f"part-00000-{uuid.uuid4()}.c000.zstd.parquet"
    tmp.mkdir(parents=True)
    if partition_col is None:
        pq.write_table(rows, tmp / name, compression="zstd")
    else:
        # one stable sort, then each partition is a slice of it. Nulls
        # sort last and are written nowhere: the row-count audit fails.
        rows = rows.sort_by(partition_col)
        body = rows.drop_columns([partition_col])
        start = 0
        for run in pc.value_counts(rows[partition_col]).to_pylist():
            if run["values"] is not None:
                part = tmp / f"{partition_col}={run['values']}"
                part.mkdir()
                pq.write_table(body.slice(start, run["counts"]), part / name, compression="zstd")
            start += run["counts"]
    (tmp / "_SUCCESS").touch()


def _read_arrow(
    warehouse: Warehouse,
    table: str,
    where=None,
    columns: list[str] | None = None,
    key: str = "day",
) -> pa.Table | None:
    """A date-partitioned table read with ``pyarrow.dataset``: only the
    partitions that ``where`` (an expression on the partition column
    ``key``) selects, and only ``columns`` when given; None while the
    table has no file."""
    if not warehouse.exists(table):
        return None
    parts = ds.partitioning(pa.schema([(key, pa.date32())]), flavor="hive")
    return ds.dataset(warehouse.path(table), partitioning=parts).to_table(
        columns=columns, filter=where
    )


def loaded_hashes(curated: str, file_date: dt.date) -> list[str]:
    """The ``event_hash`` values that the ``curated_focos`` table at
    ``curated`` holds for ``file_date``: a pyarrow read of that one
    partition's files, empty when it has none."""
    files = [str(f) for f in (Path(curated) / f"file_date={file_date}").glob("*.parquet")]
    hashes = ds.dataset(files, pa.schema([("event_hash", pa.string())]), format="parquet")
    return hashes.to_table()["event_hash"].to_pylist()


def batch_pass(
    spark: SparkSession,
    day_files: list[tuple[dt.date, str]],
    dims: dict,
    monthly: bool = False,
    curated: str | None = None,
    rows_in=None,
) -> DataFrame:
    """The batch's rows, read, curated, deduped and enriched in one
    mapInPandas with one task per distinct ``file_date``, in
    ENRICHED_LAYOUT. A date's files are curated in the given order and
    deduped together. ``monthly``: each file is a monthly archive.
    ``curated``: the ``curated_focos`` path; each task drops the rows
    already loaded for its date (``loaded_hashes``) before enriching.
    ``rows_in``: an accumulator that each task adds its deduped row
    count to, before that anti-join."""
    paths_by_date: dict[dt.date, list[str]] = {}
    for file_date, path in day_files:
        paths_by_date.setdefault(file_date, []).append(path)
    tasks = list(paths_by_date.items())
    edims = enrich_dims(dims["municipios"], dims["biomas"], dims["ucs"], dims["tis"])

    def curate_and_enrich(batches):
        for ids in batches:
            for i in ids["id"]:
                file_date, paths = tasks[i]
                rows = pd.concat(
                    [curate_file(p, file_date, monthly) for p in paths], ignore_index=True
                )
                rows = rows[~rows["event_hash"].duplicated()]
                if rows_in is not None:
                    rows_in.add(len(rows))
                if curated is not None:
                    rows = rows[~rows["event_hash"].isin(loaded_hashes(curated, file_date))]
                if len(rows):
                    yield enrich_batch(rows, edims)

    return (
        spark.range(len(tasks), numPartitions=len(tasks))
        .mapInPandas(curate_and_enrich, schema=BATCH_SCHEMA)
        .withColumn("event_day", event_day("view_ts", "file_date"))
        .select(*ENRICHED_LAYOUT)
    )


def process_batch(
    spark: SparkSession,
    warehouse: Warehouse,
    day_files: list[tuple[dt.date, str]],
    dims: dict,
    monthly: bool = False,
) -> dict:
    """Core incremental step: landed ``(file_date, path)`` files ->
    enriched table -> marts -> curated table, idempotently. ``dims``
    carries PolyFeature lists ('municipios','biomas','ucs','tis') and
    the uf_area DataFrame; ``monthly`` marks the files as monthly
    archives.

    ``curated_focos`` is appended last: it is the record of which rows
    are done, so a batch that fails at any earlier step is new again to
    the rerun's anti-join and is enriched and published whole.
    """
    t0 = time.perf_counter()
    # the pass's one Spark job: the new rows, collected to the driver,
    # so nothing after it recomputes the pass or re-reads curated_focos
    rows_in = spark.sparkContext.accumulator(0)
    curated = warehouse.path("curated_focos")
    new = batch_pass(spark, day_files, dims, monthly, curated, rows_in).toArrow()
    metrics = {"rows_in_batch": rows_in.value, "rows_new": new.num_rows}
    if new.num_rows == 0:
        metrics["seconds"] = round(time.perf_counter() - t0, 3)
        return metrics

    # spillover: recompute every event day touched by this batch
    affected_days = sorted(pc.unique(new["event_day"]).to_pylist())
    # a rerun after a crash past the enriched publish finds the batch's
    # rows published already: the batch's copy replaces them
    prior = _read_arrow(
        warehouse,
        "enriched_focos",
        pc.field("event_day").isin(affected_days) & ~pc.field("event_hash").isin(new["event_hash"]),
        new.column_names,
        key="event_day",
    )
    enriched_days = new if prior is None else pa.concat_tables([prior, new])
    affected_months = sorted({dt.date(d.year, d.month, 1) for d in affected_days})

    warehouse.overwrite_partitions(enriched_days, "enriched_focos", "event_day")

    cube = marts.day_cube(enriched_days)
    daily = {
        "focos_diario_municipio": marts.focos_diario_municipio(cube),
        "focos_diario_uf": marts.focos_diario_uf(cube, dims["uf_area"].toArrow()),
        "focos_diario_bioma": marts.focos_diario_bioma(cube),
        "focos_diario_uc": marts.focos_diario_uc(cube),
        "focos_diario_ti": marts.focos_diario_ti(cube),
        "mv_focos_day_dim": marts.mv_focos_day_dim(cube),
    }
    for table, rows in daily.items():
        warehouse.overwrite_partitions(rows, table, "day")
    # the monthly marts roll up the published daily rows of the
    # affected months. A daily mart that has no file yet (every batch
    # so far unattributed) has nothing to roll up.
    day = pc.field("day")
    in_months = None
    for m in affected_months:
        end = dt.date(m.year + m.month // 12, m.month % 12 + 1, 1)
        month = (day >= m) & (day < end)
        in_months = month if in_months is None else in_months | month
    for build, source, table in (
        (marts.focos_mensal_municipio, "focos_diario_municipio", "focos_mensal_municipio"),
        (marts.focos_mensal_uf, "focos_diario_uf", "focos_mensal_uf"),
    ):
        rows = _read_arrow(warehouse, source, in_months)
        if rows is not None:
            warehouse.overwrite_partitions(build(rows), table, "month")
    # full recompute over the whole daily UF mart — a small aggregate
    daily_uf = _read_arrow(warehouse, "focos_diario_uf")
    if daily_uf is not None:
        warehouse.overwrite(marts.focos_diario_uf_trend(daily_uf), "focos_diario_uf_trend")

    # last: the batch is done
    warehouse.append(new.select(CURATED_FOCOS.names), "curated_focos", "file_date")

    metrics.update(
        {
            "affected_days": [str(d) for d in affected_days],
            "affected_months": [str(m) for m in affected_months],
            "seconds": round(time.perf_counter() - t0, 3),
        }
    )
    return metrics


def run_day(
    spark: SparkSession,
    warehouse: Warehouse,
    csv_path: str,
    file_date: dt.date,
    dims: dict,
) -> dict:
    """One daily file end-to-end: CSV -> transform -> batch."""
    return process_batch(spark, warehouse, [(file_date, csv_path)], dims)


def run_day_auto(
    spark: SparkSession,
    warehouse: Warehouse,
    extractor,
    file_date: dt.date,
    dims: dict,
) -> dict:
    """The full reference daily run (§3.1): extract with retention
    routing + monthly fallback (S1/S2/S5, sources.csv_ingest
    .InpeExtractor), then the idempotent batch step, whose task keeps
    the day's rows of a monthly archive (S4). Mirrors etl.cli.run ->
    extract -> transform -> load."""
    result = extractor.extract_day(file_date)
    metrics = process_batch(
        spark,
        warehouse,
        [(file_date, result.path)],
        dims,
        monthly=result.source == "monthly",
    )
    metrics["extract_source"] = result.source
    metrics["extract_key"] = result.key
    return metrics


def write_validation_report(
    spark: SparkSession, warehouse: Warehouse
) -> tuple[str, str] | None:
    """Post-run check sweep + artifact write (reference
    validate_marts.py:81-122,283-301): runs the table-level checks over
    the warehouse and leaves docs/validation_last_run.md +
    logs/last_run.json under the warehouse root. The event-grain
    checks count one streamed pyarrow scan of the six columns they need
    over all of ``enriched_focos``; the mart sums and last-day counts
    come from the two daily marts, read as Arrow. Nothing here starts
    a Spark job. Returns both paths, or None when no enriched table
    exists yet (nothing to validate)."""
    from . import checks as C

    if not warehouse.exists("enriched_focos"):
        return None

    def daily_mart(table: str) -> pa.Table:
        # no file yet (every batch so far unattributed): an empty mart
        mart = _read_arrow(warehouse, table, columns=["day", "n_focos"])
        if mart is None:
            empty = {"day": pa.array([], pa.date32()), "n_focos": pa.array([], pa.int64())}
            return pa.table(empty)
        return mart

    daily_mun = daily_mart("focos_diario_municipio")
    daily_uf = daily_mart("focos_diario_uf")
    enriched = ds.dataset(warehouse.path("enriched_focos"), format="parquet")
    events = C.event_counts(enriched.to_batches(columns=list(C.EVENT_COLUMNS)))
    results = [
        C.check_mart_consistency(daily_mun, daily_uf, events),
        C.check_enrichment_coverage(events),
        C.check_checked_flags(events),
    ]

    def last_day_rows(daily: pa.Table):
        # last-day counts section (validate_marts.py _fetch_counts analog)
        day = pc.max(daily["day"])
        return day.as_py(), pc.sum(pc.equal(daily["day"], day)).as_py() or 0

    (uf_day, uf_rows), (mun_day, mun_rows) = last_day_rows(daily_uf), last_day_rows(daily_mun)
    report = C.run_checks(results)
    counts = {"uf_day": uf_day, "uf_rows": uf_rows, "mun_day": mun_day, "mun_rows": mun_rows}
    return C.write_run_report(
        report,
        counts,
        docs_dir=warehouse.root / "docs",
        logs_dir=warehouse.root / "logs",
    )


def read_resume_state(state_path: str | None) -> set[str]:
    """S8 resume marker read-back (reference backfill.py:151-162): the
    set of ISO days already completed in a previous run. A missing,
    malformed or wrongly shaped state file means no state."""
    if not state_path or not Path(state_path).exists():
        return set()
    try:
        data = json.loads(Path(state_path).read_text())
    except (OSError, json.JSONDecodeError):
        return set()
    days = data.get("days") if isinstance(data, dict) else None
    if not isinstance(days, list):
        return set()
    return {d for d in days if isinstance(d, str)}


def run_range(
    spark: SparkSession,
    warehouse: Warehouse,
    day_files: list[tuple[dt.date, str]],
    dims: dict,
    state_path: str | None = None,
    write_report: bool = True,
) -> list[dict]:
    """Multi-day backfill, resuming from the S8 state file: days
    recorded as done by a previous run are skipped before any read
    (reference backfill.py:47-66,151-162 keeps and re-reads the JSON
    marker; the anti-join append additionally makes accidental replays
    harmless).

    The rest runs as one ``process_batch`` per calendar month of file
    dates, so the driver holds at most a month of events; the files of
    one date share a batch. The state file is written after each
    batch, and the report once, after the last. Returns one result:
    counts and seconds summed over the batches, day and month lists
    merged, with ``batches`` the number of batches."""
    done = read_resume_state(state_path)
    skipped = [str(d) for d, _ in day_files if str(d) in done]
    todo = [(d, p) for d, p in day_files if str(d) not in done]
    if not todo:
        return [{"rows_in_batch": 0, "rows_new": 0, "days_skipped": skipped}]
    result: dict = {"batches": 0}
    for _, batch in groupby(sorted(todo, key=lambda f: f[0]), key=lambda f: f[0].replace(day=1)):
        batch = list(batch)
        metrics = process_batch(spark, warehouse, batch, dims)
        for k, v in metrics.items():
            if isinstance(v, list):
                result[k] = sorted(set(result.get(k, [])) | set(v))
            else:
                result[k] = round(result.get(k, 0) + v, 3)
        result["batches"] += 1
        if state_path:
            done |= {str(d) for d, _ in batch}
            all_done = sorted(done)
            Path(state_path).write_text(
                json.dumps(
                    {"last_done": all_done[-1], "days": all_done, "metrics": metrics},
                    default=str,
                )
            )
    if skipped:
        result["days_skipped"] = skipped
    if write_report:
        report_paths = write_validation_report(spark, warehouse)
        if report_paths:
            result["report_md"], result["report_json"] = report_paths
    return [result]
