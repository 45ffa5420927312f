"""Structured Streaming wrapper over the landing directory (§2.9).

The reference is a daily-scheduled micro-batch (Windows Task
Scheduler, scripts/run_daily.ps1:10-39) with exactly-once-by-key
semantics from the idempotent upsert + per-day partition overwrite.
SURVEY §2.9 maps that to an OPTIONAL Structured Streaming stretch: a
file source over the landing dir whose ``foreachBatch`` runs the very
same batch transform + enrich + marts step — no separate streaming
code path, no watermarks needed (late data is already handled by the
event-day recompute inside process_batch).

Each micro-batch can contain several landed files; rows are routed to
their file_date by ``input_file_name()`` (the landing naming carries
the date, e.g. ``focos_diario_br_20240502.csv``), and every file runs
through the identical ``curated_from_raw`` + ``process_batch`` the
batch pipeline uses. Spark's streaming checkpoint guarantees each
landed file is processed once; the anti-join append makes even a
replayed file harmless.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import Warehouse, process_batch
from .sources.csv_ingest import sniff_delimiter
from .transform import curated_from_raw

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


_HASH_COL = "__row_hash"


def start_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse: Warehouse,
    dims: dict,
    checkpoint_dir: str,
    sample_path: str | None = None,
    available_now: bool = True,
    on_batch=None,
    stateful_dedup: bool = False,
):
    """readStream over the landing dir -> foreachBatch(process_batch).

    ``available_now=True`` drains everything currently landed and
    stops (the scheduled micro-batch shape); False keeps the query
    live, picking up files as the extractor lands them. ``on_batch``
    (optional) receives (file_date, metrics) per processed file.

    ``stateful_dedup=True`` composes ``streaming_first_seen_dedup``
    between the source and the batch step, keyed on a content hash of
    the raw row (md5 over all CSV fields — the streaming analog of
    P7's canonical event hash): a row replayed in a LATER micro-batch
    (re-landed file, upstream re-send) is dropped in-stream before the
    batch step even runs, with process_batch's anti-join append
    remaining the within-batch/cold-start backstop. State commits
    atomically with each micro-batch in the checkpoint, so the dedup
    is exactly-once-by-key across restarts.

    Returns the StreamingQuery.
    """
    sample = sample_path
    if sample is None:
        csvs = sorted(Path(landing_dir).glob("*.csv"))
        if not csvs:
            raise FileNotFoundError(f"no landed CSVs in {landing_dir}")
        sample = str(csvs[0])
    schema, sep = landing_schema(sample)

    raw = (
        spark.readStream.option("header", True)
        .option("sep", sep)
        .schema(schema)
        .csv(landing_dir)
        .withColumn(_SRC_COL, F.input_file_name())
    )
    if stateful_dedup:
        content_hash = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(f.name), F.lit(""))
                    for f in schema.fields
                ],
            )
        )
        raw = streaming_first_seen_dedup(
            raw.withColumn(_HASH_COL, content_hash),
            key_col=_HASH_COL,
            order_cols=[_SRC_COL],
        )

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.drop(_HASH_COL)
        files = [
            r[_SRC_COL]
            for r in batch_df.select(_SRC_COL).distinct().collect()
        ]
        for src in sorted(files):
            fdate = file_date_from_name(src)
            one = batch_df.filter(F.col(_SRC_COL) == src).drop(_SRC_COL)
            curated = curated_from_raw(one, fdate)
            metrics = process_batch(spark, warehouse, curated, dims)
            if on_batch is not None:
                on_batch(fdate, metrics)

    writer = (
        raw.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        # the stateful dedup operator is declared with append-mode
        # emission semantics; the plain path keeps the update-mode
        # micro-batch shape
        .outputMode("append" if stateful_dedup else "update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str | None = "value",
) -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data
    (§2.9 streaming stretch): tumbling (or sliding, via ``slide``)
    windows over the event timestamp, counts + value sums per window
    and group.

    Late-data contract: rows later than ``watermark`` behind the
    max event time are dropped; in append output mode a window only
    emits once the watermark passes its end, so every emitted row is
    final — the streaming analog of the batch pipeline's "recompute
    the affected day" idempotency (process_batch), with the watermark
    playing the retention window's role.

    Scale design: windowed aggregation state is per (window, group)
    with map-side partial aggregation feeding the state store; the
    watermark bounds state size (expired windows are evicted), which
    is what keeps an always-on stream at a fixed memory footprint
    instead of growing with history.
    """
    win = (
        F.window(F.col(ts_col), window_duration)
        if slide is None
        else F.window(F.col(ts_col), window_duration, slide)
    )
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total_value"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *[F.col(c) for c in group_cols])
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n_events",
            *(["total_value"] if value_col is not None else []),
        )
    )


# AnalysisException error classes that mean "nothing written here
# yet" — the legitimate first-batch states. Anything else (corrupt
# footers surface at scan time as runtime errors; permission problems,
# unreadable schemas, ...) must propagate: a dedup index silently read
# as EMPTY would wave every historical duplicate through.
_BENIGN_MISSING = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_or_empty(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a parquet dir that may not exist yet (first micro-batch);
    fall back to an empty frame with ``like``'s schema. Only the
    missing-path / empty-dir error classes are swallowed.

    mergeSchema=true: sink dirs accumulate one partition per batch
    across UPGRADES, so partitions can disagree on optional columns
    (the embedding index's pre-dim era is the live case — ADVICE r5).
    Without merging, Spark resolves the schema from an arbitrary
    footer: a mixed-era index could read WITHOUT its dim column and
    index_geometry's mixed-geometry guard would never see the modern
    rows' dim to compare. Merged, legacy rows surface as null dim and
    the guard's coalesce/raise logic is reliable."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException as ex:
        probe = getattr(ex, "getCondition", None) or getattr(
            ex, "getErrorClass", lambda: None
        )
        if probe() in _BENIGN_MISSING:
            return spark.createDataFrame([], like.schema)
        raise


def _write_partition(df: DataFrame, root: str, batch_id: int) -> None:
    """Idempotent sink write: overwrite this batch's own partition."""
    df.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")


def _exclude_current(df: DataFrame, batch_id: int) -> DataFrame:
    """Drop the CURRENT batch_id's partitions from a sink read: a
    crash-replayed batch must never dedup against its own partial
    writes (it would flag every survivor as a dup of itself and then
    overwrite the batch with empty data)."""
    if "batch_id" in df.columns:
        return df.filter(F.col("batch_id") != F.lit(batch_id))
    return df


_STREAM_ID_FILE = "_graft_stream_id"


def _read_stamp(path: str) -> tuple[str, str | None]:
    """(stream_id, owning_checkpoint_path_or_None). Sink stamps are
    two lines — id then the owning checkpoint's realpath — so an
    unstamped checkpoint can tell ITS OWN crashed mid-stamping residue
    from another drain's not-yet-written sink (ADVICE r5: with
    id-only stamps those were indistinguishable, and the foreign
    drain's lineage got silently hijacked). Legacy one-line stamps
    return owner=None."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    sid = lines[0].strip() if lines else ""
    owner = lines[1].strip() if len(lines) > 1 and lines[1].strip() else None
    return sid, owner


def _bind_drain_identity(
    checkpoint_dir: str, sink_dirs, optional_sink_dirs=()
) -> None:
    """Driver-side start guard: a checkpoint and its sink dirs must
    belong to the same drain lineage.

    The per-batch guard (:func:`_refuse_checkpoint_reset`) detects a
    reset once sink partition ids run AHEAD of the stream, but a
    history whose max batch_id is 0 slips through — a reset stream
    also starts at batch 0, so the overlap is invisible and the drain
    would silently overwrite the historical batch-0 accepted/index
    partitions. This closes the hole structurally: every drain stamps
    one random id into the checkpoint dir and EVERY sink subdir
    (flags/accepted/exact/bands — per subdir, so wiping just the
    index while keeping the corpus is caught too). On start:

    - fresh checkpoint + any stamped-or-populated sink -> refuse
      (reset against surviving output);
    - stamped checkpoint + missing/mismatched sink stamp -> refuse
      (sink wiped or swapped while the checkpoint remembers
      processed files — the drain would dedup against nothing).

    ``optional_sink_dirs`` are sinks a drain can legitimately turn ON
    mid-lineage (the tokens sink under ``tokenizer_path``): under a
    stamped checkpoint, a missing stamp on a DATA-LESS optional sink
    is late adoption (stamp it now), not a wiped dir — but an
    optional sink WITH batch data and no stamp, or a foreign stamp,
    refuses exactly like a required sink.

    Local-filesystem paths only (the drains' deployment shape here);
    URI-schemed paths (hdfs://, s3://) skip this guard and rely on
    the per-batch id check — stated limitation, not silent."""
    import os
    import uuid

    optional = {str(p) for p in optional_sink_dirs}
    sink_dirs = [*sink_dirs, *optional_sink_dirs]
    paths = [checkpoint_dir, *sink_dirs]
    if any("://" in str(p) for p in paths):
        return
    ckpt_marker = os.path.join(checkpoint_dir, _STREAM_ID_FILE)
    ckpt_id = None
    if os.path.exists(ckpt_marker):
        with open(ckpt_marker, encoding="utf-8") as f:
            ckpt_id = f.read().strip()
    # a checkpoint with real streaming state (offsets log) but no
    # stamp predates the stamping scheme — ADOPT it (stamp everything
    # now) instead of refusing: its sinks were written under its own
    # lineage, and bricking every pre-upgrade drain on restart would
    # be a migration regression. Legacy resets remain covered by the
    # per-batch id check, exactly as before the stamp existed.
    legacy_resume = ckpt_id is None and os.path.isdir(
        os.path.join(checkpoint_dir, "offsets")
    )
    if ckpt_id is None:
        # a sink already stamped by SOME OTHER drain can never belong
        # to an unstamped checkpoint — legacy (pre-stamp) drains never
        # stamped anything, so adopting here would overwrite the
        # owning drain's identity and un-detectably mix two streams.
        # The stamp's owner line makes this decidable BEFORE the owner
        # writes its first batch (ADVICE r5): a stamp owned by a
        # different checkpoint is foreign regardless of batch data; a
        # stamp owned by THIS checkpoint is our own crashed
        # mid-stamping residue, safe to re-stamp. Legacy one-line
        # stamps (no owner) fall back to the data-conditioned check —
        # the pre-upgrade residual hole, closed for every stamp
        # written from now on.
        me = os.path.realpath(checkpoint_dir)
        foreign = []
        for d in sink_dirs:
            m = os.path.join(d, _STREAM_ID_FILE)
            if not os.path.exists(m):
                continue
            _, owner = _read_stamp(m)
            if owner is not None:
                if os.path.realpath(owner) != me:
                    foreign.append(d)
            elif os.path.isdir(d) and any(
                e.startswith("batch_id=") for e in os.listdir(d)
            ):
                foreign.append(d)
        if foreign:
            raise RuntimeError(
                f"checkpoint {checkpoint_dir!r} carries no drain stamp "
                f"but these sink dirs are stamped by another drain: "
                f"{foreign}. Writing into them would mix two streams "
                "and orphan the owner. Use the owning checkpoint, or "
                "fresh out/index dirs."
            )
    if ckpt_id is None and not legacy_resume:
        # only batch partitions count as history worth refusing over:
        # a marker WITHOUT data is the residue of a start that crashed
        # mid-stamping before any batch ran — safe to re-stamp
        stale = [
            d
            for d in sink_dirs
            if os.path.isdir(d)
            and any(e.startswith("batch_id=") for e in os.listdir(d))
        ]
        if stale:
            raise RuntimeError(
                f"fresh streaming checkpoint {checkpoint_dir!r} pointed "
                f"at sink dirs with existing drain output: {stale}. A "
                "reset checkpoint restarts batch ids at 0 and would "
                "overwrite that history. Point checkpoint_dir at the "
                "original checkpoint, or start with fresh out/index "
                "dirs."
            )
    if ckpt_id is None:
        new_id = uuid.uuid4().hex
        os.makedirs(checkpoint_dir, exist_ok=True)
        # sinks first, checkpoint marker LAST: the checkpoint stamp is
        # the commit point, so a crash mid-stamping leaves only
        # data-less sink markers (re-stamped above), never a stamped
        # checkpoint with unstamped sinks that every restart refuses
        for d in sink_dirs:
            os.makedirs(d, exist_ok=True)
            with open(
                os.path.join(d, _STREAM_ID_FILE), "w", encoding="utf-8"
            ) as f:
                # two lines: id + owning checkpoint realpath (see
                # _read_stamp — lets a restart after a crash
                # mid-stamping tell its own residue from a foreign
                # drain's fresh sink)
                f.write(f"{new_id}\n{os.path.realpath(checkpoint_dir)}\n")
        with open(ckpt_marker, "w", encoding="utf-8") as f:
            f.write(new_id)
        return
    bad = []
    for d in sink_dirs:
        m = os.path.join(d, _STREAM_ID_FILE)
        if not os.path.exists(m):
            has_data = os.path.isdir(d) and any(
                e.startswith("batch_id=") for e in os.listdir(d)
            )
            if str(d) in optional and not has_data:
                # optional sink newly ENABLED under an existing drain:
                # no stamp and no data means it never existed — adopt
                # it into this lineage instead of refusing
                os.makedirs(d, exist_ok=True)
                with open(m, "w", encoding="utf-8") as f:
                    f.write(
                        f"{ckpt_id}\n"
                        f"{os.path.realpath(checkpoint_dir)}\n"
                    )
                continue
            bad.append(f"{d} (stamp missing — dir wiped or replaced)")
            continue
        sid, _ = _read_stamp(m)
        if sid != ckpt_id:
            bad.append(f"{d} (stamped by a different drain)")
    if bad:
        raise RuntimeError(
            f"streaming checkpoint {checkpoint_dir!r} does not match "
            f"its sink dirs: {bad}. The checkpoint remembers processed "
            "source files, so continuing would dedup new batches "
            "against missing/foreign output. Restore the original "
            "sinks, or start over with a fresh checkpoint AND fresh "
            "sink dirs."
        )


def _refuse_checkpoint_reset(sinks, batch_id: int) -> None:
    """A genuine crash-replay re-delivers the LATEST batch, so sink
    partitions can only carry ids <= the current one; ids beyond it
    mean the checkpoint was lost/reset while sink dirs survived —
    proceeding would skip dedup against the excluded slice and then
    OVERWRITE historical partitions. ``sinks`` is (path, DataFrame)
    pairs; all are checked so wiping one dir but not another cannot
    slip past. Defense in depth: the structural start-time guard
    (:func:`_bind_drain_identity`) catches resets this runtime check
    cannot (max existing id == current id, e.g. the batch-0 overlap);
    this one still covers URI-schemed sinks the marker files skip."""
    for sink, frame in sinks:
        if "batch_id" not in frame.columns:
            continue
        mx = frame.agg(F.max("batch_id")).first()[0]
        if mx is not None and mx > batch_id:
            raise RuntimeError(
                f"sink {sink} holds batch_id={mx} but this stream is "
                f"only at batch {batch_id}: the streaming checkpoint "
                "was reset against existing output. Point "
                "checkpoint_dir at the original checkpoint, or start "
                "with fresh out/index dirs."
            )


def _resolve_stream_schema(
    spark: SparkSession, src_dir: str, schema: T.StructType | None
) -> T.StructType:
    """Schema for a parquet file stream: explicit, or inferred from
    already-landed files (an empty dir raises with instructions; any
    non-missing read failure propagates). Rejects a ``batch_id``
    column — reserved for the sink partition scheme."""
    if schema is None:
        from pyspark.errors import AnalysisException

        try:
            schema = spark.read.parquet(src_dir).schema
        except AnalysisException as ex:
            probe = getattr(ex, "getCondition", None) or getattr(
                ex, "getErrorClass", lambda: None
            )
            if probe() not in _BENIGN_MISSING:
                raise  # real read failure, not an empty landing dir
            raise ValueError(
                f"{src_dir!r} has no readable parquet yet; pass "
                "schema= to start the drain before the first "
                "snapshot lands"
            ) from ex
    if "batch_id" in schema.fieldNames():
        raise ValueError(
            "input schema may not contain a 'batch_id' column — it "
            "is reserved for the sink partition scheme; rename it "
            "before landing"
        )
    return schema


def start_corpus_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    threshold: float | None = None,
    on_batch=None,
    schema: T.StructType | None = None,
    tokenizer_path: str | None = None,
):
    """Streaming incremental corpus dedup: each micro-batch of newly
    landed document files is flagged against the ever-growing accepted
    corpus via the persistent index (incremental.py), then the
    accepted survivors and their index increment are appended — the
    always-on form of the crawl-snapshot dedup loop.

    Per micro-batch:
    1. within-batch exact dedup (first doc_id per md5 wins — the
       P8/dd1 contract); within-batch NEAR dups are intentionally out
       of scope here (that is the batch dd2/dd4 self-join's job,
       run upstream per snapshot);
    2. cross-corpus flagging through ``incremental_dedup`` against the
       index parquet built by every PRIOR batch — the corpus is never
       rescanned, only candidate doc_ids' text is fetched;
    3. one verdict row per incoming doc lands in ``out_dir/flags``,
       accepted docs in ``out_dir/accepted``, and the accepted rows'
       exact + band index increments in ``index_dir``.

    Restart idempotency: every sink write goes to a
    ``batch_id=<id>`` partition dir with overwrite mode, so a batch
    replayed after a crash (foreachBatch re-delivery) overwrites its
    own partition instead of double-appending; the streaming
    checkpoint guarantees each landed file is delivered in exactly one
    batch_id. Crucially, every read inside the batch EXCLUDES the
    current batch_id's partitions: a replayed batch would otherwise
    see its own crashed attempt's index rows, flag every survivor as
    an exact dup of itself, and overwrite its accepted/index
    partitions with empty data — permanent loss dressed as dedup.
    The converse hazard — a LOST/RESET checkpoint pointed at surviving
    sink dirs, which restarts batch ids at 0 — is detected (sink
    partitions with ids beyond the stream's progress) and refused
    before anything is overwritten.

    ``schema`` (optional StructType) lets the drain start on a
    still-empty ``docs_dir`` (the always-on deployment); without it
    the schema is inferred from the files already landed, and an
    empty dir raises with instructions.

    ``tokenizer_path`` (optional, VERDICT r7 #4's load-path applied to
    the drain): a `save_tokenizer` artifact from a prior corpus-curate
    run. Each batch's accepted survivors are additionally encoded
    UNDER THE FROZEN TABLE (bpe_encode_ids — one zero-exchange Arrow
    scan per batch) into ``out_dir/tokens`` as (doc_id, token_ids,
    n_bpe_tokens), batch-partitioned with the same overwrite
    idempotency as every other sink. The accepted sink's schema stays
    untouched (the dedup loop reads it back every batch); trainers
    join tokens on doc_id knowing the id space is IDENTICAL to the
    curate run that trained the artifact — hash-verifiable via
    tokenizer_sha256.

    Returns the StreamingQuery.
    """
    from .incremental import (
        NEAR_DUP_THRESHOLD,
        exact_hash_index,
        incremental_dedup,
        minhash_band_index,
    )

    thr = NEAR_DUP_THRESHOLD if threshold is None else threshold
    tok = None
    if tokenizer_path is not None:
        from .operators.bpe import load_tokenizer

        tok = load_tokenizer(tokenizer_path)  # load ONCE, never retrain
    schema = _resolve_stream_schema(spark, docs_dir, schema)
    tokens_dir = f"{out_dir}/tokens"
    if tok is None and os.path.isdir(tokens_dir) and any(
        e.startswith("batch_id=") for e in os.listdir(tokens_dir)
    ):
        # the drain previously wrote tokens; running WITHOUT the
        # tokenizer leaves that sink stale while accepted keeps
        # growing — loud, because a trainer joining tokens on doc_id
        # would silently miss every new batch
        log.warning(
            "corpus drain started without tokenizer_path but %s has "
            "token history — it will NOT be updated this run; pass "
            "tokenizer_path to keep encoding accepted batches",
            tokens_dir,
        )
    _bind_drain_identity(
        checkpoint_dir,
        (
            f"{out_dir}/flags",
            f"{out_dir}/accepted",
            f"{index_dir}/exact",
            f"{index_dir}/bands",
        ),
        optional_sink_dirs=(tokens_dir,) if tok is not None else (),
    )
    src = spark.readStream.schema(schema).parquet(docs_dir)
    empty_docs = spark.createDataFrame([], schema)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        h = batch.withColumn("__th", F.md5("text"))
        first = h.groupBy("__th").agg(F.min("doc_id").alias("__first_id"))
        j = h.join(first, "__th")
        intra = j.filter(F.col("doc_id") != F.col("__first_id")).select(
            "doc_id",
            F.lit("exact").alias("dup_kind"),
            F.col("__first_id").alias("dup_of"),
            F.lit(None).cast("double").alias("jaccard"),
        )
        uniq = (
            j.filter(F.col("doc_id") == F.col("__first_id"))
            .drop("__th", "__first_id")
            .localCheckpoint(eager=True)
        )

        accepted_all = _read_or_empty(
            spark, f"{out_dir}/accepted", empty_docs
        )
        ei_all = _read_or_empty(
            spark, f"{index_dir}/exact", exact_hash_index(empty_docs)
        )
        bi_all = _read_or_empty(
            spark, f"{index_dir}/bands", minhash_band_index(empty_docs)
        )
        _refuse_checkpoint_reset(
            (
                (f"{out_dir}/accepted", accepted_all),
                (f"{index_dir}/exact", ei_all),
                (f"{index_dir}/bands", bi_all),
            ),
            batch_id,
        )
        accepted = _exclude_current(accepted_all, batch_id)
        ei = _exclude_current(ei_all, batch_id)
        bi = _exclude_current(bi_all, batch_id)
        verdicts = incremental_dedup(
            uniq, accepted, exact_index=ei, band_index=bi, threshold=thr
        ).localCheckpoint(eager=True)

        survivors = uniq.join(
            verdicts.filter(F.col("dup_kind").isNotNull()).select("doc_id"),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        _write_partition(
            verdicts.unionByName(intra), f"{out_dir}/flags", batch_id
        )
        _write_partition(survivors, f"{out_dir}/accepted", batch_id)
        _write_partition(
            exact_hash_index(survivors), f"{index_dir}/exact", batch_id
        )
        _write_partition(
            minhash_band_index(survivors), f"{index_dir}/bands", batch_id
        )
        if tok is not None:
            from .operators.bpe import bpe_encode_ids

            _write_partition(
                bpe_encode_ids(
                    survivors.select("doc_id", "text"), *tok
                ),
                f"{out_dir}/tokens",
                batch_id,
            )
        if on_batch is not None:
            on_batch(
                batch_id,
                {
                    "n_in": batch.count(),
                    "n_accepted": survivors.count(),
                },
            )

    writer = (
        src.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_embedding_dedup_stream(
    spark: SparkSession,
    vecs_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    threshold: float | None = None,
    on_batch=None,
    schema: T.StructType | None = None,
):
    """Embedding twin of :func:`start_corpus_dedup_stream`: micro-
    batches of landed embedding snapshots (vec_id, embedding, ...)
    are flagged against the accepted vector corpus via the persistent
    sign-LSH band index, survivors + their index increment appended.

    The LSH geometry is read from the existing index each batch (see
    embedding_band_index: buckets are only comparable under the
    geometry they were built at), so the index stays self-consistent
    as the corpus grows; only the FIRST batch auto-tunes. Identical
    in-batch vectors dedup first (lowest vec_id wins, recorded at
    sim 1.0). Same idempotency contract as the text drain: per-
    batch_id overwrite sinks, current-batch exclusion on reads, and
    checkpoint-reset refusal.
    """
    from .incremental import (
        EMB_NEAR_DUP_THRESHOLD,
        embedding_band_index,
        incremental_embedding_neardup,
    )

    thr = EMB_NEAR_DUP_THRESHOLD if threshold is None else threshold
    schema = _resolve_stream_schema(spark, vecs_dir, schema)
    _bind_drain_identity(
        checkpoint_dir,
        (f"{out_dir}/flags", f"{out_dir}/accepted", f"{index_dir}/bands"),
    )
    src = spark.readStream.schema(schema).parquet(vecs_dir)
    empty_vecs = spark.createDataFrame([], schema)
    # per-drain geometry memo (see the probe comment in run_batch)
    geom_cache: dict = {}

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        h = batch.withColumn("__vh", F.xxhash64("embedding"))
        first = h.groupBy("__vh").agg(F.min("vec_id").alias("__first_id"))
        j = h.join(first, "__vh")
        intra = j.filter(F.col("vec_id") != F.col("__first_id")).select(
            "vec_id",
            F.col("__first_id").alias("dup_of"),
            F.lit(1.0).alias("sim"),
        )
        uniq = (
            j.filter(F.col("vec_id") == F.col("__first_id"))
            .drop("__vh", "__first_id")
            .localCheckpoint(eager=True)
        )

        accepted_all = _read_or_empty(
            spark, f"{out_dir}/accepted", empty_vecs
        )
        bi_all = _read_or_empty(
            spark, f"{index_dir}/bands", embedding_band_index(empty_vecs)
        )
        _refuse_checkpoint_reset(
            (
                (f"{out_dir}/accepted", accepted_all),
                (f"{index_dir}/bands", bi_all),
            ),
            batch_id,
        )
        accepted = _exclude_current(accepted_all, batch_id)
        bi = _exclude_current(bi_all, batch_id)
        # probe the index's recorded geometry ONCE per drain, cached
        # across batches (ADVICE-r5-follow-up: the probe aggregates
        # the distinct-geometry set over the whole index, so paying
        # it per batch grows linearly with index size for three
        # constants that CANNOT change once set — the index writer
        # always re-records the learned geometry and mismatches are
        # refused). Only while the index is still empty (geom None)
        # does the next batch re-probe. On batch 0 a dim=None triple
        # is passed down — "index empty, band the batch at its own
        # dim" — so the dedup call never re-probes the index itself.
        from .incremental import index_geometry

        geom = geom_cache.get("geom")
        if geom is None:
            geom = index_geometry(bi)
            geom_cache["geom"] = geom
        if geom is None:
            from .suite.llmdata import _dd6_geometry

            probe_geometry = (*_dd6_geometry(0), None)
            geometry = dim = None
        else:
            probe_geometry = geom
            geometry, dim = (geom[0], geom[1]), geom[2]
        verdicts = incremental_embedding_neardup(
            uniq,
            accepted,
            index=bi,
            threshold=thr,
            geometry=probe_geometry,
        ).localCheckpoint(eager=True)

        survivors = uniq.join(
            verdicts.filter(F.col("dup_of").isNotNull()).select("vec_id"),
            "vec_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        _write_partition(
            verdicts.unionByName(intra), f"{out_dir}/flags", batch_id
        )
        _write_partition(survivors, f"{out_dir}/accepted", batch_id)
        _write_partition(
            embedding_band_index(survivors, geometry=geometry, dim=dim),
            f"{index_dir}/bands",
            batch_id,
        )
        if on_batch is not None:
            on_batch(
                batch_id,
                {"n_in": batch.count(), "n_accepted": survivors.count()},
            )

    writer = (
        src.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_first_seen_dedup(
    stream_df: DataFrame,
    key_col: str = "event_hash",
    order_cols: list[str] | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Cross-batch first-row-per-key dedup as a custom stateful
    streaming operator (P8's semantics — transform.py first-row-per-
    hash, reference sql/enrich dedup — lifted from per-file batch to a
    continuous stream via ``applyInPandasWithState``).

    A key's first-ever row is emitted; every later row with the same
    key — in the same micro-batch or any later one — is dropped. State
    per key is one boolean in Spark's state store, hash-partitioned by
    key (uniform, skew-free) and persisted in the streaming checkpoint,
    so dedup survives query restarts. ``state_ttl_ms`` bounds the store
    at scale: a key idle past the TTL is forgotten (a dup arriving
    later re-emits), which is exactly the reference's retention-window
    idempotency contract — size the TTL to the landing retention.
    ``order_cols`` makes the within-batch "first" deterministic when
    one micro-batch carries several rows of a new key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream_df.schema
    state_schema = T.StructType(
        [T.StructField("seen", T.BooleanType(), False)]
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms
        else GroupStateTimeout.NoTimeout
    )
    ocols = list(order_cols or [])

    def first_seen(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        already = state.exists
        cands = []
        for pdf in pdfs:
            if already or len(pdf) == 0:
                continue
            cands.append(
                pdf.sort_values(ocols).iloc[[0]] if ocols else pdf.iloc[[0]]
            )
        if not already:
            state.update((True,))
        if state_ttl_ms:
            # per-invocation contract: the timeout clock must be re-armed
            # every time the function runs for a key
            state.setTimeoutDuration(state_ttl_ms)
        if cands:
            allc = pd.concat(cands, ignore_index=True)
            yield (
                allc.sort_values(ocols).iloc[[0]] if ocols else allc.iloc[[0]]
            )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        first_seen, out_schema, state_schema, "append", timeout
    )


def start_quality_gate_stream(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights,
    intercept: float,
    threshold: float = 0.0,
    available_now: bool = True,
    on_batch=None,
    schema: T.StructType | None = None,
):
    """Always-on quality gating under a TRAINED hashed-linear model
    (operators/classifier.py — the tx10 artifact): each micro-batch
    of newly landed document files is scored map-side and routed —
    accepted docs to ``out_dir/accepted``, rejected to
    ``out_dir/rejected``, one verdict row per doc (logit + decision)
    to ``out_dir/scores``.

    The gate is STATELESS across batches (scoring needs no history),
    which makes this the simplest member of the drain family — but
    the delivery contract is identical to the dedup drains: per-batch
    ``batch_id=<id>`` overwrite partitions (crash replays overwrite
    their own partition, never double-append), the two-line identity
    stamp binding checkpoint to sinks, and the checkpoint-reset
    refusal (a reset restarts ids at 0 and would OVERWRITE historical
    partitions with new data — refused before anything is written;
    statelessness protects correctness of SCORES, not of the sink
    history).

    Scale: the D-row weight table rides each batch's plan as a
    broadcast local relation (hashed_linear_logits — zero UDF, zero
    SortMergeJoin); per-batch cost is one scan of the batch. The
    model is pinned at start time — rolling a retrained model means
    starting a new drain over a new out_dir, never mutating a running
    one (scores must be attributable to one model version).

    Returns the StreamingQuery.
    """
    from .operators.classifier import hashed_linear_logits

    schema = _resolve_stream_schema(spark, docs_dir, schema)
    if "doc_id" not in schema.fieldNames() or "text" not in schema.fieldNames():
        raise ValueError(
            "quality gate input needs doc_id and text columns; got "
            f"{schema.fieldNames()}"
        )
    _bind_drain_identity(
        checkpoint_dir,
        (
            f"{out_dir}/scores",
            f"{out_dir}/accepted",
            f"{out_dir}/rejected",
        ),
    )
    src = spark.readStream.schema(schema).parquet(docs_dir)
    empty_docs = spark.createDataFrame([], schema)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        scores_all = _read_or_empty(
            spark,
            f"{out_dir}/scores",
            spark.createDataFrame(
                [], "doc_id long, logit double, accepted boolean"
            ),
        )
        acc_all = _read_or_empty(spark, f"{out_dir}/accepted", empty_docs)
        _refuse_checkpoint_reset(
            (
                (f"{out_dir}/scores", scores_all),
                (f"{out_dir}/accepted", acc_all),
            ),
            batch_id,
        )
        verdicts = (
            hashed_linear_logits(
                batch.select("doc_id", "text"), weights, intercept
            )
            .withColumn("accepted", F.col("logit") >= F.lit(threshold))
            .localCheckpoint(eager=True)
        )
        keep = batch.join(
            verdicts.filter("accepted").select("doc_id"), "doc_id", "left_semi"
        )
        drop = batch.join(
            verdicts.filter("accepted").select("doc_id"), "doc_id", "left_anti"
        )
        _write_partition(verdicts, f"{out_dir}/scores", batch_id)
        _write_partition(keep, f"{out_dir}/accepted", batch_id)
        _write_partition(drop, f"{out_dir}/rejected", batch_id)
        if on_batch is not None:
            on_batch(
                batch_id,
                {
                    "n_in": batch.count(),
                    "n_accepted": keep.count(),
                },
            )

    writer = (
        src.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
