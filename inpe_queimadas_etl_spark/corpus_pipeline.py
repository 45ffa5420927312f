"""End-to-end training-corpus materialization: one pass from a
``documents.parquet`` table to a packed, split-partitioned, sharded
parquet export.

The operators are oracle-checked one by one (corpus_ops.py); this
module composes them, sharing the expensive intermediates:

1. **dd7 labels once**: the near-dup component labeling is the most
   expensive stage, and curation, the split and the manifest all read
   it. The labels are computed once and localCheckpointed.
2. **Curation** (``curation_decisions``): the quality gate, the
   language heuristic and one keeper per near-dup cluster, with a
   per-row drop_reason.
3. **Repetition gate** (``repetition_stats``): Gopher-style top-word
   and duplicate-3-gram flags, map-side. Then the optional gates, each
   off by default: (3a) eval-set decontamination by 3-word shingles,
   exact 13-token substrings or both, (3b) PII redaction and (3c) the
   duplicate-span scrub.
4. **Mixture** (operators/mixture.py, optional): weighted
   water-filling downsampling under an optional token budget. It runs
   only when weights, a temperature or a budget are given, so the
   default materialization never downsamples.
5. **Split** (``split_from_clusters``, or ``split_from_content``):
   train/validation/test closed over the shared dd7 labels, so a
   near-dup pair never straddles eval and train.
6. **Packing** (``pack_doc_assignments``): whitespace-token budget
   pack ids within (split, lang, shard).
7. **Export** (export.py): parquet partitioned by split, shard-count
   and shard-size bounded, optionally with the materialized packs,
   plus a ``_manifest.json`` with per-stage counts and per-split
   token mass.

Scale shape: two corpus-sized shuffles (dd7's banding join and the
packing window; curation's cluster window rides dd7's partitioning);
everything else is scan-shaped or K-row driver math. The audit
aggregates are small extra jobs over already-computed frames, the
price of a manifest, paid once per materialization.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .export import export_sharded_parquet
from .operators.mixture import mixture_resample
from .session import load_table
from .corpus_ops import (
    curation_decisions,
    dd7_dedup_clusters,
    decontamination_report,
    pack_doc_assignments,
    repetition_stats,
    split_from_clusters,
    split_from_content,
)


def run_corpus_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    *,
    eval_dir: str | None = None,
    weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    split_bounds: tuple[float, float] = (0.8, 0.9),
    pack_budget: int = 512,
    pack_shards: int = 8,
    n_shards: int | None = None,
    max_records_per_file: int | None = 100_000,
    write_packs: bool = False,
    split_by: str = "clusters",
    scrub_spans: bool = False,
    mixture_temperature: float | None = None,
    scrub_pii: bool = False,
    decontaminate_by: str = "shingles",
) -> dict:
    """Materialize ``corpus_dir/documents.parquet`` into
    ``out_dir/corpus`` (parquet, partitioned by split) and return the
    audit manifest (also written to ``out_dir/_manifest.json``).

    Output rows carry the full document plus its lineage: cluster_id,
    split, shard, pack_id, tokens. Every decision is deterministic
    (content/cluster hashes, not rand), so re-running over the same
    input reproduces the same corpus byte for byte."""
    # validate the cheap parameters BEFORE the expensive stages: a
    # malformed bounds tuple or weight vector failing only at stage
    # 4/5 would waste the dd7 + curation cost (minutes to hours at
    # cluster scale) on an error knowable at entry
    lo, hi = split_bounds
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(
            f"split_bounds must satisfy 0<=lo<=hi<=1: {split_bounds}"
        )
    if split_by not in ("clusters", "content"):
        raise ValueError(
            f"split_by must be 'clusters' or 'content', got {split_by!r}"
        )
    if decontaminate_by not in ("shingles", "substrings", "both"):
        raise ValueError(
            "decontaminate_by must be 'shingles', 'substrings', or "
            f"'both', got {decontaminate_by!r}"
        )
    if weights is not None:
        if any(v < 0 for v in weights.values()):
            raise ValueError(f"negative mixture weight in {weights}")
        if not any(v > 0 for v in weights.values()):
            raise ValueError("weights must contain a positive entry")
    if mixture_temperature is not None:
        if weights is not None:
            raise ValueError(
                "pass weights OR mixture_temperature, not both"
            )
        if mixture_temperature < 0:
            raise ValueError(
                f"mixture_temperature must be >= 0: {mixture_temperature}"
            )
    if token_budget is not None and token_budget < 0:
        raise ValueError(f"negative token_budget {token_budget}")
    documents = os.path.join(corpus_dir, "documents.parquet")
    if not os.path.exists(documents):
        raise ValueError(f"corpus dir has no documents table: {documents}")
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, corpus_dir, "documents")

    # stage 1: near-dup component labels, computed once and shared
    labels = dd7_dedup_clusters(spark, corpus_dir).localCheckpoint(
        eager=True
    )

    # stage 2+3: curation decisions + repetition gate
    decisions = curation_decisions(docs, labels)
    rep = repetition_stats(docs).select("doc_id", "repetitive")
    kept = (
        decisions.filter(F.col("keep"))
        .join(rep, "doc_id", "left")
        .filter(~F.coalesce("repetitive", F.lit(False)))
        .select("doc_id")
    )
    survivors = docs.join(kept, "doc_id", "left_semi")

    # stage 3a (optional): benchmark decontamination — drop any doc
    # leaking eval content, by the selected tier(s): "shingles"
    # (cur2 semantics, ANY shared 3-word shingle — recall-heavy),
    # "substrings" (cur10 semantics, exact >= 13-token overlap — the
    # GPT-3 standard, precision-heavy), or "both" (union of flags).
    # Eval sets are tiny, so every eval side broadcasts.
    n_contaminated = 0
    if eval_dir is not None:
        from .corpus_ops import substring_contamination

        eval_docs = load_table(spark, eval_dir, "documents")
        flagged = []
        if decontaminate_by in ("shingles", "both"):
            flagged.append(
                decontamination_report(survivors, eval_docs)
                .filter(F.col("contaminated"))
                .select("doc_id")
            )
        if decontaminate_by in ("substrings", "both"):
            flagged.append(
                substring_contamination(
                    survivors.select("doc_id", "text"),
                    eval_docs.select("doc_id", "text"),
                )
                .filter(F.col("contaminated"))
                .select("doc_id")
            )
        contam = flagged[0]
        for extra in flagged[1:]:
            contam = contam.unionByName(extra)
        contam = contam.distinct().localCheckpoint(eager=True)
        n_contaminated = contam.count()
        survivors = survivors.join(contam, "doc_id", "left_anti")

    # stage 3b (optional): PII redaction (tx5 semantics, applying
    # form): emails/phones replaced with placeholders IN the surviving
    # text, before any stage that reads or counts tokens. Scan-shaped
    # JVM regexes, zero shuffle; off by default — rewriting text is a
    # destructive choice the user must ask for (the span-scrub
    # stance).
    pii_stats = {"enabled": False, "docs_redacted": 0, "matches": 0}
    if scrub_pii:
        from .corpus_ops import pii_redact

        red = pii_redact(survivors.select("doc_id", "text")).localCheckpoint(
            eager=True
        )
        prow = red.agg(
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs"),
            F.sum("n_pii").alias("matches"),
        ).first()
        pii_stats = {
            "enabled": True,
            "docs_redacted": int(prow["docs"] or 0),
            "matches": int(prow["matches"] or 0),
        }
        survivors = (
            survivors.drop("text", "n_chars")
            .join(red.select("doc_id", "text"), "doc_id")
            .withColumn("n_chars", F.length("text").cast("long"))
        )

    # stage 3c (optional): unaligned duplicate-span scrub (dd10/dd11
    # semantics) over the CURATED survivors — whole-doc dedup already
    # removed exact/near duplicate documents above; this removes
    # repeated RUNS (boilerplate, licence blocks, navigation chrome)
    # that survive inside otherwise-distinct documents. Runs BEFORE
    # mixture and packing so their token accounting sees the scrubbed
    # text. Off by default: rewriting text is a destructive choice
    # the user must ask for (the same stance as mixture).
    scrub_stats = {"enabled": False, "docs_scrubbed": 0, "tokens_removed": 0}
    if scrub_spans:
        from .corpus_ops import duplicate_spans, remove_duplicate_spans

        spans = duplicate_spans(survivors).localCheckpoint(eager=True)
        # checkpoint the rewrite too: the stats agg, the mixture
        # count, and the split/pack/export all consume it, and an
        # unmaterialized scrub would re-run the span join + per-token
        # array filter (and the whole curation lineage above it) per
        # consumer
        scrubbed = remove_duplicate_spans(
            survivors, spans
        ).localCheckpoint(eager=True)
        srow = scrubbed.agg(
            F.sum(
                (F.col("n_tokens_removed") > 0).cast("long")
            ).alias("docs"),
            F.sum("n_tokens_removed").alias("toks"),
        ).first()
        scrub_stats = {
            "enabled": True,
            "docs_scrubbed": int(srow["docs"] or 0),
            "tokens_removed": int(srow["toks"] or 0),
        }
        survivors = (
            survivors.drop("text", "n_chars")
            .join(
                scrubbed.select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
            .withColumn("n_chars", F.length("text").cast("long"))
        )

    # stage 4 (optional): mixture downsampling. Runs ONLY when the
    # caller asked for a mixture (weights) or a cap (token_budget) —
    # the uniform cur5 default would downsample every source to the
    # scarcest one's mass, which on a skewed corpus silently discards
    # almost everything; a curation run must not destroy data the
    # user never asked to rebalance
    if (
        weights is not None
        or token_budget is not None
        or mixture_temperature is not None
    ):
        mix = mixture_resample(
            survivors,
            weights=weights,
            token_budget=token_budget,
            temperature=mixture_temperature,
        )
        sampled = survivors.join(
            mix.filter(F.col("keep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        mix_row = mix.agg(
            F.count("*").alias("n_in"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        ).first()
        mix_stats = {
            "in": mix_row["n_in"],
            "kept": int(mix_row["n_kept"] or 0),
            "weights": weights,
            "temperature": mixture_temperature,
            "token_budget": token_budget,
            "skipped": False,
        }
    else:
        sampled = survivors
        n_surv = survivors.count()
        mix_stats = {
            "in": n_surv,
            "kept": n_surv,
            "weights": None,
            "temperature": None,
            "token_budget": None,
            "skipped": True,
        }

    # stage 5: the split. Default "clusters" = near-dup-closed over
    # the SHARED labels (a near-dup pair can never straddle eval and
    # train); "content" = the cheaper exact-dup-closed content-hash
    # assignment (cur6 semantics) for corpora that arrive ALREADY
    # near-dup-deduped — there the closure has nothing left to close
    # and the content hash skips the label join entirely. cluster_id
    # lineage is carried in both modes (labels exist either way — the
    # curation stage already paid for them).
    if split_by == "clusters":
        split = split_from_clusters(labels, bounds=split_bounds).select(
            "doc_id", "cluster_id", "split"
        )
        final = sampled.join(split, "doc_id")
    else:
        split = split_from_content(sampled, bounds=split_bounds).select(
            "doc_id", "split"
        )
        final = sampled.join(split, "doc_id").join(
            labels.select("doc_id", "cluster_id"), "doc_id"
        )

    # stage 6: pack assignment within (split, lang, shard)
    packed = pack_doc_assignments(
        final,
        budget=pack_budget,
        shards=pack_shards,
        group_cols=("split", "lang"),
    ).select("doc_id", "shard", "tokens", "pack_id")
    out = final.join(packed, "doc_id")

    # stage 7: export, partitioned by split, ordered so each pack's
    # docs are contiguous within a shard file. pack_id is only unique
    # within (split, lang, shard), so lang MUST be in the sort key —
    # without it, same-numbered packs of different langs interleave
    # and a contiguity-based consumer would merge them. split leads
    # the key because the dynamic-partition writer re-sorts each task
    # by the partition column unless the data already arrives ordered
    # by it — a trailing split would silently shuffle pack runs apart
    corpus_path = os.path.join(out_dir, "corpus")
    export_sharded_parquet(
        out,
        corpus_path,
        n_shards=n_shards,
        max_records_per_file=max_records_per_file,
        order_cols=["split", "shard", "lang", "pack_id", "doc_id"],
        partition_cols=["split"],
    )

    # stage 7b (optional): materialized packs — one row per training
    # sequence, member texts concatenated in doc_id order — the frame
    # a trainer reads directly (operators/packing.py; add an epoch
    # order with with_epoch_order at read time)
    if write_packs:
        from .operators.packing import materialize_packs

        export_sharded_parquet(
            materialize_packs(out),
            os.path.join(out_dir, "packs"),
            n_shards=n_shards,
            max_records_per_file=max_records_per_file,
            order_cols=["split", "lang", "shard", "pack_id"],
            partition_cols=["split"],
        )

    # audit manifest: per-stage counts + per-split mass
    drop_counts = {
        (r["drop_reason"] or "kept"): r["n"]
        for r in decisions.groupBy("drop_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    from pyspark.errors import AnalysisException

    try:
        written = spark.read.parquet(corpus_path)
        per_split = {
            r["split"]: {"docs": r["docs"], "tokens": r["tokens"]}
            for r in written.groupBy("split")
            .agg(
                F.count("*").alias("docs"),
                F.sum("tokens").alias("tokens"),
            )
            .collect()
        }
    except AnalysisException as ex:
        probe = getattr(ex, "getCondition", None) or getattr(
            ex, "getErrorClass", lambda: None
        )
        if probe() not in ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"):
            raise  # a real read failure must not masquerade as empty
        # every doc dropped (e.g. a corpus that fails the language
        # gate entirely): the export wrote no readable parquet —
        # record empty splits instead of crashing after the fact,
        # so the manifest still explains WHERE the corpus died
        per_split = {}
    manifest = {
        "input_docs": docs.count(),
        "curation": drop_counts,
        "repetition_dropped": int(
            drop_counts.get("kept", 0)
            - n_contaminated
            - mix_stats["in"]
        ),
        "contaminated_dropped": n_contaminated,
        "decontaminate_by": decontaminate_by if eval_dir else None,
        "pii_scrub": pii_stats,
        "mixture": mix_stats,
        "span_scrub": scrub_stats,
        "split_by": split_by,
        "splits": per_split,
        "pack_budget": pack_budget,
        "pack_shards": pack_shards,
        "output": corpus_path,
    }
    with open(
        os.path.join(out_dir, "_manifest.json"), "w", encoding="utf-8"
    ) as f:
        json.dump(manifest, f, indent=2, default=str)
    return manifest
