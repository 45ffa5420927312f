"""Pack materialization and epoch ordering: the last mile between a
packed corpus (corpus_ops.pack_doc_assignments / corpus_pipeline)
and a trainer's input stream.

- :func:`materialize_packs` turns per-doc pack assignments into one
  row per pack with the member texts concatenated in deterministic
  doc_id order — the actual training sequence, plus its token/doc
  accounting.
- :func:`with_epoch_order` adds a deterministic pseudo-random sort
  key per epoch, so each training epoch reads the packs in a
  different — but exactly reproducible — order without ever
  materializing a permutation driver-side. Write the frame with
  ``export_sharded_parquet(order_cols=["epoch_order"])`` and the
  shards come out range-clustered in that epoch's order.

Scale design: materialization is ONE groupBy on (split, lang, shard,
pack_id) — the same keys the packing window already partitioned by,
so at cluster scale the exchange reuses the window's shuffle; packs
are token-budget-bounded (a few docs each), so collect_list per group
is O(budget), never a skew risk. The epoch key is a scan-shaped
xxhash projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_KEYS = ("split", "lang", "shard", "pack_id")


def materialize_packs(
    assigned_docs: DataFrame,
    *,
    sep: str = "\n\n",
    keys: tuple[str, ...] = PACK_KEYS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str = "tokens",
) -> DataFrame:
    """One row per pack: ``(*keys, n_docs, total_tokens, doc_ids,
    member_tokens, token_offsets, text)`` with member texts joined by
    ``sep`` in ascending ``id_col`` order (array_sort on a (id, text)
    struct — no window, no second shuffle beyond the groupBy itself).
    A NULL text contributes an empty member (coalesce to '') rather
    than being silently skipped — Spark's array_join drops null
    elements, which would leave n_docs/doc_ids/total_tokens counting
    a document the emitted sequence no longer contains.

    ``token_offsets`` is the EXCLUSIVE prefix sum of member_tokens —
    where each member starts in the packed token stream — the
    boundary list a trainer needs for document-level attention /
    loss masks over packed sequences. Computed in-row (HOF prefix
    sum; packs hold a handful of members by construction, so the
    quadratic slice cost is bounded by the pack budget)."""
    member = F.struct(
        F.col(id_col).alias("i"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        F.col(tokens_col).cast("long").alias("k"),
    )
    out = (
        assigned_docs.groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(tokens_col).cast("long").alias("total_tokens"),
            F.array_sort(F.collect_list(member)).alias("ms"),
        )
        .select(
            *keys,
            "n_docs",
            "total_tokens",
            F.expr("transform(ms, x -> x.i)").alias("doc_ids"),
            F.expr("transform(ms, x -> x.k)").alias("member_tokens"),
            F.expr(
                "transform(ms, (x, j) -> aggregate(slice(ms, 1, j),"
                " cast(0 as long), (a, y) -> a + y.k))"
            ).alias("token_offsets"),
            F.array_join(F.expr("transform(ms, x -> x.t)"), sep).alias(
                "text"
            ),
        )
    )
    return out


def with_epoch_order(
    packs: DataFrame,
    epoch: int,
    *,
    keys: tuple[str, ...] = PACK_KEYS,
) -> DataFrame:
    """Add an ``epoch`` column and an ``epoch_order`` sort key:
    xxhash64 of (epoch, *keys). Sorting by it yields a uniform
    pseudo-random pack order that is (a) different every epoch,
    (b) byte-reproducible for a given epoch, and (c) computed
    scan-side — no driver-held permutation, no shuffle until the
    consumer orders by it (range-partition on write, or a sort the
    trainer's reader does per shard)."""
    return packs.withColumn("epoch", F.lit(int(epoch))).withColumn(
        "epoch_order",
        F.xxhash64(F.lit(int(epoch)), *[F.col(k) for k in keys]),
    )
