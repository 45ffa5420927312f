"""Domain-mixture resampling: downsample a corpus to a target mixture
of sources under an optional token budget.

This is the parameterized, library-grade form of cur5 (uniform
weights, no budget — see tests/corpus_oracles.py, whose DuckDB oracle
pins the shared semantics).
Training-data pipelines rarely want uniform: they want "30 % web,
30 % code, 20 % books, 20 % academic, capped at 2T tokens". That is a
WEIGHTED target with a BUDGET, and because upsampling is out of scope
(repeating documents is a dedup regression), the feasible allocation
is water-filling: sources whose proportional share exceeds their
actual token mass saturate (keep everything, rate 1.0) and their
unmet share is redistributed over the remaining sources by weight,
iterating until no source overflows — at most K rounds for K sources.

Scale design: the only corpus-sized work is one map-side-partial
aggregate (per-source token counts — K rows out) and one scan-shaped
keep projection; the water-filling runs driver-side over those K rows
(K = number of sources, tens at most — this is exactly the kind of
K-row decision that belongs on the driver, not in a distributed
plan), and the resulting rate table broadcasts back. No corpus
shuffle anywhere; the keep decision is a salted deterministic hash,
reproducible across runs, clusters, and partition layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mixture_rates(
    tokens: dict[str, int],
    weights: dict[str, float] | None = None,
    token_budget: int | None = None,
) -> dict[str, float]:
    """Per-source Bernoulli keep rates hitting the target mixture.

    ``tokens`` maps source -> available token mass; ``weights`` maps
    source -> target proportion (missing sources get weight 0 and are
    dropped; None means uniform over the sources present);
    ``token_budget`` caps total kept tokens (None = the largest
    budget at which no source needs upsampling, i.e. min_s T_s/w_s —
    the exact-proportion regime cur5 uses).

    Expected kept tokens are proportional to weights wherever
    feasible; a source too small for its share saturates at rate 1.0
    and the shortfall is redistributed over the others by weight
    (water-filling). Rates are in [0, 1] always.
    """
    if not tokens:
        return {}
    if weights is None:
        weights = {s: 1.0 for s in tokens}
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"negative mixture weight in {weights}")
    # weights stay UNNORMALIZED: the water-filling only uses weight
    # RATIOS, and skipping the 1/sum division keeps the uniform
    # no-budget case bit-identical to cur5's in-plan min_T/T_s
    # (normalizing through an inexact 1/K would perturb the rates by
    # ULPs and flip hash-threshold keep decisions near the boundary)
    w = {s: float(weights.get(s, 0.0)) for s in tokens}
    wsum = sum(w.values())
    if wsum <= 0:
        raise ValueError("no positive weight for any present source")

    weighted_sources = {s for s in tokens if w[s] > 0 and tokens[s] > 0}
    total_weighted = sum(tokens[s] for s in weighted_sources)
    # largest budget needing no upsampling: min_s T_s/w_s per unit
    # weight, scaled back to tokens by the total weight. In exact
    # arithmetic this is <= total_weighted (a min is bounded by the
    # weighted mean), so the clamp is a no-op — it only guards the
    # float overflow of T/w under absurdly small weights
    feasible = min(
        min((tokens[s] / w[s] for s in weighted_sources), default=0.0)
        * wsum,
        float(total_weighted),
    )
    if token_budget is None:
        budget = feasible
    else:
        if token_budget < 0:
            raise ValueError(f"negative token_budget {token_budget}")
        budget = min(float(token_budget), float(total_weighted))

    rates: dict[str, float] = {}
    active = set(weighted_sources)
    remaining = budget
    while active and remaining > 0:
        wa = sum(w[s] for s in active)
        overfull = [
            s for s in active if remaining * w[s] / wa >= tokens[s]
        ]
        if not overfull:
            for s in active:
                rates[s] = (remaining * w[s] / wa) / tokens[s]
            break
        # saturated sources keep everything; their unmet share
        # redistributes over the rest next round
        for s in overfull:
            rates[s] = 1.0
            remaining -= tokens[s]
            active.discard(s)
    for s in tokens:
        rates.setdefault(s, 0.0)
    return rates


def temperature_weights(
    tokens: dict[str, int], alpha: float
) -> dict[str, float]:
    """Temperature-based mixture weights (the mBERT / XLM-R
    multilingual rebalancing convention): target weight
    w_s = (T_s / sum T)^alpha over available token masses.

    alpha = 1 preserves the natural mix, alpha = 0 is uniform (the
    cur5 default), 0 < alpha < 1 flattens — scarce sources get a
    LARGER share than their natural one, the standard low-resource
    upweighting — and alpha > 1 sharpens toward the dominant source.
    Output plugs straight into :func:`mixture_rates` /
    :func:`mixture_resample` (weights are ratio-scaled there, so the
    missing 1/Z normalization is deliberate — the unnormalized-weight
    bit-parity convention)."""
    if alpha < 0:
        raise ValueError(f"temperature alpha must be >= 0, got {alpha}")
    total = sum(tokens.values())
    if total <= 0:
        return {s: 0.0 for s in tokens}
    return {
        s: (t / total) ** alpha if t > 0 else 0.0
        for s, t in tokens.items()
    }


def mixture_resample(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    *,
    temperature: float | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, source_col, n_tokens, keep_rate, keep)`` — one row
    per document with its deterministic keep decision under the
    target mixture (see :func:`mixture_rates` for the allocation
    semantics; the keep hash is the salted convention
    ``corpus_ops._hash_frac_spark``, oracle-pinned for cur5).

    Two corpus scans (rate aggregate + keep projection), zero corpus
    shuffles: the K-row rate table is computed with map-side partials,
    collected to the driver for the water-filling, and broadcast back.

    ``weights`` are matched against the STRINGIFIED source values
    (the rate join casts the source column to string so NULL and
    non-string sources survive); non-string weight keys are
    stringified to match, so ``{1: 3.0}`` works against an integer
    source column."""
    from ..corpus_ops import _hash_frac_spark

    if weights is not None:
        weights = {str(k): v for k, v in weights.items()}

    # NULL sources join through a sentinel key (an equi-join on the
    # raw column would silently DROP null-source docs from the
    # output, losing them from the audit trail); under uniform
    # weights the null group is its own source, under explicit
    # weights it gets weight 0 like any unlisted source — either way
    # its rows stay in the output with an explicit keep decision
    null_key = "\x00<null source>"
    tok = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.coalesce(F.col(source_col).cast("string"), F.lit(null_key)).alias(
            "__src_key"
        ),
        F.size(F.split(text_col, " ")).cast("long").alias("n_tokens"),
    )
    per_source = {
        r["__src_key"]: r["tokens_total"]
        for r in tok.groupBy("__src_key")
        .agg(F.sum("n_tokens").alias("tokens_total"))
        .collect()
    }
    if temperature is not None:
        if weights is not None:
            raise ValueError(
                "pass weights OR temperature, not both: temperature "
                "derives the weight vector from the observed token "
                "masses"
            )
        weights = temperature_weights(per_source, temperature)
    rates = mixture_rates(per_source, weights, token_budget)
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(
        [(s, float(r)) for s, r in rates.items()],
        "__src_key string, keep_rate double",
    )
    frac = _hash_frac_spark(
        F.concat(F.lit("mix:"), F.col(id_col).cast("string"))
    )
    return tok.join(F.broadcast(rate_df), "__src_key").select(
        id_col,
        source_col,
        "n_tokens",
        "keep_rate",
        (frac < F.col("keep_rate")).alias("keep"),
    )
