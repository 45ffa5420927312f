"""Training-data-pipeline suite: dedup, curation, text analysis,
sampling, packing, sketches.

These are the large-scale LLM-data operators the engine adds beyond
the reference's own surface (BASELINE.json north star). Each entry is
an idiomatic, shuffle-minimal Spark plan over `documents` paired
with a DuckDB oracle.

Scale notes (designed for ~100 TB, tested at sf<=0.1):
- MinHash signatures are computed map-side with array higher-order
  functions (no explode, no shuffle); the only shuffle is the LSH
  band-bucket self-join, whose keys are uniformly distributed hashes.
- The n-gram Jaccard join shuffles on shingle hashes, not documents,
  and prunes pairs below the threshold before the expensive union
  size computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..corpus_ops import (
    _CUR10_WIN,
    _CUR6_BOUNDS,
    _CUR8_BUCKETS,
    _CUR9_K,
    _CUR9_SALT,
    curation_decisions,
    _DD10_WIN,
    dd3_minhash_signatures,
    dd4_minhash_lsh_candidates,
    dd7_dedup_clusters,
    decontamination_report,
    dsir_gumbel_topk,
    _dsir_scores_raw,
    duplicate_spans,
    _hash_frac_spark,
    _MH_A,
    _MH_B,
    _MH_BANDS,
    _MH_P,
    _MH_ROWS,
    ngram_lm_scores,
    _PACK_BUDGET,
    pack_doc_assignments,
    _PACK_SHARDS,
    remove_duplicate_spans,
    repetition_stats,
    split_from_clusters,
    split_from_content,
    _spread,
    _STOPWORDS,
    substring_contamination,
    _TX5_EMAIL_RE,
    _TX5_PHONE_RE,
    _tx8_map_to_vocab,
    _TX8_UNK,
    _TX8_VOCAB,
    _word_hash_spark,
)
from ..session import load_table
from . import query

# --- shared deterministic word->int hash -----------------------------------
# int value of the first 8 hex chars of md5(word); identical in Spark
# (conv(substr(md5(w),1,8),16,10)) and DuckDB (digit arithmetic below).

def _hex_to_int_sql(h: str, n_chars: int = 8) -> str:
    """DuckDB int value of the first ``n_chars`` hex chars of ``h`` —
    digit arithmetic, no engine-specific conv(). 8 chars (32 bits) is
    the shared word-hash convention; dd10 uses 15 (60 bits, still
    bigint-safe) because shingle-scale corpora birthday-collide 32-bit
    fingerprints."""
    return (
        "("
        + "+".join(
            f"(strpos('0123456789abcdef', substr({h},{i},1))-1)"
            f"*{16 ** (n_chars - i)}"
            for i in range(1, n_chars + 1)
        )
        + ")"
    )


# DuckDB twin of _shingles_spark
_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 3
"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "dd1_exact_dedup",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via hash-groupBy: keep lowest doc_id per
    content hash (the distributed form of the reference's seen-set
    dedup, transform/inpe_focos_diario.py:166-169). Map-side partial
    aggregation makes the shuffle carry one row per distinct hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# Per-doc candidate-degree budget for the exact prefix join.
# sum(df^2) upper-bounds the prefix-join candidate slots, so
# sum(df^2)/n_docs is the average exact-join degree per document.
# Measured on the driver testdata (31-word vocab): 108 at sf0.01, 558
# at sf0.1 — both comfortably exact; the same corpus shape at sf0.3+
# crosses ~1,675 and was measured at tail slope ~1.9 (SCALING.md),
# i.e. effectively all-pairs. 1,200 splits the regimes with margin on
# both sides.
_DD2_LSH_DEGREE_BUDGET = 1200

# Banded-MinHash geometry for the routed fallback: 24 bands x 2 rows
# over the shingle-hash sets. P(candidate | jaccard=s) =
# 1-(1-s^2)^24: 99.9 % at the 0.5 threshold, ~100 % above 0.6, while
# unrelated pairs (s ~ 0.001 on saturated-vocab corpora) collide with
# probability ~24*s^2 ~ 2e-5 — the candidate set stays linear where
# the exact prefix join is forced quadratic.
_DD2_LSH_BANDS = 24
_DD2_LSH_ROWS = 2


def _dd2_lsh_hash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for minhash permutation i (i < bands*rows).
    Extends the fixed _MH_A/_MH_B table by Knuth-style reseeding; only
    candidate RECALL depends on these — every candidate is verified
    exactly — so any fixed full-rank family works."""
    a = (_MH_A[i % len(_MH_A)] + 2654435761 * (i // len(_MH_A))) % _MH_P
    b = (_MH_B[i % len(_MH_B)] + 40503 * (i // len(_MH_B) + 1)) % _MH_P
    return (a or 1, b)


def _dd2_prefix_order_choice(
    max_df: int | None,
    median_df: float | None,
    n_docs: int | None = None,
    sum_df2: int | None = None,
) -> str:
    """Driver-side PPJoin strategy decision off the df histogram:

    - hot tail (max >> median): hash-ordered prefixes go quadratic on
      the hot shingles, so pay the two df-ordering shuffles ("df");
    - flat histogram (synthetic corpus: max 25 / median 9): the
      ordering cannot pay for itself ("hash");
    - flat AND saturated (tiny vocabulary, SCALING.md adversarial
      regime #1): the shingle space stops growing with the corpus, df
      grows linearly with n, and NO prefix order can prune — the
      exact join is Theta(n^2). sum(df^2)/n_docs estimates the
      per-doc candidate degree; past the budget, route to banded
      MinHash-LSH candidates + exact verification ("lsh").
    """
    flat = (max_df or 0) <= 16 * max(median_df or 1, 1)
    if not flat:
        return "df"
    if (
        n_docs
        and sum_df2
        and sum_df2 > _DD2_LSH_DEGREE_BUDGET * max(n_docs, 1)
    ):
        return "lsh"
    return "hash"


def _dd2_shingle_hash_sets(docs: DataFrame) -> DataFrame:
    """doc_id + SORTED distinct 64-bit shingle-hash array + size. The
    3-word shingle is hashed directly (xxhash64 over the word triple)
    — the shingle string is never materialized, which is the
    difference between a string-concat scan and a pure numeric one."""
    return (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(w) - 3),"
                        " i -> xxhash64(w[i], w[i+1], w[i+2]))"
                    )
                )
            ).alias("xs"),
        )
        .withColumn("n_sh", F.size("xs"))
    )


def _dd2_lsh_candidate_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs via banded MinHash over the
    shingle-hash arrays — the auto-routed fallback for corpora where
    prefix filtering cannot prune (VERDICT r4 #3). Bucket keys are
    uniform hashes, so the self-join is skew-free; candidate volume
    scales with the number of genuinely-similar pairs, never with
    n^2. Recall: 1-(1-t^_DD2_LSH_ROWS)^_DD2_LSH_BANDS at jaccard t
    (99.9 % at 0.5); every candidate is verified exactly downstream,
    so precision is exact."""
    band_structs = []
    for band in range(_DD2_LSH_BANDS):
        row_exprs = []
        for r in range(_DD2_LSH_ROWS):
            a, b = _dd2_lsh_hash_params(band * _DD2_LSH_ROWS + r)
            # pmod first: xs are full-range xxhash64 longs; reducing
            # into [0, P) keeps a*x + b inside 2^62 (ANSI-safe).
            row_exprs.append(
                f"array_min(transform(xs, x -> "
                f"pmod(pmod(x, {_MH_P}L) * {a}L + {b}L, {_MH_P}L)))"
            )
        key = f"({row_exprs[0]})"
        for expr in row_exprs[1:]:
            key = f"({key} * {_MH_P}L + ({expr}))"
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.expr(key).alias("key"),
            )
        )
    bands = (
        sets.select(
            "doc_id",
            "n_sh",
            F.explode(F.array(*band_structs)).alias("bd"),
        )
        .select("doc_id", "n_sh", "bd.band", "bd.key")
        .localCheckpoint(eager=True)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # same size-ratio bound as the prefix path
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query(
    "dd2_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    doc_sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_inter
        FROM exploded a JOIN exploded b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(1.0 * n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN doc_sizes sa ON sa.doc_id = doc_a
    JOIN doc_sizes sb ON sb.doc_id = doc_b
    WHERE 1.0 * n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def dd2_ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, prefix_order: str | None = None
) -> DataFrame:
    """Near-dup pairs by 3-gram shingle Jaccard >= 0.5.

    Scale design: shingles are reduced to 64-bit hashes map-side (xxhash64)
    so the self-join shuffles narrow longs, not strings; the join carries
    each doc's shingle count so the size-ratio bound (jaccard >= t implies
    |A|/|B| in [t, 1/t]) prunes hopeless pairs BEFORE the intersection
    aggregation; intersection counts flow through map-side combine. The
    full doc x doc cross product is never materialized.

    ``prefix_order``: "df" (PPJoin document-frequency order), "hash"
    (numeric hash order, zero extra shuffles), "lsh" (banded-MinHash
    candidates — the tiny-vocabulary fallback), or None = adaptive — a
    driver decision off the df histogram (see below). Prefix filtering
    is lossless under ANY shared total order, so "df" and "hash" are
    identical; "lsh" trades exhaustive candidates for bounded runtime
    on corpora where prefixes cannot prune (saturated shingle space,
    SCALING.md adversarial regime #1) — recall 99.9 % at the 0.5
    threshold, exact above 0.6, and every surviving pair is verified
    exactly so precision is always 1.0.
    """
    threshold = 0.5
    # NOT spread at either cut (r13 A/B, clean windows): exchanging
    # full text rows before the shingle pass read 2.99 s vs 2.22 s,
    # and exchanging the COMPACT shingle-set rows before the
    # checkpoint read 2.85 s vs 2.00 s — at this shape every
    # downstream stage is fanned out by its own shuffle anyway, and
    # the extra exchange + multi-block checkpoint only adds cost
    docs = load_table(spark, sf_dir, "documents")
    raw_sets = _dd2_shingle_hash_sets(docs).localCheckpoint(eager=True)
    # Global prefix order (PPJoin): prefix filtering is valid under
    # ANY total order shared by all docs. Ordering by document
    # frequency ASCENDING puts low-df shingles in the prefixes, so on
    # Zipfian corpora each prefix-join bucket stays small (a hot
    # shingle inside many prefixes blows the candidate set up
    # quadratically). On a flat df histogram the ordering buys nothing
    # and its two shuffles are pure cost — hence the adaptive driver
    # decision below. Ties break on the hash so the df order is total
    # and deterministic.
    ex = raw_sets.select("doc_id", F.explode("xs").alias("sh"))
    df_tbl = ex.groupBy("sh").agg(F.count("*").alias("df"))
    if prefix_order is None:
        # Adaptive driver decision: df-ordering costs two extra
        # shuffles (df join + re-agg) and only pays for itself when the
        # df histogram has a hot tail — one high-df shingle inside many
        # prefixes makes hash order's candidate set quadratic. On a
        # flat histogram (synthetic corpus: max 25 vs median 9) no
        # shingle can go quadratic and the ordering is a pure cost.
        # sum(df^2) estimates the exact join's candidate volume; when
        # the histogram is flat AND saturated (tiny vocabulary) that
        # volume is Theta(n^2) under ANY order and the decision routes
        # to banded-LSH candidates instead (VERDICT r4 #3). The stats
        # job is one map-side-combined groupBy + tiny agg; n_docs is a
        # count on the checkpointed sets.
        # df^2 summed as double: a count-squared sum in long overflows
        # (ANSI error) once df reaches ~3e9 — double keeps the
        # heuristic overflow-proof at any corpus size, and precision
        # loss is irrelevant to a threshold comparison
        st = df_tbl.agg(
            F.max("df").alias("mx"),
            F.expr("approx_percentile(df, 0.5)").alias("md"),
            F.sum(F.col("df").cast("double") * F.col("df")).alias("df2"),
        ).first()
        prefix_order = _dd2_prefix_order_choice(
            st["mx"], st["md"], n_docs=raw_sets.count(), sum_df2=st["df2"]
        )
    # `sets` feeds three consumers (prefixes, verify-left,
    # verify-right); materialize it ONCE. localCheckpoint (not
    # persist) so nothing leaks past this query: the blocks die with
    # the RDD, no unpersist bookkeeping. At 100 TB the equivalent
    # step is materializing the shingle-set table to parquet before
    # the join stage — same plan shape.
    if prefix_order in ("hash", "lsh"):
        # raw_sets is already hash-sorted with n_sh and checkpointed
        sets = raw_sets
    else:
        sets = (
            ex.join(df_tbl, "sh")
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("ss")
            )
            .select(
                "doc_id",
                F.expr("transform(ss, x -> x.sh)").alias("xs"),
                F.size("ss").alias("n_sh"),
            )
            .localCheckpoint(eager=True)
        )
    if prefix_order == "lsh":
        candidates = _dd2_lsh_candidate_pairs(sets, threshold)
    else:
        # prefix length n - ceil(t*n) + 1: any pair with jaccard >= t
        # must share at least one element inside both prefixes
        prefix_len = (
            F.col("n_sh") - F.ceil(threshold * F.col("n_sh")) + 1
        ).cast("int")
        # posexplode: p is the element's 0-based position in the
        # shared total order, feeding PPJoin's POSITION filter below
        # (Xiao et al. 2008). Jaccard >= t forces an overlap of at
        # least alpha = ceil(t/(1+t) * (na+nb)); a shared element at
        # 0-based positions (pa, pb) caps the overlap at
        # min(na - pa, nb - pb), so occurrences below alpha cannot
        # witness a qualifying pair. LOSSLESS: a true pair's FIRST
        # common element in the order lies inside both prefixes and
        # satisfies the bound (all alpha common elements sit at or
        # after it). Measured at sf0.1: candidate pairs 431k -> 210k
        # (2.05x), which halves the exact-verify stage — the r12
        # optimization-round win (guide §2.3: shuffle/verify fewer
        # rows).
        prefixes = sets.select(
            "doc_id",
            "n_sh",
            F.posexplode(F.slice("xs", 1, prefix_len)).alias("p", "sh"),
        )
        a = prefixes.alias("a")
        b = prefixes.alias("b")
        # alpha in exact integer arithmetic (t = 0.5: overlap o needs
        # o/(na+nb-o) >= 1/2  <=>  o >= (na+nb)/3, so alpha =
        # ceil((na+nb)/3) = (na+nb+2) div 3 — no float rounding can
        # prune a true pair)
        alpha = F.floor(
            (F.col("a.n_sh") + F.col("b.n_sh") + F.lit(2)) / F.lit(3)
        )
        candidates = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                # size-ratio bound: jaccard >= t implies |A|/|B| in [t, 1/t]
                & (F.col("a.n_sh") >= threshold * F.col("b.n_sh"))
                & (F.col("b.n_sh") >= threshold * F.col("a.n_sh"))
                # position bound: overlap from (pa, pb) onward cannot
                # reach alpha
                & (
                    F.least(
                        F.col("a.n_sh") - F.col("a.p"),
                        F.col("b.n_sh") - F.col("b.p"),
                    )
                    >= alpha
                ),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    # verify candidates exactly. `candidates` feeds three consumers
    # (the doc-id prune below + both verify joins), so materialize it
    # once; the verify sets are semi-join-PRUNED to docs that appear
    # in some candidate before the pair joins attach the arrays (r12,
    # guide §3.2/§8: decide with small rows first, touch heavy array
    # rows only for docs that can still matter). At sf0.1 the prune
    # is a no-op (nearly every doc is in some candidate) and the
    # planner broadcasts `vsets` exactly as it broadcast `sets`
    # before; at corpus scale — low dup rate, candidates orders below
    # corpus size — it is the difference between shuffling the whole
    # shingle-set table through the verify joins and shuffling only
    # the candidate docs' rows.
    candidates = candidates.localCheckpoint(eager=True)
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    vsets = sets.join(F.broadcast(cand_ids), "doc_id", "leftsemi")
    # shuffle_hash, not broadcast, for the two verify joins: the
    # planner's choice here was a BroadcastExchange of the whole
    # array-typed verify table per join, and building that hashed
    # relation is SINGLE-THREADED driver work — measured 2.4 s for
    # the two builds at sf0.1 vs 0.86 s for the same joins as
    # parallel shuffled-hash (guide §3.1: pick the strategy
    # deliberately). Verify cost was FLAT in candidate count (1.87 s
    # at 431k pairs vs 2.09 s at 210k) — the broadcast builds, not
    # the intersections, were the stage. The shuffle moves only the
    # semi-pruned candidate docs' rows, so the exchange is bounded by
    # candidate evidence at any scale.
    sa = vsets.select(F.col("doc_id").alias("doc_a"), F.col("xs").alias("xa"), F.col("n_sh").alias("na")).hint("shuffle_hash")
    sb = vsets.select(F.col("doc_id").alias("doc_b"), F.col("xs").alias("xb"), F.col("n_sh").alias("nb")).hint("shuffle_hash")
    n_inter = F.size(F.array_intersect("xa", "xb"))
    jac = n_inter / (F.col("na") + F.col("nb") - n_inter)
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SIG_MINS_SQL = ", ".join(
    f"list_min(list_transform(xs, x -> ({a} * x + {b}) % {_MH_P})) AS mh{i}"
    for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
)


# DuckDB: MinHash signature SELECT over the shingle CTE ``sh``
# (columns doc_id, shingles) — the SQL twin of _minhash_sig_cols +
# _SHINGLE_INT_EXPR
_SIG_SELECT_SQL = f"""
        SELECT doc_id, {_SIG_MINS_SQL}
        FROM (
            SELECT doc_id,
                   list_transform(shingles,
                       s -> {_hex_to_int_sql("substr(md5(s),1,8)")} % {_MH_P}) AS xs
            FROM sh
        )
    """


_MINHASH_SQL_BODY = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS ({_SIG_SELECT_SQL})
"""


query(
    "dd3_minhash_signatures",
    oracle=_MINHASH_SQL_BODY
    + """
    SELECT doc_id, """
    + ", ".join(f"CAST(mh{i} AS BIGINT) AS mh{i}" for i in range(len(_MH_A)))
    + """
    FROM sig
    """,
)(dd3_minhash_signatures)


_BAND_HASH_SQL = "md5({})".format(
    " || ',' || ".join(
        "CAST(CASE band_idx "
        + " ".join(
            f"WHEN {bi} THEN mh{bi * _MH_ROWS + r}" for bi in range(_MH_BANDS)
        )
        + " END AS VARCHAR)"
        for r in range(_MH_ROWS)
    )
)


# DuckDB: (doc_id, band_idx, band_hash) over the signature CTE
# ``sig`` — the SQL twin of _band_struct_cols
_BANDS_SELECT_SQL = f"""
        SELECT doc_id, band_idx, {_BAND_HASH_SQL} AS band_hash
        FROM sig CROSS JOIN (SELECT unnest(range({_MH_BANDS})) AS band_idx)
    """


_LSH_CAND_SQL = f"""
    , bands AS ({_BANDS_SELECT_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
"""


query(
    "dd4_minhash_lsh_candidates",
    oracle=_MINHASH_SQL_BODY
    + _LSH_CAND_SQL
    + """
    SELECT doc_a, doc_b FROM cand
    """,
)(dd4_minhash_lsh_candidates)


# --- SimHash (32-bit) ------------------------------------------------------
# bit i of the signature is set iff at least half the word hashes have
# bit i set (the +1/-1 majority vote of classic SimHash with unit
# weights). Integer-exact in both engines.

_SH_BITS = 32
_SH_BANDS = 4  # 8-bit bands for hamming-neighbor bucketing


def _simhash_spark_expr() -> str:
    terms = [
        f"(CASE WHEN 2 * size(filter(whs, x -> (x div {2 ** i}L) % 2 = 1))"
        f" >= size(whs) THEN {2 ** i}L ELSE 0L END)"
        for i in range(_SH_BITS)
    ]
    return " + ".join(terms)


def _simhash_duck_expr() -> str:
    terms = [
        f"(CASE WHEN 2 * len(list_filter(whs, x -> (x // {2 ** i}) % 2 = 1))"
        f" >= len(whs) THEN {2 ** i} ELSE 0 END)"
        for i in range(_SH_BITS)
    ]
    return " + ".join(terms)


@query(
    "dd5_simhash",
    oracle=f"""
    WITH ints AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                   w -> {_hex_to_int_sql("substr(md5(w),1,8)")}) AS whs
        FROM documents
    ),
    sig AS (
        SELECT doc_id, CAST({_simhash_duck_expr()} AS BIGINT) AS simhash
        FROM ints
    )
    SELECT doc_id, simhash,
           {", ".join(
               f"CAST((simhash // {2 ** (8 * b)}) % 256 AS BIGINT) AS band{b}"
               for b in range(_SH_BANDS))}
    FROM sig
    """,
)
def dd5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document plus 4x 8-bit band keys for
    hamming-distance bucketing (two docs within hamming distance 3 of
    each other share at least one band — pigeonhole). Entirely
    map-side array expressions: zero shuffle, linear scan — the cheap
    first pass of near-dup detection at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '),"
            " w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint))"
        ).alias("whs"),
    ).select("doc_id", F.expr(_simhash_spark_expr()).alias("simhash"))
    return sig.select(
        "doc_id",
        "simhash",
        *[
            ((F.col("simhash") / F.lit(2 ** (8 * b))).cast("bigint") % 256)
            .cast("bigint")
            .alias(f"band{b}")
            for b in range(_SH_BANDS)
        ],
    )


_DD7_ORACLE = (
    _MINHASH_SQL_BODY.replace("WITH sh AS", "WITH RECURSIVE sh AS")
    + _LSH_CAND_SQL
    + """
    , edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION ALL
        SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
        SELECT doc_id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           (doc_id = cluster_id) AS is_canonical
    FROM comp
    """
)


query("dd7_dedup_clusters", oracle=_DD7_ORACLE)(dd7_dedup_clusters)


# --- dd9: quality-aware canonical keeper selection -------------------------
# dd7 labels every cluster with its MIN doc_id as the canonical doc —
# deterministic, but blind to content: the kept copy of a near-dup
# cluster should be the BEST one, not the first-crawled one. dd9 turns
# dd7's clusters into an actionable keep/drop list with a quality
# policy: keep the member with the most content (n_chars, ties to the
# lowest doc_id — "longest version wins", the standard near-dup keeper
# heuristic, since truncated/mangled copies are shorter). Any scalar
# quality column composes here (e.g. tx1_text_quality's score) — the
# policy is one ORDER BY.

DD9_SQL = f"""
WITH d7 AS ({_DD7_ORACLE}),
m AS (
    SELECT d7.doc_id, d7.cluster_id, doc.n_chars
    FROM d7 JOIN documents doc ON doc.doc_id = d7.doc_id
    WHERE d7.cluster_size >= 2
)
SELECT doc_id, cluster_id,
       first_value(doc_id) OVER w AS keeper_doc_id,
       (doc_id = first_value(doc_id) OVER w) AS keep
FROM m
WINDOW w AS (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""


def dd9_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision per near-dup cluster member: the keeper is
    the highest-quality member (n_chars DESC, doc_id ASC — swap in any
    scalar score for a different policy), every other member maps to
    it via ``keeper_doc_id``. Only clusters of size >= 2 appear — the
    output is the (small) action list a pipeline anti-joins against
    the corpus, not a full-corpus projection.

    Scale shape: one window over cluster_id — the same partitioning
    dd7's cluster sizes already shuffled on, and clusters are
    near-dup-sized (dozens), so no skewed partition exists. The
    quality column rides along from a broadcast-size join against the
    documents table projected to two columns.

    Unregistered (the suite registry is capped at 50 driver-snapshot
    rows); oracle-compared in tests/test_suite_oracle.py. Reference
    anchor: the reference keeps first-seen rows within a file
    (transform/inpe_focos_diario.py:166-169); dd9 is the corpus-scale
    generalization where "first" is replaced by an explicit quality
    policy."""
    clusters = dd7_dedup_clusters(spark, sf_dir).filter(
        F.col("cluster_size") >= 2
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keeper = F.first("doc_id").over(w)
    return clusters.join(docs, "doc_id").select(
        "doc_id",
        "cluster_id",
        keeper.alias("keeper_doc_id"),
        (F.col("doc_id") == keeper).alias("keep"),
    )


# --- dd8: cross-document duplicate-passage removal -------------------------
# Passage-granular exact dedup (the "dedup inside documents" tier of a
# training-data pipeline): chunk each doc into fixed 8-word passages,
# drop every passage that appears verbatim in >= 2 DISTINCT docs
# (boilerplate, licence headers, templated spans), and reassemble the
# residual text in original order. Whole-document dedup (dd1/dd2/dd4)
# cannot catch these — two docs sharing one boilerplate paragraph are
# nowhere near any jaccard threshold.
#
# UNREGISTERED (the driver registry is capped at 50) — oracle-compared
# in tests/test_suite_oracle.py (the geo8 pattern).

_DD8_CHUNK_WORDS = 8
_DD8_MIN_DOCS = 2

DD8_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ch AS (
        SELECT doc_id, c,
               array_to_string(
                   w[c*{_DD8_CHUNK_WORDS}+1 : c*{_DD8_CHUNK_WORDS}+{_DD8_CHUNK_WORDS}],
                   ' ') AS chunk
        FROM w, LATERAL (
            SELECT unnest(range(CAST(ceil(len(w) / {_DD8_CHUNK_WORDS}.0) AS BIGINT))) AS c
        )
    ),
    dup AS (
        SELECT chunk FROM ch GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= {_DD8_MIN_DOCS}
    ),
    kept AS (SELECT * FROM ch WHERE chunk NOT IN (SELECT chunk FROM dup)),
    re AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY c) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(re.clean_text, '') AS clean_text,
           tot.n_chunks,
           tot.n_chunks - coalesce(re.n_kept, 0) AS n_removed
    FROM documents d
    JOIN tot ON tot.doc_id = d.doc_id
    LEFT JOIN re ON re.doc_id = d.doc_id
"""


def dd8_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove passages duplicated across documents; keep each doc's
    residual text in original order.

    Scale design: passages reduce to (doc_id, position, chunk) rows
    map-side; the duplicated-passage set is a hash-groupBy over chunk
    text (uniform keys, two-phase distinct-count partials), and removal
    is a left-anti join against that set — chunk-hash shuffles only,
    never doc x doc. Reassembly sorts each doc's surviving chunks
    inside a single groupBy (struct array_sort — no window, no second
    shuffle). At 100 TB the dup set is the only broadcast-unsafe
    artifact and it stays a fraction of corpus size (only repeated
    passages survive the HAVING)."""
    from ..operators.textdedup import passage_dedup

    # duplicate detection shuffles 64-bit chunk hashes, never chunk
    # strings (collision-free in practice; the same stance dd2 takes
    # for shingles — the DuckDB oracle groups the strings and agrees);
    # the operator also offers mode="paragraph" for real separator-
    # structured corpora (operators/textdedup.py)
    # NOT spread (r13 A/B: 1.67 s vs 1.12 s — chunk explode + groupBy
    # pipelines fine off the scan; the exchange is pure overhead)
    return passage_dedup(
        load_table(spark, sf_dir, "documents"),
        mode="fixed",
        chunk_words=_DD8_CHUNK_WORDS,
        min_docs=_DD8_MIN_DOCS,
    )


@query(
    "cur1_corpus_curation",
    oracle=_MINHASH_SQL_BODY.replace("WITH sh AS", "WITH RECURSIVE sh AS")
    + _LSH_CAND_SQL
    + """
    , edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION ALL
        SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
        SELECT doc_id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS doc_id, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
    gate AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CASE
                 WHEN len(list_filter(string_split(text, ' '),
                         w -> w IN ({stopwords}))) >= 2 THEN 'en'
                 WHEN length(text) < 20 THEN 'short'
                 ELSE 'unk'
               END AS pred_lang
        FROM documents
    ),
    j AS (
        SELECT c.doc_id, c.cluster_id, g.n_words, g.pred_lang,
               ((g.n_words BETWEEN 10 AND 1000) AND g.pred_lang = 'en')
                   AS passes
        FROM comp c JOIN gate g USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           CAST(n_words AS BIGINT) AS n_words,
           pred_lang,
           (passes AND doc_id = min(CASE WHEN passes THEN doc_id END)
                   OVER (PARTITION BY cluster_id)) AS keep,
           CASE WHEN n_words < 10 THEN 'too_short'
                WHEN n_words > 1000 THEN 'too_long'
                WHEN pred_lang <> 'en' THEN 'lang'
                WHEN doc_id <> min(CASE WHEN passes THEN doc_id END)
                        OVER (PARTITION BY cluster_id) THEN 'near_dup'
                ELSE NULL END AS drop_reason
    FROM j
    """.format(stopwords=", ".join(repr(s) for s in _STOPWORDS)),
)
def cur1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: the keep/drop decision a training-
    data pipeline makes per document, composing the quality gate
    (10-1000 words), the n-gram language heuristic (tx3), and near-dup
    deduplication over the connected-component clusters (dd7). A doc
    is kept iff it passes the gate AND is the lowest-id gate-passing
    member of its near-dup cluster — so when a cluster's canonical doc
    fails quality, the next passing member survives instead of the
    whole cluster dying. Exact duplicates need no separate stage:
    identical texts share every MinHash band, so they are always in
    one cluster.

    Scale: the gate is map-side column work fused into the document
    scan; the only additions over dd7 are one equi-join on doc_id and
    one window over cluster_id (a single shuffle, uniform keys —
    cluster ids are min doc_ids, near-dup clusters are small, no
    skew). drop_reason gives per-row lineage for curation audits.
    """
    return curation_decisions(
        load_table(spark, sf_dir, "documents"),
        dd7_dedup_clusters(spark, sf_dir),
    )


@query(
    "cur2_benchmark_decontamination",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    bench AS (
        SELECT doc_id AS bench_id, unnest(shingles) AS s
        FROM sh WHERE doc_id % 41 = 0
    ),
    corp AS (
        SELECT doc_id, unnest(shingles) AS s
        FROM sh WHERE doc_id % 41 <> 0
    ),
    hits AS (
        SELECT c.doc_id,
               count(DISTINCT c.s) AS n_shared_shingles,
               count(DISTINCT b.bench_id) AS n_bench_docs
        FROM corp c JOIN bench b ON c.s = b.s
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared_shingles, 0) AS BIGINT)
               AS n_shared_shingles,
           CAST(coalesce(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
           coalesce(h.n_shared_shingles, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 41 <> 0
    """,
)
def cur2_benchmark_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any 3-word shingle with a held-out benchmark/eval set (here the
    deterministic doc_id % 41 == 0 slice stands in for the eval
    suite). Per corpus doc: how many distinct shingles leak and how
    many benchmark docs they touch — the evidence a pipeline needs
    before dropping or redacting contaminated training text.

    Scale design: both sides reduce shingles to 64-bit hashes
    map-side (xxhash64 — the shingle string never reaches the
    shuffle), then an equi-join on the hash. A real eval suite is
    tiny relative to a 100 TB corpus, so the benchmark side
    broadcasts (AQE picks this up from its post-scan size); worst
    case it is a shuffle on uniformly distributed hash keys. The
    distinct-count aggregation runs with map-side partials, and
    uncontaminated docs never enter the join — they rejoin through
    the final left join against the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 41 == 0
    return decontamination_report(
        docs.filter(~is_bench), docs.filter(is_bench)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "tx1_text_quality",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           round(1.0 * length(replace(text, ' ', '')) /
                 len(string_split(text, ' ')), 4) AS avg_word_len,
           round(1.0 * len(list_filter(string_split(text, ' '),
                     w -> w IN ({", ".join(repr(s) for s in _STOPWORDS)}))) /
                 len(string_split(text, ' ')), 4) AS stopword_ratio,
           (len(string_split(text, ' ')) BETWEEN 10 AND 1000) AS len_ok
    FROM documents
    """,
)
def tx1_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, word count, average word
    length, stopword ratio, length gate — all JVM-side array/string
    functions, no UDF in the hot path."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) / n_words, 4
        ).alias("avg_word_len"),
        F.round(n_stop / n_words, 4).alias("stopword_ratio"),
        n_words.between(10, 1000).alias("len_ok"),
    )


@query(
    "tx2_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def tx2_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters runs / digit runs / single other chars)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@query(
    "tx3_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE
             WHEN len(list_filter(string_split(text, ' '),
                     w -> w IN ({", ".join(repr(s) for s in _STOPWORDS)}))) >= 2
               THEN 'en'
             WHEN length(text) < 20 THEN 'short'
             ELSE 'unk'
           END AS pred_lang
    FROM documents
    """,
)
def tx3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-profile vote (>=2 English marker
    words -> 'en'), short-text class, else unknown. Deterministic and
    fully JVM-side; a production n-gram model would broadcast a
    profile table and score the same way."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return docs.select(
        "doc_id",
        "lang",
        F.when(n_stop >= 2, "en")
        .when(F.length("text") < 20, "short")
        .otherwise("unk")
        .alias("pred_lang"),
    )


@query(
    "tx4_doc_fingerprint",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    SELECT doc_id,
           CAST(bit_xor(({_hex_to_int_sql("substr(md5(word),1,8)")}) * pos)
                AS BIGINT) AS fingerprint
    FROM words
    GROUP BY doc_id
    """,
)
def tx4_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: XOR-fold of
    position-weighted word hashes (a distributed rolling-hash stand-in;
    md5-derived word ints keep Spark and the oracle bit-identical)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "word"),
    ).withColumn("pos", F.col("pos0") + 1)
    return (
        words.withColumn("wh", _word_hash_spark(F.col("word")))
        .groupBy("doc_id")
        .agg(F.expr("bit_xor(wh * pos)").cast("long").alias("fingerprint"))
    )


# ---------------------------------------------------------------------------
# Embedding profiling
# ---------------------------------------------------------------------------


@query(
    "sim2_embedding_stats",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(len(embedding)) AS BIGINT) AS dim,
           round(avg(sqrt(list_sum(list_transform(
               CAST(embedding AS DOUBLE[]), x -> x * x)))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def sim2_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (count, dimensionality, mean L2 norm)
    — a plain profiling aggregate; fully JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        emb.withColumn("nrm", norm)
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.max(F.size("embedding")).cast("long").alias("dim"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Curation extensions: repetition gates, sampling, packing, PII, heavy
# hitters — the remaining operators a production training-data pipeline
# runs between dedup and tokenization.
# ---------------------------------------------------------------------------


@query(
    "cur3_repetition_filter",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), m AS (
        SELECT doc_id,
               len(w) AS n_words,
               list_max(list_transform(list_distinct(w),
                        x -> len(list_filter(w, y -> y = x)))) AS top_word_n,
               len(w) - 2 AS total_3grams,
               len(list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
                   AS distinct_3grams
        FROM t WHERE len(w) >= 3
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(top_word_n AS BIGINT) AS top_word_n,
           round(1.0 * top_word_n / n_words, 4) AS top_word_frac,
           CAST(total_3grams - distinct_3grams AS BIGINT) AS dup_3grams,
           top_word_n * 10 > n_words AS top_word_flag,
           total_3grams > distinct_3grams AS dup_3gram_flag,
           (top_word_n * 10 > n_words)
               OR (total_3grams > distinct_3grams) AS repetitive
    FROM m
    """,
)
def cur3_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: per-document top-word fraction and
    duplicated-3-gram count, with boolean flags computed in exact
    integer arithmetic (top_word_n * 10 > n_words, i.e. frac > 0.1) so
    the gate never depends on float rounding.

    Scale design: everything is a map-side array higher-order function
    over the per-row word array — zero shuffles, full whole-stage
    codegen, trivially partition-parallel at 100 TB. The O(distinct x
    n_words) inner count is bounded by document length, not corpus
    size. Mirrors the repetition-removal rules of Gopher (Rae et al.
    2021, §A1.1); the reference has no counterpart (its dedup is the
    seen-set hash, transform/inpe_focos_diario.py:166-169)."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


# Per-language sampling rates (percent kept): downsample the dominant
# language, keep half of everything else — the standard low-resource
# rebalancing move.
_CUR4_RATES = {"en": 10}
_CUR4_DEFAULT_RATE = 50


@query(
    "cur4_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source, bucket
    FROM (
        SELECT doc_id, lang, source,
               -- concat_ws (not ||) so a NULL source skips, matching
               -- Spark's concat_ws instead of propagating NULL
               CAST(('0x' || substr(md5(concat_ws(':',
                        CAST(doc_id AS VARCHAR), source)), 1, 8)) AS BIGINT)
                   % 100 AS bucket
        FROM documents
    )
    WHERE bucket < (CASE WHEN lang = 'en' THEN {_CUR4_RATES["en"]}
                    ELSE {_CUR4_DEFAULT_RATE} END)
    """,
)
def cur4_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sampling: each document lands in
    a bucket 0-99 via md5(doc_id:source); per-language keep rates
    downsample the dominant language (en -> 10 %) and keep 50 % of the
    rest. Hash bucketing (not rand()) makes the sample reproducible
    across runs, resumable, and consistent when the corpus is re-read
    — the property a 100-TB pipeline needs so incremental batches
    sample the same way.

    Scale design: pure map-side scan — the sampling predicate is a
    deterministic hash on row-local columns, no shuffle, no state, and
    Catalyst pushes the projection to the parquet scan."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("source")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    rate = F.when(
        F.col("lang") == "en", F.lit(_CUR4_RATES["en"])
    ).otherwise(F.lit(_CUR4_DEFAULT_RATE))
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@query(
    "pack1_token_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               ((doc_id % {_PACK_SHARDS}) + {_PACK_SHARDS}) % {_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, shard, tokens,
               sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(FLOOR((cum - tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM c
    GROUP BY lang, shard, pack_id
    """,
)
def pack1_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign documents to
    fixed token-budget packs via a cumulative-sum window (pack_id =
    floor(running_tokens_before_doc / budget)) within (lang, shard).
    The cumulative-sum formulation is the scalable stand-in for greedy
    first-fit bin packing: deterministic, one window, and each pack
    overshoots the budget by at most one document.

    Scale design: the window partitions on (lang, pmod(doc_id, shards)), so
    a dominant language cannot serialize into one reducer — shard
    count scales with the cluster, window state per partition is one
    running sum, and the final rollup is a map-side-combined groupBy
    on the same keys (no second shuffle thanks to the shared
    partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        pack_doc_assignments(docs)
        .groupBy("lang", "shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            "lang",
            F.col("shard").cast("long").alias("shard"),
            F.col("pack_id").cast("long").alias("pack_id"),
            "n_docs",
            "total_tokens",
            "first_doc",
            "last_doc",
        )
    )


@query(
    "tx5_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' user' || CAST(doc_id AS VARCHAR)
                         || '@example.com call 555-01'
                         || CAST(doc_id % 10 AS VARCHAR) || '9'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_TX5_EMAIL_RE}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_TX5_PHONE_RE}'))
                AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_TX5_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{_TX5_PHONE_RE}', '<PHONE>', 'g'))
               AS redacted_hash,
           CAST(length(text)
               - length(regexp_replace(regexp_replace(text,
                     '{_TX5_EMAIL_RE}', '', 'g'),
                     '{_TX5_PHONE_RE}', '', 'g')) AS BIGINT) AS n_pii_chars
    FROM aug
    """,
)
def tx5_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect and redact email addresses and phone
    numbers, reporting match counts, the redacted-text hash, and how
    many characters were removed. The synthetic corpus contains no
    PII, so the query deterministically injects one email + one phone
    into every 7th document first (both sides of the oracle do the
    same injection) — the check exercises real match/replace paths,
    not an all-zeros degenerate.

    Scale design: regex match/replace are JVM whole-stage-codegen
    string expressions over row-local data — no UDF, no shuffle; at
    100 TB this is a pure scan-shaped pass that pipelines with
    whatever filter follows it."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-01"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("9"),
        ),
    ).otherwise(F.col("text"))
    d = docs.select("doc_id", aug.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace("text", _TX5_EMAIL_RE, "<EMAIL>"),
        _TX5_PHONE_RE,
        "<PHONE>",
    )
    stripped = F.regexp_replace(
        F.regexp_replace("text", _TX5_EMAIL_RE, ""), _TX5_PHONE_RE, ""
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_TX5_EMAIL_RE))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count("text", F.lit(_TX5_PHONE_RE))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
        (F.length("text") - F.length(stripped)).cast("long").alias("n_pii_chars"),
    )


@query(
    "tx6_ngram_topk",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1])) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= 2
    )
    SELECT gram,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g
    GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 50
    """,
)
def tx6_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: the 50 most frequent word bigrams
    with occurrence and document counts — the boilerplate-detection
    scan a curation pipeline runs to find templated text worth
    stripping.

    Scale design (r13 — measured, guide §2.3/§2.4): the countDistinct
    form planned as partial-agg(gram, doc_id) → Exchange(gram,
    doc_id) → merge → partial-distinct → Exchange(gram) → final. On
    bigram streams the (gram, doc_id) key barely collapses (most
    bigrams occur once per doc), so that first pre-shuffle hash
    aggregate built an occurrence-sized hash table for ~no row
    reduction — pure CPU/memory cost ahead of a same-sized exchange.
    The explicit repartition("gram", "doc_id") replaces it with a
    plain exchange (no pre-shuffle agg pass); both groupBys then run
    in ONE post-shuffle stage (partitioning by (gram, doc_id)
    satisfies both clusterings), and the second exchange carries one
    partial row per distinct gram per partition — tiny and skew-free.
    Keys stay skew-safe at scale: a boilerplate-hot gram spreads
    across doc_ids (the alternative repartition("gram") measured ~10 %
    faster at 10x but serializes the hottest gram into one task — a
    single-key ceiling AQE cannot split for aggregations; rejected,
    numbers in OPTIMIZATION_r13.md). count("doc_id") over the
    pre-grouped rows is exactly countDistinct's null-excluding
    semantics. Measured (alternating A/B, checksum MATCH at both
    shapes): sf0.1 0.83-1.04 s → 0.66-0.86 s; 10x synthetic corpus
    5.3-6.4 s → 2.7-3.2 s. The final top-50 stays a TakeOrdered
    (per-partition heap + driver merge), never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("gram"),
        )
    )
    per_doc = (
        g.repartition("gram", "doc_id")
        .groupBy("gram", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(50)
    )


@query(
    "sk1_sketch_accuracy",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
           TRUE AS hll_docs_ok,
           TRUE AS hll_texts_ok,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           TRUE AS p50_approx_ok
    FROM documents
    GROUP BY lang
    """,
)
def sk1_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch accuracy harness: run the streaming-friendly sketches
    (HyperLogLog++ approx distinct, quantile-summary approx
    percentile) next to their exact counterparts and emit boolean
    accuracy gates. The oracle pins the exact values (count, distinct,
    interpolated median — Spark's exact `percentile` and DuckDB's
    `quantile_cont` share linear interpolation bit-for-bit on integer
    inputs) and asserts the gates are TRUE, so a sketch drifting
    outside its error bound fails the value hash.

    Scale design: sketches are why 100-TB aggregations stay one-pass —
    HLL registers and quantile summaries merge associatively in
    map-side partials, so the shuffle carries fixed-size state per
    group instead of the value stream; the exact twins here are
    affordable only because the gate runs at validation scale."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.count("*")
    distinct_texts = F.countDistinct(F.md5("text"))
    hll_docs = F.approx_count_distinct("doc_id", 0.05)
    hll_texts = F.approx_count_distinct(F.md5("text"), 0.05)
    p50 = F.expr("percentile(n_chars, 0.5)")
    p50_approx = F.expr("approx_percentile(n_chars, 0.5, 10000)")
    return docs.groupBy("lang").agg(
        n_docs.alias("n_docs"),
        distinct_texts.alias("distinct_texts"),
        (
            F.abs(hll_docs - n_docs)
            <= F.greatest(F.lit(2), (n_docs * 0.1).cast("long"))
        ).alias("hll_docs_ok"),
        (
            F.abs(hll_texts - distinct_texts)
            <= F.greatest(F.lit(2), (distinct_texts * 0.1).cast("long"))
        ).alias("hll_texts_ok"),
        p50.alias("p50_chars"),
        (F.abs(p50_approx - p50) <= p50 * 0.2 + F.lit(1)).alias(
            "p50_approx_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Training-mixture / split / manifest family (cur5, cur6, card1)
# ---------------------------------------------------------------------------
# The three corpus-level decisions every training-data pipeline makes
# after dedup + curation: WHAT mixture of domains to train on (cur5),
# WHERE each document goes so evaluation never sees training near-dups
# (cur6 + cluster_aware_split), and WHAT the resulting corpus looks
# like on paper (card1, the "data card" manifest).
#
# All three are UNREGISTERED (the driver registry is capped at 50
# snapshot rows) — oracle-compared in tests/test_suite_oracle.py (the
# geo8/dd8 pattern).


def _hash_frac_sql(expr: str) -> str:
    return (
        "(" + _hex_to_int_sql(f"substr(md5({expr}),1,8)") + " / 4294967296.0)"
    )


CUR5_SQL = f"""
WITH tok AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
tot AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
    FROM tok GROUP BY source
),
m AS (SELECT min(tokens_total) AS min_tok FROM tot),
r AS (
    SELECT source,
           CAST(min_tok AS DOUBLE) / CAST(tokens_total AS DOUBLE) AS keep_rate
    FROM tot, m
)
SELECT t.doc_id, t.source, t.n_tokens, r.keep_rate,
       {_hash_frac_sql("'mix:' || CAST(t.doc_id AS VARCHAR)")}
           < r.keep_rate AS keep
FROM tok t JOIN r USING (source)
"""


def cur5_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: downsample every source to the
    token mass of the scarcest one, yielding a uniform target mixture
    without upsampling (keep_rate_s = min_tokens / tokens_s <= 1, and
    == 1 for the scarcest source, which is kept whole). The keep
    decision is a salted deterministic hash of doc_id against the
    source's rate — reproducible across runs, clusters, and partition
    layouts, unlike rand()-based sampling. Any target-weight vector
    drops in by replacing the min() with w_s * normalizer; uniform is
    the zero-argument default.

    Scale design: the rate table is K rows (one per source) computed
    by a map-side-partial groupBy over (source, token-count) — the
    corpus shuffle carries one row per source per partition. Rates
    broadcast back, and the keep decision is a pure scan-shaped
    projection: at 100 TB the whole operator is one aggregate scan +
    one broadcast-join scan, no corpus-sized shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    per_source = docs.groupBy("source").agg(
        F.sum("n_tokens").alias("tokens_total")
    )
    min_tok = per_source.agg(F.min("tokens_total").alias("min_tok"))
    rates = per_source.crossJoin(min_tok).select(
        "source",
        (
            F.col("min_tok").cast("double")
            / F.col("tokens_total").cast("double")
        ).alias("keep_rate"),
    )
    frac = _hash_frac_spark(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    )
    return docs.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        "keep_rate",
        (frac < F.col("keep_rate")).alias("keep"),
    )


CUR6_SQL = f"""
WITH g AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
h AS (
    SELECT doc_id, content_hash,
           {_hash_frac_sql("'split:' || content_hash")} AS frac
    FROM g
)
SELECT doc_id, content_hash,
       CASE WHEN frac < {_CUR6_BOUNDS[0]} THEN 'train'
            WHEN frac < {_CUR6_BOUNDS[1]} THEN 'validation'
            ELSE 'test' END AS split
FROM h
"""


def cur6_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/validation/test split: the split is a salted
    hash of the CONTENT (md5(text)), not the doc_id, so byte-identical
    duplicates land on the same side by construction — eval can never
    score text the model trained on verbatim. 80/10/10 by hash
    fraction; deterministic and stable as the corpus grows (adding
    documents never reassigns existing ones — the property per-split
    rand() sampling lacks).

    Near-duplicates need the cluster-aware variant
    (``cluster_aware_split``): it hashes dd7's cluster_id instead, so
    a whole near-dup cluster moves as one unit.

    Scale design: pure scan-shaped projection — two md5s and a CASE
    per row, zero shuffle, pipelines into the writer's partitionBy
    ("split") for a one-pass materialization at any corpus size."""
    return split_from_content(load_table(spark, sf_dir, "documents"))


def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cur6 upgraded from exact-dup closure to NEAR-dup closure: every
    member of a dd7 MinHash-LSH cluster inherits the split of its
    cluster_id, so near-duplicate pairs (paraphrases, re-crawls,
    boilerplate variants) cannot straddle train and eval. Singleton
    docs are their own cluster (dd7's contract), so the assignment is
    total.

    Not SQL-oracle-expressible (dd7's connected components are
    iterative); the closure property and split fractions are pinned in
    tests/test_suite_oracle.py instead — the driver's weaker
    rows-only stance, stated per the brief.

    Scale design: dd7's labels are the only shuffled artifact (already
    produced by the dedup stage in a real pipeline — this reuses, not
    recomputes); the split itself is a hash projection over
    cluster_id, and the label join is shuffle-free when the dedup
    stage persisted labels bucketed by doc_id."""
    return split_from_clusters(dd7_dedup_clusters(spark, sf_dir))


CARD1_SQL = """
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
       1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE) AS dup_rate,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       quantile_cont(n_chars, 0.5) AS p50_chars
FROM documents
GROUP BY source, lang
"""


def card1_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus manifest ("data card"): per source x lang — document,
    token, and character mass, exact-duplicate rate, and the length
    distribution summary (min/median/max). This is the table a
    training run's datasheet publishes and the input cur5's mixture
    math generalizes over.

    Scale design: one groupBy over low-cardinality (source, lang) with
    map-side partials for every aggregate except count(DISTINCT
    md5(text)), which Spark plans as a two-level expand + partial
    distinct — the shuffle carries distinct hashes per group, the
    exact working set dd1 already bounds. The median is exact
    percentile here (validation scale); at 100 TB swap
    approx_percentile, whose fixed-size summaries merge in partials —
    the sk1 harness pins how far that approximation drifts."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        (
            F.lit(1.0)
            - F.countDistinct(F.md5("text")) / F.count("*").cast("double")
        ).alias("dup_rate"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
    )


# --- tx7: model-based quality scoring (hashed linear classifier) -----------
# The fasttext-shaped quality filter real curation pipelines run
# (CCNet / LLaMA wiki-ref style): a linear model over hashed
# bag-of-words features. The FEATURE PLUMBING is the Spark-relevant
# part — per-word bucket hashing, weight lookup, and the per-doc fold
# all run as array higher-order functions inside whole-stage codegen:
# zero shuffle, zero UDF, a pure scan at any corpus scale. The weight
# vector here is deterministic synthetic (splitmix64 per bucket,
# scaled to exact dyadic rationals so the fold is EXACT in double and
# the DuckDB oracle is bit-identical regardless of summation order);
# a trained model drops in as a literal array of the same shape.
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py, like geo8/dd8/cur5.

_TX7_BUCKETS = 64
_TX7_BIG_BUCKETS = 1 << 18  # realistic vocab-hash size (broadcast path)
_TX7_BIAS = -3.0  # dyadic, exact
_SM64_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _SM64_MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _SM64_MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _SM64_MASK
    return x ^ (x >> 31)


def _tx7_weights(buckets: int = _TX7_BUCKETS) -> list[float]:
    """Deterministic per-bucket weights in [-1000, 1000]/1024 —
    dyadic rationals, so any summation order yields the same double."""
    return [
        ((_splitmix64(7_777_777 + b) % 2001) - 1000) / 1024.0
        for b in range(buckets)
    ]


TX7_SQL = f"""
WITH scored AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           list_sum(list_transform(w, x ->
               ([{", ".join(repr(x) for x in _tx7_weights())}])
               [1 + ({_hex_to_int_sql("substr(md5(x),1,8)")}) % {_TX7_BUCKETS}]
           )) + {_TX7_BIAS!r} AS logit
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT doc_id, n_words, logit, logit > 0 AS quality_pass
FROM scored
"""


def tx7_model_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality classifier over bag-of-words features:
    logit = bias + sum over words of weight[hash(word) % K].

    Scale design: the whole model evaluation is one array transform +
    fold per row (JVM codegen, weights as a constant array literal) —
    no explode, no join, no shuffle; at 100 TB this pipelines into
    the curation scan like any other gate. A trained model replaces
    the synthetic weight vector; K scales to real vocab-hash sizes
    (2^18+) without changing the plan shape (element_at on a literal
    array, or a broadcast lookup once the array passes the codegen
    constant-size comfort zone)."""
    docs = load_table(spark, sf_dir, "documents")
    weights = F.array(*[F.lit(x) for x in _tx7_weights()])
    w = F.split(F.col("text"), " ")
    per_word = F.transform(
        w,
        lambda x: F.element_at(
            weights,
            (_word_hash_spark(x) % _TX7_BUCKETS + 1).cast("int"),
        ),
    )
    logit = (
        F.aggregate(per_word, F.lit(0.0), lambda acc, x: acc + x)
        + F.lit(_TX7_BIAS)
    )
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        logit.alias("logit"),
        (logit > 0).alias("quality_pass"),
    )


_TX7_WDF_CACHE: dict = {}


def _tx7_weight_table(spark: SparkSession, buckets: int) -> DataFrame:
    """(bucket, weight) model table, built once per session and
    localCheckpointed — the stand-in for a trained model loaded from
    parquet. A model is a fixed artifact: re-synthesizing and
    re-shipping it per query would time model DISTRIBUTION, not
    scoring (measured: the 262k-row createDataFrame + checkpoint cost
    dwarfs the scoring itself when paid per call)."""
    key = (spark.sparkContext.applicationId, buckets)
    wdf = _TX7_WDF_CACHE.get(key)
    if wdf is None:
        import pandas as pd

        wdf = spark.createDataFrame(
            pd.DataFrame(
                {"bucket": range(buckets), "weight": _tx7_weights(buckets)}
            )
        ).localCheckpoint(eager=True)
        _TX7_WDF_CACHE[key] = wdf
    return wdf


def tx7_broadcast_quality_score(
    spark: SparkSession, sf_dir: str, buckets: int = _TX7_BIG_BUCKETS
) -> DataFrame:
    """tx7 at realistic vocab-hash size (VERDICT r5 #4): the same
    hashed-linear model with the weight table past the literal-array
    comfort zone (default 2^18 buckets = 2 MB of doubles — a literal
    array of 262144 F.lit nodes would blow up analysis/codegen).

    Shape chosen by MEASUREMENT at 2^18 over sf0.1 (all prebuilt
    weight tables, checksum-consumed medians):

    - one ArrayType literal via F.lit(list): 115 s — pathological,
      rejected;
    - single-row array attach (crossJoin a broadcast 1-row frame,
      element_at + fold): 3.1 s, and the cost scales LINEARLY with
      table bytes (0.8 s at 2^12) — each joined row materializes the
      whole 2 MB array, so the "no corpus shuffle" shape silently
      becomes a per-row memcpy of the model; rejected;
    - explode -> broadcast HASH join on bucket -> re-agg by doc_id
      (this implementation): 1.8 s. The shuffle carries exactly one
      (doc_id, n_words, partial-sum) row per document after map-side
      combine — tiny rows, the standard fasttext-scorer-on-Spark
      shape at any corpus size; the 262k-row model table stays a
      broadcast hash table probed at O(1) per word.

    Summation-order safety: the weights are dyadic rationals
    (_tx7_weights), so the distributed sum is bit-identical to the
    literal path's sequential fold — pinned by the demo-K parity test
    in tests/test_suite_oracle.py; plan pinned (one BroadcastHashJoin,
    one shuffle, no SortMergeJoin) in tests/test_plans.py."""
    docs = load_table(spark, sf_dir, "documents")
    wdf = _tx7_weight_table(spark, buckets)
    w = F.split(F.col("text"), " ")
    words = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.explode(w).alias("word"),
    )
    hashed = words.withColumn(
        "bucket", (_word_hash_spark(F.col("word")) % buckets).cast("long")
    )
    per_doc = (
        hashed.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id", "n_words")
        .agg(F.sum("weight").alias("s"))
    )
    logit = F.col("s") + F.lit(_TX7_BIAS)
    return per_doc.select(
        "doc_id",
        "n_words",
        logit.alias("logit"),
        (logit > 0).alias("quality_pass"),
    )


# --- dd10: unaligned duplicate-span detection ------------------------------
# Exact-substring dedup in the Lee et al. 2021 ("Deduplicating
# Training Data Makes Language Models Better") sense: find repeated
# token RUNS of >= _DD10_WIN tokens anywhere in the corpus, at any
# offset. dd8 (passage dedup) hashes fixed-boundary chunks, so a
# duplicated paragraph that starts mid-chunk is invisible to it; dd10
# slides a stride-1 window, so any repeated run of >= WIN tokens
# produces at least one repeated window hash regardless of alignment.
# The reference tool is a suffix array on one big machine; the
# Spark-first equivalent is the shingle table: O(corpus tokens) rows
# of (doc_id, pos, 60-bit window hash), grouped on the uniform hash —
# no suffix structure, same detection contract for runs >= WIN.
#
# Output is the ACTION LIST (doc_id, span_start, span_end) of maximal
# duplicated spans — merged from overlapping window hits via
# gaps-and-islands — never a corpus projection (the dd9 convention).
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py.


def _dd10_sql(win: int = _DD10_WIN) -> str:
    # 60-bit fingerprints (n_chars=15): at corpus scale the shingle
    # count makes 32-bit birthday collisions routine (1e9 shingles ->
    # ~1e8 colliding pairs), and a collision here fabricates a
    # duplicated span; 60 bits stays bigint-safe in both engines.
    whash = _hex_to_int_sql(
        f"md5(array_to_string(w[i:i+{win - 1}], ' '))", n_chars=15
    )
    return f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, {whash} AS whash
    FROM (
        SELECT doc_id, w, unnest(range(1, len(w) - {win} + 2)) AS i
        FROM t WHERE len(w) >= {win}
    )
),
rep AS (SELECT whash FROM sh GROUP BY whash HAVING count(*) >= 2),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN rep USING (whash)),
isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + {win}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1)
                THEN 1 ELSE 0 END AS new_isl
    FROM hits
),
runs AS (
    SELECT doc_id, pos,
           sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM isl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {win} AS BIGINT) AS span_end,
       CAST(max(pos) + {win} - min(pos) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM runs GROUP BY doc_id, island
"""


DD10_SQL = _dd10_sql()


def dd10_duplicate_spans(
    spark: SparkSession, sf_dir: str, win: int = _DD10_WIN
) -> DataFrame:
    """Suite entry for :func:`duplicate_spans` over the documents
    table — see that function for the semantics and scale design.

    NOT spread (r13 clean-window A/B: 1.41 s vs 1.18 s — the rolling
    pass checkpoints anyway, and the exchange + 32-block checkpoint
    write costs more than the serial Arrow pass saves at this shape;
    an earlier contaminated window read the opposite, see
    plans/r13/ab_spread_evidence.txt)."""
    return duplicate_spans(load_table(spark, sf_dir, "documents"), win)


# --- dd11: duplicate-span scrub --------------------------------------------
# The ACTION for dd10's findings: rewrite each document with every
# flagged span dropped — the Lee et al. ExactSubstr convention
# (remove ALL occurrences of a duplicated run; the paper measured
# that keeping zero copies of boilerplate does not hurt, and it makes
# the operator embarrassingly parallel — no keeper election across
# documents). UNREGISTERED; oracle-compared in tests/test_suite_oracle.py.

DD11_SQL = f"""
WITH spans AS ({DD10_SQL}),
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (
    SELECT t.doc_id, w[i] AS tok, i,
           NOT EXISTS (
               SELECT 1 FROM spans s
               WHERE s.doc_id = t.doc_id
                 AND i - 1 >= s.span_start AND i - 1 < s.span_end
           ) AS keep
    FROM t, unnest(range(1, len(w) + 1)) AS r(i)
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY i),
                '') AS clean_text,
       CAST(count(*) AS BIGINT) AS n_tokens_before,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           AS n_tokens_removed
FROM tok GROUP BY doc_id
"""


def dd11_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd10's spans applied: the corpus with duplicated runs removed,
    plus per-doc removal accounting. In a pipeline the spans frame is
    computed once and shared; standalone, this recomputes dd10."""
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, dd10_duplicate_spans(spark, sf_dir))


# --- tx8: n-gram LM quality scoring ----------------------------------------
# The CCNet/KenLM-shaped perplexity filter (Wenzek et al. 2020):
# production pipelines score every document under a small n-gram
# language model and gate/bucket on the score — the single most used
# "does this read like language" signal before model-based
# classifiers. Here the model is a Laplace-smoothed bigram LM over a
# top-V whitespace-token vocabulary (OOV -> '<unk>'), trained and
# applied on the same corpus (the self-scoring demo the oracle
# states; a deployment trains on a held-out reference slice and only
# the scoring pass touches the 100-TB corpus):
#
#   score(doc) = avg over doc bigrams of
#                ln((C2(w1,w2) + 1) / (C1(w1) + V + 1))
#
# All counts are exact integers in both engines; ln and the final avg
# drift <= ~1e-14 across engines and are settled by round(4), the
# repo-wide convention. '<unk>' cannot collide with a real token: the
# corpus is whitespace-tokenized and '<' never starts a generated
# token (same assumption every tx operator makes about the synthetic
# corpus; a production run would reserve a non-text sentinel).
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py.


def _tx8_sql(vocab_size: int = _TX8_VOCAB) -> str:
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    tok AS (SELECT doc_id, unnest(w) AS t FROM w),
    vocab AS (
        SELECT t FROM tok GROUP BY t
        ORDER BY count(*) DESC, t LIMIT {vocab_size}
    ),
    vt AS (SELECT count(*) + 1 AS vt FROM vocab),
    mtok AS (
        SELECT doc_id,
               CASE WHEN t IN (SELECT t FROM vocab)
                    THEN t ELSE '{_TX8_UNK}' END AS t
        FROM tok
    ),
    uni AS (SELECT t, count(*) AS c1 FROM mtok GROUP BY t),
    big AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i])) AS r1,
               unnest(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i + 1])) AS r2
        FROM w WHERE len(w) >= 2
    ),
    mbig AS (
        SELECT doc_id,
               CASE WHEN r1 IN (SELECT t FROM vocab)
                    THEN r1 ELSE '{_TX8_UNK}' END AS w1,
               CASE WHEN r2 IN (SELECT t FROM vocab)
                    THEN r2 ELSE '{_TX8_UNK}' END AS w2
        FROM big
    ),
    bi AS (SELECT w1, w2, count(*) AS c2 FROM mbig GROUP BY w1, w2)
    SELECT m.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bi.c2 + 1.0) / (uni.c1 + vt.vt))), 4)
               AS avg_logprob
    FROM mbig m
    JOIN bi ON bi.w1 = m.w1 AND bi.w2 = m.w2
    JOIN uni ON uni.t = m.w1
    CROSS JOIN vt
    GROUP BY m.doc_id
    """


TX8_SQL = _tx8_sql()


def tx8_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring over the documents table at the oracle-stated
    demo geometry (V=_TX8_VOCAB, self-scored)."""
    # NOT spread (r13 A/B: 2.85 s vs 2.47 s — the histogram explodes
    # do map-side partial aggregation in the scan stage; an up-front
    # exchange of full text rows only adds serialization)
    return ngram_lm_scores(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# --- cur8: DSIR importance weighting ----------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every raw-corpus document by how much its hashed n-gram profile
# looks like a TARGET domain — log importance weight
#
#   w(doc) = sum over doc features f of  ln p_target(b(f)) - ln q_raw(b(f))
#
# with unigram+bigram features hashed into B buckets (the paper's
# "hashed n-gram" estimator) and Laplace-smoothed bucket
# distributions. This is the third canonical selection tier next to
# the model-based classifier (tx7) and the perplexity filter (tx8):
# tx7 needs labels, tx8 measures fluency, DSIR matches a DOMAIN with
# nothing but a target sample. The paper resamples with Gumbel noise
# on these weights; the deterministic score is the artifact — a
# pipeline thresholds it, top-k's it, or feeds it to cur5's mixture
# machinery. Feature hash = the repo-wide md5/conv word-hash
# convention, identical in both engines.
#
# Demo geometry (the oracle states it): target = the corpus's 'en'
# slice, raw = the whole corpus, B = 1024 — so the score measures
# English-likeness and must separate the langs (pinned).
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py.

_CUR8_TARGET_LANG = "en"


def _cur8_cte(
    buckets: int = _CUR8_BUCKETS, target_lang: str = _CUR8_TARGET_LANG
) -> str:
    """Shared DuckDB CTE chain ending in ``scored(doc_id, n_feats,
    lw)`` with lw UNROUNDED — cur8 rounds it for output, cur9 keys
    the Gumbel-top-k selection on it."""
    h = _hex_to_int_sql("substr(md5(f),1,8)")
    return f"""w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    feats AS (
        SELECT doc_id, lang, ({h}) % {buckets} AS b
        FROM (
            SELECT doc_id, lang, unnest(w) AS f FROM w
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1])) AS f
            FROM w WHERE len(w) >= 2
        )
    ),
    tc AS (
        SELECT b, count(*) AS ct FROM feats
        WHERE lang = '{target_lang}' GROUP BY b
    ),
    rc AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
    nt AS (
        SELECT count(*) AS nt FROM feats WHERE lang = '{target_lang}'
    ),
    nr AS (SELECT count(*) AS nr FROM feats),
    model AS (
        SELECT rc.b,
               ln((coalesce(tc.ct, 0) + 1.0) / (nt.nt + {buckets}))
             - ln((rc.cr + 1.0) / (nr.nr + {buckets})) AS lr
        FROM rc LEFT JOIN tc ON rc.b = tc.b
        CROSS JOIN nt CROSS JOIN nr
    ),
    scored AS (
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               sum(m.lr) AS lw
        FROM feats f JOIN model m ON f.b = m.b
        GROUP BY f.doc_id
    )"""


def _cur8_sql(
    buckets: int = _CUR8_BUCKETS, target_lang: str = _CUR8_TARGET_LANG
) -> str:
    return f"""
    WITH {_cur8_cte(buckets, target_lang)}
    SELECT doc_id, n_feats, round(lw, 4) AS dsir_logweight FROM scored
    """


CUR8_SQL = _cur8_sql()


def dsir_logweights(
    corpus: DataFrame,
    target: DataFrame | None,
    buckets: int = _CUR8_BUCKETS,
    target_flag: str | None = None,
) -> DataFrame:
    """Rounded presentation of :func:`_dsir_scores_raw` — the cur8
    artifact: ``(doc_id, n_feats, dsir_logweight)``."""
    return _dsir_scores_raw(corpus, target, buckets, target_flag).select(
        "doc_id",
        "n_feats",
        F.round("lw", 4).alias("dsir_logweight"),
    )


def cur8_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR scoring at the oracle-stated demo geometry: target = the
    'en' slice, raw = the whole documents table, B=_CUR8_BUCKETS."""
    docs = load_table(spark, sf_dir, "documents")
    # fused target-flag form (r12): the target is the corpus's 'en'
    # slice, so its bucket counts ride the one corpus histogram pass.
    # NOT spread (r13 A/B: 1.94 s vs 1.62 s — same partial-agg story
    # as tx8)
    return dsir_logweights(
        docs.select(
            "doc_id",
            "text",
            (F.col("lang") == _CUR8_TARGET_LANG).alias("is_tgt"),
        ),
        None,
        target_flag="is_tgt",
    )


# --- cur9: DSIR Gumbel-top-k resample ---------------------------------------
# The SELECTION step of Xie et al. 2023: sampling k documents without
# replacement, with probability proportional to the (softmax of the)
# importance weights, is exactly "add i.i.d. Gumbel(0,1) noise to each
# log-weight and take the top k" (the Gumbel-top-k trick, Kool et al.
# 2019). The noise here is DETERMINISTIC — Gumbel inverse-CDF over the
# repo's salted md5 uniform — so the drawn sample is reproducible
# across runs, engines, partitionings, and resumptions, which is the
# property a 100-TB selection job needs (a rand() draw is none of
# those). Top-k is TakeOrdered (per-partition heaps + a k-row driver
# merge), never a global sort.
#
# Selection compares RAW doubles; lw drifts <= ~1e-13 across engines
# (summation order) and ln <= 1 ulp, so the draw is cross-engine
# stable iff the boundary gap |key_k - key_{k+1}| clears that —
# measured 2.5e-2 at sf0.001 and 1.9e-2 at sf0.01 (continuous noise
# makes ties measure-zero; pinned in test_cur9_boundary_gap).
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py.


def _cur9_sql(
    k: int = _CUR9_K,
    buckets: int = _CUR8_BUCKETS,
    target_lang: str = _CUR8_TARGET_LANG,
    salt: str = _CUR9_SALT,
) -> str:
    h = _hex_to_int_sql(
        f"substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)),1,8)"
    )
    return f"""
    WITH {_cur8_cte(buckets, target_lang)},
    keyed AS (
        SELECT doc_id, n_feats, lw,
               lw + (-ln(-ln((({h}) + 0.5) / 4294967296.0))) AS key
        FROM scored
    )
    SELECT doc_id, n_feats,
           round(lw, 4) AS dsir_logweight,
           round(key, 4) AS sample_key
    FROM keyed ORDER BY key DESC, doc_id LIMIT {k}
    """


CUR9_SQL = _cur9_sql()


def cur9_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k draw at the oracle-stated demo geometry:
    k=_CUR9_K from the English-target weights of cur8."""
    docs = load_table(spark, sf_dir, "documents")
    # NOT spread (r13 A/B: 1.72 s vs 1.41 s — same partial-agg story
    # as tx8/cur8)
    return dsir_gumbel_topk(
        docs.select(
            "doc_id",
            "text",
            (F.col("lang") == _CUR8_TARGET_LANG).alias("is_tgt"),
        ),
        None,
        target_flag="is_tgt",
    )


# --- tx9: trained-BPE subword accounting ------------------------------------
# Classic BPE (Sennrich et al. 2016) as a pipeline operator: train on
# the corpus's capped word-frequency table, apply with an Arrow-batched
# zero-exchange scan (operators/bpe.py carries the algorithm and the
# scale argument). Subword token counts are the denomination of every
# mixture / packing / budget decision downstream of a real tokenizer —
# the whitespace and BPE-ish-regex counts (tx2) are its cheap proxies.
#
# UNREGISTERED and NO SQL ORACLE: greedy iterative merging is not
# ANSI-SQL-expressible (the documented exception class) — correctness
# is pinned by the pure-Python mirror, the paper's worked example, and
# the reconstruction invariant in tests/test_bpe.py.

_TX9_TOP_K = 2000
_TX9_MERGES = 200

# trained merge table per (sf_dir, geometry) — the model is a
# train-once artifact exactly like tx7's weight table (_TX7_WDF_CACHE
# convention): a deployment trains one tokenizer and scores every
# corpus pass with it, so repeated runs time the SCORING scan, not a
# re-train per run
_TX9_MERGE_CACHE: dict = {}


def tx9_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE accounting at the demo geometry (top-2000-word
    training table, 200 merges): ``(doc_id, n_ws_tokens,
    n_bpe_tokens, compression)``."""
    from ..operators.bpe import (
        bpe_token_stats,
        corpus_word_counts,
        train_bpe,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = (sf_dir, _TX9_TOP_K, _TX9_MERGES)
    merges = _TX9_MERGE_CACHE.get(key)
    if merges is None:
        merges = train_bpe(corpus_word_counts(docs, _TX9_TOP_K), _TX9_MERGES)
        _TX9_MERGE_CACHE[key] = merges
    # NOT spread (r13 A/B: 0.62 s vs 0.48 s — the Arrow BPE pass is
    # cheap per byte; the exchange loses)
    return bpe_token_stats(docs, merges)


# --- cur10: exact-substring decontamination ---------------------------------
# The stricter of the two decontamination tiers: cur2 flags
# 3-shingle overlap (recall-heavy), cur10 flags EXACT >= 13-token
# overlap — the GPT-3
# standard (Brown et al. 2020 filter eval leaks by 13-gram match) —
# by pointing dd10's stride-1 window-fingerprint machinery at the
# eval set instead of the corpus itself. 60-bit fingerprints (the
# dd10 argument: 32-bit birthday-collides at corpus scale) on BOTH
# engines, so the oracle shares the false-positive envelope exactly.
#
# Demo geometry (oracle-stated): eval = doc_id % 41 == 0 (cur2's
# slice convention), corpus = the rest; measured 3 contaminated docs
# / 113 leaked windows at sf0.001 and ZERO at sf0.01 — so the raw
# sf0.01 oracle row mostly pins the empty set. VERDICT r6 finding #1
# closed in r7: test_cur10_oracle_with_planted_signal re-runs the
# full Spark-vs-DuckDB value comparison on an sf0.01-shaped corpus
# with planted >= 13-gram eval overlaps, pinning non-empty per-doc
# hit-window counts on both engines.
#
# UNREGISTERED (50-entry driver snapshot cap) — oracle-compared in
# tests/test_suite_oracle.py.


def _cur10_sql(win: int = _CUR10_WIN) -> str:
    h = _hex_to_int_sql("substr(md5(ws),1,15)", 15)
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    win AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - {win - 1}),
                      i -> list_aggregate(list_slice(toks, i, i + {win - 1}),
                                          'string_agg', ' '))) AS ws
        FROM w WHERE len(toks) >= {win}
    ),
    wh AS (SELECT doc_id, ({h}) AS whash FROM win),
    ev AS (SELECT DISTINCT whash FROM wh WHERE doc_id % 41 = 0),
    hits AS (
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n
        FROM wh c JOIN ev USING (whash)
        WHERE c.doc_id % 41 <> 0 GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(hits.n, 0) AS BIGINT) AS n_hit_windows,
           coalesce(hits.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 41 <> 0
    """


CUR10_SQL = _cur10_sql()


def _md5_window_shingles(docs: DataFrame, win: int) -> DataFrame:
    """``(doc_id, pos, whash)`` via the round-6 md5-over-concat window
    fingerprint — kept as the JVM-side reference anchor for the
    Karp-Rabin rolling generator (operators/rollhash.py) that now
    feeds dd10/dd11/cur10; tests/test_rollhash.py pins span-output
    equality of the two. Also the convention every exact-substring
    DuckDB oracle here states (DD10_SQL/DD11_SQL/CUR10_SQL)."""
    base = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= win)
    whashes = F.expr(
        f"transform(sequence(1, size(toks) - {win} + 1), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', "
        f"slice(toks, i, {win}))), 1, 15), 16, 10) as bigint))"
    )
    return base.select("doc_id", F.posexplode(whashes).alias("pos", "whash"))


def cur10_substring_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring decontamination at the oracle-stated demo
    geometry: eval = the doc_id % 41 == 0 slice, corpus = the rest,
    win=_CUR10_WIN."""
    # NOT spread (r13 clean-window A/B: 1.58 s vs 1.33 s — the window
    # fingerprints already stream map-side; the exchange loses)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_contamination(
        docs.filter(F.col("doc_id") % 41 != 0),
        docs.filter(F.col("doc_id") % 41 == 0),
    )


# --- llm_ops_battery: registered composite for the r5/r6 tier ---------------
# The driver registry holds at most 50 entries (snapshot cap, round-4
# convention), so the six operators added in rounds 5-6 that still
# lacked a hard driver-CORRECTNESS row — dd10, dd11, cur8, cur9, cur10,
# tx8 — register through ONE composite entry: each operator's
# full output is melted to (chk, key_s, n, v) rows and unioned, and the
# oracle unions the same per-operator DuckDB SQL (the exact constants
# the pytest oracle suite already compares one by one), so a single
# wrong span / weight / logprob flips the battery's value hash.


def _melt_battery(df: DataFrame, chk: str, key_s, n, v) -> DataFrame:
    return df.select(
        F.lit(chk).alias("chk"),
        key_s.cast("string").alias("key_s"),
        n.cast("long").alias("n"),
        v.cast("double").alias("v"),
    )


@query(
    "llm_ops_battery",
    oracle=f"""
    SELECT 'dd10' AS chk,
           concat_ws(':', CAST(doc_id AS VARCHAR),
                     CAST(span_start AS VARCHAR),
                     CAST(span_end AS VARCHAR)) AS key_s,
           n_windows AS n, CAST(span_tokens AS DOUBLE) AS v
    FROM ({DD10_SQL})
    UNION ALL
    SELECT 'dd11', concat_ws(':', CAST(doc_id AS VARCHAR), md5(clean_text)),
           n_tokens_before, CAST(n_tokens_removed AS DOUBLE)
    FROM ({DD11_SQL})
    UNION ALL
    SELECT 'cur8', CAST(doc_id AS VARCHAR), n_feats, dsir_logweight
    FROM ({CUR8_SQL})
    UNION ALL
    SELECT 'cur9', CAST(doc_id AS VARCHAR), n_feats, sample_key
    FROM ({CUR9_SQL})
    UNION ALL
    SELECT 'cur10',
           concat_ws(':', CAST(doc_id AS VARCHAR),
                     CAST(contaminated AS VARCHAR)),
           n_hit_windows, CAST(NULL AS DOUBLE)
    FROM ({CUR10_SQL})
    UNION ALL
    SELECT 'tx8', CAST(doc_id AS VARCHAR), n_bigrams, avg_logprob
    FROM ({TX8_SQL})
    """,
)
def llm_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite correctness battery for the six r5-r6
    operators outside the registry: dd10 duplicate spans, dd11 span
    scrub, cur8 DSIR selection, cur9 DSIR Gumbel-top-k resample, cur10
    substring decontamination and tx8 bigram-LM perplexity. Every
    operator's complete value set is hashed (spans+window counts,
    scrubbed-text md5, DSIR weights and Gumbel keys, contamination
    flags, per-doc logprobs); each sub-operator also keeps its own
    standalone oracle test in tests/. The union is a pure
    composition — each branch is the operator's registered-shape plan
    unchanged, so the battery adds no shuffles beyond what the
    operators themselves cost."""
    dbln = F.lit(None).cast("double")
    dd10 = dd10_duplicate_spans(spark, sf_dir)
    dd11 = dd11_span_scrub(spark, sf_dir)
    cur8 = cur8_dsir_selection(spark, sf_dir)
    cur9 = cur9_dsir_resample(spark, sf_dir)
    cur10 = cur10_substring_decontamination(spark, sf_dir)
    tx8 = tx8_lm_perplexity(spark, sf_dir)
    parts = [
        _melt_battery(
            dd10,
            "dd10",
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("span_start").cast("string"),
                F.col("span_end").cast("string"),
            ),
            F.col("n_windows"),
            F.col("span_tokens"),
        ),
        _melt_battery(
            dd11,
            "dd11",
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.md5("clean_text")
            ),
            F.col("n_tokens_before"),
            F.col("n_tokens_removed"),
        ),
        _melt_battery(
            cur8, "cur8", F.col("doc_id"), F.col("n_feats"),
            F.col("dsir_logweight"),
        ),
        _melt_battery(
            cur9, "cur9", F.col("doc_id"), F.col("n_feats"),
            F.col("sample_key"),
        ),
        _melt_battery(
            cur10,
            "cur10",
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("contaminated").cast("string"),
            ),
            F.col("n_hit_windows"),
            dbln,
        ),
        _melt_battery(
            tx8, "tx8", F.col("doc_id"), F.col("n_bigrams"),
            F.col("avg_logprob"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
