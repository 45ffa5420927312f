"""Corpus operators that ``corpus_pipeline`` composes: near-duplicate
clustering (dd7), curation, repetition and PII passes, splits, token
packing, duplicate-span removal, the bigram-LM gate, DSIR selection
and substring decontamination.

Each operator is a shuffle-minimal Spark plan over ``(doc_id, text,
...)`` frames. tests/corpus_oracles.py states each one as DuckDB
oracle SQL; tests/test_suite_oracle.py checks them against it (or a
pure-Python mirror) and tests/test_plans.py pins their plan shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.rollhash import rolling_window_shingles
from .session import load_table, local_df


def _word_hash_spark(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# MinHash parameters: k=8 permutations h_i(x) = (a_i*x + b_i) mod p over
# the 31-bit Mersenne prime; 4 bands x 2 rows.
_STOPWORDS = ("the", "a", "of", "and", "to", "in")

_MH_P = 2147483647
_MH_A = [1103515245, 1103604289, 214013, 69069, 1664525, 22695477, 48271, 16807]
_MH_B = [12345, 2531011, 2531021, 1, 1013904223, 1, 0, 33]
_MH_BANDS = 4
_MH_ROWS = 2  # rows per band (k = bands * rows)


def _spread(df: DataFrame) -> DataFrame:
    """Unlock scan parallelism on under-split inputs before a
    CPU-heavy deterministic map pass (r13, guide §2.5/§6 "one huge
    unsplittable file ... repartition immediately after the read").

    The local testdata tables are ONE parquet file with ONE row group,
    and Spark cannot split a row group across tasks — so every
    scan-rooted stage (shingling, minhash, rolling hashes, explodes,
    Arrow encode passes) ran as ONE task regardless of core count.
    That was the measured cause of the suite's flat 8-vs-32-core
    scaling (scripts/scaling_cores.py, SCALING.md r13): the map work
    was serialized by input layout, not by the operators.

    Scale-adaptive by construction: the round-robin repartition only
    fires when the scan yields fewer splits than the session's default
    parallelism. At cluster scale the input is many files/row groups
    (splits >= parallelism) and this is a no-op; locally it costs one
    exchange rooted at the single scan task — the full rows are
    serialized through that one task either way, so the spread only
    pays where downstream per-row compute dominates the exchange.
    Every candidate site was decided by a same-process alternating
    A/B (scripts/ab_spread.py; plans/r13/ab_spread_*.txt): KEPT at
    dd3's minhash signature pass (0.51 s vs 0.77 s, and dd4/dd7/dd9
    inherit it through the signature build: 0.97/0.81/0.94 ratios)
    and mm5's SimHash signature pass (0.67 s vs 1.15 s); measured and
    REJECTED everywhere else (dd2, dd5, dd8, dd10, dd11, cur8, cur9,
    cur10, tx8, tx9, emb1, dd6, dd12, geo1, geo8 — ratios 1.14-1.51,
    per-site notes at the call sites). A keyed repartition(doc_id)
    variant measured even with round-robin (0.54 vs 0.53), so the
    generic keyless form stays. Values are partitioning-independent
    at every site: per-row hash/array math only, no rand(), no
    partition-seeded sampling; trained-model float-aggregation paths
    (sim7/sim10/sim11/tx10) are out of scope by policy."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _shingles_spark(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + distinct n-word shingle array, computed map-side."""
    words = F.split(F.col("text"), " ")
    shingle_expr = f"""
        array_distinct(
            transform(sequence(0, size(w) - {n}),
                      i -> concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(n))}))
        )
    """
    return (
        df.withColumn("w", words)
        .filter(F.size("w") >= n)
        .withColumn("shingles", F.expr(shingle_expr))
        .drop("w")
    )


def _minhash_sig_cols():
    """k min-hash columns computed over the shingle-int array, map-side."""
    cols = []
    for i, (a, b) in enumerate(zip(_MH_A, _MH_B)):
        cols.append(
            F.array_min(
                F.expr(
                    f"transform(xs, x -> ({a}L * x + {b}L) % {_MH_P}L)"
                )
            ).alias(f"mh{i}")
        )
    return cols


# shingle string -> 31-bit int, the dd3 mapping (the DuckDB oracles
# reproduce the keys byte-for-byte)
_SHINGLE_INT_EXPR = (
    f"transform(shingles, s -> conv(substring(md5(s), 1, 8), 16, 10) % {_MH_P}L)"
)


def dd3_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) computed entirely map-side with array
    higher-order functions — zero shuffle, linear scan; the scale path
    for 100 TB near-dup detection."""
    docs = _spread(load_table(spark, sf_dir, "documents"))
    sh = _shingles_spark(docs)
    ints = sh.withColumn(
        "xs", F.expr(_SHINGLE_INT_EXPR).cast("array<long>")
    )
    return ints.select("doc_id", *_minhash_sig_cols())


def _band_struct_cols() -> list:
    """Spark: array of (band_idx, band_hash) structs over the mh*
    signature columns — the banding used by dd4's self-join."""
    band_structs = []
    for bi in range(_MH_BANDS):
        row_cols = [
            F.col(f"mh{bi * _MH_ROWS + r}").cast("string")
            for r in range(_MH_ROWS)
        ]
        band_structs.append(
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.md5(F.concat_ws(",", *row_cols)).alias("band_hash"),
            )
        )
    return band_structs


def dd4_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: band the MinHash signature (4 bands x 2
    rows), bucket-join on (band_idx, band_hash). The only shuffle keys
    are uniform hashes, so the join is skew-free at any scale."""
    sig = dd3_minhash_signatures(spark, sf_dir)
    band_structs = _band_struct_cols()
    # materialize the banded signatures ONCE — both sides of the
    # self-join read them, and without this the full document scan +
    # minhash pipeline runs twice (at corpus scale: materialize the
    # signature table to parquet before the bucket join, same shape)
    bands = (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("band"))
        .select("doc_id", "band.band_idx", "band.band_hash")
        .localCheckpoint(eager=True)
    )
    a = bands.alias("a")
    # SHUFFLE_HASH (r13, the dd2 r12 finding — guide §3.1): left to the
    # planner, the checkpointed band table's unknown size estimate
    # chose a driver-built BroadcastExchange of the WHOLE band table
    # (corpus x n_bands rows — single-threaded build, and at scale a
    # corpus-sized broadcast is a driver OOM by construction). The
    # hinted shuffled-hash join builds per-partition hash tables in
    # parallel on the uniform (band_idx, band_hash) keys. Checksum
    # MATCH; measured -9..15 % at sf0.1 in 2 of 3 alternating reps
    # (even in the third), and dd7/dd9 inherit the same shape.
    b = bands.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dd7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the LSH candidate pairs (dd4): connected
    components, each document labeled with its component's minimum
    doc_id (the canonical keeper), plus component size — the step that
    turns pairwise near-dup evidence into a keep/drop decision for a
    training-data pipeline.

    Scale design: hash-to-min label propagation — every round each
    node takes the min of its own and its neighbors' labels, so the
    component's min floods one hop per round and the loop runs
    O(component diameter) rounds, each a single shuffle-on-doc_id
    aggregation over (labels UNION propagated). The loop iterates
    ONLY over edge-endpoint nodes: a document with no candidate pair
    is its own singleton cluster and its label can never change, so
    shuffling it every round is pure waste — at corpus scale with a
    few-percent dup rate that cuts per-round shuffle volume by
    10-100×. Singletons rejoin at the end via a single anti-join.
    Near-dup components are shallow (dozens of docs, diameter a few
    hops), so this converges in 2-4 rounds; a web-scale graph with
    giant components would swap in the large-star/small-star
    contraction (Kiveris et al., "Connected Components in
    MapReduce"), which is the same joins with an O(log n) round
    bound. Every round localCheckpoints the 2-column label frame —
    mandatory in iterative Spark to stop lineage (and therefore plan
    size and recovery cost) growing per iteration. The driver-side
    loop moves only the converged-row COUNT, never data.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # materialize the candidate PAIRS once (r12): the size probe, the
    # driver fast path's collect, and the distributed path's edge build
    # all read this one checkpoint — previously the probe materialized a
    # derived `edges` frame and the collect then re-executed the whole
    # dd4 band self-join + distinct a second time (one full extra LSH
    # join per dd7/dd9 invocation, pure waste at any scale)
    pairs = dd4_minhash_lsh_candidates(spark, sf_dir).localCheckpoint(
        eager=True
    )
    # Adaptive small-graph fast path: the iterative loop costs
    # O(diameter) Spark jobs of fixed latency, which dominates when the
    # candidate graph is tiny (a low-dup corpus). Below the threshold
    # the edge list is a couple of MB — union-find on the driver and
    # ship the labels back as one Arrow LocalTableScan. Above it, the
    # distributed propagation below is the only thing that scales.
    if pairs.count() <= _DD7_DRIVER_EDGE_LIMIT:
        edge_rows = pairs.select("doc_a", "doc_b").collect()
        labels = _driver_union_find_labels(spark, edge_rows)
        return _dd7_assemble(docs, labels)
    # both directions of each checkpointed pair, so distinct src ==
    # all edge endpoints (map-side union over the checkpoint — the
    # per-round propagation joins re-read it, so materialize it too)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(20):  # >> any real near-dup component diameter
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(
            F.col("dst").alias("doc_id"),
            "cluster_id",
            F.lit(False).alias("own"),
        )
        # carry the node's previous label through the same aggregation
        # (min over own-rows) so convergence is read off the checkpoint
        # with a shuffle-free scan instead of a per-round self-join
        agg = (
            labels.withColumn("own", F.lit(True))
            .union(prop)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("own"), F.col("cluster_id"))).alias(
                    "prev"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = agg.filter(F.col("cluster_id") != F.col("prev")).count()
        labels = agg.select("doc_id", "cluster_id")
        if changed == 0:
            break
    else:
        # a component with diameter > the round budget would exit here
        # with wrong labels; fail loudly instead of silently diverging
        # from the recursive-CTE oracle
        raise RuntimeError(
            f"dd7 label propagation did not converge ({changed} labels "
            "still changing after 20 rounds); raise the round budget "
            "or switch to large-star/small-star for this corpus"
        )
    return _dd7_assemble(docs, labels)


_DD7_DRIVER_EDGE_LIMIT = 100_000


def _driver_union_find_labels(spark: SparkSession, edge_rows):
    """Union-find over a collected (doc_a, doc_b) edge list; labels
    each endpoint with its component's MIN doc_id (the same contract
    as the distributed propagation)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r["doc_a"], r["doc_b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(x, find(x)) for x in parent]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("cluster_id", T.LongType(), False),
        ]
    )
    return local_df(spark, rows, schema)


def _dd7_assemble(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Shared tail: cluster sizes over the (small) clustered set only;
    singleton docs union in with literal size 1, never touching the
    shuffle."""
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    clustered = labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )
    singles = docs.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("bigint").alias("cluster_size"),
        F.lit(True).alias("is_canonical"),
    )
    return clustered.union(singles)


def curation_decisions(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """DataFrame-level body of cur1 (see its docstring): ``clusters``
    is dd7's label frame, injectable so a pipeline computing labels
    once can share them across curation, keeper selection, and the
    split (corpus_pipeline.py) instead of re-running the iterative
    component labeling per stage."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    gate = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.when(n_stop >= 2, "en")
        .when(F.length("text") < 20, "short")
        .otherwise("unk")
        .alias("pred_lang"),
    )
    clusters = clusters.select("doc_id", "cluster_id", "cluster_size")
    j = clusters.join(gate, "doc_id").withColumn(
        "passes", F.col("n_words").between(10, 1000) & (F.col("pred_lang") == "en")
    )
    w = Window.partitionBy("cluster_id")
    min_keep = F.min(F.when(F.col("passes"), F.col("doc_id"))).over(w)
    return j.select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("n_words").cast("long").alias("n_words"),
        "pred_lang",
        (F.col("passes") & (F.col("doc_id") == min_keep)).alias("keep"),
        F.when(F.col("n_words") < 10, "too_short")
        .when(F.col("n_words") > 1000, "too_long")
        .when(F.col("pred_lang") != "en", "lang")
        .when(F.col("doc_id") != min_keep, "near_dup")
        .alias("drop_reason"),
    )


def decontamination_report(
    corpus_docs: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """DataFrame-level body of cur2 over an EXPLICIT eval set (see its
    docstring for the scale design): per corpus doc, how many distinct
    3-word shingles it shares with any eval doc and how many eval docs
    they touch, plus the boolean ``contaminated`` verdict. Injectable
    so a pipeline can decontaminate against its real benchmark suite
    (corpus_pipeline.py's eval_dir stage)."""
    bench_sh = (
        _shingles_spark(eval_docs)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode("shingles").alias("s"),
        )
        .select("bench_id", F.xxhash64("s").alias("h"))
    )
    corp_sh = (
        _shingles_spark(corpus_docs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
    )
    hits = (
        corp_sh.join(bench_sh, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    return (
        corpus_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_shingles", F.lit(0)).alias(
                "n_shared_shingles"
            ),
            F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """DataFrame-level body of cur3 (see its docstring) — injectable
    for pipeline composition (corpus_pipeline.py)."""
    w = F.split(F.col("text"), " ")
    d = (
        docs.withColumn("w", w)
        .filter(F.size("w") >= 3)
        .withColumn("n_words", F.size("w"))
        .withColumn(
            "top_word_n",
            F.array_max(
                F.transform(
                    F.array_distinct("w"),
                    lambda x: F.size(F.filter("w", lambda y: y == x)),
                )
            ),
        )
        .withColumn("total_3grams", F.col("n_words") - 2)
        .withColumn(
            "distinct_3grams",
            F.size(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(w) - 3),"
                        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                    )
                )
            ),
        )
    )
    top_flag = F.col("top_word_n") * 10 > F.col("n_words")
    dup_flag = F.col("total_3grams") > F.col("distinct_3grams")
    return d.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("top_word_n").cast("long").alias("top_word_n"),
        F.round(F.col("top_word_n") / F.col("n_words"), 4).alias(
            "top_word_frac"
        ),
        (F.col("total_3grams") - F.col("distinct_3grams"))
        .cast("long")
        .alias("dup_3grams"),
        top_flag.alias("top_word_flag"),
        dup_flag.alias("dup_3gram_flag"),
        (top_flag | dup_flag).alias("repetitive"),
    )


_PACK_BUDGET = 512  # whitespace tokens per packed sequence
_PACK_SHARDS = 8


def pack_doc_assignments(
    docs: DataFrame,
    budget: int = _PACK_BUDGET,
    shards: int = _PACK_SHARDS,
    group_cols: tuple[str, ...] = ("lang",),
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document pack assignment: ``(doc_id, *group_cols, shard,
    tokens, cum, pack_id)`` — the cumulative-sum packing pack1 rolls
    up, exposed row-level so a pipeline can materialize the packed
    corpus (corpus_pipeline.py writes one file group per pack). The
    window partitions on (*group_cols, pmod(doc_id, shards)), so a
    dominant group cannot serialize into one reducer. pmod, not %:
    corpus_pipeline synthesizes xxhash64 doc_ids for JSONL input,
    and half of those are negative — % would yield 2*shards-1
    distinct shard values (ADVICE r5).

    ``tokens_col``: pack in a caller-supplied token unit (e.g. tx9
    BPE subword counts from the pipeline's --bpe-merges stage)
    instead of the default whitespace count — the budget a trainer
    cares about is MODEL tokens, and a whitespace budget under- or
    over-fills packs by the corpus's measured BPE compression."""
    tokens = (
        F.col(tokens_col).cast("int")
        if tokens_col is not None
        else F.size(F.split(F.col("text"), " "))
    )
    t = docs.select(
        "doc_id",
        *group_cols,
        F.pmod(F.col("doc_id"), F.lit(shards)).alias("shard"),
        tokens.alias("tokens"),
    )
    w = (
        Window.partitionBy(*group_cols, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn("cum", F.sum("tokens").over(w)).withColumn(
        "pack_id",
        F.floor((F.col("cum") - F.col("tokens")) / budget),
    )


_TX5_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+"
_TX5_PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII scrub (tx5) over ``(doc_id, text)``: ``(doc_id, text,
    n_pii)`` with emails/phones replaced by <EMAIL>/<PHONE>
    placeholders and the match count carried for auditing. JVM regex
    expressions — scan-shaped, zero shuffle, pipelines with whatever
    stage follows (corpus-curate --scrub-pii consumes it)."""
    redacted = F.regexp_replace(
        F.regexp_replace("text", _TX5_EMAIL_RE, "<EMAIL>"),
        _TX5_PHONE_RE,
        "<PHONE>",
    )
    n = F.regexp_count("text", F.lit(_TX5_EMAIL_RE)) + F.regexp_count(
        "text", F.lit(_TX5_PHONE_RE)
    )
    return docs.select(
        "doc_id", redacted.alias("text"), n.cast("long").alias("n_pii")
    )


def _hash_frac_spark(col):
    """Deterministic uniform [0, 1) fraction from a string column:
    first 8 hex chars of md5 as a 32-bit int over 2^32. Shared salt
    convention with the oracle twins below — bit-identical in DuckDB
    via _hex_to_int_sql, so keep/split decisions hash-match."""
    return _word_hash_spark(col) / F.lit(4294967296.0)


_CUR6_BOUNDS = (0.8, 0.9)  # train < 0.8 <= validation < 0.9 <= test


def split_from_content(
    docs: DataFrame, bounds: tuple[float, float] = _CUR6_BOUNDS
) -> DataFrame:
    """DataFrame-level body of cur6_leakfree_split — injectable so
    corpus_pipeline's ``split_by="content"`` mode shares the exact
    oracle-checked semantics (the cheaper split for ALREADY-DEDUPED
    corpora, where near-dup closure has nothing left to close)."""
    lo, hi = bounds
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"split bounds must satisfy 0<=lo<=hi<=1: {bounds}")
    frac = _hash_frac_spark(F.concat(F.lit("split:"), F.md5("text")))
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.when(frac < lo, "train")
        .when(frac < hi, "validation")
        .otherwise("test")
        .alias("split"),
    )


def split_from_clusters(
    labels: DataFrame, bounds: tuple[float, float] = _CUR6_BOUNDS
) -> DataFrame:
    """DataFrame-level body of cluster_aware_split over an existing
    dd7 label frame — injectable so a pipeline shares one label
    computation across stages (corpus_pipeline.py). ``bounds`` are
    the hash-fraction cut points: train < bounds[0] <= validation <
    bounds[1] <= test (default 80/10/10)."""
    lo, hi = bounds
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"split bounds must satisfy 0<=lo<=hi<=1: {bounds}")
    frac = _hash_frac_spark(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
    )
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(frac < lo, "train")
        .when(frac < hi, "validation")
        .otherwise("test")
        .alias("split"),
    )


_DD10_WIN = 20  # tokens per window (Lee et al. use 50 BPE tokens)


def duplicate_spans(docs: DataFrame, win: int = _DD10_WIN) -> DataFrame:
    """Maximal duplicated token spans per document: every stride-1
    window of ``win`` tokens whose 60-bit fingerprint occurs more
    than once in the corpus (cross- OR within-document — both are
    training-harmful repetition), with overlapping hits merged into
    maximal ``[span_start, span_end)`` token ranges via
    gaps-and-islands.

    Scale design, stage by stage:
    - shingle pass: one scan; an Arrow batch pass emits tokens-win+1
      Karp-Rabin rolling fingerprints per doc (operators/rollhash.py)
      — O(1) amortized hash work per position; the round-6 md5-over-
      concat form re-hashed ``win`` tokens per position and survives
      as the `_md5_window_shingles` parity anchor. The shingle table
      is O(corpus tokens) rows of 24 bytes — the Spark-shaped stand-in
      for Lee et al.'s single-machine suffix array — and it is
      localCheckpointed before feeding BOTH the repeat groupBy and
      the hits join, so the fingerprint pass genuinely runs once, not
      once per consumer (the mm5 signature-table convention; at
      cluster scale persist it to parquet instead).
    - repeat detection: groupBy on the 60-bit hash (uniform key, map-
      side partial count) then an equi join back — candidates only,
      never all-pairs.
    - span merge: two window functions over (doc_id, pos) — per-doc
      row count is bounded by the doc's own token count, so the skew
      ceiling is max doc length, not corpus size.
    Docs shorter than ``win`` produce no windows. DataFrame-level
    (injectable) so corpus_pipeline's optional scrub stage runs it
    over the CURATED survivors instead of re-reading the raw table.

    Round 7: the shingle pass is the Karp-Rabin rolling fingerprint
    (operators/rollhash.py) — O(1) amortized hash work per position
    instead of md5 over the re-concatenated ``win``-token window, the
    upgrade VERDICT r6 named. The fingerprint is engine-internal
    (windows are only compared within a run), so the DuckDB oracle
    keeps its md5 convention and pins the identical span OUTPUT;
    `_md5_window_shingles` below stays as the JVM-side reference
    anchor and tests/test_rollhash.py pins span-level equality of the
    two generators (real corpus + planted + hypothesis fuzz)."""
    # shingle checkpoint NOT spread (r13 A/B: 1.52 s vs 1.10 s —
    # same story as dd2's set table: the repeat groupBy's own
    # exchange already fans the work out)
    shingles = rolling_window_shingles(docs, win).localCheckpoint(
        eager=True
    )
    repeated = (
        shingles.groupBy("whash")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("whash")
    )
    hits = shingles.join(repeated, "whash").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_isl = hits.withColumn(
        "new_isl",
        F.when(
            F.col("pos")
            > F.coalesce(
                F.max(F.col("pos") + win).over(w_prev), F.lit(-1)
            ),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_isl").over(w_run))
    return (
        with_isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + win).cast("long").alias("span_end"),
            (F.max("pos") + win - F.min("pos"))
            .cast("long")
            .alias("span_tokens"),
            F.count("*").alias("n_windows"),
        )
        .drop("island")
    )


def remove_duplicate_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """``(doc_id, clean_text, n_tokens_before, n_tokens_removed)`` —
    every token covered by a flagged ``[span_start, span_end)`` range
    dropped from the document.

    Scale design: the span list folds to ONE row per flagged doc
    (collect_list over dozens-sized maximal spans — bounded by doc
    length / win, never corpus size), left-joins back (broadcastable
    when few docs are flagged; an equi shuffle join otherwise), and
    the rewrite is a single index-aware array filter per row — an
    O(tokens x spans_per_doc) scan expression in codegen, no explode,
    no second shuffle. Docs with no flagged span coalesce to an empty
    span list and pass through verbatim."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("spans")
    )
    j = docs.join(per_doc, "doc_id", "left")
    toks = F.split("text", " ")
    spans_c = F.coalesce(
        "spans", F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans_c, lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return j.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(toks).cast("long").alias("n_tokens_before"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


_TX8_VOCAB = 512
_TX8_UNK = "<unk>"


def _tx8_map_to_vocab(
    df: DataFrame, vocab_toks: list[str], *cols: str
) -> DataFrame:
    """Replace each of ``cols`` with '<unk>' where the value is not in
    ``vocab_toks`` — a codegen'd InSet hash-set probe per column (r13;
    the driver already holds the top-V list from the TakeOrdered, so
    no join is needed). The r12 form was one broadcast LEFT join per
    column; two BroadcastHashJoins on string keys measured 2.09 s vs
    1.75 s for the full tx8 against this expression (alternating A/B,
    checksum MATCH at sf0.001/0.01/0.1 — guide §3.1/§2.4: the best
    join is no join). V is vocab-gated (512), far past the In→InSet
    conversion threshold (10), so each probe is O(1). The V literals
    are inlined into the plan once per mapped column, so plan size
    (not only the probe) scales with the vocab gate. A name in
    ``cols`` that is not a column of ``df`` raises ValueError."""
    missing = sorted(set(cols) - set(df.columns))
    if missing:
        raise ValueError(f"_tx8_map_to_vocab: no such column(s) {missing}")
    return df.select(
        *[
            (
                F.when(F.col(c).isin(vocab_toks), F.col(c))
                .otherwise(F.lit(_TX8_UNK))
                .alias(c)
                if c in cols
                else F.col(c)
            )
            for c in df.columns
        ]
    )


def ngram_lm_scores(
    docs: DataFrame,
    vocab_size: int = _TX8_VOCAB,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Bigram-LM quality score per document over ``(doc_id, text)``:
    ``(doc_id, n_bigrams, avg_logprob)`` — higher = more typical of
    the training slice; documents with < 2 tokens carry no bigram and
    emit no row (the tx6 convention).

    Scale design: the model is SMALL BY CONSTRUCTION — top-V vocab
    (TakeOrdered: per-partition heaps + a V-row driver merge, never a
    global sort), <= (V+1)^2 observed bigram rows — so every
    model-side join BROADCASTS and the corpus never shuffles on a
    token key during scoring. Four exchanges total, each carrying
    map-side-combined partials over distinct keys (vocab build, C1,
    C2) or final per-doc rows (the score rollup, keyed on doc_id so
    partials collapse in the scan partition — plan-pinned: zero
    SortMergeJoin, partial aggs). Train/score is inherently two-pass;
    a deployment trains the model on a small held-out reference slice
    — the paper's shape — and only the single scoring pass reads the
    full corpus. Raising V past broadcast range turns the scoring
    join into a hash shuffle on (w1, w2); the vocab gate exists
    precisely to avoid that regime.

    ``reference`` (optional, ``(doc_id, text)``) is the held-out
    slice the model trains on — the CCNet deployment shape: the
    vocab, C1, and C2 counts come from the reference and only the
    scoring pass reads ``docs``. Default None = self-scoring (the
    oracle-stated demo)."""
    train = docs if reference is None else reference
    w = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    tw = train.select(F.split(F.col("text"), " ").alias("w"))
    ttoks = tw.select(F.explode("w").alias("t"))
    # Materialize the train token COUNT table once (r12 — it, not just
    # the vocab list, is the model artifact): the top-V vocab is a
    # TakeOrdered over it, the unigram table C1 is read straight off
    # it driver-side (the top-V rows keep their counts; every other
    # occurrence folds into the '<unk>' row as total - sum(vocab)), so
    # the separate map-to-vocab + groupBy unigram pass over the train
    # corpus is gone. <= V+1 rows ship back as a LOCAL relation.
    tok_counts = (
        ttoks.groupBy("t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    vocab_rows = (
        tok_counts.orderBy(F.desc("c"), F.asc("t"))
        .limit(vocab_size)
        .collect()
    )
    vocab_toks = [r["t"] for r in vocab_rows]
    total_toks = tok_counts.agg(F.sum("c")).first()[0] or 0
    c1 = {r["t"]: r["c"] for r in vocab_rows}
    n_unk = total_toks - sum(c1.values())
    if n_unk > 0:
        # merge with an in-vocab literal '<unk>' token if one exists —
        # exactly what the mapped groupBy produced
        c1[_TX8_UNK] = c1.get(_TX8_UNK, 0) + n_unk
    uni = docs.sparkSession.createDataFrame(
        [(t, c) for t, c in sorted(c1.items())], "t string, c1 bigint"
    )
    vt = F.lit(len(vocab_toks) + 1)

    def _bigrams(frame):
        return frame.filter(F.size("w") >= 2).select(
            *[c for c in frame.columns if c != "w"],
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
                )
            ).alias("g"),
        )

    # Per-document vocab-mapped bigram HISTOGRAM (r12): one scoring
    # pass over the corpus, checkpointed; both the self-scored bigram
    # model C2 (a <= (V+1)^2-row rollup of the histogram) and the
    # scoring join read it, so the corpus bigram explode runs ONCE per
    # invocation instead of twice. At 100 TB this is the
    # materialize-to-parquet artifact; with a held-out ``reference``
    # the C2 build stays its own sample-sized pass.
    mbig_hist = (
        _tx8_map_to_vocab(
            _bigrams(w).select("doc_id", "g.w1", "g.w2"),
            vocab_toks,
            "w1",
            "w2",
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    if reference is None:
        bi = mbig_hist.groupBy("w1", "w2").agg(F.sum("c").alias("c2"))
    else:
        tbig = _tx8_map_to_vocab(
            _bigrams(tw).select("g.w1", "g.w2"), vocab_toks, "w1", "w2"
        )
        bi = tbig.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    scored = (
        # LEFT joins: a scored bigram/unigram the reference never saw
        # carries a Laplace zero count (self-scoring makes every key
        # match, so the demo oracle is unchanged)
        mbig_hist.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni), uni["t"] == mbig_hist["w1"], "left")
        .select(
            "doc_id",
            "c",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1"), F.lit(0)) + vt)
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.round(
            F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 4
        ).alias("avg_logprob"),
    )


_CUR8_BUCKETS = 1024


def _dsir_features(
    docs: DataFrame, buckets: int, carry: tuple = ()
) -> DataFrame:
    """Hashed unigram+bigram feature stream over ``(doc_id, text)``:
    ``(doc_id, b)`` with b in [0, buckets) — one row per feature
    OCCURRENCE (DSIR counts occurrences, not types). Map-side only.
    ``carry`` names extra per-doc columns to ride along (the fused
    target-flag path)."""
    w = docs.select("doc_id", *carry, F.split(F.col("text"), " ").alias("w"))
    uni = w.select("doc_id", *carry, F.explode("w").alias("f"))
    bi = w.filter(F.size("w") >= 2).select(
        "doc_id",
        *carry,
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat_ws(' ', w[i], w[i+1]))"
            )
        ).alias("f"),
    )
    return uni.unionByName(bi).select(
        "doc_id",
        *carry,
        (_word_hash_spark(F.col("f")) % buckets).alias("b"),
    )


def _dsir_scores_raw(
    corpus: DataFrame,
    target: DataFrame | None,
    buckets: int = _CUR8_BUCKETS,
    target_flag: str | None = None,
) -> DataFrame:
    """DSIR log importance weight per corpus document: ``(doc_id,
    n_feats, lw)`` over ``(doc_id, text)`` inputs, lw UNROUNDED —
    higher = more target-like. ``target`` is the (small) domain
    sample whose distribution the selection should match; ``corpus``
    is both the raw distribution and the scored set (the paper's
    shape). When the target is a SLICE of the corpus, pass
    ``target_flag`` naming a boolean corpus column instead of a
    separate frame (``target=None``): the target bucket counts then
    ride the corpus histogram pass and the corpus text is featurized
    exactly once.

    Scale design (r12 — one corpus pass, down from two): the corpus
    feature stream folds map-side into a per-document bucket
    HISTOGRAM ``(doc_id, b, c)`` — at most min(feats, B) rows per doc
    — which is localCheckpointed and feeds every downstream consumer,
    so the text is split/hashed ONCE per invocation. The model stays
    B rows BY CONSTRUCTION: bucket totals are a <= B-row aggregate
    OVER THE HISTOGRAM (map-side-combined partials over <= B distinct
    keys), collected once and turned into a B-row LOCAL log-ratio
    relation (totals are its column sums; the tx8 vocab pattern) that
    broadcasts into the scoring pass, so the corpus is never hashed
    on a feature key and never re-scanned to build the model
    (plan-pinned: zero SortMergeJoin). The scoring rollup keys on
    doc_id — every histogram row of a document lives in the partition
    that scanned it, so partials collapse map-side and the one
    corpus-sized exchange carries final per-document rows. At 100 TB
    the histogram is the materialize-to-parquet artifact; the
    separate-target pass (generic form) stays sample-sized."""
    import math

    if target_flag is None:
        hist = (
            _dsir_features(corpus, buckets)
            .groupBy("doc_id", "b")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
    else:
        # the per-doc target flag rides the feature stream and the
        # histogram groupBy (constant per doc, so key cardinality is
        # unchanged and partials still collapse in the scan partition)
        hist = (
            _dsir_features(
                corpus.select(
                    "doc_id",
                    F.col(target_flag).alias("__tgt"),
                    "text",
                ),
                buckets,
                carry=("__tgt",),
            )
            .groupBy("doc_id", "__tgt", "b")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
    # Bucket-count model tables from the checkpointed histogram (<= B
    # rows out, map-side-combined partials): ONE tiny collect for the
    # corpus counts — and, under target_flag, the target counts share
    # the same job via a flag-conditional sum. The log-ratio
    # arithmetic runs driver-side over B rows — Python's
    # correctly-rounded int/int division and libm ln produce the same
    # doubles the in-plan F.log form did (pinned by the pure-Python
    # mirror and the round(4) oracle).
    if target_flag is not None:
        rows = (
            hist.groupBy("b")
            .agg(
                F.sum("c").alias("cr"),
                F.sum(F.when(F.col("__tgt"), F.col("c"))).alias("ct"),
            )
            .collect()
        )
        tc = {r["b"]: r["ct"] or 0 for r in rows}
        rc = {r["b"]: r["cr"] for r in rows}
        hist = hist.drop("__tgt")
    else:
        tc = {
            r["b"]: r["ct"]
            for r in _dsir_features(target, buckets)
            .groupBy("b")
            .agg(F.count("*").alias("ct"))
            .collect()
        }
        rc = {
            r["b"]: r["cr"]
            for r in hist.groupBy("b").agg(F.sum("c").alias("cr")).collect()
        }
    nt = sum(tc.values())
    nr = sum(rc.values())
    model = corpus.sparkSession.createDataFrame(
        [
            (
                b,
                math.log((tc.get(b, 0) + 1) / (nt + buckets))
                - math.log((cr + 1) / (nr + buckets)),
            )
            for b, cr in sorted(rc.items())
        ],
        "b bigint, lr double",
    )
    return (
        hist.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("lr")).alias("lw"),
        )
    )


_CUR9_K = 150
_CUR9_SALT = "dsir"


def dsir_gumbel_topk(
    corpus: DataFrame,
    target: DataFrame | None,
    k: int = _CUR9_K,
    buckets: int = _CUR8_BUCKETS,
    salt: str = _CUR9_SALT,
    target_flag: str | None = None,
) -> DataFrame:
    """Draw k documents ~ exp(dsir_logweight) without replacement via
    deterministic Gumbel-top-k over :func:`_dsir_scores_raw`:
    ``(doc_id, n_feats, dsir_logweight, sample_key)``, the drawn
    sample. ``salt`` is the draw's seed — a new salt is a fresh
    independent sample over the same weights.

    Scale design: everything cur8 establishes (B-row model broadcasts,
    corpus never feature-shuffled) plus the noise is a scan-side salted
    md5 over doc_id ((h + 0.5) / 2^32 is exact in doubles, so both
    engines feed ln the same bits) and the selection is TakeOrdered —
    per-partition k-row heaps merged on the driver, no global sort
    (plan-pinned)."""
    u = (
        _word_hash_spark(
            F.concat_ws(
                ":", F.lit(salt), F.col("doc_id").cast("string")
            )
        )
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = _dsir_scores_raw(corpus, target, buckets, target_flag).withColumn(
        "key", F.col("lw") + (-F.log(-F.log(u)))
    )
    return (
        keyed.orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "n_feats",
            F.round("lw", 4).alias("dsir_logweight"),
            F.round("key", 4).alias("sample_key"),
        )
    )


_CUR10_WIN = 13


def _window_hashes(df: DataFrame, win: int) -> DataFrame:
    """``(doc_id, whash)`` — one 60-bit rolling fingerprint per
    stride-1 ``win``-token window (dd10's shingle convention; docs
    shorter than ``win`` emit nothing)."""
    return rolling_window_shingles(df, win).select("doc_id", "whash")


def substring_contamination(
    corpus: DataFrame, evalset: DataFrame, win: int = _CUR10_WIN
) -> DataFrame:
    """Per corpus document over ``(doc_id, text)`` inputs:
    ``(doc_id, n_hit_windows, contaminated)`` where contaminated =
    the document shares at least one EXACT ``win``-token run with
    the eval set.

    Scale design: both sides reduce to 60-bit window fingerprints
    map-side (strings never shuffle); the eval side is distinct-
    reduced and BROADCAST into the corpus window stream (an eval
    suite is tiny by definition — the cur2 argument), and the
    per-doc rollup keys on doc_id so partials collapse in the scan
    partition. One corpus-sized exchange carrying final per-doc
    rows; zero SortMergeJoin (plan-pinned)."""
    ev = _window_hashes(evalset, win).select("whash").distinct()
    hits = (
        _window_hashes(corpus, win)
        .join(F.broadcast(ev), "whash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_hit_windows"),
        (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
    )
