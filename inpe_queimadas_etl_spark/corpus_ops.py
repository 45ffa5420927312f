"""Corpus operators that ``corpus_pipeline`` composes: near-duplicate
clustering (dd7), curation, repetition and PII passes, splits, token
packing, duplicate-span removal and substring decontamination.

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
    """Spread an under-split input over the session's default
    parallelism before a CPU-heavy deterministic map pass.

    A small parquet table (the testdata ``documents`` is one file with
    one row group) scans as one task, and Spark cannot split a row
    group, so every scan-rooted stage after it would run on one core.
    The round-robin repartition fires only when the scan yields fewer
    partitions than the default parallelism; an input of many files or
    row groups passes through unchanged. Locally it costs one exchange
    rooted at the single scan task, so it is used only where the
    per-row work downstream outweighs that exchange: the MinHash
    signature pass of ``dd3_minhash_signatures``, which
    ``dd4_minhash_lsh_candidates`` and ``dd7_dedup_clusters`` build
    on. Values do not depend on the partitioning: the pass is per-row
    hash and array math, with no rand() and no sampling."""
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
    """Keep/drop per document (cur1): the 10-1000-word gate, the
    stopword language heuristic (``pred_lang``) and one keeper per
    near-dup cluster (the lowest doc_id that passes the gates), with
    the first failing reason as ``drop_reason``. ``clusters`` is dd7's
    label frame, passed in so a pipeline computes the labels once and
    shares them with the split (corpus_pipeline.py)."""
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
    """Shingle decontamination (cur2) against ``eval_docs``: per corpus
    doc, how many distinct 3-word shingles it shares with any eval doc
    and how many eval docs they touch, plus the boolean
    ``contaminated`` verdict. Both sides reduce to xxhash64 shingle
    keys before the join (corpus_pipeline.py's eval_dir stage)."""
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
    """Gopher-style repetition flags (cur3) per document of at least
    3 words: ``top_word_flag`` when the most frequent word is over a
    tenth of the words, ``dup_3gram_flag`` when any word 3-gram
    repeats, ``repetitive`` when either holds. Map-side only."""
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
) -> DataFrame:
    """Per-document pack assignment: ``(doc_id, *group_cols, shard,
    tokens, cum, pack_id)`` — the cumulative-sum packing pack1 rolls
    up, exposed row-level so a pipeline can materialize the packed
    corpus (corpus_pipeline.py writes one file group per pack).
    ``tokens`` is the whitespace token count. The window partitions
    on (*group_cols, pmod(doc_id, shards)), so a dominant group cannot
    serialize into one reducer. pmod, not %: a negative doc_id under
    % would yield 2*shards-1 distinct shard values."""
    tokens = F.size(F.split(F.col("text"), " "))
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
    """Content-hash split (cur6): each document's split is a hash
    fraction of md5(text), so byte-identical documents share a split.
    The cheaper split of corpus_pipeline's ``split_by="content"``
    mode, for corpora that arrive already near-dup-deduped."""
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
    """Cluster-closed split over a dd7 label frame: each document's
    split is a hash fraction of its cluster_id, so a near-dup cluster
    never straddles splits (corpus_pipeline.py). ``bounds`` are
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
