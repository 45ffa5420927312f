"""DuckDB oracles for the corpus operators of ``corpus_ops``.

Each query here runs a ``corpus_ops`` operator over the ``documents``
table of a testdata directory (TESTDATA.md); its oracle states the
same computation as DuckDB SQL over a ``documents`` view.
tests/test_suite_oracle.py compares the two (row count, column names,
order-insensitive values) and tests/test_plans.py pins their plans.

Conventions:
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the compare sorts columns by name);
- double-typed aggregates are rounded (4 dp), so engine-order
  floating-point noise cannot flip a value;
- count/sum-of-integer aggregates are cast to BIGINT in the oracle
  (DuckDB sums integers into HUGEINT, Spark into LONG);
- a word or shingle hash is the int value of the first 8 hex chars of
  its md5: ``conv(substr(md5(w),1,8),16,10)`` in Spark, digit
  arithmetic (``_hex_to_int_sql``) in DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark.corpus_ops import (
    _CUR6_BOUNDS,
    _CUR10_WIN,
    _DD10_WIN,
    _MH_A,
    _MH_B,
    _MH_BANDS,
    _MH_P,
    _MH_ROWS,
    _PACK_BUDGET,
    _PACK_SHARDS,
    _STOPWORDS,
    _TX5_EMAIL_RE,
    _TX5_PHONE_RE,
    _hash_frac_spark,
    _word_hash_spark,
    curation_decisions,
    dd3_minhash_signatures,
    dd4_minhash_lsh_candidates,
    dd7_dedup_clusters,
    decontamination_report,
    duplicate_spans,
    pack_doc_assignments,
    pii_redact,
    remove_duplicate_spans,
    repetition_stats,
    split_from_clusters,
    split_from_content,
    substring_contamination,
)
from inpe_queimadas_etl_spark.session import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _hex_to_int_sql(h: str, n_chars: int = 8) -> str:
    """DuckDB int value of the first ``n_chars`` hex chars of ``h`` —
    digit arithmetic, no engine-specific conv(). 8 chars (32 bits) is
    the word-hash convention; the window fingerprints use 15 (60 bits,
    still bigint-safe), because shingle-scale corpora birthday-collide
    32-bit fingerprints."""
    return (
        "("
        + "+".join(
            f"(strpos('0123456789abcdef', substr({h},{i},1))-1)"
            f"*{16 ** (n_chars - i)}"
            for i in range(1, n_chars + 1)
        )
        + ")"
    )


def _hash_frac_sql(expr: str) -> str:
    """DuckDB twin of corpus_ops._hash_frac_spark."""
    return (
        "(" + _hex_to_int_sql(f"substr(md5({expr}),1,8)") + " / 4294967296.0)"
    )


_STOP_SQL = ", ".join(repr(s) for s in _STOPWORDS)


# ---------------------------------------------------------------------------
# near-duplicate clustering: dd3 signatures, dd4 LSH candidates, dd7
# connected components, cur1 curation and the dd9 keeper over them,
# cur1's language heuristic alone (tx3)
# ---------------------------------------------------------------------------

# distinct 3-word shingles per document (corpus_ops._shingles_spark)
_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 3
"""

# MinHash signatures over the shingle CTE ``sh``
# (corpus_ops._minhash_sig_cols over _SHINGLE_INT_EXPR)
_SIG_MINS_SQL = ", ".join(
    f"list_min(list_transform(xs, x -> ({a} * x + {b}) % {_MH_P})) AS mh{i}"
    for i, (a, b) in enumerate(zip(_MH_A, _MH_B))
)
_MINHASH_SQL_BODY = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
        SELECT doc_id, {_SIG_MINS_SQL}
        FROM (
            SELECT doc_id,
                   list_transform(shingles,
                       s -> {_hex_to_int_sql("substr(md5(s),1,8)")} % {_MH_P}) AS xs
            FROM sh
        )
    )
"""

DD3_SQL = (
    _MINHASH_SQL_BODY
    + "SELECT doc_id, "
    + ", ".join(f"CAST(mh{i} AS BIGINT) AS mh{i}" for i in range(len(_MH_A)))
    + " FROM sig"
)

# (doc_id, band_idx, band_hash) over ``sig`` (corpus_ops._band_struct_cols)
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
_LSH_CAND_SQL = f"""
    , bands AS (
        SELECT doc_id, band_idx, {_BAND_HASH_SQL} AS band_hash
        FROM sig CROSS JOIN (SELECT unnest(range({_MH_BANDS})) AS band_idx)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
"""

DD4_SQL = _MINHASH_SQL_BODY + _LSH_CAND_SQL + "SELECT doc_a, doc_b FROM cand"

# connected components of the candidate graph, labelled by min doc_id
_COMPONENTS_SQL = (
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
"""
)

DD7_SQL = (
    _COMPONENTS_SQL
    + """
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           (doc_id = cluster_id) AS is_canonical
    FROM comp
    """
)

CUR1_SQL = (
    _COMPONENTS_SQL
    + f"""
    , gate AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               CASE
                 WHEN len(list_filter(string_split(text, ' '),
                         w -> w IN ({_STOP_SQL}))) >= 2 THEN 'en'
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
    """
)


def cur1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop per document: the 10-1000-word gate, the stopword
    language heuristic and the lowest passing doc_id of its dd7
    cluster."""
    docs = load_table(spark, sf_dir, "documents")
    return curation_decisions(docs, dd7_dedup_clusters(spark, sf_dir))


# dd7's clusters of size >= 2 with a longest-member keeper (n_chars
# DESC, ties to the lowest doc_id): a second consumer of dd7's
# membership and sizes
DD9_SQL = f"""
WITH d7 AS ({DD7_SQL}),
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
    """Keep/drop per member of each dd7 cluster of size >= 2: the
    longest member is the keeper and every member points at it via
    ``keeper_doc_id``."""
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


TX3_SQL = f"""
    SELECT doc_id, lang,
           CASE
             WHEN len(list_filter(string_split(text, ' '),
                     w -> w IN ({_STOP_SQL}))) >= 2
               THEN 'en'
             WHEN length(text) < 20 THEN 'short'
             ELSE 'unk'
           END AS pred_lang
    FROM documents
"""


def tx3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_decisions' stopword language heuristic on its own,
    next to the declared ``lang``: every document is its own cluster,
    so no near-dup decision is involved."""
    docs = load_table(spark, sf_dir, "documents")
    singletons = docs.select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).alias("cluster_size"),
    )
    return (
        curation_decisions(docs, singletons)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# registered scan and rollup operators: cur2, cur3, pack1, tx5, and
# the word hash (tx4)
# ---------------------------------------------------------------------------

# eval set = the doc_id % 41 == 0 slice, corpus = the rest
CUR2_SQL = f"""
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
"""


def cur2_benchmark_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 41 == 0
    return decontamination_report(docs.filter(~is_bench), docs.filter(is_bench))


CUR3_SQL = """
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
"""


def cur3_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


PACK1_SQL = f"""
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
"""


def pack1_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per pack of pack_doc_assignments' (lang, shard)
    cumulative-sum packing."""
    return (
        pack_doc_assignments(load_table(spark, sf_dir, "documents"))
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


# the testdata corpus holds no PII: every 7th document gets one email
# and one phone number appended, on both engines
TX5_SQL = f"""
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
                + len(regexp_extract_all(text, '{_TX5_PHONE_RE}'))
                AS BIGINT) AS n_pii,
           md5(regexp_replace(regexp_replace(text, '{_TX5_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{_TX5_PHONE_RE}', '<PHONE>', 'g'))
               AS redacted_hash
    FROM aug
"""


def tx5_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii_redact, the scrub ``corpus-curate --scrub-pii`` runs, over
    the PII-injected documents: its match count and the md5 of the
    redacted text."""
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
    docs = load_table(spark, sf_dir, "documents")
    return pii_redact(docs.select("doc_id", aug.alias("text"))).select(
        "doc_id", "n_pii", F.md5("text").alias("redacted_hash")
    )


# corpus_ops._word_hash_spark (the hash behind _hash_frac_spark, which
# the splits and the mixture keep-draw use) over every word of the corpus,
# folded per document as a position-weighted XOR: one word that hashes
# differently from the oracle changes its document's value
TX4_SQL = f"""
    WITH words AS (
        SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    SELECT doc_id,
           CAST(bit_xor(({_hex_to_int_sql("substr(md5(word),1,8)")}) * pos)
                AS BIGINT) AS fingerprint
    FROM words
    GROUP BY doc_id
"""


def tx4_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XOR of (word hash x 1-based position) per document."""
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
# mixture and splits: cur5, cur6, the cluster-aware split
# ---------------------------------------------------------------------------

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
    """Uniform domain mixture without upsampling: every source is
    downsampled to the token mass of the scarcest one (keep_rate =
    min_tokens / tokens_s), by a salted md5 of doc_id against the
    source's rate. The reference the general operator
    (operators.mixture.mixture_resample) must reproduce at its
    defaults; the K-row rate table joins by broadcast."""
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
    return split_from_content(load_table(spark, sf_dir, "documents"))


def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split keyed on dd7's cluster_id; dd7's components are
    iterative, so no SQL oracle states it."""
    return split_from_clusters(dd7_dedup_clusters(spark, sf_dir))


# ---------------------------------------------------------------------------
# exact-substring operators: dd10 spans, dd11 scrub, cur10 decontamination
# ---------------------------------------------------------------------------

# window fingerprint: the first 15 hex chars (60 bits) of the md5 of
# the window's tokens joined by spaces (_md5_window_shingles)
_DD10_WHASH = _hex_to_int_sql(
    f"md5(array_to_string(w[i:i+{_DD10_WIN - 1}], ' '))", n_chars=15
)

DD10_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, {_DD10_WHASH} AS whash
    FROM (
        SELECT doc_id, w, unnest(range(1, len(w) - {_DD10_WIN} + 2)) AS i
        FROM t WHERE len(w) >= {_DD10_WIN}
    )
),
rep AS (SELECT whash FROM sh GROUP BY whash HAVING count(*) >= 2),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN rep USING (whash)),
isl AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + {_DD10_WIN}) OVER (
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
       CAST(max(pos) + {_DD10_WIN} AS BIGINT) AS span_end,
       CAST(max(pos) + {_DD10_WIN} - min(pos) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM runs GROUP BY doc_id, island
"""


def dd10_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_spans(load_table(spark, sf_dir, "documents"))


# every flagged span dropped from its document (all occurrences)
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
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, dd10_duplicate_spans(spark, sf_dir))


# eval set = the doc_id % 41 == 0 slice, corpus = the rest
_CUR10_WHASH = _hex_to_int_sql("substr(md5(ws),1,15)", 15)

CUR10_SQL = f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    win AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - {_CUR10_WIN - 1}),
                      i -> list_aggregate(list_slice(toks, i, i + {_CUR10_WIN - 1}),
                                          'string_agg', ' '))) AS ws
        FROM w WHERE len(toks) >= {_CUR10_WIN}
    ),
    wh AS (SELECT doc_id, ({_CUR10_WHASH}) AS whash FROM win),
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


def cur10_substring_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_contamination(
        docs.filter(F.col("doc_id") % 41 != 0),
        docs.filter(F.col("doc_id") % 41 == 0),
    )


def _md5_window_shingles(docs: DataFrame, win: int) -> DataFrame:
    """``(doc_id, pos, whash)`` with whash the md5 window fingerprint
    the DuckDB oracles state: the JVM-side reference for the
    Karp-Rabin rolling generator (operators/rollhash.py) that the
    exact-substring operators run."""
    base = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= win)
    whashes = F.expr(
        f"transform(sequence(1, size(toks) - {win} + 1), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', "
        f"slice(toks, i, {win}))), 1, 15), 16, 10) as bigint))"
    )
    return base.select("doc_id", F.posexplode(whashes).alias("pos", "whash"))


# ---------------------------------------------------------------------------
# llm_ops_battery: dd10, dd11 and cur10 melted to
# (chk, key_s, n, v) rows and unioned, against the union of their oracles
# ---------------------------------------------------------------------------

BATTERY_SQL = f"""
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
    SELECT 'cur10',
           concat_ws(':', CAST(doc_id AS VARCHAR),
                     CAST(contaminated AS VARCHAR)),
           n_hit_windows, CAST(NULL AS DOUBLE)
    FROM ({CUR10_SQL})
"""


def _melt_battery(df: DataFrame, chk: str, key_s, n, v) -> DataFrame:
    return df.select(
        F.lit(chk).alias("chk"),
        key_s.cast("string").alias("key_s"),
        n.cast("long").alias("n"),
        v.cast("double").alias("v"),
    )


def llm_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        _melt_battery(
            dd10_duplicate_spans(spark, sf_dir),
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
            dd11_span_scrub(spark, sf_dir),
            "dd11",
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.md5("clean_text")
            ),
            F.col("n_tokens_before"),
            F.col("n_tokens_removed"),
        ),
        _melt_battery(
            cur10_substring_decontamination(spark, sf_dir),
            "cur10",
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("contaminated").cast("string"),
            ),
            F.col("n_hit_windows"),
            F.lit(None).cast("double"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# name -> (Spark query, DuckDB oracle SQL): the checks
# test_query_matches_oracle is parametrized over
CHECKS: dict[str, tuple[QueryFn, str]] = {
    "cur1_corpus_curation": (cur1_corpus_curation, CUR1_SQL),
    "cur2_benchmark_decontamination": (cur2_benchmark_decontamination, CUR2_SQL),
    "cur3_repetition_filter": (cur3_repetition_filter, CUR3_SQL),
    "dd3_minhash_signatures": (dd3_minhash_signatures, DD3_SQL),
    "dd4_minhash_lsh_candidates": (dd4_minhash_lsh_candidates, DD4_SQL),
    "dd7_dedup_clusters": (dd7_dedup_clusters, DD7_SQL),
    "llm_ops_battery": (llm_ops_battery, BATTERY_SQL),
    "pack1_token_packing": (pack1_token_packing, PACK1_SQL),
    "tx3_lang_id": (tx3_lang_id, TX3_SQL),
    "tx4_doc_fingerprint": (tx4_doc_fingerprint, TX4_SQL),
    "tx5_pii_scrub": (tx5_pii_scrub, TX5_SQL),
}
