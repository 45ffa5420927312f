"""DuckDB oracle checks of the corpus operators (``corpus_ops``): run
each Spark query of tests/corpus_oracles.py and its oracle SQL on
DuckDB, then compare row count, column names and values
(order-insensitive, columns sorted by name, exact equality). Planted
corpora and pure-Python mirrors check what the testdata corpus leaves
thin."""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from inpe_queimadas_etl_spark.corpus_ops import (
    _CUR10_WIN,
    _DD10_WIN,
    substring_contamination,
)

from .corpus_oracles import (
    CHECKS,
    CUR5_SQL,
    CUR6_SQL,
    CUR10_SQL,
    DD9_SQL,
    DD10_SQL,
    DD11_SQL,
    cluster_aware_split,
    cur5_mixture_resample,
    cur6_leakfree_split,
    cur10_substring_decontamination,
    dd9_canonical_keeper,
    dd10_duplicate_spans,
    dd11_span_scrub,
)

SF0001 = "/root/testdata/sf0.001"


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if (s.dropna().dt.normalize() == s.dropna()).all():
                df[c] = s.dt.strftime("%Y-%m-%d")
            else:
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.isoformat() if hasattr(v, "isoformat") else v
            )
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=0, abs_tol=0)
    return a == b


def _compare_to_oracle(spark, name, fn, sql, sf_dir: str = SF0001) -> pd.DataFrame:
    """Assert ``fn(spark, sf_dir)`` equals ``sql`` on DuckDB over the
    same ``documents``; returns the Spark rows."""
    sdf = fn(spark, sf_dir).toPandas()
    odf = _duck(sf_dir, sql)
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} vs {len(odf)}"
    s = _normalize(sdf)
    o = _normalize(odf)
    mismatches = []
    for col in s.columns:
        for i, (x, y) in enumerate(zip(s[col].tolist(), o[col].tolist())):
            if not _values_equal(x, y):
                mismatches.append((col, i, x, y))
                if len(mismatches) > 5:
                    break
        if len(mismatches) > 5:
            break
    assert not mismatches, f"{name}: value mismatches {mismatches}"
    return sdf


@pytest.mark.parametrize("name", sorted(CHECKS))
def test_query_matches_oracle(spark, name):
    fn, sql = CHECKS[name]
    _compare_to_oracle(spark, name, fn, sql)


def test_registry_fits_driver_snapshot_cap():
    """CHECKS is the registry of oracle-checked queries. Its size is
    pinned exactly, so a check that appears or vanishes by accident
    fails here."""
    assert len(CHECKS) == 11, sorted(CHECKS)


def test_dd9_canonical_keeper_matches_oracle(spark):
    """Quality-aware keeper per dup cluster (longest member wins, ties
    to lowest doc_id)."""
    _compare_to_oracle(spark, "dd9_canonical_keeper", dd9_canonical_keeper, DD9_SQL)


def test_dd9_keeps_exactly_one_per_cluster(spark):
    pdf = dd9_canonical_keeper(spark, SF0001).toPandas()
    if len(pdf) == 0:
        pytest.skip("no dup clusters at this sf")
    by_cluster = pdf.groupby("cluster_id")
    # exactly one keeper per cluster, and it is its own keeper_doc_id
    assert (by_cluster["keep"].sum() == 1).all()
    keepers = pdf[pdf["keep"]]
    assert (keepers["doc_id"] == keepers["keeper_doc_id"]).all()
    # every member of a cluster points at the same keeper
    assert (by_cluster["keeper_doc_id"].nunique() == 1).all()
    # only dup clusters appear
    assert (by_cluster.size() >= 2).all()


def test_cur5_mixture_resample_matches_oracle(spark):
    """Domain-mixture rebalancing with deterministic hash-threshold
    sampling."""
    _compare_to_oracle(spark, "cur5_mixture_resample", cur5_mixture_resample, CUR5_SQL)


def test_cur5_mixture_properties(spark):
    """The scarcest source keeps everything (rate == 1.0, and hash
    fractions are < 1 by construction); every rate is in (0, 1]; kept
    token mass per source lands within a 4-sigma Bernoulli band of
    the uniform target."""
    pdf = cur5_mixture_resample(spark, SF0001).toPandas()
    per = pdf.groupby("source").agg(
        rate=("keep_rate", "first"),
        total=("n_tokens", "sum"),
        kept=("n_tokens", lambda s: s[pdf.loc[s.index, "keep"]].sum()),
        n=("doc_id", "count"),
    )
    assert ((per["rate"] > 0) & (per["rate"] <= 1.0)).all()
    scarcest = per["total"].idxmin()
    assert per.loc[scarcest, "rate"] == 1.0
    assert per.loc[scarcest, "kept"] == per.loc[scarcest, "total"]
    target = per["total"].min()
    for src, row in per.iterrows():
        # per-doc Bernoulli(rate) on TOKEN mass: var = rate*(1-rate) *
        # sum(len_i^2) (long docs dominate the variance — a
        # homogeneous-length sigma is far too tight at 25 docs/source);
        # 6 sigma + one max-doc of slack keeps the deterministic hash
        # draw inside the band without making the check vacuous
        lens = pdf.loc[pdf["source"] == src, "n_tokens"]
        sigma = math.sqrt(row["rate"] * (1 - row["rate"]) * (lens**2).sum())
        slack = 6 * sigma + lens.max()
        assert abs(row["kept"] - target) <= slack, (src, row, target, slack)


def test_cur6_leakfree_split_matches_oracle(spark):
    """Content-hash 80/10/10 split."""
    _compare_to_oracle(spark, "cur6_leakfree_split", cur6_leakfree_split, CUR6_SQL)


def test_cur6_duplicates_never_straddle(spark):
    """Byte-identical texts always land in the same split, and all
    three splits are populated with roughly 80/10/10 mass."""
    pdf = cur6_leakfree_split(spark, SF0001).toPandas()
    assert (pdf.groupby("content_hash")["split"].nunique() == 1).all()
    fracs = pdf["split"].value_counts(normalize=True)
    assert set(fracs.index) == {"train", "validation", "test"}
    assert 0.7 < fracs["train"] < 0.9
    assert fracs["validation"] < 0.2 and fracs["test"] < 0.2


def test_cluster_aware_split_closure(spark):
    """Near-dup closure: every dd7 cluster maps to exactly one split
    (no train/eval straddle for near-duplicates), the assignment is
    total over the corpus, and it agrees with hashing cluster_id."""
    pdf = cluster_aware_split(spark, SF0001).toPandas()
    docs = _duck(SF0001, "SELECT count(*) AS n FROM documents")["n"][0]
    assert len(pdf) == docs
    assert pdf["doc_id"].is_unique
    assert (pdf.groupby("cluster_id")["split"].nunique() == 1).all()
    # multi-member clusters exist at this sf, so closure is non-vacuous
    assert (pdf.groupby("cluster_id").size() >= 2).any()


def test_dd10_duplicate_spans_matches_oracle(spark):
    """Unaligned duplicate-span detection via stride-1 window
    fingerprints + gaps-and-islands merge."""
    _compare_to_oracle(
        spark, "dd10_duplicate_spans", dd10_duplicate_spans, DD10_SQL
    )


def test_dd10_finds_unaligned_repeats_dd8_misses(spark, tmp_path):
    """The reason dd10 exists: a duplicated 30-token run planted at
    DIFFERENT offsets in two documents (so fixed-boundary chunking
    sees different chunks) is found with exact token boundaries; a
    document with no repeated run of >= win tokens reports nothing;
    and within-doc repetition is flagged too."""
    rng = random.Random(17)

    def words(n, tag):
        return [f"{tag}{rng.randrange(10**9)}" for _ in range(n)]

    shared = words(30, "s")  # the duplicated run, 30 tokens
    d0 = words(7, "a") + shared + words(11, "b")   # run at offset 7
    d1 = words(13, "c") + shared + words(5, "d")   # run at offset 13
    d2 = words(60, "e")                             # clean
    rep = words(25, "r")
    d3 = rep + words(4, "f") + rep                  # within-doc repeat
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [" ".join(d) for d in (d0, d1, d2, d3)],
        }
    )
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in dd10_duplicate_spans(spark, str(tmp_path)).collect()
    }
    # the shared run is exactly tokens [7, 37) in d0 and [13, 43) in d1
    assert spans[0] == (7, 7 + 30), spans
    assert spans[1] == (13, 13 + 30), spans
    assert 2 not in spans
    assert 3 in spans  # within-doc repetition flagged
    assert _DD10_WIN <= 30

def test_dd11_span_scrub_matches_oracle(spark):
    """The Lee et al. all-occurrences span removal."""
    _compare_to_oracle(spark, "dd11_span_scrub", dd11_span_scrub, DD11_SQL)


def test_dd11_scrubs_exactly_the_planted_run(spark, tmp_path):
    """Planted duplicated run removed from BOTH carriers token-exact;
    clean docs untouched; token accounting adds up."""
    rng = random.Random(23)

    def words(n, tag):
        return [f"{tag}{rng.randrange(10**9)}" for _ in range(n)]

    shared = words(30, "s")
    d0 = words(7, "a") + shared + words(11, "b")
    d1 = words(13, "c") + shared + words(5, "d")
    d2 = words(60, "e")
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [" ".join(d) for d in (d0, d1, d2)],
        }
    )
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = {
        r["doc_id"]: r
        for r in dd11_span_scrub(spark, str(tmp_path)).collect()
    }
    assert out[0]["clean_text"] == " ".join(d0[:7] + d0[37:])
    assert out[0]["n_tokens_removed"] == 30
    assert out[1]["clean_text"] == " ".join(d1[:13] + d1[43:])
    assert out[1]["n_tokens_removed"] == 30
    assert out[2]["clean_text"] == " ".join(d2)
    assert out[2]["n_tokens_removed"] == 0
    for r in out.values():
        assert r["n_tokens_before"] - r["n_tokens_removed"] == len(
            r["clean_text"].split(" ")
        ) if r["clean_text"] else True


def test_cur10_substring_decontamination_matches_oracle(spark):
    """Exact >= 13-token overlap decontamination (the GPT-3 standard),
    60-bit window fingerprints on both engines."""
    _compare_to_oracle(
        spark,
        "cur10_substring_decontamination",
        cur10_substring_decontamination,
        CUR10_SQL,
    )


def test_cur10_finds_planted_exact_overlap(spark):
    """A 13-token run planted verbatim from an eval doc into two
    corpus docs flags exactly those two; a 12-token overlap (one
    short of the window) does NOT flag."""
    leak = " ".join(f"e{i}" for i in range(13))
    near = " ".join(f"e{i}" for i in range(12))  # 12 tokens only
    corpus = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a b " + leak + " c d",          # leaked mid-doc
                leak,                              # leaked whole doc
                "x y " + near + " z different",  # 12-token: clean
                "totally unrelated words here padding out the doc",
            ],
        }
    )
    evalset = pd.DataFrame(
        {"doc_id": [100], "text": ["prefix " + leak + " suffix"]}
    )
    got = (
        substring_contamination(
            spark.createDataFrame(corpus), spark.createDataFrame(evalset)
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[1, "contaminated"] and got.loc[2, "contaminated"]
    assert not got.loc[3, "contaminated"]
    assert not got.loc[4, "contaminated"]
    assert got.loc[1, "n_hit_windows"] >= 1


def test_cur10_oracle_with_planted_signal(spark, tmp_path):
    """cur10's oracle regime is nearly signal-free (3 hits at
    sf0.001, none at sf0.01): re-run the FULL Spark-vs-DuckDB
    comparison on an sf0.01-shaped corpus with >= 13-gram eval
    overlaps planted, so the oracle path pins
    non-empty output — per-doc hit-window counts included — not just
    the empty set."""
    pdf = pq.read_table(
        "/root/testdata/sf0.01/documents.parquet"
    ).to_pandas()
    ev = pdf[(pdf.doc_id % 41 == 0)].sort_values("doc_id")
    donors = [
        t for t in ev.text if len(t.split()) >= _CUR10_WIN + 2
    ][:4]
    assert len(donors) >= 2, "fixture needs eval docs long enough"
    corpus_idx = pdf.index[pdf.doc_id % 41 != 0].tolist()
    planted_ids = []
    for j, idx in enumerate(corpus_idx[:: len(corpus_idx) // 12][:12]):
        run = " ".join(donors[j % len(donors)].split()[: _CUR10_WIN + 2])
        toks = pdf.at[idx, "text"].split()
        mid = len(toks) // 2
        pdf.at[idx, "text"] = " ".join(toks[:mid] + [run] + toks[mid:])
        planted_ids.append(int(pdf.at[idx, "doc_id"]))
    pdf["n_chars"] = pdf["text"].str.len()

    out = tmp_path / "documents.parquet"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), out)

    sdf = _compare_to_oracle(
        spark,
        "cur10_substring_decontamination",
        cur10_substring_decontamination,
        CUR10_SQL,
        str(tmp_path),
    )
    flagged = sdf[sdf.contaminated]
    # every planted doc flagged, with the full ladder of hit windows
    # (a WIN+2-token run yields 3 stride-1 windows) — and the signal
    # is non-trivial on BOTH engines by the value comparison above
    assert set(planted_ids) <= set(flagged.doc_id), (
        planted_ids,
        sorted(flagged.doc_id),
    )
    assert (
        sdf.set_index("doc_id").loc[planted_ids, "n_hit_windows"] >= 3
    ).all()
