"""End-to-end corpus materialization (corpus_pipeline.py): the
oracle-checked operators composed into one deterministic pipeline with
a shared dd7 label computation, a split-partitioned export, and an
audit manifest."""

from __future__ import annotations

import json
import os

import pytest

# internal-consistency soak: excluded from the driver-visible fast
# gate (pytest.ini); run with -m "slow or not slow"
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark.corpus_pipeline import run_corpus_pipeline

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_out"))
    manifest = run_corpus_pipeline(spark, SF0001, out)
    return out, manifest


def test_manifest_counts_are_consistent(spark, pipeline_out):
    out, manifest = pipeline_out
    assert manifest["input_docs"] == 500
    # curation reasons partition the input
    assert sum(manifest["curation"].values()) == manifest["input_docs"]
    kept = manifest["curation"]["kept"]
    assert (
        manifest["mixture"]["in"]
        == kept
        - manifest["repetition_dropped"]
        - manifest["contaminated_dropped"]
    )
    assert 0 < manifest["mixture"]["kept"] <= manifest["mixture"]["in"]
    # written rows == per-split docs == mixture keepers
    written = spark.read.parquet(os.path.join(out, "corpus"))
    assert written.count() == manifest["mixture"]["kept"]
    assert (
        sum(s["docs"] for s in manifest["splits"].values())
        == manifest["mixture"]["kept"]
    )
    # the manifest file round-trips
    with open(os.path.join(out, "_manifest.json"), encoding="utf-8") as f:
        assert json.load(f)["input_docs"] == 500


def test_output_is_split_partitioned_with_lineage(spark, pipeline_out):
    out, _ = pipeline_out
    corpus = os.path.join(out, "corpus")
    parts = {e for e in os.listdir(corpus) if e.startswith("split=")}
    assert parts == {"split=train", "split=validation", "split=test"}
    written = spark.read.parquet(corpus)
    cols = set(written.columns)
    assert {
        "doc_id",
        "text",
        "cluster_id",
        "split",
        "shard",
        "pack_id",
        "tokens",
    } <= cols
    assert written.select("doc_id").distinct().count() == written.count()


def test_no_cluster_straddles_splits_and_no_dups_survive(spark, pipeline_out):
    out, _ = pipeline_out
    pdf = (
        spark.read.parquet(os.path.join(out, "corpus"))
        .select("doc_id", "text", "cluster_id", "split")
        .toPandas()
    )
    assert (pdf.groupby("cluster_id")["split"].nunique() == 1).all()
    # near-dup dedup kept at most one member per cluster, so exact
    # duplicate texts cannot survive either
    assert (pdf.groupby("cluster_id").size() == 1).all()
    assert pdf["text"].nunique() == len(pdf)


def test_rerun_is_deterministic(spark, pipeline_out, tmp_path):
    out, manifest = pipeline_out
    out2 = str(tmp_path / "rerun")
    manifest2 = run_corpus_pipeline(spark, SF0001, out2)
    assert manifest2 == manifest or {
        k: v for k, v in manifest2.items() if k != "output"
    } == {k: v for k, v in manifest.items() if k != "output"}
    a = (
        spark.read.parquet(os.path.join(out, "corpus"))
        .select("doc_id", "split", "pack_id")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    b = (
        spark.read.parquet(os.path.join(out2, "corpus"))
        .select("doc_id", "split", "pack_id")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert a.equals(b)


def test_budgeted_weighted_run_respects_budget(spark, tmp_path):
    out = str(tmp_path / "budgeted")
    manifest = run_corpus_pipeline(
        spark, SF0001, out, token_budget=2_000
    )
    total_tokens = sum(s["tokens"] for s in manifest["splits"].values())
    # expected kept mass is the budget; allow sampling variance (the
    # keep decisions are per-doc Bernoulli via deterministic hash)
    assert total_tokens <= 2_000 * 1.5
    assert total_tokens > 0


@pytest.fixture()
def _preserve_root_logging():
    """cli.main's _setup_logging(force=True) rebinds the root logger
    to pytest's per-test captured stream; restore the original
    handlers so later tests/teardown don't log to a closed file."""
    import logging

    root = logging.getLogger()
    saved = root.handlers[:], root.level
    yield
    root.handlers[:], root.level = saved[0], saved[1]


def test_cli_corpus_curate(spark, tmp_path, _preserve_root_logging):
    from inpe_queimadas_etl_spark import cli

    out = str(tmp_path / "cli_out")
    rc = cli.main(
        [
            "corpus-curate",
            "--corpus-dir", SF0001,
            "--out-dir", out,
            "--token-budget", "3000",
        ]
    )
    assert rc == 0
    assert os.path.exists(os.path.join(out, "_manifest.json"))


def test_eval_decontamination_drops_leaked_docs(spark, tmp_path):
    """An eval set built from real corpus texts: every surviving
    corpus doc that shares a 3-word shingle with it is dropped, and
    clean docs are untouched relative to a run without an eval set."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_out = str(tmp_path / "base")
    base = run_corpus_pipeline(spark, SF0001, base_out)
    written = (
        spark.read.parquet(os.path.join(base_out, "corpus"))
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    # eval suite = verbatim copies of two surviving docs
    leak = written.head(2).copy()
    leak["doc_id"] = [900_000, 900_001]
    eval_dir = tmp_path / "eval"
    eval_dir.mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {"doc_id": leak["doc_id"], "text": leak["text"]}
            ),
            preserve_index=False,
        ),
        str(eval_dir / "documents.parquet"),
    )
    out = str(tmp_path / "decon")
    manifest = run_corpus_pipeline(
        spark, SF0001, out, eval_dir=str(eval_dir)
    )
    assert manifest["contaminated_dropped"] >= 2
    survivors = set(
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "corpus"))
        .select("doc_id")
        .collect()
    )
    for leaked_id in written.head(2)["doc_id"]:
        assert leaked_id not in survivors
    # NOT a strict subset of the base run: dropping contaminated docs
    # shrinks per-source token totals, so the mixture stage's rates
    # (min-source / tokens) shift and different docs pass the sampling
    # threshold — correct coupling, pinned here so a refactor that
    # accidentally freezes rates across stages gets noticed
    assert len(survivors) > 0
    assert base["mixture"]["in"] > manifest["mixture"]["in"]


def test_pack_rows_are_contiguous_within_files(pipeline_out):
    """pack_id is only unique within (split, lang, shard), so the
    export sort must include lang: within any written file, the rows
    of one (lang, shard, pack_id) pack form a single contiguous run —
    the contract a consumer rebuilding training sequences relies on."""
    import glob

    import pyarrow.parquet as pq

    out, _ = pipeline_out
    files = glob.glob(os.path.join(out, "corpus", "split=*", "*.parquet"))
    assert files
    checked = 0
    for f in files:
        pdf = pq.read_table(
            f, columns=["lang", "shard", "pack_id"]
        ).to_pandas()
        if len(pdf) < 2:
            continue
        key = list(zip(pdf["lang"], pdf["shard"], pdf["pack_id"]))
        seen = set()
        prev = object()
        for k in key:
            if k != prev:
                assert k not in seen, (f, k)
                seen.add(k)
                prev = k
        checked += 1
    assert checked > 0


def test_custom_split_bounds_and_written_packs(spark, tmp_path):
    """split_bounds reshape the hash cut points (90/5/5 here) and
    write_packs materializes out/packs with conserved token mass."""
    out = str(tmp_path / "o")
    manifest = run_corpus_pipeline(
        spark,
        SF0001,
        out,
        split_bounds=(0.9, 0.95),
        write_packs=True,
    )
    splits = manifest["splits"]
    assert splits["train"]["docs"] > splits.get("validation", {"docs": 0})[
        "docs"
    ] + splits.get("test", {"docs": 0})["docs"]
    packs = spark.read.parquet(os.path.join(out, "packs"))
    written = spark.read.parquet(os.path.join(out, "corpus"))
    assert packs.agg({"n_docs": "sum"}).first()[0] == written.count()
    assert (
        packs.agg({"total_tokens": "sum"}).first()[0]
        == written.agg({"tokens": "sum"}).first()[0]
    )


def test_cheap_params_validated_before_expensive_stages(spark, tmp_path):
    """Malformed bounds/weights/budget fail at entry — before dd7 and
    curation have burned their cost."""
    out = str(tmp_path / "x")
    with pytest.raises(ValueError, match="split_bounds"):
        run_corpus_pipeline(spark, SF0001, out, split_bounds=(0.9, 0.5))
    with pytest.raises(ValueError, match="negative mixture weight"):
        run_corpus_pipeline(spark, SF0001, out, weights={"a": -1.0})
    with pytest.raises(ValueError, match="positive entry"):
        run_corpus_pipeline(spark, SF0001, out, weights={"a": 0.0})
    with pytest.raises(ValueError, match="negative token_budget"):
        run_corpus_pipeline(spark, SF0001, out, token_budget=-1)
    assert not os.path.exists(os.path.join(out, "corpus"))


def test_split_by_content_mode(spark, tmp_path):
    """--split-by content (VERDICT r5 #7): the pipeline's content
    mode assigns splits by md5(text) hash — byte-identical documents
    co-assign, assignments match the registered cur6 semantics
    (split_from_content), cluster_id lineage is still carried, and
    the manifest records the mode."""
    from inpe_queimadas_etl_spark.corpus_ops import split_from_content

    out = str(tmp_path / "out_content")
    manifest = run_corpus_pipeline(
        spark, SF0001, out, split_by="content"
    )
    assert manifest["split_by"] == "content"
    written = spark.read.parquet(os.path.join(out, "corpus"))
    assert "cluster_id" in written.columns
    # assignment matches the registered operator's semantics row-f-row
    expected = {
        r["doc_id"]: r["split"]
        for r in split_from_content(
            spark.read.parquet(f"{SF0001}/documents.parquet")
        ).collect()
    }
    rows = written.select("doc_id", "split").collect()
    assert rows
    for r in rows:
        assert expected[r["doc_id"]] == r["split"], r
    # invalid mode refused before any work
    with pytest.raises(ValueError, match="split_by"):
        run_corpus_pipeline(
            spark, SF0001, str(tmp_path / "bad"), split_by="rand"
        )


def test_split_by_cli_flag(tmp_path, monkeypatch):
    """The corpus-curate CLI passes --split-by through."""
    import inpe_queimadas_etl_spark.cli as cli

    seen = {}

    def fake_run(spark, corpus_dir, out_dir, **kw):
        seen.update(kw)
        return {"ok": True}

    monkeypatch.setattr(
        "inpe_queimadas_etl_spark.corpus_pipeline.run_corpus_pipeline",
        fake_run,
    )
    monkeypatch.setattr(
        cli, "_setup_logging", lambda *a, **k: None, raising=False
    )
    import inpe_queimadas_etl_spark.session as sess

    class _FakeSpark:
        pass

    monkeypatch.setattr(sess, "get_spark", lambda **kw: _FakeSpark())
    rc = cli.main(
        [
            "corpus-curate",
            "--corpus-dir", SF0001,
            "--out-dir", str(tmp_path / "o"),
            "--split-by", "content",
        ]
    )
    assert rc == 0
    assert seen["split_by"] == "content"


def test_scrub_spans_stage(spark, tmp_path):
    """--scrub-spans: duplicated runs planted inside otherwise
    distinct documents are removed from the written corpus, the
    manifest records the accounting, and token counts downstream see
    the scrubbed text."""
    import random

    import pandas as pd

    rng = random.Random(31)
    stops = "the a of and to in"

    def words(n, tag):
        return [f"{tag}{rng.randrange(10**9)}" for _ in range(n)]

    boiler = words(25, "s")  # duplicated run carried by several docs
    rows = []
    for i in range(30):
        body = words(40, f"w{i}x")
        if i < 6:  # six docs carry the boilerplate at varying offsets
            body = body[: 5 + i] + boiler + body[5 + i :]
        rows.append((i, f"{stops} " + " ".join(body)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["lang"] = "en"
    pdf["source"] = "src0"
    src = tmp_path / "corpus"
    src.mkdir()
    pdf.to_parquet(src / "documents.parquet")

    out = str(tmp_path / "out")
    manifest = run_corpus_pipeline(
        spark, str(src), out, scrub_spans=True
    )
    assert manifest["span_scrub"]["enabled"]
    assert manifest["span_scrub"]["docs_scrubbed"] >= 1
    assert manifest["span_scrub"]["tokens_removed"] >= 25
    written = spark.read.parquet(os.path.join(out, "corpus"))
    # no written doc still contains the boilerplate run
    needle = " ".join(boiler)
    hits = written.filter(written.text.contains(needle)).count()
    assert hits == 0
    # and n_chars matches the scrubbed text
    bad = written.filter(
        F.length("text").cast("long") != written.n_chars
    ).count()
    assert bad == 0

    # default: stage off, manifest says so
    m2 = run_corpus_pipeline(spark, str(src), str(tmp_path / "out2"))
    assert m2["span_scrub"] == {
        "enabled": False,
        "docs_scrubbed": 0,
        "tokens_removed": 0,
    }


def test_mixture_temperature_pipeline_flag(spark, tmp_path):
    """--mixture-temperature: weights derive from observed token
    masses (share^alpha); the manifest records the temperature and
    the flag is exclusive with --weights."""
    import pandas as pd

    rows = []
    stops = "the a of and to in"
    for i in range(30):
        rows.append((i, f"{stops} " + " ".join(f"w{i}x{k}" for k in range(40)), "big"))
    for i in range(30, 34):
        rows.append((i, f"{stops} " + " ".join(f"s{i}x{k}" for k in range(40)), "small"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["lang"] = "en"
    src = tmp_path / "corpus"
    src.mkdir()
    pdf.to_parquet(src / "documents.parquet")

    out = str(tmp_path / "out")
    manifest = run_corpus_pipeline(
        spark, str(src), out, mixture_temperature=0.5
    )
    assert manifest["mixture"]["temperature"] == 0.5
    assert not manifest["mixture"]["skipped"]
    written = spark.read.parquet(os.path.join(out, "corpus")).toPandas()
    by_src = written.groupby("source").size()
    # scarce source saturates (kept whole), dominant is downsampled
    assert by_src.get("small", 0) == 4
    assert by_src["big"] < 30

    with pytest.raises(ValueError, match="not both"):
        run_corpus_pipeline(
            spark,
            str(src),
            str(tmp_path / "o2"),
            weights={"big": 1.0},
            mixture_temperature=0.5,
        )


def test_scrub_pii_stage(spark, tmp_path):
    """--scrub-pii: planted emails/phones are redacted in the written
    corpus, the manifest records the accounting, n_chars matches the
    redacted text, and the default leaves text untouched."""
    import pandas as pd

    stops = "the a of and to in"
    rows = []
    for i in range(12):
        body = " ".join(f"w{i}x{k}" for k in range(30))
        if i < 3:
            body += f" contact w{i}@example.com or 555-0199 now"
        rows.append((i, f"{stops} {body}"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["lang"] = "en"
    pdf["source"] = "src0"
    src = tmp_path / "corpus"
    src.mkdir()
    pdf.to_parquet(src / "documents.parquet")

    out = str(tmp_path / "out")
    manifest = run_corpus_pipeline(spark, str(src), out, scrub_pii=True)
    assert manifest["pii_scrub"]["enabled"]
    assert manifest["pii_scrub"]["docs_redacted"] == 3
    assert manifest["pii_scrub"]["matches"] == 6  # email + phone x 3
    written = spark.read.parquet(os.path.join(out, "corpus"))
    pii_left = written.filter(
        written.text.contains("@example.com")
        | written.text.contains("555-0199")
    ).count()
    assert pii_left == 0
    assert written.filter(written.text.contains("<EMAIL>")).count() == 3
    bad = written.filter(
        F.length("text").cast("long") != written.n_chars
    ).count()
    assert bad == 0

    m2 = run_corpus_pipeline(spark, str(src), str(tmp_path / "o2"))
    assert m2["pii_scrub"] == {
        "enabled": False,
        "docs_redacted": 0,
        "matches": 0,
    }
    w2 = spark.read.parquet(os.path.join(str(tmp_path / "o2"), "corpus"))
    assert w2.filter(w2.text.contains("@example.com")).count() == 3


def test_decontaminate_by_substrings_mode(spark, tmp_path):
    """--decontaminate-by substrings: a 13-token eval run drops only
    docs carrying it verbatim (cur2's 3-shingle tier would also flag
    the doc sharing a mere 3-gram — the precision/recall difference
    the flag exists for); 'both' is their union."""
    import pandas as pd

    stops = "the a of and to in"
    leak = " ".join(f"e{i}" for i in range(13))
    tri = "e0 e1 e2"  # one 3-shingle of the leak, not 13 tokens
    rows = [
        (0, f"{stops} {leak} " + " ".join(f"w0x{k}" for k in range(25))),
        (1, f"{stops} {tri} " + " ".join(f"w1x{k}" for k in range(30))),
        (2, f"{stops} " + " ".join(f"w2x{k}" for k in range(35))),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["lang"] = "en"
    pdf["source"] = "src0"
    src = tmp_path / "corpus"
    src.mkdir()
    pdf.to_parquet(src / "documents.parquet")
    ev = pd.DataFrame(
        {"doc_id": [100], "text": [f"prefix {leak} suffix"]}
    )
    ed = tmp_path / "eval"
    ed.mkdir()
    ev.to_parquet(ed / "documents.parquet")

    m_sub = run_corpus_pipeline(
        spark,
        str(src),
        str(tmp_path / "o_sub"),
        eval_dir=str(ed),
        decontaminate_by="substrings",
    )
    assert m_sub["decontaminate_by"] == "substrings"
    assert m_sub["contaminated_dropped"] == 1  # only the verbatim doc

    m_sh = run_corpus_pipeline(
        spark,
        str(src),
        str(tmp_path / "o_sh"),
        eval_dir=str(ed),
        decontaminate_by="shingles",
    )
    assert m_sh["contaminated_dropped"] == 2  # verbatim + 3-gram doc

    m_both = run_corpus_pipeline(
        spark,
        str(src),
        str(tmp_path / "o_both"),
        eval_dir=str(ed),
        decontaminate_by="both",
    )
    assert m_both["contaminated_dropped"] == 2

    with pytest.raises(ValueError, match="decontaminate_by"):
        run_corpus_pipeline(
            spark,
            str(src),
            str(tmp_path / "o_bad"),
            eval_dir=str(ed),
            decontaminate_by="bogus",
        )


def test_full_selection_stack_single_invocation(spark, tmp_path):
    """Every optional gate in one corpus-curate invocation —
    --decontaminate-by both + --scrub-pii + --scrub-spans +
    --mixture-temperature on the same corpus — with the manifest
    arithmetic holding across the whole stack and each stage's effect
    visible in the written corpus. Each gate is designed to fire on a
    DISTINCT planted slice so the per-stage counts are exact:
    curation keeps everything, decontam drops the two leak docs, PII
    redacts three, the span scrub rewrites the six boilerplate
    carriers, and the temperature mixture downsamples the dominant
    source."""
    import random

    import pandas as pd

    rng = random.Random(41)
    stops = "the a"
    pairs = [(f"a{i}", f"b{i}") for i in range(100)]
    boiler = [f"s{rng.randrange(10**9)}" for _ in range(25)]
    leak = " ".join(f"e{i}" for i in range(13))

    rows = []
    for i in range(20):  # fluent dominant-source docs
        body = [w for p in rng.sample(pairs, 25) for w in p]
        if 3 <= i <= 8:  # six carry the duplicated run, offsets vary
            body = body[: 5 + i] + boiler + body[5 + i :]
        text = f"{stops} " + " ".join(body)
        if i < 3:  # three carry PII (email + phone = 2 matches each)
            text += f" contact u{i}@example.com or 555-0199 now"
        rows.append((i, text, "big"))
    rows.append(  # shares ONE 3-shingle of the eval run
        (25, f"{stops} e0 e1 e2 " + " ".join(f"w25x{k}" for k in range(30)), "big")
    )
    rows.append(  # carries the 13-token eval run verbatim
        (26, f"{stops} {leak} " + " ".join(f"w26x{k}" for k in range(30)), "big")
    )
    for i in range(27, 31):  # scarce source, same fluent vocabulary
        body = [w for p in rng.sample(pairs, 18) for w in p]
        rows.append((i, f"{stops} " + " ".join(body), "small"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["lang"] = "en"
    src = tmp_path / "corpus"
    src.mkdir()
    pdf.to_parquet(src / "documents.parquet")

    ed = tmp_path / "eval"
    ed.mkdir()
    pd.DataFrame(
        {"doc_id": [900], "text": [f"prefix {leak} suffix"]}
    ).to_parquet(ed / "documents.parquet")

    out = str(tmp_path / "out")
    manifest = run_corpus_pipeline(
        spark,
        str(src),
        out,
        eval_dir=str(ed),
        decontaminate_by="both",
        scrub_pii=True,
        scrub_spans=True,
        mixture_temperature=0.5,
    )

    # per-stage counts, each pinned by its planted slice
    assert manifest["decontaminate_by"] == "both"
    assert manifest["contaminated_dropped"] == 2
    assert manifest["pii_scrub"]["docs_redacted"] == 3
    assert manifest["pii_scrub"]["matches"] == 6
    assert manifest["span_scrub"]["docs_scrubbed"] == 6
    assert manifest["span_scrub"]["tokens_removed"] >= 6 * 20
    # 20 fluent + 2 leak + 4 scarce docs, all kept by curation and
    # the repetition gate; decontamination drops the 2 leaks
    assert manifest["input_docs"] == 26
    assert manifest["mixture"]["in"] == 24
    assert manifest["mixture"]["temperature"] == 0.5
    assert not manifest["mixture"]["skipped"]

    # the arithmetic identity across the WHOLE stack
    assert (
        manifest["mixture"]["in"]
        == manifest["curation"]["kept"]
        - manifest["repetition_dropped"]
        - manifest["contaminated_dropped"]
    )

    # written corpus reflects every stage
    written = spark.read.parquet(os.path.join(out, "corpus"))
    n_written = written.count()
    assert n_written == manifest["mixture"]["kept"]
    assert sum(s["docs"] for s in manifest["splits"].values()) == n_written
    ids = {r["doc_id"] for r in written.select("doc_id").collect()}
    assert not ids & {25, 26}, ids  # both leaks gone
    assert (
        written.filter(
            written.text.contains("@example.com")
            | written.text.contains("555-0199")
        ).count()
        == 0
    )
    needle = " ".join(boiler)
    assert written.filter(written.text.contains(needle)).count() == 0
    assert (
        written.filter(
            F.length("text").cast("long") != written.n_chars
        ).count()
        == 0
    )
    for col in ("split", "cluster_id", "shard", "pack_id", "tokens"):
        assert col in written.columns, col
