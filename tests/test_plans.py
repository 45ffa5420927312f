"""Physical-plan guardrails: the properties that carry the 100 TB
design must survive refactors, not just the small-SF results.

- no oracle-checked corpus query silently degrades to
  CartesianProduct or a nested-loop join;
- the scan-shaped passes stay shuffle-free, and small model tables
  join as BroadcastHashJoin (no corpus-side shuffle);
- the batch pass is one mapInPandas, and its anti-join reads only its
  own date's partition.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from .corpus_oracles import (
    CHECKS,
    cur5_mixture_resample,
    cur6_leakfree_split,
    cur10_substring_decontamination,
    dd10_duplicate_spans,
)

SF0001 = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(CHECKS))
def test_no_unintended_cross_products(spark, name):
    plan = _plan(CHECKS[name][0](spark, SF0001), "simple")
    assert "CartesianProduct" not in plan, f"{name} degraded to CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} has a nested-loop join:\n{plan}"
    )


def test_map_side_curation_ops_shuffle_free(spark):
    """cur3 and the PII scrub are scan-shaped passes: any Exchange
    appearing in their plans means a refactor broke the zero-shuffle
    property that makes them free at 100 TB."""
    for name in ("cur3_repetition_filter", "tx5_pii_scrub"):
        plan = _plan(CHECKS[name][0](spark, SF0001), "simple")
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


def test_pack1_single_exchange_shared_partitioning(spark):
    """pack1's rollup groups on the window's partition keys, so the
    groupBy must reuse the window exchange (exactly one shuffle)."""
    plan = _plan(CHECKS["pack1_token_packing"][0](spark, SF0001), "simple")
    assert plan.count("Exchange") == 1, (
        f"pack1 expected exactly 1 exchange:\n{plan}"
    )


def test_cur6_split_shuffle_free(spark):
    """cur6 is a pure scan-shaped projection (two md5s + CASE): any
    Exchange means the leak-free split stopped being free at 100 TB."""
    plan = _plan(cur6_leakfree_split(spark, SF0001), "simple")
    assert "Exchange" not in plan, f"cur6 gained a shuffle:\n{plan}"


def test_cur5_rates_broadcast_corpus_never_shuffled(spark):
    """cur5's keep decision must join the K-row rate table via
    broadcast; a SortMergeJoin here would shuffle the whole corpus on
    `source` (few, skewed keys) — the exact 100-TB anti-plan."""
    plan = _plan(cur5_mixture_resample(spark, SF0001), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, (
        f"cur5 corpus-side shuffle join:\n{plan}"
    )


def test_dd10_shuffles_on_uniform_hash_and_doc(spark):
    """dd10's two shuffles must be the designed ones: repeat
    detection partitions on the 60-bit window hash (uniform — no hot
    key can exist) and the span merge partitions on doc_id (per-doc
    row count bounded by doc length). No cartesian anywhere."""
    plan = _plan(dd10_duplicate_spans(spark, SF0001))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(whash" in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_cur10_eval_broadcasts_corpus_rolls_up_once(spark):
    """cur10's 100-TB contract: the eval window set broadcasts into
    the corpus window stream (strings never shuffle — both sides are
    60-bit fingerprints before any exchange), no SortMergeJoin for
    the hit join, and the per-doc rollup carries map-side partials.
    The final zero-fill left join keys on doc_id."""
    plan = _plan(cur10_substring_decontamination(spark, SF0001), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial" in plan.lower(), plan


# the enriched table's layout: existing enriched_focos partitions and
# process_batch's read of the prior rows in the pass's column order
# depend on it
ENRICHED_LAYOUT = [
    ("terrai_cod", "string"),
    ("cd_cnuc", "string"),
    ("cd_bioma", "string"),
    ("mun_cd_mun", "string"),
    ("event_hash", "string"),
    ("file_date", "date"),
    ("view_ts", "string"),
    ("satelite", "string"),
    ("municipio", "string"),
    ("estado", "string"),
    ("bioma", "string"),
    ("lat", "double"),
    ("lon", "double"),
    ("props", "string"),
    ("event_day", "date"),
    ("mun_nm_mun", "string"),
    ("mun_uf", "string"),
    ("mun_area_km2", "double"),
    ("mun_checked", "boolean"),
    ("bioma_enr", "string"),
    ("bioma_checked", "boolean"),
    ("uc_nome", "string"),
    ("uc_checked", "boolean"),
    ("ti_nome", "string"),
    ("ti_checked", "boolean"),
]


def test_batch_is_one_map_in_pandas_pass(spark, tmp_path):
    """The plan process_batch collects reads, curates, dedups and enriches
    the landed files in a single mapInPandas over one row per file date:
    no CSV scan, no Window for the dedup, no Exchange, no join for the
    names, and the enriched table keeps its column layout."""
    import datetime as dt

    from inpe_queimadas_etl_spark.enrich import ENRICHED_LAYOUT as layout
    from inpe_queimadas_etl_spark.pipeline import batch_pass
    from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

    from . import fixtures_geo as G

    days = [dt.date(2024, 5, 2), dt.date(2024, 5, 3)]
    day_files = []
    for day in days:
        path = str(tmp_path / f"focos_{day:%Y%m%d}.csv")
        write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
        day_files.append((day, path))
    dims = {"municipios": G.municipios(), "biomas": G.biomas(), "ucs": G.ucs(), "tis": G.tis()}
    out = batch_pass(spark, day_files, dims)
    plan = out._jdf.queryExecution().executedPlan().treeString()
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert not re.search(r"Window|Exchange|Join|Union|FileScan", plan), plan
    assert layout == [name for name, _ in ENRICHED_LAYOUT]
    assert [
        (f.name, f.dataType.simpleString()) for f in out.schema.fields
    ] == ENRICHED_LAYOUT
    assert out.rdd.getNumPartitions() == len(days)


def test_new_rows_scan_only_the_batch_file_dates(spark, tmp_path):
    """The idempotency anti-join runs inside each pass task, which reads
    only its own date's partition of curated_focos, never the whole
    table: here the other date's file is unreadable, and an absent
    date reads nothing."""
    import datetime as dt

    from inpe_queimadas_etl_spark.pipeline import loaded_hashes

    curated = tmp_path / "curated_focos"
    spark.createDataFrame(
        [("a", dt.date(2024, 5, 1)), ("b", dt.date(2024, 5, 2)), ("c", dt.date(2024, 5, 2))],
        "event_hash string, file_date date",
    ).write.partitionBy("file_date").parquet(str(curated))
    other = list((curated / "file_date=2024-05-01").glob("*.parquet"))
    assert other
    for f in other:
        f.write_bytes(b"not parquet")
    assert sorted(loaded_hashes(str(curated), dt.date(2024, 5, 2))) == ["b", "c"]
    assert loaded_hashes(str(curated), dt.date(2024, 5, 3)) == []
