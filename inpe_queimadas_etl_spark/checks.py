"""Assertion check suites over the warehouse tables (reference §5).

Mirrors the reference's layered runtime validation: SQL assertion
checks (sql/checks/*.sql), per-day pipeline invariants
(src/etl/backfill.py:69-135), and the operational check report
(src/etl/checks.py:41-127). Each check returns a dict with
``ok`` plus measured values, and ``run_checks`` aggregates them.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.compute as pc


_CHECKED = ("mun_checked", "bioma_checked", "uc_checked", "ti_checked")
# the enriched_focos columns event_counts reads
EVENT_COLUMNS = ("mun_cd_mun", "cd_bioma", *_CHECKED)


def event_counts(batches: Iterable[pa.RecordBatch]) -> dict:
    """The event-grain counts the three table checks read, in one
    streamed pass over Arrow record batches of ``EVENT_COLUMNS``:
    rows, rows with a municipality and with a biome, and per dimension
    the rows not marked checked (false or null)."""
    counts = dict.fromkeys(("n", "n_mun", "n_bio", *_CHECKED), 0)
    for b in batches:
        counts["n"] += b.num_rows
        counts["n_mun"] += b.num_rows - b.column("mun_cd_mun").null_count
        counts["n_bio"] += b.num_rows - b.column("cd_bioma").null_count
        for c in _CHECKED:
            counts[c] += b.num_rows - (pc.sum(b.column(c)).as_py() or 0)
    return counts


def check_mart_consistency(daily_mun: pa.Table, daily_uf: pa.Table, events: dict) -> dict:
    """backfill.py:111-123: sum(marts_mun) == sum(marts_uf) ==
    enriched rows with municipality (``event_counts``)."""
    s_mun = pc.sum(daily_mun["n_focos"]).as_py() or 0
    s_uf = pc.sum(daily_uf["n_focos"]).as_py() or 0
    with_mun = events["n_mun"]
    return {
        "name": "mart_sums_consistent",
        "ok": int(s_mun) == int(s_uf) == int(with_mun),
        "sum_mun": int(s_mun),
        "sum_uf": int(s_uf),
        "enriched_with_mun": int(with_mun),
    }


def check_enrichment_coverage(
    events: dict,
    min_mun_ratio: float = 0.99,
    min_bioma_ratio: float = 0.90,
) -> dict:
    """sql/checks/040_enriched_full_coverage.sql:23-43: >=99% rows
    attributed to a municipality, >=90% to a biome (``event_counts``)."""
    n = events["n"]
    mun_ratio = events["n_mun"] / n if n else 1.0
    bio_ratio = events["n_bio"] / n if n else 1.0
    return {
        "name": "enrichment_coverage",
        "ok": mun_ratio >= min_mun_ratio and bio_ratio >= min_bioma_ratio,
        "mun_ratio": round(mun_ratio, 4),
        "bioma_ratio": round(bio_ratio, 4),
    }


def check_checked_flags(events: dict) -> dict:
    """sql/enrich/21:54-59 outcome: after an enrich pass every row is
    marked checked for every dimension, hit or miss
    (``event_counts``)."""
    bad = sum(events[c] for c in _CHECKED)
    return {"name": "checked_flags", "ok": bad == 0, "unchecked_rows": int(bad)}


# Tables a fully-run warehouse must carry — the Spark analog of the
# reference's REQUIRED_SQL_FILES manifest (validate_repo.py:25-53: its
# SQL files ARE its executable surface; here the surface is these
# materialized tables).
REQUIRED_TABLES = (
    "curated_focos",
    "enriched_focos",
    "focos_diario_municipio",
    "focos_diario_uf",
    "focos_diario_bioma",
    "focos_diario_uc",
    "focos_diario_ti",
    "focos_mensal_municipio",
    "focos_mensal_uf",
    "mv_focos_day_dim",
    "focos_diario_uf_trend",
)


def validate_warehouse_layout(spark, warehouse) -> dict:
    """Warehouse-side structural validation (the analog of the
    reference's required-SQL-files walk, run against the data layer):
    every REQUIRED_TABLE exists, reads, and has a non-empty schema,
    and no staged write was left behind in _tmp/_trash (a leftover
    means an interrupted publish — the WAP invariant)."""
    missing, unreadable = [], []
    for table in REQUIRED_TABLES:
        if not warehouse.exists(table):
            missing.append(table)
            continue
        try:
            df = warehouse.read(spark, table)
            if not df.schema.fields:
                unreadable.append(table)
        except Exception:
            unreadable.append(table)
    leftovers = []
    for area in ("_tmp", "_trash"):
        base = warehouse.root / area
        if base.exists():
            leftovers.extend(str(p.name) for p in base.iterdir())
    return {
        "name": "warehouse_layout",
        "ok": not missing and not unreadable and not leftovers,
        "tables_checked": len(REQUIRED_TABLES),
        "missing": missing,
        "unreadable": unreadable,
        "staged_leftovers": leftovers,
    }


def run_checks(checks: list[dict]) -> dict:
    """Aggregate check results into a report (validate_marts.py:81-122
    analog)."""
    return {
        "ok": all(c["ok"] for c in checks),
        "generated_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "checks": checks,
    }


def render_report_md(report: dict, counts: dict) -> str:
    """The docs/validation_last_run.md body (validate_marts.py:81-122):
    timestamp, one line per check with its measured values, the
    last-day counts, and the overall status."""
    lines = [
        "# validation last run",
        "",
        f"timestamp_utc: {report['generated_at']}",
        "",
        "check_results:",
    ]
    for c in report["checks"]:
        status = "ok" if c["ok"] else "fail"
        detail = ", ".join(
            f"{k}={v}" for k, v in c.items() if k not in ("name", "ok")
        )
        suffix = f" | {detail}" if detail else ""
        lines.append(f"- {c['name']}: {status}{suffix}")
    lines += ["", "last_day_counts:"]
    for k, v in counts.items():
        lines.append(f"- {k}: {v}")
    lines += [
        "",
        "status:",
        "- ok: " + ("true" if report["ok"] else "false"),
        "",
    ]
    return "\n".join(lines)


def write_run_report(
    report: dict, counts: dict, docs_dir, logs_dir
) -> tuple[str, str]:
    """Write the two run artifacts the reference leaves behind
    (validate_marts.py:81-122 writes docs/validation_last_run.md;
    :283-301 writes logs/last_run.json). Returns both paths."""
    import json
    from pathlib import Path

    docs = Path(docs_dir)
    logs = Path(logs_dir)
    docs.mkdir(parents=True, exist_ok=True)
    logs.mkdir(parents=True, exist_ok=True)

    md_path = docs / "validation_last_run.md"
    md_path.write_text(render_report_md(report, counts), encoding="utf-8")

    payload = {
        "timestamp_utc": report["generated_at"],
        "ok": report["ok"],
        "check_results": report["checks"],
        "counts": {k: str(v) for k, v in counts.items()},
    }
    json_path = logs / "last_run.json"
    json_path.write_text(json.dumps(payload, indent=2), encoding="utf-8")
    return str(md_path), str(json_path)
