"""Command-line entrypoint mirroring the reference's CLI surface
(src/etl/cli.py, src/etl/app.py:326-380): `run --date D` for a single
day, `run --start A --end B` for a resumable range backfill, and
`checks` for the post-run validation sweep — each mapped onto the
Spark batch pipeline.

The reference extracts over HTTP and loads PostGIS; here the landing
directory stands in for the extract cache (files named
``focos_diario_br_YYYYMMDD.csv``, the reference's landing naming) and
the partitioned-parquet Warehouse for the database. Dimension inputs
come from IBGE-style shapefiles in ``--dims-dir``
(municipios/biomas/ucs/tis .shp+.dbf, reference
ensure_ref_ibge.py:185-254); the UF-area dim is rebuilt from the
municipality dim exactly like sql/ref/05_ref_uf_area.sql.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import logging
import math
import sys
from pathlib import Path

log = logging.getLogger("inpe_queimadas_etl_spark")

# feature-loader arguments of the biome/UC/TI dims; the municipality
# dim's come from sources.shapefile.MUNICIPIO_FIELDS
_DIM_SPECS = {
    "biomas": {"id_field": "cd_bioma", "prop_fields": ("bioma",)},
    "ucs": {"id_field": "cd_cnuc", "prop_fields": ("nome_uc",)},
    "tis": {"id_field": "terrai_cod", "prop_fields": ("terrai_nom",)},
}


def _setup_logging(log_dir: str | None) -> None:
    """Console + optional file logging (reference cli.py:20-41)."""
    handlers: list[logging.Handler] = [logging.StreamHandler()]
    if log_dir:
        p = Path(log_dir)
        p.mkdir(parents=True, exist_ok=True)
        handlers.append(logging.FileHandler(p / "etl.log", encoding="utf-8"))
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s | %(levelname)s | %(name)s | %(message)s",
        handlers=handlers,
        force=True,
    )


def load_dims(spark, dims_dir: str) -> dict:
    """Dim directory -> the dims dict process_batch expects:
    PolyFeature lists for municipios/biomas/ucs/tis plus the uf_area
    DataFrame rolled up from the municipality dim (A6). Each dim may
    be a shapefile (<name>.shp+.dbf) or a GeoJSON FeatureCollection
    (<name>.geojson) — the two ogr2ogr-style formats the reference's
    dim loader accepts — and formats can mix within one directory."""
    from pyspark.sql import types as T

    from .session import local_df
    from .sources.geojson_source import features_from_geojson
    from .sources.shapefile import (
        MUNICIPIO_FIELDS,
        features_from_shapefile,
        municipio_rows,
    )

    d = Path(dims_dir)
    dims: dict = {}
    for name, spec in {"municipios": MUNICIPIO_FIELDS, **_DIM_SPECS}.items():
        shp = d / f"{name}.shp"
        gj = d / f"{name}.geojson"
        if shp.exists():
            dims[name] = features_from_shapefile(str(shp), **spec)
        elif gj.exists():
            dims[name] = features_from_geojson(str(gj), **spec)
        else:
            raise FileNotFoundError(
                f"missing dim: {shp} (or {gj.name}) in {dims_dir}"
            )
    # A6 (sql/ref/05_ref_uf_area.sql:10-18): sum(area_km2) group by uf
    # over the typed municipality rows, null UFs dropped. fsum is exact,
    # then rounded once, so no core count or row order moves the last
    # digit.
    by_uf: dict[str, list[float]] = {}
    for _, _, uf, area in municipio_rows(dims["municipios"]):
        if uf is not None:
            by_uf.setdefault(uf, []).append(area)
    dims["uf_area"] = local_df(
        spark,
        [(uf, math.fsum(v)) for uf, v in by_uf.items()],
        T.StructType.fromDDL("uf string, area_km2 double not null"),
    )
    return dims


def discover_landing_files(
    landing_dir: str, start: dt.date, end: dt.date
) -> list[tuple[dt.date, str]]:
    """Landed CSVs whose name-date falls in [start, end] (inclusive,
    matching the reference backfill's --start/--end), ordered by day."""
    from .streaming import file_date_from_name

    out = []
    for p in sorted(Path(landing_dir).glob("*.csv")):
        try:
            fdate = file_date_from_name(p.name)
        except ValueError:
            continue
        if start <= fdate <= end:
            out.append((fdate, str(p)))
    return out


def cmd_run(args) -> int:
    from .pipeline import Warehouse, run_range
    from .session import get_spark

    if args.date and (args.start or args.end):
        log.error("run takes --date or --start/--end, not both")
        return 2
    if args.date:
        start = end = dt.date.fromisoformat(args.date)
    elif args.start and args.end:
        start, end = dt.date.fromisoformat(args.start), dt.date.fromisoformat(args.end)
    else:
        log.error("run requires --date or --start/--end")
        return 2
    if start > end:
        log.error("run --start %s is later than --end %s", start, end)
        return 2

    day_files = discover_landing_files(args.landing_dir, start, end)
    if not day_files:
        log.error(
            "no landed CSVs for %s..%s in %s", start, end, args.landing_dir
        )
        return 1

    spark = get_spark()
    wh = Warehouse(args.warehouse)
    dims = load_dims(spark, args.dims_dir)
    state = args.state_file
    if args.reset_state and state and Path(state).exists():
        Path(state).unlink()
    results = run_range(
        spark,
        wh,
        day_files,
        dims,
        state_path=state,
        write_report=args.checks,
    )
    for r in results:
        log.info("run ok | %s", json.dumps(r, default=str))
    failed = [
        r["report_json"]
        for r in results
        if "report_json" in r and not _report_ok(r["report_json"])
    ]
    for path in failed:
        log.error("checks failed | report_json=%s", path)
    return 1 if failed else 0


def _report_ok(report_json: str) -> bool:
    """The overall status of a written validation report."""
    return json.loads(Path(report_json).read_text(encoding="utf-8"))["ok"]


def cmd_checks(args) -> int:
    from .pipeline import Warehouse, write_validation_report
    from .session import get_spark

    spark = get_spark()
    wh = Warehouse(args.warehouse)
    paths = write_validation_report(spark, wh)
    if paths is None:
        log.error("nothing to validate: warehouse has no enriched table")
        return 1
    if not _report_ok(paths[1]):
        log.error("checks failed | report_md=%s report_json=%s", *paths)
        return 1
    log.info("checks ok | report_md=%s report_json=%s", *paths)
    return 0


def cmd_validate_repo(args) -> int:
    """Structural validation (reference validate_repo.py + the smoke
    preflight): the warehouse carries every required table and a clean
    staging area."""
    from .checks import validate_warehouse_layout
    from .pipeline import Warehouse
    from .session import get_spark

    r = validate_warehouse_layout(get_spark(), Warehouse(args.warehouse))
    log.log(
        logging.INFO if r["ok"] else logging.ERROR,
        "validate-repo | %s",
        json.dumps(r, default=str),
    )
    return 0 if r["ok"] else 1


def cmd_corpus_curate(args) -> int:
    """One-shot training-corpus materialization (corpus_pipeline.py):
    dedup + curation + mixture + leak-free split + packing, exported
    as split-partitioned sharded parquet with a _manifest.json audit
    trail."""
    from .corpus_pipeline import run_corpus_pipeline
    from .session import get_spark

    weights = json.loads(args.weights) if args.weights else None
    spark = get_spark(app_name="corpus-curate")
    manifest = run_corpus_pipeline(
        spark,
        args.corpus_dir,
        args.out_dir,
        eval_dir=args.eval_dir,
        decontaminate_by=args.decontaminate_by,
        weights=weights,
        token_budget=args.token_budget,
        mixture_temperature=args.mixture_temperature,
        pack_budget=args.pack_budget,
        write_packs=args.write_packs,
        split_by=args.split_by,
        scrub_spans=args.scrub_spans,
        scrub_pii=args.scrub_pii,
    )
    log.info("corpus-curate | manifest | %s", json.dumps(manifest, default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m inpe_queimadas_etl_spark",
        description="Spark-native rebuild of the daily fire-focus ETL",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run the pipeline for a day or range")
    run.add_argument("--date", help="single day YYYY-MM-DD")
    run.add_argument("--start", help="range start YYYY-MM-DD (inclusive)")
    run.add_argument("--end", help="range end YYYY-MM-DD (inclusive)")
    run.add_argument("--landing-dir", required=True, help="landed CSV dir")
    run.add_argument("--warehouse", required=True, help="warehouse root dir")
    run.add_argument("--dims-dir", required=True, help="dim shapefiles dir")
    run.add_argument("--state-file", help="resume-state JSON (S8)")
    run.add_argument(
        "--reset-state", action="store_true", help="clear the state file first"
    )
    run.add_argument(
        "--checks", action="store_true", help="write the validation report"
    )
    run.add_argument("--log-dir", help="also log to <dir>/etl.log")

    checks = sub.add_parser("checks", help="validation sweep over the warehouse")
    checks.add_argument("--warehouse", required=True)
    checks.add_argument("--log-dir")

    vrepo = sub.add_parser(
        "validate-repo", help="structural warehouse validation"
    )
    vrepo.add_argument("--warehouse", required=True, help="warehouse root dir")
    vrepo.add_argument("--log-dir")

    cur = sub.add_parser(
        "corpus-curate",
        help="materialize a training corpus: dedup + curation + "
        "mixture + leak-free split + packing + sharded export",
    )
    cur.add_argument(
        "--corpus-dir",
        required=True,
        help="dir holding documents.parquet",
    )
    cur.add_argument("--out-dir", required=True, help="export root")
    cur.add_argument(
        "--eval-dir",
        help="dir holding an eval suite's documents.parquet; training "
        "docs sharing any 3-word shingle with it are dropped",
    )
    cur.add_argument(
        "--decontaminate-by",
        choices=("shingles", "substrings", "both"),
        default="shingles",
        help="eval-leak tier for --eval-dir: 'shingles' (any shared "
        "3-word shingle, recall-heavy), 'substrings' (exact >=13-"
        "token overlap, the GPT-3 standard), or 'both'",
    )
    cur.add_argument(
        "--weights",
        help='JSON source->weight mixture target, e.g. \'{"src0": 2, '
        '"src1": 1}\'; without it the pipeline does not resample unless '
        "--token-budget (uniform over sources) or --mixture-temperature "
        "is given",
    )
    cur.add_argument(
        "--mixture-temperature",
        type=float,
        default=None,
        help="derive the mixture weights from observed per-source "
        "token masses as share^alpha (mBERT/XLM convention: 0 = "
        "uniform, 1 = natural mix, 0<a<1 upweights scarce sources); "
        "mutually exclusive with --weights",
    )
    cur.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="cap total kept tokens (water-filling allocation)",
    )
    cur.add_argument(
        "--pack-budget", type=int, default=512, help="tokens per pack"
    )
    cur.add_argument(
        "--write-packs",
        action="store_true",
        help="also materialize out-dir/packs: one row per training "
        "sequence, member texts concatenated in doc_id order",
    )
    cur.add_argument(
        "--scrub-pii",
        action="store_true",
        help="redact emails/phone numbers in surviving documents "
        "(<EMAIL>/<PHONE> placeholders) before token accounting",
    )
    cur.add_argument(
        "--scrub-spans",
        action="store_true",
        help="also remove duplicated token runs (>= 20 tokens, any "
        "offset) from surviving documents before mixture/packing — "
        "the Lee et al. exact-substring scrub (dd10/dd11 semantics)",
    )
    cur.add_argument(
        "--split-by",
        choices=("clusters", "content"),
        default="clusters",
        help="split closure: 'clusters' (default) moves whole near-dup "
        "clusters as one unit; 'content' is the cheaper exact-dup-"
        "closed content-hash split for corpora that arrive already "
        "near-dup-deduped",
    )
    cur.add_argument("--log-dir")

    return ap


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    _setup_logging(getattr(args, "log_dir", None))
    if args.cmd == "run":
        return cmd_run(args)
    if args.cmd == "checks":
        return cmd_checks(args)
    if args.cmd == "validate-repo":
        return cmd_validate_repo(args)
    if args.cmd == "corpus-curate":
        return cmd_corpus_curate(args)
    return 2


if __name__ == "__main__":
    sys.exit(main())
