"""CLI entrypoint (cli.py vs reference src/etl/cli.py + app.py run/
backfill/checks subcommands): landing-dir day discovery, shapefile dim
loading, resumable range run, validation-report write."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from inpe_queimadas_etl_spark import cli
from inpe_queimadas_etl_spark.pipeline import Warehouse
from inpe_queimadas_etl_spark.sources import shapefile as shp
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G


def _write_dim(d, name, feats, fields, row_fn):
    shp.write_shp(str(d / f"{name}.shp"), [[list(f.rings)] for f in feats])
    shp.write_dbf(str(d / f"{name}.dbf"), fields, [row_fn(f) for f in feats])


@pytest.fixture(scope="module")
def dims_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dims")
    _write_dim(
        d,
        "municipios",
        G.municipios(),
        [
            ("CD_MUN", "C", 10, 0),
            ("NM_MUN", "C", 20, 0),
            ("UF", "C", 2, 0),
            ("AREA_KM2", "N", 12, 3),
        ],
        lambda f: {
            "cd_mun": f.poly_id,
            "nm_mun": f.props["nm_mun"],
            "uf": f.props["uf"],
            "area_km2": float(f.props["area_km2"]),
        },
    )
    _write_dim(
        d,
        "biomas",
        G.biomas(),
        [("CD_BIOMA", "C", 10, 0), ("BIOMA", "C", 20, 0)],
        lambda f: {"cd_bioma": f.poly_id, "bioma": f.props["bioma"]},
    )
    _write_dim(
        d,
        "ucs",
        G.ucs(),
        [("CD_CNUC", "C", 10, 0), ("NOME_UC", "C", 20, 0)],
        lambda f: {"cd_cnuc": f.poly_id, "nome_uc": f.props["nome_uc"]},
    )
    _write_dim(
        d,
        "tis",
        G.tis(),
        [("TERRAI_COD", "C", 10, 0), ("TERRAI_NOM", "C", 20, 0)],
        lambda f: {"terrai_cod": f.poly_id, "terrai_nom": f.props["terrai_nom"]},
    )
    return str(d)


def test_load_dims_roundtrip(spark, dims_dir):
    dims = cli.load_dims(spark, dims_dir)
    assert {f.poly_id for f in dims["municipios"]} == {
        f.poly_id for f in G.municipios()
    }
    assert dims["biomas"][0].props["bioma"] in ("Amazonia", "Cerrado")
    uf_area = {r["uf"]: r["area_km2"] for r in dims["uf_area"].collect()}
    expected = dict(G.uf_area_rows())
    assert set(uf_area) == set(expected)
    for uf, area in expected.items():
        assert uf_area[uf] == pytest.approx(area, rel=1e-6)


def test_run_single_day_then_resume_and_checks(spark, dims_dir, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    write_fixture_csv(
        str(landing / "focos_diario_br_20240501.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[:3],
        sep=";",
    )
    write_fixture_csv(
        str(landing / "focos_diario_br_20240502.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[3:6],
        sep=";",
    )
    wh_dir = str(tmp_path / "wh")
    state = str(tmp_path / "state.json")

    rc = cli.main(
        [
            "run",
            "--date",
            "2024-05-01",
            "--landing-dir",
            str(landing),
            "--warehouse",
            wh_dir,
            "--dims-dir",
            dims_dir,
            "--state-file",
            state,
        ]
    )
    assert rc == 0
    wh = Warehouse(wh_dir)
    assert wh.read(spark, "curated_focos").count() == 3
    assert json.loads(open(state).read())["days"] == ["2024-05-01"]

    # range rerun covering both days: day 1 resumes (skipped), day 2 runs;
    # --checks writes the validation report artifacts
    rc = cli.main(
        [
            "run",
            "--start",
            "2024-05-01",
            "--end",
            "2024-05-02",
            "--landing-dir",
            str(landing),
            "--warehouse",
            wh_dir,
            "--dims-dir",
            dims_dir,
            "--state-file",
            state,
            "--checks",
        ]
    )
    assert rc == 0
    assert wh.read(spark, "curated_focos").count() == 6
    st = json.loads(open(state).read())
    assert st["days"] == ["2024-05-01", "2024-05-02"]
    assert (wh.root / "docs" / "validation_last_run.md").exists()
    assert (wh.root / "logs" / "last_run.json").exists()

    # standalone checks subcommand over the populated warehouse
    assert cli.main(["checks", "--warehouse", wh_dir]) == 0


def test_checks_fail_when_the_report_fails(spark, dims_dir, tmp_path):
    """`checks` and `run --checks` exit 1 when the report they just
    wrote is not ok, as `validate-repo` does."""
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    # every row attributed; the last one is an event of the day before
    write_fixture_csv(
        str(landing / "focos_diario_br_20240502.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[:8],
        sep=";",
    )
    wh_dir = str(tmp_path / "wh")
    run = [
        "run",
        "--date",
        "2024-05-02",
        "--landing-dir",
        str(landing),
        "--warehouse",
        wh_dir,
        "--dims-dir",
        dims_dir,
        "--checks",
    ]
    assert cli.main(run) == 0
    assert cli.main(["checks", "--warehouse", wh_dir]) == 0

    # the UF mart loses a day: its sum no longer matches the others
    shutil.rmtree(Warehouse(wh_dir).root / "focos_diario_uf" / "day=2024-05-01")
    assert cli.main(["checks", "--warehouse", wh_dir]) == 1
    report = json.loads((Warehouse(wh_dir).root / "logs" / "last_run.json").read_text())
    assert not report["ok"]
    # a replay publishes nothing and writes the same failing report
    assert cli.main(run) == 1


def test_run_errors_without_files_or_range(tmp_path, dims_dir):
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = cli.main(
        [
            "run",
            "--date",
            "2030-01-01",
            "--landing-dir",
            str(empty),
            "--warehouse",
            str(tmp_path / "w"),
            "--dims-dir",
            dims_dir,
        ]
    )
    assert rc == 1
    rc = cli.main(
        [
            "run",
            "--landing-dir",
            str(empty),
            "--warehouse",
            str(tmp_path / "w"),
            "--dims-dir",
            dims_dir,
        ]
    )
    assert rc == 2
    common = [
        "--landing-dir",
        str(empty),
        "--warehouse",
        str(tmp_path / "w"),
        "--dims-dir",
        dims_dir,
    ]
    # --date with a range is ambiguous, not "day D only"
    rc = cli.main(
        [
            "run",
            "--date",
            "2030-01-01",
            "--start",
            "2030-01-01",
            "--end",
            "2030-01-03",
            *common,
        ]
    )
    assert rc == 2
    # an inverted range is a usage error, not "no landed CSVs"
    rc = cli.main(
        ["run", "--start", "2030-01-03", "--end", "2030-01-01", *common]
    )
    assert rc == 2


def test_corpus_curate_flags_bind_and_documents_table_required(
    tmp_path, monkeypatch
):
    """Every corpus-curate flag reaches run_corpus_pipeline as a
    keyword its signature accepts, and the pipeline refuses a corpus
    dir without documents.parquet before it touches Spark. Spark-free:
    the session and the pipeline are replaced by recorders."""
    import argparse
    import inspect

    from inpe_queimadas_etl_spark import corpus_pipeline, session

    run_corpus_pipeline = corpus_pipeline.run_corpus_pipeline
    calls = []
    monkeypatch.setattr(session, "get_spark", lambda **kw: "spark")
    monkeypatch.setattr(
        corpus_pipeline,
        "run_corpus_pipeline",
        lambda *a, **kw: calls.append((a, kw)) or {},
    )
    monkeypatch.setattr(cli, "_setup_logging", lambda log_dir: None)
    argv = [
        "corpus-curate",
        "--corpus-dir", str(tmp_path / "in"),
        "--out-dir", str(tmp_path / "out"),
        "--eval-dir", str(tmp_path / "eval"),
        "--decontaminate-by", "both",
        "--weights", '{"src0": 2}',
        "--mixture-temperature", "0.5",
        "--token-budget", "100",
        "--pack-budget", "64",
        "--write-packs",
        "--scrub-pii",
        "--scrub-spans",
        "--split-by", "content",
        "--log-dir", str(tmp_path / "logs"),
    ]
    subparsers = next(
        a
        for a in cli.build_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    flags = {
        s
        for a in subparsers.choices["corpus-curate"]._actions
        for s in a.option_strings
        if s != "--help" and s.startswith("--")
    }
    assert flags == {a for a in argv if a.startswith("--")}

    assert cli.main(argv) == 0
    [(args, kwargs)] = calls
    inspect.signature(run_corpus_pipeline).bind(*args, **kwargs)
    assert args == ("spark", str(tmp_path / "in"), str(tmp_path / "out"))
    assert kwargs["weights"] == {"src0": 2}
    assert kwargs["split_by"] == "content"

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="documents.parquet"):
        run_corpus_pipeline(None, str(empty), str(tmp_path / "o"))
    assert not (tmp_path / "o").exists()


def test_validate_repo_structure_and_warehouse(spark, dims_dir, tmp_path):
    """validate-repo (reference validate_repo.py analog) needs a
    warehouse: the check fails on an empty warehouse, passes after a
    full run, and flags staged leftovers (the WAP invariant)."""
    from inpe_queimadas_etl_spark.checks import validate_warehouse_layout

    with pytest.raises(SystemExit) as ex:
        cli.main(["validate-repo"])
    assert ex.value.code == 2

    landing = tmp_path / "landing"
    landing.mkdir()
    write_fixture_csv(
        str(landing / "focos_diario_br_20240502.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS,
        sep=";",
    )
    wh_dir = str(tmp_path / "wh")

    # empty warehouse -> missing tables, exit 1
    rc = cli.main(["validate-repo", "--warehouse", wh_dir])
    assert rc == 1

    rc = cli.main(
        [
            "run", "--date", "2024-05-02",
            "--landing-dir", str(landing),
            "--warehouse", wh_dir,
            "--dims-dir", dims_dir,
        ]
    )
    assert rc == 0
    rc = cli.main(["validate-repo", "--warehouse", wh_dir])
    assert rc == 0

    # a staged leftover (interrupted publish) flips the layout check
    wh = Warehouse(wh_dir)
    stale = wh.root / "_tmp" / "t__deadbeef"
    stale.mkdir(parents=True)
    layout = validate_warehouse_layout(spark, wh)
    assert not layout["ok"] and layout["staged_leftovers"]


def test_discover_landing_files_filters_and_orders(tmp_path):
    for name in (
        "focos_diario_br_20240503.csv",
        "focos_diario_br_20240501.csv",
        "notes.csv",
        "focos_diario_br_20240601.csv",
    ):
        (tmp_path / name).write_text("x\n")
    got = cli.discover_landing_files(
        str(tmp_path), dt.date(2024, 5, 1), dt.date(2024, 5, 31)
    )
    assert [d for d, _ in got] == [dt.date(2024, 5, 1), dt.date(2024, 5, 3)]


def test_load_dims_alternate_ibge_vintage(spark, dims_dir, tmp_path):
    """An alternate-vintage municipality file (CD_GEOCMU / NM_MUNICIP /
    SIGLA_UF instead of CD_MUN / NM_MUN / UF) must load through
    load_dims identically to the typed dim builders, for both formats
    (ADVICE r3 #2: _DIM_SPECS now carries the fallback candidates)."""
    import shutil

    from inpe_queimadas_etl_spark.sources.geojson_source import write_geojson

    vintage = tmp_path / "vintage_dims"
    vintage.mkdir()
    for name in ("biomas", "ucs", "tis"):
        for ext in (".shp", ".dbf"):
            shutil.copy(f"{dims_dir}/{name}{ext}", vintage / f"{name}{ext}")
    feats = G.municipios()
    _write_dim(
        vintage,
        "municipios",
        feats,
        [
            ("CD_GEOCMU", "C", 10, 0),
            ("NM_MUNICIP", "C", 20, 0),
            ("SIGLA_UF", "C", 2, 0),
            ("AREA_KM2", "N", 12, 3),
        ],
        lambda f: {
            "cd_geocmu": f.poly_id,
            "nm_municip": f.props["nm_mun"],
            "sigla_uf": f.props["uf"],
            "area_km2": float(f.props["area_km2"]),
        },
    )
    ref = cli.load_dims(spark, dims_dir)
    got = cli.load_dims(spark, str(vintage))
    assert {f.poly_id for f in got["municipios"]} == {
        f.poly_id for f in ref["municipios"]
    }
    # props resolve through the aliases, not to None
    by_id = {f.poly_id: f.props for f in got["municipios"]}
    ref_by_id = {f.poly_id: f.props for f in ref["municipios"]}
    for pid, props in ref_by_id.items():
        assert by_id[pid]["nm_mun"] == props["nm_mun"]
        assert by_id[pid]["uf"] == props["uf"]
    got_area = {r["uf"]: r["area_km2"] for r in got["uf_area"].collect()}
    ref_area = {r["uf"]: r["area_km2"] for r in ref["uf_area"].collect()}
    assert got_area == pytest.approx(ref_area)

    # same vintage via GeoJSON: rewrite properties under the old names
    gj_dir = tmp_path / "vintage_gj"
    gj_dir.mkdir()
    for name in ("biomas", "ucs", "tis"):
        for ext in (".shp", ".dbf"):
            shutil.copy(f"{dims_dir}/{name}{ext}", gj_dir / f"{name}{ext}")
    renamed = [
        type(f)(
            poly_id=f.poly_id,
            rings=f.rings,
            props={
                "cd_geocmu": f.poly_id,
                "nm_municip": f.props["nm_mun"],
                "sigla_uf": f.props["uf"],
                "area_km2": f.props["area_km2"],
            },
        )
        for f in feats
    ]
    write_geojson(
        str(gj_dir / "municipios.geojson"), renamed, id_field="cd_geocmu"
    )
    got_gj = cli.load_dims(spark, str(gj_dir))
    assert {f.poly_id for f in got_gj["municipios"]} == {
        f.poly_id for f in ref["municipios"]
    }


def test_load_dims_mixed_formats(spark, dims_dir, tmp_path):
    """A dims dir may mix formats: municipios + ucs as GeoJSON,
    biomas + tis as shapefiles — load_dims resolves each by
    extension and the result matches the all-shapefile load."""
    import shutil

    from inpe_queimadas_etl_spark.sources.geojson_source import write_geojson

    mixed = tmp_path / "mixed_dims"
    mixed.mkdir()
    for name in ("biomas", "tis"):
        for ext in (".shp", ".dbf"):
            shutil.copy(f"{dims_dir}/{name}{ext}", mixed / f"{name}{ext}")
    write_geojson(
        str(mixed / "municipios.geojson"), G.municipios(), id_field="cd_mun"
    )
    write_geojson(str(mixed / "ucs.geojson"), G.ucs(), id_field="cd_cnuc")

    ref = cli.load_dims(spark, dims_dir)
    got = cli.load_dims(spark, str(mixed))
    for name in ("municipios", "biomas", "ucs", "tis"):
        assert {f.poly_id for f in got[name]} == {
            f.poly_id for f in ref[name]
        }, name
    ref_area = {r["uf"]: r["area_km2"] for r in ref["uf_area"].collect()}
    got_area = {r["uf"]: r["area_km2"] for r in got["uf_area"].collect()}
    assert got_area == pytest.approx(ref_area)


def test_uf_area_is_the_exact_sum(spark, dims_dir, tmp_path):
    """Every left-to-right or tree-shaped float sum of these three areas
    reads 1518.2510000000002; the UF area is their exact sum rounded
    once (math.fsum), whatever the core count. A municipality counts
    once however many parts it has, and a null UF is dropped."""
    import math
    import shutil

    from inpe_queimadas_etl_spark.operators.geo import make_polygon
    from inpe_queimadas_etl_spark.sources.geojson_source import write_geojson

    d = tmp_path / "exact_dims"
    d.mkdir()
    for name in ("biomas", "ucs", "tis"):
        for ext in (".shp", ".dbf"):
            shutil.copy(f"{dims_dir}/{name}{ext}", d / f"{name}{ext}")
    areas = [8.893, 587.955, 921.403]
    assert areas[0] + areas[1] + areas[2] != math.fsum(areas)
    feats = [
        make_polygon(f"m{i}", G._cell(float(i), 0.0), nm_mun=f"M{i}", uf="AA", area_km2=a)
        for i, a in enumerate(areas)
    ]
    feats += [
        make_polygon("m0", G._cell(0.0, 1.0), nm_mun="M0", uf="AA", area_km2=areas[0]),
        make_polygon("m9", G._cell(9.0, 0.0), nm_mun="M9", uf=None, area_km2=5.0),
    ]
    write_geojson(str(d / "municipios.geojson"), feats, id_field="cd_mun")
    dims = cli.load_dims(spark, str(d))
    assert dims["uf_area"].schema.simpleString() == "struct<uf:string,area_km2:double>"
    assert [tuple(r) for r in dims["uf_area"].collect()] == [("AA", math.fsum(areas))]


@pytest.mark.parametrize("fmt", ["shp", "geojson"])
def test_enriched_area_falls_back_to_geometry(spark, dims_dir, tmp_path, fmt):
    """A municipality dim without an area column: enrichment takes the
    municipality rows' fallback (summed geodesic part area / 1e6) instead of
    leaving mun_area_km2, and with it the municipal density, null."""
    import shutil

    from inpe_queimadas_etl_spark.pipeline import batch_pass
    from inpe_queimadas_etl_spark.sources.geojson_source import (
        features_from_geojson,
        write_geojson,
    )

    d = tmp_path / "no_area"
    d.mkdir()
    for name in ("biomas", "ucs", "tis"):
        for ext in (".shp", ".dbf"):
            shutil.copy(f"{dims_dir}/{name}{ext}", d / f"{name}{ext}")
    feats = [
        type(f)(
            poly_id=f.poly_id,
            rings=f.rings,
            props={"nm_mun": f.props["nm_mun"], "uf": f.props["uf"]},
        )
        for f in G.municipios()
    ]
    if fmt == "shp":
        _write_dim(
            d,
            "municipios",
            feats,
            [("CD_MUN", "C", 10, 0), ("NM_MUN", "C", 20, 0), ("UF", "C", 2, 0)],
            lambda f: {"cd_mun": f.poly_id, **f.props},
        )
        loaded = shp.features_from_shapefile(
            str(d / "municipios.shp"), **shp.MUNICIPIO_FIELDS
        )
    else:
        write_geojson(str(d / "municipios.geojson"), feats, id_field="cd_mun")
        loaded = features_from_geojson(
            str(d / "municipios.geojson"), **shp.MUNICIPIO_FIELDS
        )
    dims = cli.load_dims(spark, str(d))

    # one fire at the centre of every municipality cell
    centres = [
        [str(f.rings[0][:, 1].mean()), str(f.rings[0][:, 0].mean()),
         "2024-05-02 10:00:00", "AQUA_M-T", "", "", "", ""]
        for f in feats
    ]
    path = str(tmp_path / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, centres, sep=";")
    enriched = batch_pass(spark, [(dt.date(2024, 5, 2), path)], dims)
    got = {
        r["mun_cd_mun"]: r["mun_area_km2"]
        for r in enriched.select("mun_cd_mun", "mun_area_km2").collect()
    }
    want = {cd_mun: area for cd_mun, _, _, area in shp.municipio_rows(loaded)}
    assert len(want) == len(feats)
    assert all(a > 0 for a in want.values())
    assert got == want
