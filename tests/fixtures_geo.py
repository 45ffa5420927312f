"""Synthetic geo fixtures (FIXTURES.md §2): grid-cell municipalities
across 3 UFs, biomes, one UC, one TI — point-in-polygon answers are
knowable by construction.

Layout (lon = x, lat = y), 1-degree cells:
- UF 'AA': y in [0,1), cells m100..m103 at x = 0..3
- UF 'BB': y in [1,2), cells m200..m203
- UF 'CC': y in [2,3), cells m300..m303
- m103 has area_km2 = 0 (density-null case)
- bioma B1 covers x in [0,2), B2 covers x in [2,4) (all latitudes)
- UC U1 = [0.2,0.4]x[0.2,0.4] (inside m100)
- TI T1 = [2.2,2.4]x[1.2,1.4] (inside m202)
"""

from __future__ import annotations

from inpe_queimadas_etl_spark.operators.geo import make_polygon

UFS = ["AA", "BB", "CC"]


def _cell(x0, y0, w=1.0, h=1.0):
    return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]


def grid_cells(x0, y0, x1, y1, step, prefix="cell"):
    """Axis-aligned grid-cell polygons covering [x0,x1) x [y0,y1)."""
    nx = int(round((x1 - x0) / step))
    ny = int(round((y1 - y0) / step))
    return [
        make_polygon(f"{prefix}_{ix}_{iy}", _cell(x0 + ix * step, y0 + iy * step, step, step))
        for ix in range(nx)
        for iy in range(ny)
    ]


def municipios():
    feats = []
    for row, uf in enumerate(UFS):
        for i in range(4):
            cd = f"m{row + 1}0{i}"
            area = 0.0 if cd == "m103" else 100.0 * (i + 1) + row * 50
            feats.append(
                make_polygon(
                    cd,
                    _cell(float(i), float(row)),
                    nm_mun=f"Mun {cd}",
                    uf=uf,
                    area_km2=str(area),
                )
            )
    return feats


def biomas():
    # B1 extends slightly west of the municipality grid so the KNN
    # fallback point (lon -0.01) still falls inside a biome — biome
    # polygons are coarser than municipality polygons in the reference
    return [
        make_polygon("B1", _cell(-0.05, 0.0, w=2.05, h=3.0), bioma="Amazonia"),
        make_polygon("B2", _cell(2.0, 0.0, w=2.0, h=3.0), bioma="Cerrado"),
    ]


def ucs():
    return [
        make_polygon("U1", _cell(0.2, 0.2, w=0.2, h=0.2), nome_uc="Parque U1"),
    ]


def tis():
    return [
        make_polygon("T1", _cell(2.2, 1.2, w=0.2, h=0.2), terrai_nom="TI T1"),
    ]


def uf_area_rows():
    """sum of member municipality areas per UF (sql/ref/05:10-18)."""
    rows = []
    for row, uf in enumerate(UFS):
        total = sum(
            (0.0 if f"m{row + 1}0{i}" == "m103" else 100.0 * (i + 1) + row * 50)
            for i in range(4)
        )
        rows.append((uf, total))
    return rows


FOCOS_HEADER = ["Lat", "Lon", "Data_Hora_GMT", "Satelite", "Municipio", "Estado", "Bioma", "FRP"]

# file_date 2024-05-02; rows cover: decimal comma, dup pair, nan lat,
# out-of-range lat, spillover ts (2024-05-01), empty ts, KNN point
# (1.1 km west of m100), far point (unattributable)
FOCOS_ROWS = [
    # lat, lon, ts, sat, mun, uf, bioma, frp
    ["0,55", "0,25", "2024-05-02 10:00:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "12.5"],
    ["0.30", "0.30", "2024-05-02 10:05:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "8.1"],  # in UC U1
    ["0.75", "1.25", "2024-05-02 11:00:00", "NOAA-20", "Mun m101", "AA", "Amazonia", ""],
    ["1.5", "2.5", "2024-05-02 11:30:00", "NOAA-20", "Mun m202", "BB", "Cerrado", "nan"],
    ["1.25", "2.25", "2024-05-02 12:00:00", "GOES-16", "Mun m202", "BB", "Cerrado", "3.3"],  # in TI T1
    ["2.5", "3.5", "2024-05-02 12:30:00", "AQUA_M-T", "Mun m303", "CC", "Cerrado", "9.9"],
    ["0.5", "3.5", "2024-05-02 13:00:00", "AQUA_M-T", "Mun m103", "AA", "Cerrado", "1.0"],  # zero-area mun
    ["0.5", "0.5", "2024-05-01 23:50:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "5.0"],  # spillover day
    ["0.6", "0.6", "", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "2.0"],  # empty ts -> file_date
    ["0.5", "-0.01", "2024-05-02 14:00:00", "AQUA_M-T", "", "AA", "Amazonia", ""],  # KNN -> m100
    ["0.5", "-1.0", "2024-05-02 14:30:00", "AQUA_M-T", "", "", "", ""],  # unattributable
    ["2.9", "2.9", "2024-05-02 15:00:00", "NPP-375", "Mun m302", "CC", "Cerrado", "4.2"],
    # exact duplicate pair (same lat/lon/ts/sat => same hash)
    ["1.1", "1.1", "2024-05-02 16:00:00", "AQUA_M-T", "Mun m201", "BB", "Amazonia", "7.7"],
    ["1.1", "1.1", "2024-05-02 16:00:00", "AQUA_M-T", "Mun m201", "BB", "Amazonia", "7.7"],
    # dropped rows
    ["nan", "1.0", "2024-05-02 17:00:00", "AQUA_M-T", "Mun m201", "BB", "Amazonia", ""],
    ["95.0", "1.0", "2024-05-02 17:10:00", "AQUA_M-T", "Mun m201", "BB", "Amazonia", ""],
]

N_VALID_UNIQUE = 13  # 16 rows - 1 dup - 2 dropped
