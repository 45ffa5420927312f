"""Seeded input generator for the benchmark.

Everything the program sees during a run is written here, from one
seed: the Brazil-shaped geometry dims (GeoJSON, read back through the
package's own dim loader), the INPE-like daily CSVs with their
dirty-data mix, the per-client dashboard traces and the corpus
documents. The generator also returns the facts the output checks
need (row counts after dedup and invalid drops, attributable rows),
known by construction rather than recomputed by the program.

Geometry: a grid of cells clipped to a coarse outline of Brazil.
Every cell edge is a wiggly polyline shared by the two cells it
separates, so the municipalities tile without gaps or overlaps and a
point drawn inside a cell's core (the cell shrunk by more than the
wiggle amplitude) falls in that cell and no other.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

# coarse outline of Brazil (lon, lat), counter-clockwise
_OUTLINE = [
    (-60.7, 5.2), (-64.0, 4.0), (-63.5, 2.2), (-66.0, 0.8), (-69.9, 1.7),
    (-69.4, -1.1), (-69.9, -4.2), (-73.0, -4.3), (-73.9, -7.5),
    (-72.4, -10.0), (-70.5, -11.0), (-68.9, -11.0), (-65.3, -11.0),
    (-60.5, -13.8), (-60.2, -16.2), (-57.5, -18.0), (-58.1, -20.2),
    (-57.8, -22.1), (-55.4, -22.3), (-54.3, -24.0), (-54.6, -25.6),
    (-57.6, -30.2), (-55.5, -30.9), (-53.5, -33.0), (-52.5, -33.7),
    (-50.5, -31.0), (-48.8, -28.6), (-48.6, -26.5), (-47.0, -24.5),
    (-44.5, -23.3), (-42.0, -22.9), (-40.3, -20.3), (-39.0, -17.7),
    (-38.8, -13.0), (-37.0, -11.0), (-35.3, -9.5), (-34.8, -7.2),
    (-35.2, -5.5), (-38.5, -3.7), (-41.0, -2.9), (-44.3, -2.5),
    (-48.5, -1.2), (-50.0, 1.8), (-51.6, 4.2),
]
_LON0, _LAT0 = -74.0, -34.0
CELL = 0.45  # degrees: ~3.7k municipality cells inside the outline
_SEG = 10  # segments per cell side -> 40-vertex rings
_AMP = 0.06  # edge wiggle, as a share of CELL
_CORE = 0.1  # points are drawn at least this share of CELL inside
_KNN_OFFSET = 0.008  # degrees (~0.9 km) outside the outer boundary

UFS = [
    ("AC", "12"), ("AL", "27"), ("AP", "16"), ("AM", "13"), ("BA", "29"),
    ("CE", "23"), ("DF", "53"), ("ES", "32"), ("GO", "52"), ("MA", "21"),
    ("MT", "51"), ("MS", "50"), ("MG", "31"), ("PA", "15"), ("PB", "25"),
    ("PR", "41"), ("PE", "26"), ("PI", "22"), ("RJ", "33"), ("RN", "24"),
    ("RS", "43"), ("RO", "11"), ("RR", "14"), ("SC", "42"), ("SP", "35"),
    ("SE", "28"), ("TO", "17"),
]
BIOMAS = ["Amazônia", "Cerrado", "Caatinga", "Pantanal", "Mata Atlântica", "Pampa"]
SATELLITES = ["AQUA_M-T", "TERRA_M-T", "NOAA-20", "NPP-375", "GOES-16"]
_NAME_A = ["São", "Santa", "Nova", "Porto", "Campo", "Vila", "Bom", "Alto"]
_NAME_B = ["José", "Maria", "Esperança", "Alegre", "Verde", "Jesus", "Brasil", "Rio"]

CSV_HEADERS = [
    ["Lat", "Lon", "Data_Hora_GMT", "Satelite", "Municipio", "Estado", "Bioma", "FRP"],
    ["latitude", "longitude", "DataHora", "satelite", "municipio", "estado", "bioma", "frp"],
]

# dirty-data mix of the daily CSVs, as shares of a file's rows
SPILLOVER = 0.02  # timestamp on the previous day
DUPLICATE = 0.01  # exact copy of an earlier row of the same file
DECIMAL_COMMA = 0.05
OUT_OF_RANGE = 0.004
EMPTY_COORD = 0.003
KNN_POINT = 0.005  # just outside the outer municipality boundary
FAR_POINT = 0.002  # in the ocean: attributable to nothing


def _inside(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    ring = np.asarray(ring)
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    out = np.zeros(px.shape, dtype=bool)
    for a, b, c, d in zip(x0, y0, x1, y1):
        cross = (b > py) != (d > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = a + (py - b) * (c - a) / (d - b)
        out ^= cross & (px < xi)
    return out


def _ring_area_km2(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    a = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    return float(a * 111.32 * 111.32 * np.cos(np.radians(y.mean())))


def _feature(ring, props: dict) -> dict:
    coords = [[round(float(x), 6), round(float(y), 6)] for x, y in ring]
    if coords[0] != coords[-1]:
        coords.append(coords[0])
    return {
        "type": "Feature",
        "properties": props,
        "geometry": {"type": "Polygon", "coordinates": [coords]},
    }


def _blob(rng, cx, cy, r, n=24) -> np.ndarray:
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * (1 + 0.3 * rng.uniform(-1, 1, n))
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)


@dataclass
class Geometry:
    """The generated dims plus what the CSV and trace generators need."""

    cells: np.ndarray  # (n, 2) int grid index (i, j) of each municipality
    cd_mun: list[str]
    nm_mun: list[str]
    uf: list[str]
    uc_ids: list[str]
    ti_ids: list[str]
    knn_points: np.ndarray  # (k, 2) lon/lat just outside the boundary
    fire_weight: np.ndarray  # per-cell hotspot propensity
    uf_bbox: dict[str, tuple[float, float, float, float]]


def make_geometry(seed: int, out_dir: str) -> Geometry:
    """Write municipios/biomas/ucs/tis GeoJSON dims into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    nx, ny = int(40 / CELL) + 1, int(40 / CELL) + 1
    ci, cj = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    cx = _LON0 + (ci + 0.5) * CELL
    cy = _LAT0 + (cj + 0.5) * CELL
    mask = _inside(cx.ravel(), cy.ravel(), _OUTLINE).reshape(nx, ny)

    amp = _AMP * CELL
    # shared edge offsets: horizontal lines (ny+1, nx, SEG-1) and
    # vertical lines (nx+1, ny, SEG-1); end points stay on the grid
    h_off = rng.uniform(-amp, amp, (ny + 1, nx, _SEG - 1))
    v_off = rng.uniform(-amp, amp, (nx + 1, ny, _SEG - 1))
    t = np.linspace(0, 1, _SEG + 1)[1:-1]

    def h_edge(i, j):  # left -> right along y = j
        xs = _LON0 + (i + np.concatenate([[0], t])) * CELL
        ys = _LAT0 + j * CELL + np.concatenate([[0], h_off[j, i]])
        return np.stack([xs, ys], axis=1)

    def v_edge(i, j):  # bottom -> top along x = i
        ys = _LAT0 + (j + np.concatenate([[0], t])) * CELL
        xs = _LON0 + i * CELL + np.concatenate([[0], v_off[i, j]])
        return np.stack([xs, ys], axis=1)

    def ring(i, j):
        bottom = h_edge(i, j)
        right = v_edge(i + 1, j)
        top = h_edge(i, j + 1)[::-1]
        top = np.vstack([[_LON0 + (i + 1) * CELL, _LAT0 + (j + 1) * CELL], top[:-1]])
        left = v_edge(i, j)[::-1]
        left = np.vstack([[_LON0 + i * CELL, _LAT0 + (j + 1) * CELL], left[:-1]])
        return np.vstack([bottom, right, top, left])

    cells = np.argwhere(mask)
    centers = np.stack(
        [_LON0 + (cells[:, 0] + 0.5) * CELL, _LAT0 + (cells[:, 1] + 0.5) * CELL], 1
    )
    # 27 UFs: every cell joins its nearest seeded capital
    capitals = centers[rng.choice(len(cells), len(UFS), replace=False)]
    d2 = ((centers[:, None, :] - capitals[None, :, :]) ** 2).sum(-1)
    uf_idx = d2.argmin(1)

    mun_feats, cd_mun, nm_mun, ufs = [], [], [], []
    per_uf: dict[int, int] = {}
    uf_bbox: dict[str, list[float]] = {}
    for n, ((i, j), u) in enumerate(zip(cells, uf_idx)):
        sigla, code = UFS[u]
        per_uf[u] = per_uf.get(u, 0) + 1
        cd = f"{code}{per_uf[u]:05d}"
        nm = f"{_NAME_A[n % 8]} {_NAME_B[(n // 8) % 8]} {n}"
        r = ring(i, j)
        mun_feats.append(
            _feature(r, {"cd_mun": cd, "nm_mun": nm, "sigla_uf": sigla,
                         "area_km2": round(_ring_area_km2(r), 3)})
        )
        cd_mun.append(cd)
        nm_mun.append(nm)
        ufs.append(sigla)
        b = uf_bbox.setdefault(sigla, [180.0, 90.0, -180.0, -90.0])
        b[0], b[1] = min(b[0], r[:, 0].min()), min(b[1], r[:, 1].min())
        b[2], b[3] = max(b[2], r[:, 0].max()), max(b[3], r[:, 1].max())

    # 6 biomes: vertical bands between wiggly ~250-vertex borders, so
    # each biome ring has ~500 vertices and they tile the whole bbox
    lats = np.linspace(_LAT0 - 1, 7.0, 250)
    base = [-76.0, -60.0, -52.0, -46.0, -42.0, -38.0, -31.0]
    borders = [
        np.stack([b + 1.2 * np.sin(lats / rng.uniform(1.5, 3.0) + rng.uniform(0, 6))
                  + rng.uniform(-0.3, 0.3, lats.size) * (0 < k < 6), lats], 1)
        for k, b in enumerate(base)
    ]
    bio_feats = [
        _feature(np.vstack([borders[k], borders[k + 1][::-1]]),
                 {"cd_bioma": str(k + 1), "bioma": BIOMAS[k]})
        for k in range(6)
    ]

    def blobs(n, rmin, rmax):
        pick = centers[rng.integers(0, len(centers), n)]
        return [_blob(rng, x, y, rng.uniform(rmin, rmax)) for x, y in pick]

    uc_ids = [f"0000.00.{k:04d}" for k in range(300)]
    uc_feats = [
        _feature(r, {"cd_cnuc": uc_ids[k], "nome_uc": f"Parque {_NAME_B[k % 8]} {k}"})
        for k, r in enumerate(blobs(300, 0.05, 0.3))
    ]
    ti_ids = [f"{k:05d}" for k in range(600)]
    ti_feats = [
        _feature(r, {"terrai_cod": ti_ids[k], "terrai_nom": f"TI {_NAME_A[k % 8]} {k}"})
        for k, r in enumerate(blobs(600, 0.03, 0.2))
    ]

    # KNN fallback candidates: a vertex of each outer cell edge, moved
    # outward perpendicular to the grid line (the edge is a function
    # along the line, so the moved point is outside the cell)
    knn = []
    for i, j in cells:
        for di, dj in ((0, -1), (0, 1), (-1, 0), (1, 0)):
            ii, jj = i + di, j + dj
            if 0 <= ii < nx and 0 <= jj < ny and mask[ii, jj]:
                continue
            k = rng.integers(0, _SEG - 1)
            if dj:
                e = h_edge(i, j + (dj > 0))
                x, y = e[k + 1]
                knn.append((x, y + dj * _KNN_OFFSET))
            else:
                e = v_edge(i + (di > 0), j)
                x, y = e[k + 1]
                knn.append((x + di * _KNN_OFFSET, y))

    os.makedirs(out_dir, exist_ok=True)
    for name, feats in (("municipios", mun_feats), ("biomas", bio_feats),
                        ("ucs", uc_feats), ("tis", ti_feats)):
        with open(os.path.join(out_dir, f"{name}.geojson"), "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"type": "FeatureCollection", "features": feats},
                                ensure_ascii=False))

    # hotspot propensity: fires concentrate in a few regions
    hot = centers[rng.choice(len(cells), 12, replace=False)]
    dist = np.sqrt(((centers[:, None, :] - hot[None]) ** 2).sum(-1)).min(1)
    fire_weight = np.exp(-dist / 2.5) + 0.02
    return Geometry(
        cells=cells, cd_mun=cd_mun, nm_mun=nm_mun, uf=ufs, uc_ids=uc_ids,
        ti_ids=ti_ids, knn_points=np.asarray(knn), fire_weight=fire_weight / fire_weight.sum(),
        uf_bbox={k: tuple(round(v, 4) for v in b) for k, b in uf_bbox.items()},
    )


@dataclass
class DayFile:
    day: dt.date
    path: str
    rows: int  # lines in the file, header excluded
    valid_unique: int  # rows the transform must keep
    attributable: int  # of those, rows a municipality must claim
    spillover_valid: int  # valid unique rows dated the previous day


def _fmt(v: float, comma: bool) -> str:
    s = f"{v:.5f}"
    return s.replace(".", ",") if comma else s


def make_day_csv(geo: Geometry, day: dt.date, n_rows: int, seed: int, out_dir: str) -> DayFile:
    """One INPE-like daily file with the dirty-data mix above."""
    rng = np.random.default_rng([seed, 2, day.toordinal()])
    n_dup = int(n_rows * DUPLICATE)
    n_base = n_rows - n_dup
    kind = rng.choice(
        5,
        n_base,
        p=[1 - OUT_OF_RANGE - EMPTY_COORD - KNN_POINT - FAR_POINT,
           OUT_OF_RANGE, EMPTY_COORD, KNN_POINT, FAR_POINT],
    )
    cell = rng.choice(len(geo.cells), n_base, p=geo.fire_weight)
    ij = geo.cells[cell]
    u = rng.uniform(_CORE, 1 - _CORE, (n_base, 2))
    lon = _LON0 + (ij[:, 0] + u[:, 0]) * CELL
    lat = _LAT0 + (ij[:, 1] + u[:, 1]) * CELL
    knn_pick = geo.knn_points[rng.integers(0, len(geo.knn_points), n_base)]
    lon = np.where(kind == 3, knn_pick[:, 0], lon)
    lat = np.where(kind == 3, knn_pick[:, 1], lat)
    lon = np.where(kind == 4, rng.uniform(-31.0, -29.0, n_base), lon)
    lat = np.where(kind == 4, rng.uniform(-20.0, -10.0, n_base), lat)
    spill = rng.random(n_base) < SPILLOVER
    secs = rng.integers(0, 86400, n_base)
    sat = rng.integers(0, len(SATELLITES), n_base)
    comma = rng.random(n_base) < DECIMAL_COMMA
    frp = rng.gamma(2.0, 8.0, n_base)
    bad_lat = rng.random(n_base) < 0.5

    base = dt.datetime(day.year, day.month, day.day)
    lines, seen = [], set()
    valid = attributable = spill_valid = 0
    for k in range(n_base):
        ts = (base - dt.timedelta(days=int(spill[k])) + dt.timedelta(seconds=int(secs[k])))
        ts_s = ts.strftime("%Y-%m-%d %H:%M:%S")
        la, lo = float(lat[k]), float(lon[k])
        if kind[k] == 1:
            la_s, lo_s = (_fmt(95.0 + la / 100, False), _fmt(lo, False)) if bad_lat[k] \
                else (_fmt(la, False), _fmt(-185.0 + lo / 100, False))
        elif kind[k] == 2:
            la_s, lo_s = ("nan", _fmt(lo, False)) if bad_lat[k] else ("", _fmt(lo, False))
        else:
            la_s, lo_s = _fmt(la, comma[k]), _fmt(lo, comma[k])
            key = (round(la, 5), round(lo, 5), ts_s, sat[k])
            if key in seen:  # astronomically rare; keep counts exact
                continue
            seen.add(key)
            valid += 1
            spill_valid += int(spill[k])
            attributable += int(kind[k] != 4)
        c = cell[k]
        mun, uf = (geo.nm_mun[c], geo.uf[c]) if kind[k] == 0 else ("", "")
        lines.append(";".join([la_s, lo_s, ts_s, SATELLITES[sat[k]], mun, uf,
                               "", f"{frp[k]:.1f}"]))
    for src in rng.integers(0, len(lines), n_dup):
        lines.insert(int(rng.integers(src, len(lines) + 1)), lines[src])
    header = CSV_HEADERS[day.toordinal() % len(CSV_HEADERS)]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"focos_diario_br_{day:%Y%m%d}.csv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(";".join(header) + "\n")
        fh.write("\n".join(lines) + "\n")
    return DayFile(day, path, len(lines), valid, attributable, spill_valid)


# -- dashboard traces ---------------------------------------------------

BRAZIL_BBOX = "-74,-34,-34,6"
# skew of every drawn request parameter towards the opening view. The
# repository states the opening view (the default window, no filter)
# but no traffic figures; this exponent is assumed
ZIPF_A = 1.5

# the routes a client sends, round and round: the dashboard's opening
# panel set (``first_paint``), then a drill-down into one UF (its
# municipality map, top municipalities and biomes) and one UC or TI
# outline; each request draws its own window and filter (``_request``).
# The panel set is the first paint's; the drill-down is assumed. A
# fixed cycle, entered by each client at its own offset, keeps the
# route mix of a run the same whatever the seed and however few
# requests a run completes.
ROUTE_CYCLE = [
    ("/api/summary", None), ("/api/timeseries/total", None), ("/api/top", "uf"),
    ("/api/totals", None), ("/api/choropleth/uf", None), ("/api/points", None),
    ("/api/choropleth/mun", None), ("/api/top", "mun"), ("/api/top", "bioma"),
    ("/api/geo", None),
]


def first_paint(day: dt.date) -> list[tuple[str, dict]]:
    """The dashboard's opening panel set on ``day``: the package's
    default window (the 30 days up to and including ``day``), no
    filter, the whole country's points of the day up to the package's
    default limit."""
    from inpe_queimadas_etl_spark.queries import POINTS_LIMIT_DEFAULT, default_range

    frm, to = default_range(day)
    window = {"from": str(frm), "to": str(to)}
    out = [(route, {**window, "group": group, "limit": "10"} if group else window)
           for route, group in ROUTE_CYCLE[:5]]
    return out + [("/api/points", {"date": str(day), "bbox": BRAZIL_BBOX,
                                   "limit": str(POINTS_LIMIT_DEFAULT)})]


def _rank(rng, n: int) -> int:
    """A Zipf-distributed rank in [0, n); 0 is the most likely."""
    return min(int(rng.zipf(ZIPF_A)) - 1, n - 1)


def _request(rng, route: str, group: str | None, geo: Geometry, days: list[dt.date],
             ufs_hot: list[str]) -> dict:
    """One request's params, Zipf-skewed towards the opening view: the
    newest day, the default 30-day window, no UF filter. The further a
    window's end or length is from that (31, 29, 32, ... days), or the
    less busy its UF, the rarer the request."""
    from inpe_queimadas_etl_spark.queries import (
        CHORO_MAX_DAYS_MUN, MAX_RANGE_DAYS, POINTS_LIMIT_DEFAULT,
    )

    end = days[-1 - _rank(rng, len(days))]
    to = end + dt.timedelta(days=1)
    # window lengths by rank: 30, 31, 29, 32, 28, ..., 59, 1, 60, 61, ...
    # up to the longest window the route accepts
    r = _rank(rng, CHORO_MAX_DAYS_MUN if route == "/api/choropleth/mun" else MAX_RANGE_DAYS)
    length = 30 + (r + 1) // 2 * (1 if r % 2 else -1) if r < 59 else r + 1
    p = {"from": str(to - dt.timedelta(days=length)), "to": str(to)}
    u = _rank(rng, len(ufs_hot) + 1)  # 0: no filter
    uf = ufs_hot[u - 1] if u else None
    if uf:
        p["uf"] = uf
    if route == "/api/top":
        p["group"], p["limit"] = group, "10"
    elif route == "/api/choropleth/mun":
        p["uf"] = uf or ufs_hot[_rank(rng, len(ufs_hot))]
    elif route == "/api/points":
        # the limit steps down from the default, so that fresh requests
        # for one day and viewport still have keys of their own (a day
        # has fewer points than any of these limits)
        p = {"date": str(end), "bbox": ",".join(str(v) for v in geo.uf_bbox[uf]) if uf else BRAZIL_BBOX,
             "limit": str(POINTS_LIMIT_DEFAULT - 100 * _rank(rng, 150))}
    elif route == "/api/geo":
        entity = "ti" if rng.random() < 0.5 else "uc"
        ids = geo.ti_ids if entity == "ti" else geo.uc_ids
        p["entity"], p["key"] = entity, ids[int(rng.integers(0, len(ids)))]
        p.pop("uf", None)
    return p


def make_traces(geo: Geometry, days: list[dt.date], ufs_hot: list[str], n_clients: int,
                per_client: int, repeat_share: float, seed: int) -> list[list[tuple[str, dict]]]:
    """Per-client request traces. A fresh request has a key no other
    request of the run shares; a repeat is one of the client's own
    earlier requests, the most often repeated ones most likely (assumed:
    a user toggling between views). Every block of 10 requests holds exactly
    ``round(10 * repeat_share)`` repeats, and fresh requests follow
    ROUTE_CYCLE. The serving cache keeps every key for the whole run,
    so it can answer exactly the repeats."""
    rng = np.random.default_rng([seed, 3])
    n_rep = round(10 * repeat_share)
    seen, traces = set(), []
    for k in range(n_clients):
        trace: list[tuple[str, dict]] = []
        fresh: list[tuple[str, dict]] = []
        uses: list[int] = []
        step = k * len(ROUTE_CYCLE) // n_clients
        while len(trace) < per_client:
            slots = rng.permutation([True] * n_rep + [False] * (10 - n_rep))
            for repeat in slots:
                if repeat and fresh:
                    w = np.asarray(uses, dtype=float)
                    j = int(rng.choice(len(fresh), p=w / w.sum()))
                    uses[j] += 1
                    trace.append(fresh[j])
                    continue
                path, group = ROUTE_CYCLE[step % len(ROUTE_CYCLE)]
                step += 1
                while True:
                    p = _request(rng, path, group, geo, days, ufs_hot)
                    key = (path, tuple(sorted(p.items())))
                    if key not in seen:
                        break
                seen.add(key)
                fresh.append((path, p))
                uses.append(1)
                trace.append((path, p))
        traces.append(trace[:per_client])
    return traces


# -- corpus -------------------------------------------------------------


def write_corpus(n_docs: int, seed: int, out_dir: str) -> int:
    """Zipfian documents from the repository's scaling generator. Its
    last 5% are planted exact and near copies of earlier documents.
    Returns the number of documents written."""
    import pyarrow.parquet as pq
    from scaling_pipeline import gen_documents

    os.makedirs(out_dir, exist_ok=True)
    tbl = gen_documents(n_docs, seed)
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))
    return tbl.num_rows
