"""S7: shapefile import — pure-Python ESRI .shp/.dbf reader (+writer).

The reference downloads the IBGE ``BR_Municipios`` shapefile zip and
loads it with ``ogr2ogr`` into PostGIS, then builds the typed
municipality dim with an ``st_area(geography)/1e6`` fallback when the
source attribute table lacks an area column
(src/etl/ensure_ref_ibge.py:185-254).

This container has no GDAL/ogr2ogr/shapely, and the ESRI shapefile
format is a public spec (ESRI Shapefile Technical Description, 1998),
so the engine reads it directly:

- ``.shp``: 100-byte header, then records of big-endian (recno, len)
  headers and little-endian Polygon/PolygonZ content (bbox, part
  offsets, xy points).
- ``.dbf``: dBASE III — 32-byte header (record count / sizes), 32-byte
  field descriptors terminated by 0x0D, fixed-width latin-1 records.

Ring grouping follows the spec: exterior rings are clockwise (negative
shoelace signed area), holes counter-clockwise; each hole attaches to
the exterior part whose ring contains its first vertex (file-order
fallback). One :class:`~..operators.geo.PolyFeature` is emitted per
exterior part, the parts sharing one id — the same multi-part
convention as the GeoJSON loader (sources/geojson_source.py) — so
everything downstream (PIP join, geo prep chain, serving surface)
consumes shapefile dims unchanged.

The writer exists for round-tripping dims back out (and for building
test fixtures without GDAL); it emits the same subset it reads.

Scale note: polygon dims are small (5,570 municipalities, ~100 MB);
parsing is a driver-side step that feeds ``spark.createDataFrame`` /
broadcast, exactly like the reference's one-shot ``ogr2ogr`` load. The
fact table never routes through this path.
"""

from __future__ import annotations

import datetime as dt
import struct
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from ..operators.geo import PolyFeature
from ..operators.geometry import area_km2_by_id, ring_signed_area_deg2

SHP_POLYGON = 5
SHP_POLYGONZ = 15
SHP_POLYGONM = 25
SHP_NULL = 0
_POLYGON_TYPES = {SHP_POLYGON, SHP_POLYGONZ, SHP_POLYGONM}


@dataclass
class ShapeRecord:
    """One shapefile record: polygon parts + dbf attributes.

    ``parts`` is a list of parts; each part is a list of (n, 2) float64
    ring arrays — exterior first, then its holes.
    """

    recno: int
    parts: list
    attrs: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# .shp reading


def _point_in_ring(x: float, y: float, ring: np.ndarray) -> bool:
    """Even-odd test of one point against one ring (hole assignment)."""
    xs, ys = ring[:, 0], ring[:, 1]
    xj, yj = np.roll(xs, 1), np.roll(ys, 1)
    crossing = ((ys > y) != (yj > y)) & (
        x < (xj - xs) * (y - ys) / (yj - ys + 1e-300) + xs
    )
    return bool(np.count_nonzero(crossing) % 2)


def _group_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Spec ring orientation -> parts: CW exterior starts a part, CCW
    hole attaches to the containing (else most recent) exterior."""
    parts: list[list[np.ndarray]] = []
    for ring in rings:
        if ring_signed_area_deg2(ring) <= 0 or not parts:  # CW = exterior
            parts.append([ring])
        else:
            x, y = float(ring[0, 0]), float(ring[0, 1])
            home = next(
                (p for p in parts if _point_in_ring(x, y, p[0])), parts[-1]
            )
            home.append(ring)
    return parts


def read_shp(path: str) -> list[tuple[int, list[list[np.ndarray]]]]:
    """Parse a .shp main file -> [(recno, parts), ...] (polygons only)."""
    data = Path(path).read_bytes()
    if len(data) < 100:
        raise ValueError(f"not a shapefile (too short): {path}")
    (file_code,) = struct.unpack(">i", data[0:4])
    if file_code != 9994:
        raise ValueError(f"bad .shp magic {file_code} in {path}")
    (file_len_words,) = struct.unpack(">i", data[24:28])
    end = min(len(data), file_len_words * 2)
    (shape_type,) = struct.unpack("<i", data[32:36])
    if shape_type not in _POLYGON_TYPES and shape_type != SHP_NULL:
        raise ValueError(
            f"unsupported shapefile geometry type {shape_type} (polygon "
            f"types {sorted(_POLYGON_TYPES)} only)"
        )

    out: list[tuple[int, list[list[np.ndarray]]]] = []
    pos = 100
    while pos + 8 <= end:
        recno, content_words = struct.unpack(">ii", data[pos : pos + 8])
        pos += 8
        content = data[pos : pos + content_words * 2]
        pos += content_words * 2
        (rec_type,) = struct.unpack("<i", content[0:4])
        if rec_type == SHP_NULL:
            out.append((recno, []))
            continue
        if rec_type not in _POLYGON_TYPES:
            raise ValueError(f"record {recno}: unsupported type {rec_type}")
        num_parts, num_points = struct.unpack("<ii", content[36:44])
        off = 44
        starts = np.frombuffer(content, "<i4", num_parts, off)
        off += 4 * num_parts
        pts = np.frombuffer(content, "<f8", num_points * 2, off).reshape(
            num_points, 2
        )
        bounds = np.append(starts, num_points)
        rings = [
            np.array(pts[bounds[i] : bounds[i + 1]], dtype=np.float64)
            for i in range(num_parts)
            if bounds[i + 1] - bounds[i] >= 3
        ]
        out.append((recno, _group_rings(rings)))
    return out


# ---------------------------------------------------------------------------
# .dbf reading


def _dbf_value(ftype: str, deci: int, raw: bytes, encoding: str):
    text = raw.decode(encoding, errors="replace").strip()
    if ftype in ("N", "F"):
        if not text or text in ("*", "."):
            return None
        try:
            return float(text) if (deci or "." in text or "e" in text.lower()) else int(text)
        except ValueError:
            return None
    if ftype == "L":
        return True if text in "YyTt" else False if text in "NnFf" else None
    if ftype == "D":
        if len(text) == 8 and text.isdigit():
            return dt.date(int(text[:4]), int(text[4:6]), int(text[6:8]))
        return None
    return text or None


def read_dbf(path: str, encoding: str = "latin-1") -> list[dict]:
    """Parse a dBASE III .dbf attribute table -> list of row dicts.

    IBGE ships latin-1 tables (the very encoding behind the P12
    mojibake repair, api/app/main.py:624-657), so that is the default.
    """
    data = Path(path).read_bytes()
    n_records, header_len, record_len = struct.unpack("<IHH", data[4:12])
    fields: list[tuple[str, str, int, int]] = []
    pos = 32
    while pos < header_len - 1 and data[pos] != 0x0D:
        desc = data[pos : pos + 32]
        name = desc[0:11].split(b"\0", 1)[0].decode("ascii", "replace")
        fields.append((name.lower(), chr(desc[11]), desc[16], desc[17]))
        pos += 32

    rows: list[dict] = []
    pos = header_len
    for _ in range(n_records):
        rec = data[pos : pos + record_len]
        pos += record_len
        if len(rec) < record_len or rec[0:1] == b"*":  # deleted
            continue
        row, off = {}, 1
        for name, ftype, flen, deci in fields:
            row[name] = _dbf_value(ftype, deci, rec[off : off + flen], encoding)
            off += flen
        rows.append(row)
    return rows


def read_shapefile(
    shp_path: str, dbf_path: str | None = None, encoding: str = "latin-1"
) -> list[ShapeRecord]:
    """Read .shp (+ sibling .dbf if present) into ShapeRecords."""
    shp_path = str(shp_path)
    if dbf_path is None:
        sibling = Path(shp_path).with_suffix(".dbf")
        dbf_path = str(sibling) if sibling.exists() else None
    shapes = read_shp(shp_path)
    attrs = read_dbf(dbf_path, encoding) if dbf_path else [{}] * len(shapes)
    if len(attrs) != len(shapes):
        raise ValueError(
            f".shp has {len(shapes)} records but .dbf has {len(attrs)}"
        )
    return [
        ShapeRecord(recno=recno, parts=parts, attrs=dict(a))
        for (recno, parts), a in zip(shapes, attrs)
    ]


def features_from_shapefile(
    shp_path: str,
    dbf_path: str | None = None,
    id_field: str | tuple[str, ...] = "cd_mun",
    prop_fields: tuple[str, ...] = (),
    encoding: str = "latin-1",
    prop_aliases: dict[str, tuple[str, ...]] | None = None,
) -> list[PolyFeature]:
    """Shapefile -> PolyFeatures (one per exterior part, WKT-loader
    convention), keyed on a .dbf attribute. ``id_field`` may list
    candidate attribute names (first non-null wins) and
    ``prop_aliases`` maps a canonical prop name to candidate source
    names — the same IBGE-vintage fallback contract as
    features_from_geojson (ADVICE r3 #2: both loaders must accept the
    same vintages)."""
    id_candidates = (
        (id_field,) if isinstance(id_field, str) else tuple(id_field)
    )
    aliases = prop_aliases or {}
    feats: list[PolyFeature] = []
    for rec in read_shapefile(shp_path, dbf_path, encoding):
        if not rec.parts:
            continue
        pid = next(
            (rec.attrs[c] for c in id_candidates if rec.attrs.get(c) is not None),
            None,
        )
        if pid is None:
            raise KeyError(
                f"record {rec.recno}: no id field in .dbf "
                f"(tried {id_candidates!r})"
            )
        props = {
            k: next(
                (
                    rec.attrs[c]
                    for c in aliases.get(k, (k,))
                    if rec.attrs.get(c) is not None
                ),
                None,
            )
            for k in prop_fields
        }
        for part in rec.parts:
            feats.append(
                PolyFeature(
                    poly_id=str(pid), rings=tuple(part), props=dict(props)
                )
            )
    return feats


# the municipality dim's fields across IBGE vintages (ensure_ref_ibge.py
# renames cd_mun|cd_geocmu|geocodigo, nm_mun|nm_municip, sigla_uf|uf):
# the feature-loader arguments of both dim formats and cli.load_dims
MUNICIPIO_FIELDS = {
    "id_field": ("cd_mun", "cd_geocmu", "geocodigo"),
    "prop_fields": ("nm_mun", "uf", "area_km2"),
    "prop_aliases": {"nm_mun": ("nm_mun", "nm_municip"), "uf": ("sigla_uf", "uf")},
}


def municipio_rows(feats: list[PolyFeature]) -> list[tuple]:
    """One ``(cd_mun, nm_mun, uf, area_km2)`` row per municipality of
    features loaded with :data:`MUNICIPIO_FIELDS`. Names come from the
    first feature of an id; the area follows
    operators.geometry.area_km2_by_id, whose geodesic fallback stands
    in for ``st_area(geography)/1e6`` when the source has no area
    column."""
    areas = area_km2_by_id(feats)
    first: dict[str, dict] = {}
    for f in feats:
        first.setdefault(f.poly_id, f.props)
    return [
        (pid, props.get("nm_mun"), props.get("uf"), areas[pid])
        for pid, props in first.items()
    ]


# ---------------------------------------------------------------------------
# writer (fixtures + dim export; same subset the reader understands)


def _ring_cw(ring: np.ndarray) -> np.ndarray:
    return ring[::-1] if ring_signed_area_deg2(ring) > 0 else ring


def _ring_ccw(ring: np.ndarray) -> np.ndarray:
    return ring[::-1] if ring_signed_area_deg2(ring) <= 0 else ring


def _close_ring(ring: np.ndarray) -> np.ndarray:
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def write_shp(path: str, shapes: list[list[list[np.ndarray]]]) -> None:
    """Write Polygon shapes ([[rings...] per part] per record) to .shp
    with spec orientation (exterior CW, holes CCW)."""
    records = []
    for parts in shapes:
        rings = []
        for part in parts:
            rings.append(_close_ring(_ring_cw(np.asarray(part[0], float))))
            rings.extend(
                _close_ring(_ring_ccw(np.asarray(r, float))) for r in part[1:]
            )
        records.append(rings)

    all_pts = np.vstack([r for rec in records for r in rec]) if any(records) else np.zeros((1, 2))
    gxmin, gymin = all_pts.min(axis=0)
    gxmax, gymax = all_pts.max(axis=0)

    body = bytearray()
    for i, rings in enumerate(records, start=1):
        pts = np.vstack(rings)
        starts, acc = [], 0
        for r in rings:
            starts.append(acc)
            acc += len(r)
        content = struct.pack("<i", SHP_POLYGON)
        content += struct.pack(
            "<4d", pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()
        )
        content += struct.pack("<ii", len(rings), len(pts))
        content += struct.pack(f"<{len(starts)}i", *starts)
        content += pts.astype("<f8").tobytes()
        body += struct.pack(">ii", i, len(content) // 2) + content

    header = struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, (100 + len(body)) // 2)
    header += struct.pack("<ii", 1000, SHP_POLYGON)
    header += struct.pack("<8d", gxmin, gymin, gxmax, gymax, 0, 0, 0, 0)
    Path(path).write_bytes(header + body)


def write_dbf(
    path: str,
    fields: list[tuple[str, str, int, int]],
    rows: list[dict],
    encoding: str = "latin-1",
) -> None:
    """Write a dBASE III table: fields = [(name, type C/N, len, deci)]."""
    header_len = 32 + 32 * len(fields) + 1
    record_len = 1 + sum(f[2] for f in fields)
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 3, 26, 8, 13, len(rows), header_len, record_len
    )
    for name, ftype, flen, deci in fields:
        out += struct.pack(
            "<11sc4xBB14x",
            name.upper().encode("ascii")[:11],
            ftype.encode("ascii"),
            flen,
            deci,
        )
    out += b"\x0d"
    for row in rows:
        out += b" "
        for name, ftype, flen, deci in fields:
            v = row.get(name.lower())
            if v is None:
                text = ""
            elif ftype == "N":
                text = f"{v:.{deci}f}" if deci else str(int(v))
            else:
                text = str(v)
            raw = text.encode(encoding, errors="replace")[:flen]
            out += raw.rjust(flen) if ftype == "N" else raw.ljust(flen)
    out += b"\x1a"
    Path(path).write_bytes(out)
