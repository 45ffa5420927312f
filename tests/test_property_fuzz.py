"""Hypothesis property tests for the pure-Python hot spots whose
contracts are 'exactly equals the reference algorithm' — fuzz where
handcrafted fixtures can miss an escape, a rounding halfway case, or a
degenerate geometry.

These target the driver-side/Arrow-batch functions directly, so the
fuzz loop stays fast. The decimal parser is the exception: its oracle
is Spark's own cast, one query per drawn list.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from inpe_queimadas_etl_spark.functions.legend import compute_breaks
from inpe_queimadas_etl_spark.transform import (
    _canonicalize_batch,
    _canonicalize_rows_reference,
)

# -- canonicalize byte parity ------------------------------------------------

_NULLISH = ["", " ", "na", "NA", "n/a", "null", " NULL ", "none", "nan", "-"]

_prop_value = st.one_of(
    st.none(),
    st.sampled_from(_NULLISH),
    st.text(max_size=24),  # unicode incl. quotes/backslashes/control chars
    st.sampled_from(['AQ"UA', "TERRA\\X", "a\tb", "x\ny", "são-1", "ÁÉÇ"]),
)

# adversarial regimes for the vectorized float formatters: near-half
# values at the 6th decimal (np.round's divergence band), the tiny
# band where repr flips to scientific notation (|v| < 1e-4), signed
# zeros, and exact band boundaries
_near_half_6dp = st.builds(
    lambda k, s: s * ((2 * k + 1) * 5e-7),
    st.integers(min_value=0, max_value=90_000_000),
    st.sampled_from([-1.0, 1.0]),
)
_tiny = st.floats(
    min_value=-1.5e-4, max_value=1.5e-4, allow_nan=False, allow_infinity=False
)
_coord = st.one_of(
    st.floats(
        min_value=-90.0,
        max_value=90.0,
        allow_nan=False,
        allow_infinity=False,
        width=64,
    ),
    _near_half_6dp,
    _tiny,
    st.sampled_from(
        [0.0, -0.0, 1e-6, -1e-6, 9.9999e-5, 1e-4, -1e-4, 1.5e-4,
         5e-7, -5e-7, 4.9999999e-7, 89.9999995, -89.9999995]
    ),
)


@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(
        st.tuples(_prop_value, _prop_value, _prop_value, _prop_value, _coord, _coord),
        min_size=1,
        max_size=6,
    )
)
def test_canonicalize_batch_byte_parity_fuzz(data):
    """The vectorized Arrow-batch canonicalization must match the
    reference row loop hash-for-hash and prop-for-prop on ARBITRARY
    inputs — JSON escaping, nullish cleaning, 6-dp round-half-even."""
    pdf = pd.DataFrame(
        {
            "datahora": [d[0] for d in data],
            "satelite": [d[1] for d in data],
            "municipio": [d[2] for d in data],
            "estado": [d[3] for d in data],
            "lat": ["raw"] * len(data),
            "lon": ["raw"] * len(data),
            "__lat": [d[4] for d in data],
            "__lon": [d[5] for d in data],
            "__row_id": list(range(len(data))),
        }
    )
    prop_cols = ["datahora", "satelite", "municipio", "estado", "lat", "lon"]
    out = _canonicalize_batch(
        pdf, prop_cols, "2024-05-02", "lat", "lon",
        "datahora", "satelite", "municipio", "estado", None,
    )
    ref = _canonicalize_rows_reference(
        pdf, prop_cols, "2024-05-02", "lat", "lon", "datahora", "satelite"
    )
    got_hashes = [
        hashlib.md5(p.encode("utf-8")).hexdigest() for p in out["__payload"]
    ]
    assert got_hashes == [r["event_hash"] for r in ref]
    assert list(out["props"]) == [r["props"] for r in ref]


@settings(max_examples=40, deadline=None)
@given(vals=st.lists(_coord, min_size=1, max_size=300))
def test_vectorized_float_formatters_match_python_fuzz(vals):
    """_repr_series == repr() and _repr_round6_series ==
    repr(round(v, 6)) element-for-element, across the scientific-
    notation cutoff, signed zeros, and np.round's near-half divergence
    band (where the risk mask must route to the Python fallback)."""
    from inpe_queimadas_etl_spark.transform import (
        _repr_round6_series,
        _repr_series,
    )

    s = pd.Series(vals, dtype="float64")
    assert list(_repr_series(s)) == [repr(float(v)) for v in s]
    assert list(_repr_round6_series(s)) == [
        repr(round(float(v), 6)) for v in s
    ]


# -- decimal-comma cast parity with Spark's try_cast ------------------------

# fragments of the syntax Java's parseDouble and Spark's special
# literals accept, and of what they refuse, glued at random
_NUM_PIECES = [
    "", "+", "-", "0", "1", "7", "09", "123", ".", ",", "e", "E", "e-", "E+",
    "x", "0x", "0X", "a", "F", "p", "P", "p-", "f", "d", "D", "_", " ", "\t",
    "\x01", "\xa0", "Infinity", "NaN", "inf", "nan", "INF", "-inf", "١",
]
_decimal_text = st.one_of(
    st.lists(st.sampled_from(_NUM_PIECES), max_size=7).map("".join),
    st.text(alphabet="0123456789.,+-eExXpPfFdD _", max_size=12),
    st.floats(width=64).map(repr),
    st.floats(width=64).map(lambda v: repr(v).replace(".", ",")),
    st.floats(allow_nan=False, allow_infinity=False).map(float.hex),
    st.none(),
)


def _same_double(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b and math.copysign(1, a) == math.copysign(1, b)


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_decimal_text, min_size=1, max_size=200))
def test_decimal_comma_cast_matches_spark_try_cast_fuzz(spark, texts):
    """The pandas pass's decimal-comma cast gives, value for value, what
    the Spark reference (``decimal_comma_to_double``: ',' -> '.' then
    try_cast to double) gives: the same finite value and sign, the same
    +-inf and NaN, and None where Spark returns null."""
    from inpe_queimadas_etl_spark.functions.core import decimal_comma_to_double
    from inpe_queimadas_etl_spark.transform import decimal_comma_doubles, spark_double

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = dict(df.select("i", decimal_comma_to_double("t").alias("d")).collect())
    ours = [None if t is None else spark_double(t.replace(",", ".")) for t in texts]
    bad = [(t, o, got[i]) for i, (t, o) in enumerate(zip(texts, ours)) if not _same_double(o, got[i])]
    assert not bad
    vec = decimal_comma_doubles(pd.Series(texts, dtype=object))
    assert all(
        _same_double(float(v), math.nan if o is None else o) for v, o in zip(vec, ours)
    )


# -- legend breaks invariants ------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(st.integers(min_value=-5, max_value=10_000), max_size=60),
    k=st.integers(min_value=1, max_value=9),
    zero_class=st.booleans(),
)
def test_compute_breaks_invariants_fuzz(values, k, zero_class):
    out = compute_breaks(values, k=k, zero_class=zero_class)
    breaks = out["breaks"]
    assert len(breaks) >= 2
    # strictly increasing, always — the whole point of the fallbacks
    assert all(b < a for b, a in zip(breaks, breaks[1:]))
    assert all(math.isfinite(b) for b in breaks)
    # palette: one color per class, plus the zero-class color when the
    # zero class engages (_palette prepends ZERO_COLOR)
    assert len(out["palette"]) == max(1, len(breaks) - 1) + (
        1 if out["zero_class"] else 0
    )
    if values:
        assert out["domain"] == [float(min(values)), float(max(values))]
        positives = [v for v in values if v > 0]
        if out["zero_class"]:
            # zero-class engages only when both zeros and positives exist
            assert positives and any(v <= 0 for v in values)
    # deterministic
    assert compute_breaks(values, k=k, zero_class=zero_class) == out


# --- GeoJSON geometry part-splitting -----------------------------------


_json_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-180, 180),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=5),
)

_coords = st.recursive(
    _json_scalar, lambda inner: st.lists(inner, max_size=6), max_leaves=40
)


@settings(max_examples=200, deadline=None)
@given(
    gtype=st.sampled_from(
        ["Polygon", "MultiPolygon", "Point", "LineString", None, "junk"]
    ),
    coords=_coords,
)
def test_poly_parts_never_raises_and_emits_valid_rings(gtype, coords):
    """_poly_parts must absorb arbitrarily malformed GeoJSON geometry
    (the P13 sanitizer contract) and only ever emit float64 rings of
    >= 4 closed points."""
    from inpe_queimadas_etl_spark.sources.geojson_source import _poly_parts

    parts = _poly_parts({"type": gtype, "coordinates": coords})
    if gtype not in ("Polygon", "MultiPolygon"):
        assert parts == []
    for rings in parts:
        assert rings  # a part always has at least its exterior
        for ring in rings:
            assert ring.dtype == np.float64
            assert ring.ndim == 2 and ring.shape[1] == 2
            assert len(ring) >= 4
            assert np.array_equal(ring[0], ring[-1])  # closed
