"""Serving TTL cache shim (serving_cache.py vs reference
api/app/cache.py + main.py:46-57,103-115,410-431)."""

from __future__ import annotations

from inpe_queimadas_etl_spark.serving_cache import (
    POINTS_TTL_SECONDS,
    ServingCache,
    TTLCache,
    cache_key_params,
    cached,
    points_cache_key,
    points_zoom_bucket,
)


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t

    def advance(self, s):
        self.t += s


def test_hit_within_ttl_and_expiry():
    clock = FakeClock()
    c = TTLCache(maxsize=8, ttl=300.0, timer=clock)
    calls = []

    def run():
        calls.append(1)
        return {"total": 42}

    v1, hit1 = cached(c, "k", run)
    v2, hit2 = cached(c, "k", run)
    assert v1 == v2 == {"total": 42}
    assert (hit1, hit2) == (False, True)
    assert len(calls) == 1

    clock.advance(299.0)
    _, hit3 = cached(c, "k", run)
    assert hit3 is True and len(calls) == 1

    clock.advance(2.0)  # past the 300 s deadline
    _, hit4 = cached(c, "k", run)
    assert hit4 is False and len(calls) == 2


def test_cached_none_value_is_a_real_hit():
    """cached() must do ONE sentinel lookup, not contains-then-get: a
    stored None is a legitimate hit (ADVICE r3 #1 — the two-read path
    could also report a hit carrying None at the TTL boundary)."""
    clock = FakeClock()
    c = TTLCache(maxsize=8, ttl=300.0, timer=clock)
    calls = []

    def run():
        calls.append(1)
        return None

    v1, hit1 = cached(c, "k", run)
    v2, hit2 = cached(c, "k", run)
    assert v1 is None and v2 is None
    assert (hit1, hit2) == (False, True)
    assert len(calls) == 1


def test_cached_single_lookup_at_ttl_boundary():
    """An entry expiring between two timer reads must be a MISS that
    reruns, never a hit with a lost value: tick the clock on every
    timer read so the old contains-then-get pattern would straddle the
    deadline."""

    class TickingClock(FakeClock):
        def __call__(self):
            self.t += 149.0  # two reads cross a 300 s TTL
            return self.t

    clock = TickingClock()
    c = TTLCache(maxsize=8, ttl=300.0, timer=clock)
    calls = []

    def run():
        calls.append(1)
        return {"total": 42}

    v1, _ = cached(c, "k", run)
    v2, hit2 = cached(c, "k", run)
    assert v1 == {"total": 42}
    # whichever way the races fall, a reported hit must carry the value
    if hit2:
        assert v2 == {"total": 42}
    else:
        assert v2 == {"total": 42} and len(calls) == 2


def test_maxsize_evicts_oldest():
    clock = FakeClock()
    c = TTLCache(maxsize=2, ttl=300.0, timer=clock)
    c["a"] = 1
    c["b"] = 2
    c["c"] = 3
    assert "a" not in c and "b" in c and "c" in c


def test_cache_key_deterministic_and_null_free():
    k1 = cache_key_params(
        "totals", {"uf": "MT", "to": "2024-06-01", "bioma": None}
    )
    k2 = cache_key_params("totals", {"to": "2024-06-01", "uf": "MT"})
    assert k1 == k2 == "/api/totals?to=2024-06-01&uf=MT"
    assert "bioma" not in k1
    # a client param named like the function's own argument is data
    k3 = cache_key_params("totals", {"endpoint": "x", "uf": "MT"})
    assert k3 == "/api/totals?endpoint=x&uf=MT"


def test_zoom_buckets_reference_thresholds():
    # main.py:417-428
    assert points_zoom_bucket((-180, -90, 180, 90)) == "world"
    assert points_zoom_bucket((0, 0, 45, 1)) == "world"
    assert points_zoom_bucket((0, 0, 21, 1)) == "country"
    assert points_zoom_bucket((0, 0, 10, 1)) == "macro"
    assert points_zoom_bucket((0, 0, 4, 1)) == "state"
    assert points_zoom_bucket((0, 0, 1, 1)) == "local"


def test_points_key_appends_zoom_bucket():
    base = cache_key_params("points", {"date": "2024-05-02", "bbox": "0,0,1,1"})
    assert points_cache_key(base, (0, 0, 1, 1)).endswith("|zb=local")
    assert points_cache_key(base, None).endswith("|zb=world")


def test_serving_cache_points_ttl_shorter():
    clock = FakeClock()
    sc = ServingCache(timer=clock)
    calls = []

    def run():
        calls.append(1)
        return [{"lat": 0.5}]

    bbox = (0, 0, 1, 1)
    pkey = points_cache_key(
        cache_key_params("points", {"date": "2024-05-02", "bbox": "0,0,1,1"}),
        bbox,
    )
    _, h1 = cached(sc.points, pkey, run)
    _, h2 = cached(sc.points, pkey, run)
    assert (h1, h2) == (False, True) and len(calls) == 1

    clock.advance(POINTS_TTL_SECONDS + 1)
    _, h3 = cached(sc.points, pkey, run)
    assert h3 is False and len(calls) == 2

    # general cache still holds at the same age (300 s TTL)
    gkey = cache_key_params("totals", {"uf": "MT"})
    _, g1 = cached(sc.general, gkey, lambda: {"total": 1})
    clock.advance(POINTS_TTL_SECONDS + 1)
    _, g2 = cached(sc.general, gkey, lambda: {"total": 1})
    assert (g1, g2) == (False, True)
