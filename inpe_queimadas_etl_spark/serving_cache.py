"""Serving-layer TTL caches (§2.11 shim; reference api/app/cache.py
and main.py:46-57,103-115,1410-1431).

The reference fronts every endpoint with two cachetools.TTLCache
instances: a general 2048-entry/300 s cache keyed by the request URL,
and a hotter 1024-entry/30 s points cache whose key appends a coarse
zoom bucket derived from the bbox extent. This module reproduces both
with a dependency-free TTL cache (monotonic clock, lazy expiry,
oldest-first eviction) and an injectable timer for tests.

Driver-side only: the cache holds the SMALL serialized endpoint
responses (legend dicts, GeoJSON, aggregates already collected by the
query layer), never DataFrames — on a cluster this sits in the API
process exactly like the reference's in-process cache.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

GENERAL_TTL_SECONDS = 300.0  # cache.py:11 (CACHE_TTL_SECONDS default)
POINTS_TTL_SECONDS = 30.0  # main.py:55 (POINTS_CACHE_TTL_SECONDS)
GENERAL_MAXSIZE = 2048
POINTS_MAXSIZE = 1024


class TTLCache:
    """Minimal TTLCache analog: entries expire ttl seconds after
    insert; size overflow evicts oldest-inserted first. Thread-safe:
    api.py serves this from a ThreadingHTTPServer (one thread per
    request, all sharing one cache), so every read-modify path holds a
    lock — like cachetools' documented pattern, the reference wraps
    its caches the same way."""

    def __init__(
        self,
        maxsize: int = GENERAL_MAXSIZE,
        ttl: float = GENERAL_TTL_SECONDS,
        timer: Callable[[], float] = time.monotonic,
    ):
        import threading

        self.maxsize = maxsize
        self.ttl = ttl
        self._timer = timer
        self._data: OrderedDict[str, tuple[float, Any]] = OrderedDict()
        self._lock = threading.RLock()
        self.hits = 0
        self.misses = 0

    def _expire(self) -> None:
        now = self._timer()
        while self._data:
            key, (deadline, _) = next(iter(self._data.items()))
            if deadline > now:
                break
            self._data.pop(key, None)

    def get(self, key: str, default=None):
        with self._lock:
            self._expire()
            item = self._data.get(key)
            if item is None or item[0] <= self._timer():
                self._data.pop(key, None)
                self.misses += 1
                return default
            self.hits += 1
            return item[1]

    def __contains__(self, key: str) -> bool:
        with self._lock:
            self._expire()
            item = self._data.get(key)
            return item is not None and item[0] > self._timer()

    def __setitem__(self, key: str, value: Any) -> None:
        with self._lock:
            self._expire()
            self._data.pop(key, None)
            self._data[key] = (self._timer() + self.ttl, value)
            while len(self._data) > self.maxsize:
                self._data.popitem(last=False)

    def __len__(self) -> int:
        with self._lock:
            self._expire()
            return len(self._data)


def make_general_cache(timer=time.monotonic) -> TTLCache:
    return TTLCache(GENERAL_MAXSIZE, GENERAL_TTL_SECONDS, timer)


def make_points_cache(timer=time.monotonic) -> TTLCache:
    return TTLCache(POINTS_MAXSIZE, POINTS_TTL_SECONDS, timer)


def cache_key_params(endpoint: str, params: dict) -> str:
    """Deterministic URL-style key (the reference keys on
    str(request.url), main.py:103-104): None params drop out, the rest
    serialize sorted so equivalent requests share an entry. The params
    stay a dict, never **-splatted: they are UNTRUSTED client query
    strings, and a request param literally named 'endpoint' must not
    collide with this function's own argument names."""
    parts = [
        f"{k}={params[k]}" for k in sorted(params) if params[k] is not None
    ]
    return f"/api/{endpoint}?" + "&".join(parts)


def points_zoom_bucket(bbox: tuple[float, float, float, float]) -> str:
    """main.py:417-428: coarse zoom class from the bbox extent."""
    min_lon, min_lat, max_lon, max_lat = bbox
    extent = max(abs(max_lon - min_lon), abs(max_lat - min_lat))
    if extent >= 45:
        return "world"
    if extent >= 20:
        return "country"
    if extent >= 8:
        return "macro"
    if extent >= 3:
        return "state"
    return "local"


def points_cache_key(
    base_key: str, bbox: tuple[float, float, float, float] | None
) -> str:
    """main.py:1416-1418: the points key is the base URL key plus the
    zoom bucket suffix."""
    bucket = points_zoom_bucket(bbox) if bbox is not None else "world"
    return f"{base_key}|zb={bucket}"


_MISSING = object()


def cached(cache: TTLCache, key: str, run: Callable[[], Any]) -> tuple[Any, bool]:
    """cache_get_or_set + hit logging contract (cache.py:16-22,
    main.py:106-115): returns (value, was_hit). Single lookup with a
    sentinel — a membership check followed by get() reads the timer
    twice, and an entry expiring between the two reads would report a
    hit carrying None (ADVICE r3 #1); the reference's cachetools path
    can never return a hit without a value."""
    val = cache.get(key, _MISSING)
    if val is not _MISSING:
        return val, True
    val = run()
    cache[key] = val
    return val, False


class ServingCache:
    """Facade bundling the two caches the reference keeps as module
    globals (main.py:54-55), for the API layer to hold per process."""

    def __init__(self, timer=time.monotonic):
        self.general = make_general_cache(timer)
        self.points = make_points_cache(timer)
