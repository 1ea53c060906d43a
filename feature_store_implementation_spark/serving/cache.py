"""Driver-side TTL cache for served feature vectors.

Reference parity (cache.py:12-48): maxsize=1000, ttl=3600 s, key =
md5("entity_id|sorted(feature_names)|version") with empty string for absent
parts (cache.py:22-30). LRU-evicting, lazily-expiring — small and driver-
local by design; Spark is not involved in sub-millisecond point serving."""

from __future__ import annotations

import hashlib
import threading
import time
from collections import OrderedDict
from typing import Any, Callable


class FeatureCache:
    def __init__(self, maxsize: int = 1000, ttl: float = 3600.0):
        self.maxsize = maxsize
        self.ttl = ttl
        self._data: OrderedDict[str, tuple[float, Any]] = OrderedDict()
        self._lock = threading.RLock()  # serving is multi-threaded (HTTP)
        self.hits = 0
        self.misses = 0

    @staticmethod
    def make_key(
        entity_id: str,
        feature_names: list[str] | None = None,
        version: str | None = None,
    ) -> str:
        """Exact reference key semantics (cache.py:22-30): sorted names
        joined by ',', empty strings for absent parts, md5 over
        'entity|names|version'."""
        names = ",".join(sorted(feature_names)) if feature_names else ""
        raw = f"{entity_id}|{names}|{version or ''}"
        return hashlib.md5(raw.encode()).hexdigest()

    def get(self, key: str) -> Any | None:
        with self._lock:
            value = self._peek(key)
            if value is None:
                self.misses += 1
            else:
                self.hits += 1
            return value

    def _peek(self, key: str) -> Any | None:
        """``get`` without touching the hit/miss counters — for a second
        probe inside one request that ``get`` already counted."""
        with self._lock:
            item = self._data.get(key)
            if item is None:
                return None
            expires, value = item
            if expires < time.monotonic():
                del self._data[key]
                return None
            self._data.move_to_end(key)
            return value

    def set(self, key: str, value: Any) -> None:
        with self._lock:
            if key in self._data:
                self._data.move_to_end(key)
            self._data[key] = (time.monotonic() + self.ttl, value)
            while len(self._data) > self.maxsize:
                self._data.popitem(last=False)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()


class SingleFlight:
    """Per-key request coalescing for cold cache keys — the stampede
    guard the reference lacks (its TTLCache recomputes once PER
    concurrent miss, cache.py:32-35): when N threads miss the same key
    at once, ONE leader runs the compute and every follower blocks on
    its result, so the Spark plan for a key runs exactly once no matter
    the concurrency. Distinct keys never serialize against each other
    (per-key slots under one registry lock held only for dict ops). A
    leader's exception propagates to its followers too — same request,
    same outcome — and the slot is cleared either way, so the next
    request retries fresh."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._calls: dict[str, dict] = {}

    def do(self, key: str, fn: Callable[[], Any]) -> tuple[Any, bool]:
        """Returns (result, led) where ``led`` is True when THIS call ran
        ``fn`` (false for coalesced followers)."""
        with self._lock:
            slot = self._calls.get(key)
            if slot is None:
                slot = {"done": threading.Event(), "result": None, "exc": None}
                self._calls[key] = slot
                lead = True
            else:
                lead = False
        if lead:
            try:
                slot["result"] = fn()
            except BaseException as e:
                slot["exc"] = e
                raise
            finally:
                with self._lock:
                    self._calls.pop(key, None)
                slot["done"].set()
            return slot["result"], True
        slot["done"].wait()
        if slot["exc"] is not None:
            raise slot["exc"]
        return slot["result"], False
