"""Seeded inputs and the plain-numpy oracle for the feature-store benchmark.

Everything the program under test receives (raw event rows, profile rows,
increment rows, request keys) is generated here from one seed; the expected
feature values are computed here too, without Spark, from the same arrays.

Raw tables
----------
``events(id string, amount bigint)``
    Day 1 holds one row per entity plus ``extra_day1`` random rows; day 2
    adds ``rows_day2`` more. Amounts are whole numbers, so Spark's SUM and the
    numpy sum agree exactly.
``profiles(id string, score double)``
    One row per entity and day; scores are multiples of 0.5 (exact doubles).

Features (``computation_logic`` forms)
--------------------------------------
``total``  ``SUM(amount)`` over events       (aggregate SQL)
``sx2``    ``row: score * 2`` over profiles  (row SQL)

Version ``v1`` reads day 1, ``v2`` reads days 1-2. A request without a
version serves the latest active version, i.e. ``v2`` values.

Request keys
------------
Keys are Zipf-skewed over a seed-permuted entity population. The ranks come
from a low-discrepancy sequence pushed through the Zipf inverse CDF, so the
number of distinct keys in the first n draws (the cold misses a run sees)
barely moves between seeds, while which entities are hot does.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

GOLDEN = 0.6180339887498949


@dataclass
class Sizes:
    entities: int = 20_000
    extra_day1: int = 20_000
    rows_day2: int = 20_000
    increment_rows: int = 200
    # fv = POST /feature-vectors; its key population is larger than the
    # 1000-entry TTL cache on online_read and fits inside it on
    # serve_during_ingest
    fv_population_large: int = 5_000
    fv_population_small: int = 300
    zipf_s_online: float = 1.1
    # steep: a run affords only a handful of cold Spark-path serves, and
    # the hits between them should be many
    zipf_s_fv: float = 3.0

    @property
    def raw_rows(self) -> int:
        return self.entities + self.extra_day1 + self.rows_day2


@dataclass
class Inputs:
    sizes: Sizes
    seed: int
    ids: np.ndarray  # entity id strings, index = entity number
    ev_ent: np.ndarray  # entity number per event row
    ev_amount: np.ndarray
    ev_day: np.ndarray  # 1 or 2
    score1: np.ndarray
    score2: np.ndarray
    perm: np.ndarray  # popularity rank -> entity number
    _expected: dict = field(default_factory=dict, repr=False)

    # -- raw rows handed to the program ------------------------------------

    def events_frame(self, days: int):
        import pandas as pd

        m = self.ev_day <= days
        return pd.DataFrame(
            {"id": self.ids[self.ev_ent[m]], "amount": self.ev_amount[m]}
        )

    def profiles_frame(self, version: int):
        import pandas as pd

        return pd.DataFrame(
            {"id": self.ids, "score": self.score1 if version == 1 else self.score2}
        )

    def rows_for(self, feature: str, version: int) -> int:
        if feature == "sx2":
            return self.sizes.entities
        return int((self.ev_day <= version).sum())

    # -- oracle ----------------------------------------------------------------

    def expected(self, feature: str, version: int) -> np.ndarray:
        """Expected value per entity number for one feature version."""
        n = self.sizes.entities
        m = self.ev_day <= version
        if feature == "total":
            return np.bincount(self.ev_ent[m], weights=self.ev_amount[m], minlength=n).astype(np.int64)
        if feature == "sx2":
            return (self.score1 if version == 1 else self.score2) * 2.0
        raise KeyError(feature)

    def expected_cached(self, feature: str, version: int) -> np.ndarray:
        key = (feature, version)
        if key not in self._expected:
            self._expected[key] = self.expected(feature, version)
        return self._expected[key]

    def increment(self, k: int) -> tuple[list[str], list[int]]:
        """Increment ``k``: rows for entities new to the store, so a served
        value is unambiguous (the store appends; it does not upsert)."""
        r = np.random.default_rng([self.seed, 7, k])
        ids = [f"x{k:03d}-{j:04d}" for j in range(self.sizes.increment_rows)]
        vals = r.integers(1, 1_000_000, self.sizes.increment_rows).tolist()
        return ids, vals

    # -- request keys ------------------------------------------------------------

    def zipf_ranks(self, n: int, population: int, stream: int, s: float) -> np.ndarray:
        """``n`` Zipf(s) ranks in [0, population) from a golden-ratio
        sequence with a seeded offset (stratified, not i.i.d.)."""
        w = np.arange(1, population + 1, dtype=np.float64) ** -s
        cdf = np.cumsum(w) / w.sum()
        off = np.random.default_rng([self.seed, 11, stream]).random()
        u = (off + GOLDEN * np.arange(n)) % 1.0
        return np.minimum(np.searchsorted(cdf, u, side="right"), population - 1)

    def keys(self, stream: int, n: int, population: int, s: float) -> list[int]:
        """``n`` Zipf(s) entity numbers drawn over the ``population`` most
        popular entities."""
        return self.perm[self.zipf_ranks(n, population, stream, s)].tolist()


# the JVM warm-up's store: every code path of a full-size run, on few rows
WARMUP = Sizes(entities=400, extra_day1=400, rows_day2=400, increment_rows=20)


def make_inputs(seed: int, sizes: Sizes | None = None) -> Inputs:
    s = sizes or Sizes()
    rng = np.random.default_rng([seed, 1])
    n = s.entities
    ids = np.array([f"u{i:05d}" for i in range(n)])
    ev_ent = np.concatenate(
        [np.arange(n), rng.integers(0, n, s.extra_day1), rng.integers(0, n, s.rows_day2)]
    )
    ev_day = np.concatenate(
        [np.ones(n + s.extra_day1, dtype=np.int8), np.full(s.rows_day2, 2, dtype=np.int8)]
    )
    ev_amount = rng.integers(1, 1000, len(ev_ent)).astype(np.int64)
    score1 = rng.integers(0, 4000, n) / 2.0
    score2 = rng.integers(0, 4000, n) / 2.0
    perm = rng.permutation(n)
    return Inputs(s, seed, ids, ev_ent, ev_amount, ev_day, score1, score2, perm)
