"""Output checks that feed the benchmark's failure count.

Each checker is an independent pandas / numpy re-statement of what the
engine call must return, so a wrong answer shows as a failed
operation. None of them needs a Spark session.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

EARTH_RADIUS_KM = 6371.0
DEFAULT_CENTRE = (1.3521, 103.8198)
PAGE = 50
RADIUS_KM = 10.0
_SEARCH_COLS = ["name", "postalCode", "address", "type"]


class InteractiveReference:
    """EP1 reference over the served silver snapshot: the same
    search → filter → keyset page contract as ``MakanmanaEngine``,
    computed with pandas.

    Results are compared as id lists. A load-more continues from the
    position of the row the engine returned last, never by comparing
    distances, so a last-bit difference between two haversine
    implementations cannot move a row across a page boundary.
    """

    def __init__(self, silver: pd.DataFrame, postal: pd.DataFrame):
        s = silver.sort_values(["name", "id"], kind="mergesort").reset_index(drop=True)
        self.ids = s["id"].to_numpy()
        self.types = s["type"].to_numpy()
        self.halal = s["isHalal"].fillna(False).to_numpy(dtype=bool)
        self.lat = s["LAT"].to_numpy(dtype=float)
        self.lon = s["LON"].to_numpy(dtype=float)
        self._hay = [s[c].str.lower() for c in _SEARCH_COLS]
        self._hay.append(s["cuisine"].map(lambda a: "\x00".join(a).lower()))
        self._postal = {r.postal: (r.lat, r.lon) for r in postal.itertuples(index=False)}
        self._prefix: dict[str, tuple] = {}
        for r in sorted(postal.itertuples(index=False, name=None)):
            self._prefix.setdefault(r[0][:3], (r[1], r[2]))
        self._memo: dict[tuple, np.ndarray] = {}

    def geocode(self, code: str) -> tuple[float, float]:
        """Exact postal, else the smallest postal sharing its 3-digit
        prefix, else the Singapore centre."""
        return self._postal.get(code) or self._prefix.get(code[:3]) or DEFAULT_CENTRE

    def ordered_ids(self, term: str, category: str | None, halal: bool) -> np.ndarray:
        """Every id the request matches, in page order."""
        key = (term, category, halal)
        if key not in self._memo:
            self._memo[key] = self._ordered(term, category, halal)
        return self._memo[key]

    def _ordered(self, term: str, category: str | None, halal: bool) -> np.ndarray:
        t = term.strip()
        m = re.search(r"\b(\d{6})\b", t)
        keep = np.ones(len(self.ids), dtype=bool)
        if category and category.lower() not in ("all", ""):
            keep &= self.types == category
        if halal:
            keep &= self.halal
        if m is None:
            hit = np.zeros(len(self.ids), dtype=bool)
            for h in self._hay:
                hit |= h.str.contains(t.lower(), regex=False).to_numpy()
            return self.ids[np.flatnonzero(keep & hit)]
        lat, lon = self.geocode(m.group(1))
        dlat = math.degrees(RADIUS_KM / EARTH_RADIUS_KM)
        dlon = math.degrees(
            RADIUS_KM / (EARTH_RADIUS_KM * max(math.cos(math.radians(lat)), 1e-6))
        )
        keep &= (self.lat >= lat - dlat) & (self.lat <= lat + dlat)
        keep &= (self.lon >= lon - dlon) & (self.lon <= lon + dlon)
        idx = np.flatnonzero(keep)
        d = haversine_km(lat, lon, self.lat[idx], self.lon[idx])
        idx, d = idx[d <= RADIUS_KM], d[d <= RADIUS_KM]
        # rows are already in (name, id) order: a stable sort on
        # distance gives (distance, name, id)
        return self.ids[idx[np.argsort(d, kind="stable")]]

    def expected_page(self, req: dict, after_id: str | None) -> list[str] | None:
        """Ids of the page after ``after_id`` (first page when None);
        None when ``after_id`` is not in the result at all."""
        ids = self.ordered_ids(req["term"], req["category"], req["halal"])
        start = 0
        if after_id is not None:
            pos = np.flatnonzero(ids == after_id)
            if len(pos) == 0:
                return None
            start = int(pos[0]) + 1
        return ids[start:start + PAGE].tolist()


def haversine_km(lat1: float, lon1: float, lat2: np.ndarray, lon2: np.ndarray) -> np.ndarray:
    rlat1, rlon1 = math.radians(lat1), math.radians(lon1)
    rlat2, rlon2 = np.radians(lat2), np.radians(lon2)
    a = np.sin((rlat2 - rlat1) / 2) ** 2 + math.cos(rlat1) * np.cos(rlat2) * np.sin(
        (rlon2 - rlon1) / 2
    ) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def snapshot_mismatches(served: pd.DataFrame, expected: pd.DataFrame, cols: list[str]) -> int:
    """Rows on which the served merge target (``op <> 'delete'``) and
    the generator's expected snapshot disagree: missing, extra, or any
    differing column."""
    a = served[cols].sort_values("id").reset_index(drop=True)
    b = expected[cols].sort_values("id").reset_index(drop=True)
    if len(a) != len(b) or not (a["id"].to_numpy() == b["id"].to_numpy()).all():
        return len(set(a["id"]) ^ set(b["id"])) or abs(len(a) - len(b)) or 1
    differ = np.zeros(len(a), dtype=bool)
    for c in cols:
        differ |= a[c].to_numpy() != b[c].to_numpy()
    return int(differ.sum())


def result_matches(got: pd.DataFrame, want: pd.DataFrame, canonical_hash) -> bool:
    """Declared-query result vs its oracle, compared as
    ``scripts/driver_sim.py`` does: same row count, same column set,
    same hash under the pandas canonicaliser."""
    return (
        len(got) == len(want)
        and set(got.columns) == set(want.columns)
        and canonical_hash(got) == canonical_hash(want)
    )
