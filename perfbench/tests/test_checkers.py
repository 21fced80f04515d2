"""Each output checker catches a planted wrong answer."""

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.reference import (
    PAGE,
    InteractiveReference,
    result_matches,
    snapshot_mismatches,
)
from perfbench.surface import _canonical_hash


def _silver(seed=1, n=600):
    m = gen.merchants(seed, n)
    m["cuisine"] = [["Local"] if i % 3 else ["Chinese", "Local"] for i in range(n)]
    m["isHalal"] = np.arange(n) % 4 == 0
    m["halalSource"] = np.where(m["isHalal"], "KEYWORD_MATCH", "NOT_CHECKED")
    return m, gen.postal_dim(seed)


def test_interactive_reference_text_paging_and_planted_error():
    silver, postal = _silver()
    ref = InteractiveReference(silver, postal)
    req = {"term": "ba", "category": None, "halal": False}  # not in a cuisine label
    first = ref.expected_page(req, None)
    assert len(first) == PAGE
    ordered = silver.sort_values(["name", "id"])
    hit = ordered[
        ordered[["name", "postalCode", "address", "type"]]
        .apply(lambda c: c.str.lower().str.contains("ba", regex=False))
        .any(axis=1)
    ]
    assert first == hit["id"].head(PAGE).tolist()
    assert ref.expected_page(req, first[-1]) == hit["id"].iloc[PAGE:2 * PAGE].tolist()
    planted = first[:-1] + ["m9999999"]
    assert ref.expected_page(req, None) != planted
    assert ref.expected_page(req, "not-an-id") is None


def test_interactive_reference_filters_and_cuisine():
    silver, postal = _silver()
    ref = InteractiveReference(silver, postal)
    got = ref.expected_page({"term": "chinese", "category": None, "halal": True}, None)
    want = silver[(silver.index % 3 == 0) & silver["isHalal"]].sort_values(["name", "id"])
    assert got == want["id"].head(PAGE).tolist()


def test_interactive_reference_geo_sorted_by_distance():
    silver, postal = _silver()
    ref = InteractiveReference(silver, postal)
    code = silver["postalCode"].iloc[0]
    ids = ref.ordered_ids(code, None, False)
    lat, lon = ref.geocode(code)
    assert (lat, lon) == tuple(postal.set_index("postal").loc[code])
    rows = silver.set_index("id").loc[ids]
    from perfbench.reference import haversine_km

    d = haversine_km(lat, lon, rows["LAT"].to_numpy(), rows["LON"].to_numpy())
    assert len(ids) > 0 and (np.diff(d) >= 0).all() and (d <= 10).all()
    # an unknown code falls back to the smallest postal with its prefix
    unknown = code[:3] + "zzz"
    pref = sorted(p for p in postal["postal"] if p.startswith(code[:3]))[0]
    assert ref.geocode(unknown) == tuple(postal.set_index("postal").loc[pref])


def test_snapshot_checker_catches_planted_row():
    expected = gen.merchants(2, 300)
    assert snapshot_mismatches(expected.sample(frac=1, random_state=0), expected, gen.SNAPSHOT_COLS) == 0
    wrong = expected.copy()
    wrong.loc[5, "name"] = "Planted Wrong Name"
    assert snapshot_mismatches(wrong, expected, gen.SNAPSHOT_COLS) == 1
    assert snapshot_mismatches(expected.drop(index=7), expected, gen.SNAPSHOT_COLS) >= 1


def test_surface_checker_catches_planted_value():
    pandas_hash = _canonical_hash()
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert result_matches(want.iloc[::-1], want, pandas_hash)
    wrong = want.copy()
    wrong.loc[1, "v"] = 1.25
    assert not result_matches(wrong, want, pandas_hash)
    assert not result_matches(want.rename(columns={"v": "w"}), want, pandas_hash)
