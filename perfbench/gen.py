"""Seeded input generators for the lifecycle benchmark.

Everything the engine sees is made here from ``--seed`` with
``random.Random``; nothing is read from outside the checkout and
nothing is downloaded. Outputs are plain pandas frames / Python lists
so the generators (and the checkers that consume them) run without a
Spark session.

- ``merchants``: the bronze merchant snapshot, in the reference's
  silver column shape (``id name address postalCode type LAT LON``).
  Names mix a high-cardinality owner token, a district token, an
  optional dish phrase drawn from the engine's cuisine / halal keyword
  tables, and a generic business word, so the keyword enrichment and
  the fuzzy halal ER both have real work without hot blocking tokens.
- ``postal_dim``: geocoding table (``postal lat lon``) for the geo
  branch of ``MakanmanaEngine.search``.
- ``establishments``: halal-establishment dim in the style of the
  query surface's ``_er_right``: exact name copies, late-character
  typos in one token (the Levenshtein tier) and unrelated rows.
- ``churn``: one nightly snapshot step: inserts, deletes, address /
  category updates, and name edits that flip halal matches.
- ``keystroke_pass``: one pass of the interactive request script.
"""

from __future__ import annotations

import random

import pandas as pd

SNAPSHOT_COLS = ["id", "name", "address", "postalCode", "type", "LAT", "LON"]

CATEGORIES = [
    "HAWKER_HEARTLAND_MERCHANT",
    "RESTAURANT",
    "CAFE",
    "FOOD_COURT",
    "BAKERY",
]

_CONS = "bcdfghjklmnprstvwyz"
_VOWS = "aeiou"
_DISTRICTS = [
    "Bedok", "Tampines", "Yishun", "Jurong", "Clementi", "Bishan", "Toa Payoh",
    "Serangoon", "Hougang", "Punggol", "Sengkang", "Woodlands", "Bukit Batok",
    "Geylang", "Katong", "Marine", "Queenstown", "Novena", "Pasir Ris", "Kallang",
]
_DISHES = [
    "nasi lemak", "chicken rice", "char siu", "bak kut teh", "prata", "biryani",
    "ramen", "sushi", "kimchi", "pho", "banh mi", "burger", "pizza", "pasta",
    "seafood", "crab", "kopi", "bubble tea", "dim sum", "wanton", "satay",
    "rendang", "tom yum", "steak", "dessert", "bakery", "congee", "noodle",
    "curry", "tandoori", "kebab", "mamak", "warung", "briyani", "fried chicken",
    "vegetarian", "salad", "juice", "cake", "grill",
]
_GENERIC = ["Kitchen", "Restaurant", "Cafe", "House", "Stall", "Corner", "Shop", "Place"]
_STREETS = ["Ave", "St", "Rd", "Dr", "Cres", "Lane"]

# Postal sectors (first two digits) with a rough centre each; merchants
# scatter a few km around their sector centre.
_N_SECTORS = 40
_N_MERCHANTS = 2_500
_N_POSTALS = 1_000


def _sectors(rng: random.Random) -> list[tuple[str, float, float]]:
    out = []
    for i in range(_N_SECTORS):
        code = f"{10 + 2 * i:02d}"
        out.append((code, 1.28 + rng.random() * 0.16, 103.66 + rng.random() * 0.32))
    return out


def _word(rng: random.Random) -> str:
    """Pseudo-word of 5-7 letters (CVCVC[V][C]): ~10^5-10^7 distinct
    values and ~10^4 distinct 4-letter prefixes, so no name token or
    prefix block of the fuzzy ER is hot."""
    n = rng.choice((5, 6, 7))
    return "".join(
        rng.choice(_CONS if k % 2 == 0 else _VOWS) for k in range(n)
    ).capitalize()


def _name(rng: random.Random) -> str:
    """Two high-cardinality tokens, a dish phrase 40% of the time and a
    generic business word (excluded from ER blocking)."""
    parts = [_word(rng), _word(rng)]
    if rng.random() < 0.4:
        parts.append(rng.choice(_DISHES).title())
    parts.append(rng.choice(_GENERIC))
    return " ".join(parts)


def postal_dim(seed: int) -> pd.DataFrame:
    """``postal lat lon``: ``_N_POSTALS`` distinct 6-digit codes spread
    over the sectors."""
    rng = random.Random(seed * 7919 + 1)
    sectors = _sectors(rng)
    seen: set[str] = set()
    rows = []
    while len(rows) < _N_POSTALS:
        code, clat, clon = rng.choice(sectors)
        postal = f"{code}{rng.randrange(10_000):04d}"
        if postal in seen:
            continue
        seen.add(postal)
        rows.append(
            (postal, round(clat + rng.gauss(0, 0.012), 6), round(clon + rng.gauss(0, 0.012), 6))
        )
    return pd.DataFrame(rows, columns=["postal", "lat", "lon"])


def _postal_rows(seed: int) -> list[tuple]:
    return list(postal_dim(seed).itertuples(index=False, name=None))


def _merchant_row(rng: random.Random, mid: str, postals: list[tuple]) -> tuple:
    postal, lat, lon = postals[rng.randrange(len(postals))]
    addr = (
        f"{rng.randrange(1, 999)} {rng.choice(_DISTRICTS)} "
        f"{rng.choice(_STREETS)} {rng.randrange(1, 90)} #{rng.randrange(1, 20):02d}-{rng.randrange(1, 300)}"
    )
    return (
        mid,
        _name(rng),
        addr,
        postal,
        rng.choice(CATEGORIES),
        round(lat + rng.gauss(0, 0.002), 7),
        round(lon + rng.gauss(0, 0.002), 7),
    )


def merchants(seed: int, n: int = _N_MERCHANTS) -> pd.DataFrame:
    """Initial bronze snapshot of ``n`` merchants, ids ``m0000000``…"""
    rng = random.Random(seed * 7919 + 2)
    postals = _postal_rows(seed)
    rows = [_merchant_row(rng, f"m{i:07d}", postals) for i in range(n)]
    return pd.DataFrame(rows, columns=SNAPSHOT_COLS)


def _typo(word: str, rng: random.Random) -> str:
    """Late-character substitution: keeps the Levenshtein ratio of a
    long token at or above the word-match threshold."""
    i = len(word) - 1 - rng.randrange(min(2, len(word)))
    c = "x" if word[i] != "x" else "z"
    return word[:i] + c + word[i + 1:]


def establishments(seed: int, snapshot: pd.DataFrame) -> pd.DataFrame:
    """Halal-establishment dim (``establishment_id name postal``): for
    every 20th merchant an exact name copy (same postal half the time),
    for every 20th+10 a copy with one late-character typo in its
    longest token, plus as many unrelated names."""
    rng = random.Random(seed * 7919 + 3)
    rows = []
    for i, r in enumerate(snapshot.itertuples(index=False)):
        if i % 20 == 0:
            postal = r.postalCode if rng.random() < 0.5 else f"{rng.randrange(10**6):06d}"
            rows.append((f"e{len(rows):06d}", r.name, postal))
        elif i % 20 == 10:
            toks = r.name.split(" ")
            j = max(range(len(toks)), key=lambda k: len(toks[k]))
            toks[j] = _typo(toks[j], rng)
            rows.append((f"e{len(rows):06d}", " ".join(toks), r.postalCode))
    for _ in range(len(rows)):
        rows.append((f"e{len(rows):06d}", _name(rng), f"{rng.randrange(10**6):06d}"))
    return pd.DataFrame(rows, columns=["establishment_id", "name", "postal"])


def churn(
    seed: int, cycle: int, prev: pd.DataFrame, est: pd.DataFrame
) -> tuple[pd.DataFrame, dict]:
    """Next nightly snapshot from ``prev``: ~1% inserts, ~0.5% deletes,
    ~1% address/category updates and ~0.5% name edits that either copy
    an establishment's name (gaining a halal match) or give a fresh
    name (losing any match). Returns (snapshot, counts); the snapshot
    is the exact expected serve state after the cycle merges."""
    rng = random.Random(seed * 7919 + 1000 + cycle)
    postals = _postal_rows(seed)
    n = len(prev)
    df = prev.copy()
    n_del, n_upd, n_ren = int(n * 0.005), int(n * 0.01), int(n * 0.005)
    picks = rng.sample(range(n), n_del + n_upd + n_ren)
    deletes = picks[:n_del]
    updates = picks[n_del:n_del + n_upd]
    renames = picks[n_del + n_upd:]
    for i in updates:
        fresh = _merchant_row(rng, df.at[i, "id"], postals)
        df.at[i, "address"] = fresh[2]
        df.at[i, "type"] = fresh[4]
    est_names = est["name"].tolist()
    for k, i in enumerate(renames):
        df.at[i, "name"] = rng.choice(est_names) if k % 2 == 0 else _name(rng)
    df = df.drop(index=deletes)
    next_id = int(prev["id"].str[1:].astype(int).max()) + 1
    ins = pd.DataFrame(
        [_merchant_row(rng, f"m{next_id + k:07d}", postals) for k in range(int(n * 0.01))],
        columns=SNAPSHOT_COLS,
    )
    out = pd.concat([df, ins], ignore_index=True)
    counts = {"insert": len(ins), "delete": len(deletes), "update": len(updates) + len(renames)}
    return out, counts


def _search_words(snapshot: pd.DataFrame, rng: random.Random, k: int) -> list[str]:
    toks = [t for name in snapshot["name"].iloc[:2000] for t in name.lower().split(" ")]
    toks = sorted({t for t in toks if len(t) >= 5})
    return [rng.choice(toks) for _ in range(k)]


def keystroke_pass(seed: int, pass_no: int, snapshot: pd.DataFrame, blocks: int) -> list[dict]:
    """One pass of the interactive script: ``blocks`` blocks of ten
    requests each, in a fixed class mix so every pass costs the same:

    - two text sessions: the prefixes of one word, lengths 2..5, then
      of another, lengths 2..4; each keystroke is a ``search → filter
      → page_after(None)`` (7 ``text``);
    - two 6-digit postal lookups (``geo``: geocode → radius → distance
      sort);
    - one load-more ``page_after(last_row)`` (``more``), continuing
      the second text session on even blocks and the second postal
      lookup on odd ones.

    So 20% of requests are fresh postal lookups and 70% are text,
    which keeps the overall median inside the text mode. Postal codes
    are exact hits of the postal dim or, one in three, an unknown code
    whose 3-digit prefix still resolves. ``after`` on a ``more``
    request names the request whose last row it continues from.
    """
    rng = random.Random(seed * 7919 + 5000 + pass_no)
    postals = snapshot["postalCode"].drop_duplicates().sort_values().tolist()
    words = _search_words(snapshot, rng, 2 * blocks)
    script: list[dict] = []
    n_text = n_geo = 0

    def filt(k: int) -> dict:
        # fixed rotation (none, category, halal, both) so every pass
        # filters the same share of its sessions, whatever the seed
        return {"category": rng.choice(CATEGORIES) if k % 2 else None, "halal": k % 4 >= 2}

    for b in range(blocks):
        for word, longest in ((words[2 * b], 5), (words[2 * b + 1], 4)):
            f = filt(n_text)
            n_text += 1
            for ln in range(2, longest + 1):
                script.append({"kind": "text", "term": word[:ln], **f})
        text_tail = len(script) - 1
        for _ in range(2):
            code = rng.choice(postals)
            if rng.random() < 1 / 3:
                code = code[:3] + f"{(int(code[3:]) + 501) % 1000:03d}"
            script.append({"kind": "geo", "term": code, **filt(n_geo)})
            n_geo += 1
        after = text_tail if b % 2 == 0 else len(script) - 1
        script.append({**script[after], "kind": "more", "after": after})
    return script
