"""Generators are deterministic per seed and keep their fixed shape."""

import pandas as pd

from perfbench import gen


def test_merchants_deterministic_per_seed():
    a, b, c = gen.merchants(7, 500), gen.merchants(7, 500), gen.merchants(8, 500)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)
    assert list(a.columns) == gen.SNAPSHOT_COLS
    assert a["id"].is_unique


def test_establishments_and_postal_deterministic():
    m = gen.merchants(3, 400)
    pd.testing.assert_frame_equal(gen.establishments(3, m), gen.establishments(3, m))
    pd.testing.assert_frame_equal(gen.postal_dim(3), gen.postal_dim(3))
    assert not gen.postal_dim(3).equals(gen.postal_dim(4))


def test_churn_deterministic_and_counts_match():
    m = gen.merchants(5, 1000)
    est = gen.establishments(5, m)
    (a, ca), (b, cb) = gen.churn(5, 1, m, est), gen.churn(5, 1, m, est)
    pd.testing.assert_frame_equal(a, b)
    assert ca == cb
    assert len(a) == len(m) + ca["insert"] - ca["delete"]
    assert a["id"].is_unique
    assert not gen.churn(5, 2, m, est)[0].equals(a)


def test_keystroke_pass_deterministic_with_fixed_mix():
    m = gen.merchants(9, 800)
    s1, s2 = gen.keystroke_pass(9, 0, m, 3), gen.keystroke_pass(9, 0, m, 3)
    assert s1 == s2
    assert s1 != gen.keystroke_pass(9, 1, m, 3)
    kinds = [r["kind"] for r in s1]
    assert len(s1) == 30
    assert kinds.count("geo") == 6 and kinds.count("text") == 21 and kinds.count("more") == 3
    for i, r in enumerate(s1):
        if r["kind"] == "more":
            assert 0 <= r["after"] < i and s1[r["after"]]["term"] == r["term"]
        if r["kind"] == "geo":
            assert len(r["term"]) == 6 and r["term"].isdigit()
