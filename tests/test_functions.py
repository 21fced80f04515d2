"""Unit tests for the scalar function library (SURVEY.md §5 item 2):
golden cases for the cleaners, classifiers, haversine properties, and
text-analysis expressions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cdc_makanmana_spark.functions.classify import keyword_classes, keyword_flag_with_veto
from cdc_makanmana_spark.functions.geo import format_distance, haversine_km
from cdc_makanmana_spark.functions.text import (
    clean_name,
    clean_name_for_search,
    doc_fingerprint,
    language_id,
    token_count,
    tokenize_words,
)


def one(spark, expr, **cols):
    row = spark.createDataFrame([cols]).select(expr.alias("v")).first()
    return row["v"]


# --- clean_name (P5, halalService.ts:249-257 parity) ----------------------

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Al-Amin Restaurant Pte Ltd", "al amin restaurant"),
        ("HAJI WARUNG #01-23", "haji warung"),
        ("Mak's  Kitchen   (Halal)", "mak s kitchen halal"),
        ("ABC Private Limited", "abc"),
        ("Nasi Lemak Sdn Bhd", "nasi lemak"),
        ("Plain Name", "plain name"),
    ],
)
def test_clean_name(spark, raw, expected):
    assert one(spark, clean_name("name"), name=raw) == expected


def test_clean_name_for_search_truncates(spark):
    got = one(spark, clean_name_for_search("name"), name="One Two Three Four Five Six")
    assert got == "one two three four"


def test_clean_name_for_search_strips_at_tail(spark):
    got = one(spark, clean_name_for_search("name"), name="Kopi Corner @ Bedok (Unit #02-11)")
    assert got == "kopi corner"


# --- tokenize / token_count ------------------------------------------------

def test_tokenize_words_min_len_and_distinct(spark):
    got = one(spark, tokenize_words(F.lit("ab abc abcd abc de")))
    assert got == ["abc", "abcd"]


def test_token_count(spark):
    assert one(spark, token_count("t"), t="  the quick  brown fox ") == 4
    assert one(spark, token_count("t"), t="") == 0


# --- keyword classifiers (P2/P8) -------------------------------------------

RULES = {
    "Malay": ["nasi", "warung", "satay"],
    "Chinese": ["kopitiam", "wanton", "dim sum"],
    "Indian": ["biryani", "prata", "tandoori"],
}


def test_keyword_classes_multi_label(spark):
    got = one(spark, keyword_classes("name", RULES, default="Local"),
              name="Nasi Biryani House")
    assert sorted(got) == ["Indian", "Malay"]


def test_keyword_classes_default(spark):
    got = one(spark, keyword_classes("name", RULES, default="Local"), name="Joe's Diner")
    assert got == ["Local"]


def test_keyword_veto_blocks_positive(spark):
    # negative keyword vetoes even when a positive keyword is present
    # (externalData.ts:455-457 order: veto first).
    expr = keyword_flag_with_veto("t", positive=["halal", "warung"], negative=["pork", "bacon"])
    assert one(spark, expr, t="Halal Pork Ribs") is False
    assert one(spark, expr, t="Warung Makan") is True
    assert one(spark, expr, t="Plain Cafe") is False


# --- haversine (G1) properties ---------------------------------------------

def test_haversine_zero_distance(spark):
    d = one(spark, haversine_km(F.lit(1.35), F.lit(103.8), F.lit(1.35), F.lit(103.8)))
    assert d == pytest.approx(0.0, abs=1e-9)


def test_haversine_symmetry(spark):
    d1 = one(spark, haversine_km(F.lit(1.30), F.lit(103.7), F.lit(1.40), F.lit(103.9)))
    d2 = one(spark, haversine_km(F.lit(1.40), F.lit(103.9), F.lit(1.30), F.lit(103.7)))
    assert d1 == pytest.approx(d2, rel=1e-12)


def test_haversine_known_value(spark):
    # Changi (1.3644, 103.9915) to Jurong East (1.3329, 103.7436) ≈ 27.8 km
    d = one(spark, haversine_km(F.lit(1.3644), F.lit(103.9915), F.lit(1.3329), F.lit(103.7436)))
    assert d == pytest.approx(27.8, abs=0.5)


def test_format_distance(spark):
    assert one(spark, format_distance(F.lit(0.85))) == "850m"
    assert one(spark, format_distance(F.lit(1.23))) == "1.2km"


# --- text analysis ----------------------------------------------------------

def test_language_id(spark):
    assert one(spark, language_id("t"), t="the cat and the dog is in that house for it") == "en"
    assert one(spark, language_id("t"), t="el gato y la casa de los que para con") == "es"
    assert one(spark, language_id("t"), t="xyzzy qwerty") == "und"


def test_doc_fingerprint_normalizes_whitespace_and_case(spark):
    a = one(spark, doc_fingerprint("t"), t="Hello   World")
    b = one(spark, doc_fingerprint("t"), t="hello world ")
    c = one(spark, doc_fingerprint("t"), t="hello worlds")
    assert a == b != c


def _winnow_sets(df, gram_hash="xxhash64"):
    """doc_id -> set of winnowing fingerprints (k=5, window=4), grouped
    from winnowing_fingerprint_rows' (id, fp) rows."""
    from cdc_makanmana_spark.operators.dedup import winnowing_fingerprint_rows

    fps = {}
    rows = winnowing_fingerprint_rows(df, "text", "doc_id", k=5, window=4, gram_hash=gram_hash)
    for r in rows.collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    return fps


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing property: documents sharing a run of >= k+window-1
    words share at least one fingerprint; unrelated documents share
    none; fingerprinting is deterministic and position-robust (the
    shared run is found regardless of where it sits in the doc)."""
    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 words >= 5+4-1
    docs = [
        (1, "intro words here " + shared + " closing remarks"),
        (2, shared + " and a completely different continuation follows now"),
        (3, "entirely unrelated content about spark physical plans and shuffles"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = _winnow_sets(df)
    assert fps[1] & fps[2], "shared 10-word run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert fps == _winnow_sets(df)  # deterministic


def test_winnowing_md5_gram_hash_portable(spark):
    """The md5_64 gram-hash path (q40's oracle-portable variant) obeys
    the same shared-run guarantee as the xxhash64 scale path, and the
    declared q40 pair query surfaces exactly the overlapping pair."""
    from cdc_makanmana_spark.plans.queries import _Q40_MIN_SHARED

    shared = "one two three four five six seven eight nine ten eleven twelve"
    docs = [
        (1, "prefix chatter before the passage " + shared),
        (2, shared + " with trailing words appended at the end here"),
        (3, "totally different text with no overlapping run of words anywhere"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = _winnow_sets(df, gram_hash="md5_64")
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert _Q40_MIN_SHARED >= 1


def test_q40_winnowing_overlap_query(spark, sf_dir):
    """q40 runs end-to-end on the fixture: pair rows are ordered
    (id_a < id_b), distinct, and shared_fps >= the declared floor."""
    from cdc_makanmana_spark.plans.queries import _Q40_MIN_SHARED, q40_winnowing_overlap

    rows = q40_winnowing_overlap(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.id_a < r.id_b
        assert r.shared_fps >= _Q40_MIN_SHARED
        assert (r.id_a, r.id_b) not in seen
        seen.add((r.id_a, r.id_b))


def test_hash_split_deterministic_and_order_independent(spark, sf_dir):
    """q41: split assignment is a pure function of the key — identical
    across reruns and across a repartition/reorder of the input, with
    ~90/5/5 mass at fixture scale."""
    from cdc_makanmana_spark.plans.queries import q41_hash_split

    a = {r.doc_id: r.split for r in q41_hash_split(spark, sf_dir).collect()}
    b = {r.doc_id: r.split for r in q41_hash_split(spark, sf_dir).collect()}
    assert a == b
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert 0.8 * n <= train <= 0.97 * n

    # reordering the table cannot change membership
    from cdc_makanmana_spark.operators.dedup import md5_hash64
    from cdc_makanmana_spark.tables import load_table

    d = load_table(spark, "documents", sf_dir).repartition(7).sortWithinPartitions("n_chars")
    bucket = F.pmod(
        md5_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), F.lit(100)
    )
    re = {
        r.doc_id: r.split
        for r in d.select(
            "doc_id",
            F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
        ).collect()
    }
    assert re == a


def test_stratified_sample_rates(spark, sf_dir):
    """q42: per-stratum keep rates land near their configured targets,
    and the sample is a deterministic subset (rerun-stable)."""
    from cdc_makanmana_spark.plans.queries import _Q42_DEFAULT_RATE, _Q42_RATES, q42_stratified_sample
    from cdc_makanmana_spark.tables import load_table

    kept = q42_stratified_sample(spark, sf_dir).groupBy("lang").count().collect()
    totals = {
        r.lang: r["count"]
        for r in load_table(spark, "documents", sf_dir).groupBy("lang").count().collect()
    }
    for r in kept:
        target = _Q42_RATES.get(r.lang, _Q42_DEFAULT_RATE) / 100.0
        frac = r["count"] / totals[r.lang]
        assert abs(frac - target) < 0.15, (r.lang, frac, target)
    again = q42_stratified_sample(spark, sf_dir).groupBy("lang").count().collect()
    assert {(r.lang, r["count"]) for r in again} == {(r.lang, r["count"]) for r in kept}


def test_sequence_packing_budget_and_continuity(spark, sf_dir):
    """q43: within each source, shard ids start at 0, never decrease in
    doc_id order, and every shard's token mass stays under budget +
    its last doc's overshoot (the greedy invariant: a shard closes only
    when the running sum crosses the budget)."""
    from collections import defaultdict

    from cdc_makanmana_spark.plans.queries import _Q43_BUDGET, q43_sequence_packing

    rows = q43_sequence_packing(spark, sf_dir).orderBy("source", "doc_id").collect()
    by_source = defaultdict(list)
    for r in rows:
        by_source[r.source].append(r)
    for src, rs in by_source.items():
        assert rs[0].shard_id == 0
        cum = 0
        prev_shard = 0
        for r in rs:
            assert r.shard_id == cum // _Q43_BUDGET
            assert r.shard_id >= prev_shard
            prev_shard = r.shard_id
            cum += r.n_tokens


def test_repetition_metrics_known_values(spark, tmp_path):
    """q45 on a crafted corpus: exact metric values for a fully
    repetitive doc, a no-repeat doc, and a single-word doc."""
    from cdc_makanmana_spark.plans.queries import q45_repetition_metrics

    docs = [
        (1, "spam spam spam spam"),           # 4 words, 1 distinct, top bigram 'spam spam' x3
        (2, "alpha beta gamma delta"),        # all distinct, every bigram unique
        (3, "single"),                        # no bigrams
        (4, ""),                              # empty text -> 1 empty token, no bigrams
        (5, "w  w   w"),                      # multi-space collapse: 'w w' x2 of 2
        (6, None),                            # dropped by the null filter
    ]
    (
        spark.createDataFrame(docs, "doc_id long, text string")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "documents.parquet"))
    )
    out = {r.doc_id: r for r in q45_repetition_metrics(spark, str(tmp_path)).collect()}
    assert out[1].rep_word_frac == 0.75 and out[1].top_bigram_frac == 1.0
    assert out[2].rep_word_frac == 0.0 and out[2].top_bigram_frac == round(1 / 3, 6)
    assert out[3].rep_word_frac == 0.0 and out[3].top_bigram_frac == 0.0
    assert out[4].rep_word_frac == 0.0 and out[4].top_bigram_frac == 0.0
    assert out[5].rep_word_frac == round(1 - 1 / 3, 6) and out[5].top_bigram_frac == 1.0
    assert 6 not in out
    # the row-local rewrite's contract: no aggregation/join shuffle and
    # no join operators. (_spread MAY inject one round-robin Exchange
    # when the input has fewer files than cores — input splitting, not
    # a data shuffle — so assert on hashpartitioning specifically.)
    plan = q45_repetition_metrics(spark, str(tmp_path))._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_token_count_bpe_matches_python_reference(spark):
    """GPT-2-style pre-tokenizer split classes: letter runs, digit
    runs, symbol runs — verified against a pure-Python re2-free
    reference on punctuation-heavy, numeric, unicode, and blank text."""
    import re as _re

    from cdc_makanmana_spark.functions.text import token_count, token_count_bpe

    cases = [
        "hello world",                     # 2
        "don't stop!!!",                   # don + ' + t + stop + !!! = 5
        "v2.0-rc1 (beta)",                 # v 2 . 0 - rc 1 ( beta ) = 10
        "3.14159 x 10^2",                  # 3 . 14159 x 10 ^ 2 = 7
        "naïve café — déjà-vu",            # unicode letters + dashes
        "",                                # 0
        "   \t ",                          # 0
        "a,b,c",                           # a , b , c = 5
    ]
    def py_count(t):
        # reference via explicit classes: letter runs / digit runs /
        # other non-space runs (mirrors BPE_TOKEN_PATTERN semantics)
        toks = _re.findall(r"[^\W\d_]+|\d+|[^ \t\n\r\f\x0b\w]+|_+", t)
        return len(toks)

    df = spark.createDataFrame(list(enumerate(cases)), "id long, text string")
    got = {
        r["id"]: (r["bpe"], r["ws"])
        for r in df.select(
            "id", token_count_bpe("text").alias("bpe"), token_count("text").alias("ws")
        ).collect()
    }
    for i, t in enumerate(cases):
        assert got[i][0] == py_count(t), (t, got[i][0], py_count(t))
    # and the headline examples pin exact values
    assert got[1][0] == 5 and got[2][0] == 10 and got[3][0] == 7
    assert got[5] == (0, 0) and got[6] == (0, 0)
    # whitespace counting differs where punctuation clusters
    assert got[1][1] == 2


class TestObserveQC:
    def test_counters_ride_the_action(self, spark, tmp_path):
        """observe() metrics come back from the write itself — no
        second scan — and count exactly the rows that flowed through."""
        from cdc_makanmana_spark.observe import observe_qc

        df = spark.createDataFrame(
            [(1, "hello world"), (2, None), (3, "   "), (4, "data")],
            "id long, text string",
        )
        observed, obs = observe_qc(df, text_col="text")
        observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
        got = obs.get
        assert got["n_rows"] == 4
        assert got["n_blank_text"] == 2          # NULL and whitespace-only
        assert got["n_text_chars"] == len("hello world") + 3 + len("data")

    def test_counts_post_filter_rows_only(self, spark):
        from cdc_makanmana_spark.observe import observe_qc

        df = spark.range(100).filter("id % 2 = 0")
        observed, obs = observe_qc(df, name="after_filter")
        assert observed.count() == 50
        assert obs.get["n_rows"] == 50


class TestProfile:
    def test_profile_stats_and_modes(self, spark):
        """Exact mode counts nulls/distincts precisely; min/max use
        NATIVE ordering (9 < 10 for ints, despite '10' < '9' as text);
        approx mode lands within the HLL error band; unknown columns
        raise; the whole profile is ONE aggregate job per mode."""
        import pytest

        from cdc_makanmana_spark.observe import profile

        df = spark.createDataFrame(
            [(9, "b"), (10, None), (10, "a"), (2, "a")],
            "k long, s string",
        )
        got = {r.col_name: r for r in profile(df, exact_distinct=True).collect()}
        assert set(got) == {"k", "s"}
        assert got["k"].n_rows == 4 and got["s"].n_rows == 4
        assert got["k"].n_nulls == 0 and got["s"].n_nulls == 1
        assert got["k"].n_distinct == 3 and got["s"].n_distinct == 2
        # native ordering before the string cast
        assert got["k"].min_value == "2" and got["k"].max_value == "10"
        assert got["s"].min_value == "a" and got["s"].max_value == "b"

        approx = {r.col_name: r for r in profile(df).collect()}
        assert abs(approx["k"].n_distinct - 3) <= 1

        with pytest.raises(ValueError, match="unknown column"):
            profile(df, ["k", "nope"])
        # explicit empty list is an error, not silently-all-columns
        with pytest.raises(ValueError, match="empty column list"):
            profile(df, [])


class TestSentenceSplitUDTF:
    def test_dataframe_and_sql_lateral(self, spark):
        from cdc_makanmana_spark.functions.table_functions import (
            SentenceSplit,
            register_table_functions,
        )

        register_table_functions(spark)
        spark.createDataFrame(
            [
                (1, "Dr. Smith arrived. He sat down! Was it 3.14? Yes..."),
                (2, None),
                (3, "One sentence without terminator"),
            ],
            "id long, text string",
        ).createOrReplaceTempView("t_sent")
        rows = spark.sql(
            "SELECT t.id, s.idx, s.sentence FROM t_sent t, "
            "LATERAL split_sentences(t.text) s ORDER BY t.id, s.idx"
        ).collect()
        got = [(r["id"], r["idx"], r["sentence"]) for r in rows]
        assert got == [
            (1, 0, "Dr. Smith arrived."),     # abbreviation did not split
            (1, 1, "He sat down!"),
            (1, 2, "Was it 3.14?"),           # decimal point did not split
            (1, 3, "Yes..."),                 # terminator run swallowed
            (3, 0, "One sentence without terminator"),
        ]                                      # NULL text: no rows
