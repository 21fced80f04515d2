"""Property-based tests (SURVEY.md §5.4): invariants that must hold on
ARBITRARY inputs, not just the fixtures — hypothesis drives the text
kernels and pagination through generated data.

Spark-session-per-example would be pathologically slow, so properties
over Spark run each hypothesis batch through ONE DataFrame (settings
cap examples accordingly); pure-python kernels (PPM/WAV) run at full
example counts.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_makanmana_spark.multimodal import kernels

# words that survive the cleaners' regexes unchanged
_word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
_texts = st.lists(
    st.lists(_word, min_size=0, max_size=30).map(" ".join), min_size=1, max_size=8
)


@given(
    arr=st.tuples(
        st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**31 - 1)
    )
)
@settings(max_examples=50, deadline=None)
def test_ppm_round_trip_property(arr):
    h, w, seed = arr
    a = np.random.default_rng(seed).integers(0, 256, (h, w, 3)).astype(np.uint8)
    assert (kernels.decode_ppm(kernels.encode_ppm(a)) == a).all()


@given(
    n=st.integers(1, 4000),
    rate=st.sampled_from([8000, 16000]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_wav_round_trip_property(n, rate, seed):
    s = np.random.default_rng(seed).uniform(-1, 1, n)
    back, got_rate = kernels.decode_wav_pcm16(kernels.encode_wav_pcm16(s, rate))
    assert got_rate == rate and len(back) == n
    assert np.abs(back - s).max() < 1e-3  # quantization bound


@given(texts=_texts)
@settings(max_examples=12, deadline=None)
def test_winnowing_containment_property(spark, texts):
    """The winnowing guarantee on arbitrary word soup: a text embedded
    inside a padded container shares at least one fingerprint with the
    container whenever the shared run reaches k + window - 1 words."""
    from cdc_makanmana_spark.operators.dedup import winnowing_fingerprint_rows

    pad = " ".join(["pad%d" % i for i in range(8)])
    texts = [t for t in texts if t.strip()]
    if not texts:
        return
    # text i is id 2i, its padded container id 2i + 1
    rows = [(2 * i, t) for i, t in enumerate(texts)]
    rows += [(2 * i + 1, f"{pad} {t} {pad}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, t string")
    fps = {}
    for r in winnowing_fingerprint_rows(df, "t", "i", k=5, window=4).collect():
        fps.setdefault(r.i, set()).add(r.fp)
    for i, t in enumerate(texts):
        if len(t.split()) >= 8:
            assert fps[2 * i] & fps[2 * i + 1]


@given(
    keys=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50)), min_size=1, max_size=40
    )
)
@settings(max_examples=10, deadline=None)
def test_keyset_pagination_total_coverage_property(spark, keys):
    """page_after over ANY multiset of (dup-able) sort keys visits
    every row exactly once, in order — the uniqueness tail (id) must
    absorb arbitrary duplication in the visible sort key."""
    from cdc_makanmana_spark.engine import MakanmanaEngine

    rows = [(f"id{i}", f"n{k:02d}") for i, (k, _) in enumerate(keys)]
    eng = MakanmanaEngine(spark.createDataFrame(rows, "id string, name string"))
    expected = sorted(rows, key=lambda r: (r[1], r[0]))
    walked, after = [], None
    for _ in range(len(rows) + 1):
        page = eng.page_after(after, by="name", limit=3).df.collect()
        if not page:
            break
        walked.extend((r.id, r.name) for r in page)
        after = page[-1]
    assert walked == expected


@given(texts=_texts)
@settings(max_examples=10, deadline=None)
def test_exact_dedup_idempotence_property(spark, texts):
    """dedup_exact is idempotent and its survivors' normalized texts
    are pairwise distinct — on arbitrary word soup."""
    from cdc_makanmana_spark.operators.dedup import _norm_text, dedup_exact

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = dedup_exact(df, "text", "doc_id")
    twice = dedup_exact(once, "text", "doc_id")
    a = sorted(r.doc_id for r in once.collect())
    assert a == sorted(r.doc_id for r in twice.collect())
    normed = [r.n for r in once.select(_norm_text(F.col("text")).alias("n")).collect()]
    assert len(normed) == len(set(normed))


@given(texts=_texts)
@settings(max_examples=8, deadline=None)
def test_simhash_pairs_equal_bruteforce_property(spark, texts):
    """simhash_hamming_pairs (value-grouped, combination-blocked) must
    equal the all-pairs XOR/bit_count result on arbitrary corpora —
    complete recall is a pigeonhole theorem, so ANY divergence is a
    bug, including empty/duplicate/near-identical texts."""
    from cdc_makanmana_spark.operators.dedup import (
        simhash_buckets,
        simhash_hamming_pairs,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_hamming_pairs(df, "text", "id", max_distance=3).collect()
    }
    sigs = {r["__id"]: r["simhash"] for r in simhash_buckets(df, "text", "id").collect()}
    ids = sorted(sigs)
    want = {
        (a, b, bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert got == want


@given(texts=_texts, ev_texts=_texts)
@settings(max_examples=8, deadline=None)
def test_decontaminate_sound_and_idempotent_property(spark, texts, ev_texts):
    """decontaminate output is always a subset of the input, contains
    NO doc sharing an n-gram with the eval set (soundness), and a
    second pass removes nothing more (idempotence)."""
    from cdc_makanmana_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    ev = spark.createDataFrame(list(enumerate(ev_texts)), "id long, text string")
    n = 3
    once = decontaminate(train, ev, "text", "id", n=n)
    kept = {r["id"] for r in once.collect()}
    assert kept <= {r["id"] for r in train.collect()}

    def grams(t):
        w = t.lower().split()
        if not w:
            return set()
        k = max(len(w) - (n - 1), 1)
        return {" ".join(w[i:i + n]) for i in range(k)}

    ev_grams = set().union(*(grams(t) for t in ev_texts)) if ev_texts else set()
    for i, t in enumerate(texts):
        if i in kept and t.strip():
            assert not (grams(t) & ev_grams), (i, t)
    twice = {r["id"] for r in decontaminate(once, ev, "text", "id", n=n).collect()}
    assert twice == kept


@given(texts=_texts)
@settings(max_examples=6, deadline=None)
def test_dedup_against_corpus_soundness_property(spark, tmp_path_factory, texts):
    """Every batch doc that survives SignatureIndex dedup is genuinely
    novel: no corpus doc has the same normalized content, and no
    corpus doc clears the Jaccard threshold against it (checked by
    brute force). Each example indexes its corpus in a fresh dir."""
    from cdc_makanmana_spark.operators.dedup_index import SignatureIndex

    rows = list(enumerate(texts))
    batch = spark.createDataFrame(
        [(i, t) for i, t in rows if i % 2 == 0], "id long, text string"
    )
    corpus = spark.createDataFrame(
        [(i, t) for i, t in rows if i % 2 == 1] or [(999, "corpus seed text")],
        "id long, text string",
    )
    idx = SignatureIndex(spark, str(tmp_path_factory.mktemp("sigidx")), id_col="id")
    idx.append(corpus, batch_id=0)
    kept = {r["id"] for r in idx.dedup_batch(batch, threshold=0.8).collect()}

    def norm(t):
        return " ".join(t.lower().split())

    def sh(t, n=3):
        w = norm(t).split(" ") if norm(t) else []
        if not w:
            return set()
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - (n - 1), 1))}

    corpus_rows = [(i, t) for i, t in rows if i % 2 == 1] or [(999, "corpus seed text")]
    cnorm = {norm(t) for _, t in corpus_rows if t is not None}
    for i, t in [(i, t) for i, t in rows if i % 2 == 0]:
        if i not in kept:
            continue
        assert norm(t) not in cnorm, (i, t, "exact dup survived")
        if norm(t):
            for _, ct in corpus_rows:
                if not norm(ct):
                    continue
                a, b = sh(t), sh(ct)
                j = len(a & b) / (len(a) + len(b) - len(a & b))
                assert j < 0.8, (i, t, ct, j)


@given(
    texts=_texts,
    window=st.integers(1, 10),
    stride_off=st.integers(0, 9),
)
@settings(max_examples=20, deadline=None)
def test_chunking_reassembly_property(spark, texts, window, stride_off):
    """chunk_documents invariants on arbitrary corpora and geometries:
    stripping each chunk's overlap prefix reassembles the normalized
    document exactly; chunk ids are contiguous from 0; every chunk has
    1..window words; blank docs yield no chunks."""
    from cdc_makanmana_spark.operators.corpus import chunk_documents

    stride = max(1, window - stride_off % window) if window > 1 else 1
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = chunk_documents(df, "text", "id", window, stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["chunk_id"]] = r
    for i, t in enumerate(texts):
        words = t.split()
        if not words:
            assert i not in by_doc
            continue
        chunks = by_doc[i]
        assert sorted(chunks) == list(range(len(chunks)))  # contiguous
        out = []
        for cid in sorted(chunks):
            r = chunks[cid]
            ws = r["chunk_text"].split(" ")
            assert 1 <= r["n_chunk_words"] <= window and len(ws) == r["n_chunk_words"]
            out.extend(ws if cid == 0 else ws[window - stride:])
        assert out == words


@given(
    obs=st.lists(st.tuples(st.integers(0, 50), st.integers(0, 100)), min_size=0, max_size=8),
    probes=st.lists(st.integers(0, 120), min_size=1, max_size=8),
    tol=st.integers(0, 60),
)
@settings(max_examples=20, deadline=None)
def test_asof_tolerance_matches_naive_property(spark, obs, probes, tol):
    """asof_join(tolerance=) equals the naive per-probe argmax with a
    staleness cutoff on arbitrary observation/probe sets (single key;
    duplicate observation times resolved to the max value first, which
    the naive reference mirrors)."""
    from cdc_makanmana_spark.operators.asof import asof_join

    best = {}
    for t, v in obs:
        best[t] = max(best.get(t, -1), v)
    right = spark.createDataFrame(
        [(1, t, float(v)) for t, v in best.items()] or [(2, 0, 0.0)],
        "k long, t long, v double",
    )
    left = spark.createDataFrame([(1, p) for p in probes], "k long, t long")
    got = {
        (r.k, r.t, i): r.obs_v
        for i, r in enumerate(
            asof_join(
                left, right, ["k"], "t", "t", ["v"], prefix="obs_", tolerance=tol
            ).collect()
        )
    }
    # naive reference
    want = []
    for p in probes:
        cand = [(t, v) for t, v in best.items() if t <= p and p - t <= tol]
        want.append(float(max(cand)[1]) if cand else None)
    assert sorted(got.values(), key=lambda x: (x is None, x)) == sorted(
        want, key=lambda x: (x is None, x)
    )


@given(
    groups=st.lists(
        st.tuples(st.integers(0, 2), st.lists(_word, min_size=1, max_size=12).map(" ".join)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(1, 4),
)
@settings(max_examples=10, deadline=None)
def test_weighted_sample_order_independent_property(spark, groups, k):
    """A-Res weighted sampling (q81's expression): membership is a pure
    function of (id, weight) — repartitioning/reordering the input
    never changes the selected set, and each group keeps exactly
    min(k, |group|) rows."""
    from pyspark.sql import Window

    from cdc_makanmana_spark.functions.text import token_count
    from cdc_makanmana_spark.operators.dedup import md5_hash64

    rows = [(i, f"g{g}", t) for i, (g, t) in enumerate(groups)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")

    def select(frame):
        w = 1 + token_count("text").cast("long")
        u = (
            F.pmod(
                md5_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":p"))),
                F.lit(1_000_000),
            )
            + 0.5
        ) / 1_000_000.0
        win = Window.partitionBy("grp").orderBy(F.desc(F.log(u) / w), F.asc("doc_id"))
        return {
            (r.grp, r.doc_id)
            for r in frame.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k)
            .collect()
        }

    a = select(df)
    b = select(df.repartition(7, "text").sortWithinPartitions(F.desc("doc_id")))
    assert a == b
    from collections import Counter

    sizes = Counter(g for g, _ in a)
    want = Counter()
    for _, (g, _t) in zip(rows, groups):
        want[f"g{g}"] += 1
    assert sizes == Counter({g: min(k, n) for g, n in want.items()})


@given(texts=st.lists(st.lists(_word, min_size=1, max_size=10).map(" ".join),
                      min_size=1, max_size=20))
@settings(max_examples=10, deadline=None)
def test_snm_pair_invariants_property(spark, texts):
    """Sorted-neighborhood pairs on arbitrary word soup: every pair is
    ordered (id_a < id_b), unique, scores within [0, 1], and honors
    the threshold; identical texts adjacent in sort order always pair
    at jaccard 1.0 when within the window."""
    from collections import Counter

    from cdc_makanmana_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted_neighborhood_pairs(df, "text", "doc_id", window=2, threshold=0.0).collect()
    pairs = [(r.id_a, r.id_b) for r in got]
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len(set(pairs))
    assert all(0.0 <= r.jaccard <= 1.0 for r in got)
    # duplicated text (<= window copies) must produce a 1.0 pair
    norm = Counter(" ".join(t.split()).lower() for t in texts)
    for t, n in norm.items():
        if 2 <= n <= 3 and t:
            assert any(
                abs(r.jaccard - 1.0) < 1e-9 for r in got
            ), f"no perfect pair for duplicated text {t!r}"
            break


@given(
    counts=st.lists(st.integers(1, 40), min_size=1, max_size=30),
)
@settings(max_examples=15, deadline=None)
def test_gini_identity_matches_reference_property(spark, counts):
    """The q93 sorted-cumsum Gini identity on arbitrary count vectors:
    equals the classic O(n log n) Python formula exactly, is 0 for
    constant vectors, and stays in [0, 1)."""
    from pyspark.sql import Window

    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "user_id long, x long")
    w = Window.partitionBy(F.lit(1)).orderBy(F.asc("x"), F.asc("user_id"))
    r = df.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    got = r.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + F.lit(1.0)) / n,
            9,
        ).alias("g")
    ).collect()[0].g
    xs = sorted(counts)
    nn, tot = len(xs), sum(xs)
    want = 2.0 * sum((i + 1) * x for i, x in enumerate(xs)) / (nn * tot) - (nn + 1.0) / nn
    assert abs(got - round(want, 9)) < 1e-9
    assert 0.0 <= got < 1.0
    if len(set(counts)) == 1:
        assert got == 0.0
