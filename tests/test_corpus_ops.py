"""Tests for the corpus-hygiene operators: benchmark decontamination
and incremental (batch-vs-corpus) dedup through SignatureIndex."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_makanmana_spark.operators.dedup import contamination_hits, decontaminate
from cdc_makanmana_spark.operators.dedup_index import SignatureIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def _corpus_index(spark, path, corpus):
    """A fresh SignatureIndex at ``path`` holding ``corpus`` — the
    served batch-vs-corpus dedup path (q50)."""
    idx = SignatureIndex(spark, str(path), id_col="id")
    idx.append(corpus, batch_id=0)
    return idx


def _kept(idx, batch, threshold=0.8):
    return sorted(r["id"] for r in idx.dedup_batch(batch, threshold).collect())


def _brute_force_kept(batch, corpus, threshold=0.8, n=3):
    """Reference dedup in plain Python: a batch row dies iff some
    corpus row has the same normalized text, or both are non-blank and
    their word n-gram sets reach ``threshold`` Jaccard."""

    def norm(t):
        return " ".join(t.lower().split())

    def shingles(t):
        w = norm(t).split(" ") if norm(t) else []
        return {" ".join(w[i:i + n]) for i in range(max(len(w) - (n - 1), 1))} if w else set()

    def dup(t, c):
        if norm(t) == norm(c):
            return True
        a, b = shingles(t), shingles(c)
        return bool(a and b) and len(a & b) / len(a | b) >= threshold

    return sorted(
        i for i, t in batch
        if t is None or not any(c is not None and dup(t, c) for _, c in corpus)
    )


class TestDecontamination:
    def test_exact_span_overlap_detected(self, spark):
        train = _docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "completely unrelated words about database engines here"),
            ],
        )
        ev = _docs(spark, [(100, "quick brown fox jumps over the lazy dog")])
        hits = {r["id"]: r["n_hits"] for r in contamination_hits(train, ev, "text", "id", n=5).collect()}
        # eval doc has 8 words -> 4 distinct 5-grams, all present in doc 1
        assert hits == {1: 4}

    def test_short_overlap_below_ngram_not_flagged(self, spark):
        # shares only a 3-word run; 5-gram decontamination must not fire
        train = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
        ev = _docs(spark, [(100, "gamma delta epsilon nine ten eleven twelve")])
        assert contamination_hits(train, ev, "text", "id", n=5).count() == 0

    def test_decontaminate_drops_and_keeps(self, spark):
        train = _docs(
            spark,
            [
                (1, "one two three four five six"),
                (2, "seven eight nine ten eleven twelve"),
                (3, None),
                (4, "   "),
            ],
        )
        ev = _docs(spark, [(100, "one two three four five six seven")])
        kept = sorted(r["id"] for r in decontaminate(train, ev, "text", "id", n=5).collect())
        # doc 1 contaminated; blank/NULL docs have no shingles and survive
        assert kept == [2, 3, 4]

    def test_case_and_whitespace_normalized(self, spark):
        train = _docs(spark, [(1, "The  Quick\tBrown Fox JUMPS")])
        ev = _docs(spark, [(100, "the quick brown fox jumps")])
        assert contamination_hits(train, ev, "text", "id", n=5).count() == 1

    def test_min_hits_threshold(self, spark):
        # doc 1 shares one 5-gram; min_hits=2 keeps it
        train = _docs(
            spark, [(1, "a b c d e unique1 unique2 unique3 unique4 unique5")]
        )
        ev = _docs(spark, [(100, "a b c d e other1 other2 other3")])
        assert decontaminate(train, ev, "text", "id", n=5, min_hits=2).count() == 1
        assert decontaminate(train, ev, "text", "id", n=5, min_hits=1).count() == 0

    def test_eval_side_is_broadcast(self, spark):
        train = _docs(spark, [(1, "one two three four five six")])
        ev = _docs(spark, [(100, "one two three four five")])
        plan = contamination_hits(train, ev, "text", "id")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestDedupAgainstCorpus:
    BASE = "spark dataframes shuffle on wide joins unless the planner broadcasts the small side first"

    def test_exact_and_near_tiers(self, spark, tmp_path):
        corpus = _docs(
            spark,
            [
                (1, self.BASE),
                (2, "an entirely different corpus document about nothing in particular at all"),
            ],
        )
        batch = _docs(
            spark,
            [
                (10, self.BASE),  # exact dup of corpus 1
                (11, self.BASE + " appended"),  # near dup of corpus 1
                (12, "fresh content that matches no existing corpus document in any way whatsoever"),
            ],
        )
        assert _kept(_corpus_index(spark, tmp_path / "idx", corpus), batch) == [12]

    def test_corpus_never_self_pairs_and_batch_dups_within_batch_survive(self, spark, tmp_path):
        # two near-identical docs INSIDE the batch, absent from the corpus:
        # incremental dedup only removes duplicates OF THE CORPUS — both stay
        # (within-batch dedup is the self-join operator's job).
        corpus = _docs(spark, [(1, "nothing shared with the new batch documents here at all")])
        t = "sequence packing groups short documents into fixed token budget bins greedily"
        batch = _docs(spark, [(10, t), (11, t + " indeed")])
        assert _kept(_corpus_index(spark, tmp_path / "idx", corpus), batch) == [10, 11]

    def test_null_and_blank_batch_rows_survive(self, spark, tmp_path):
        corpus = _docs(spark, [(1, "corpus text that is long enough to shingle properly okay")])
        batch = _docs(spark, [(10, None), (11, "   ")])
        kept = _kept(_corpus_index(spark, tmp_path / "idx", corpus), batch)
        # NULL fingerprint never matches; whitespace-only doesn't match
        # any corpus fingerprint here and can't participate in the near tier
        assert kept == [10, 11]

    def test_blank_batch_row_drops_on_exact_blank_corpus_match(self, spark, tmp_path):
        # exact tier treats two whitespace-only docs as identical content
        corpus = _docs(spark, [(1, "  ")])
        batch = _docs(spark, [(10, " \t ")])
        assert _kept(_corpus_index(spark, tmp_path / "idx", corpus), batch) == []

    def test_threshold_respected(self, spark, tmp_path):
        corpus = _docs(spark, [(1, "one two three four five six seven eight nine ten")])
        # ~50% shingle overlap: below 0.8 -> kept; at 0.3 -> dropped
        batch = _docs(spark, [(10, "one two three four five six alpha beta gamma delta epsilon")])
        idx = _corpus_index(spark, tmp_path / "idx", corpus)
        assert _kept(idx, batch, threshold=0.8) == [10]
        assert _kept(idx, batch, threshold=0.3) == []

    def test_matches_brute_force_on_fixture(self, spark, sf_dir, tmp_path):
        from cdc_makanmana_spark.tables import load_table
        from cdc_makanmana_spark.operators.dedup import word_shingles, _norm_text

        d = load_table(spark, "documents", sf_dir).select(
            F.col("doc_id").alias("id"), "text"
        )
        batch = d.filter(F.pmod("id", F.lit(4)) == 3)
        corpus = d.filter(F.pmod("id", F.lit(4)) != 3)
        got = _kept(_corpus_index(spark, tmp_path / "idx", corpus), batch, threshold=0.8)

        # brute force: exact tier on normalized text, near tier all-pairs
        nb = batch.select("id", _norm_text(F.col("text")).alias("nt"), word_shingles(F.col("text")).alias("sh"))
        nc = corpus.select(
            F.col("id").alias("cid"), _norm_text(F.col("text")).alias("cnt"), word_shingles(F.col("text")).alias("csh")
        )
        inter = F.size(F.array_intersect("sh", "csh")).cast("double")
        dropped = (
            nb.crossJoin(nc)
            .filter(
                (F.col("nt") == F.col("cnt"))
                | (
                    (F.col("nt") != "") & (F.col("cnt") != "")
                    & (inter / (F.size("sh") + F.size("csh") - inter) >= 0.8)
                )
            )
            .select("id")
            .distinct()
        )
        want = sorted(
            r["id"] for r in batch.join(dropped, "id", "left_anti").select("id").collect()
        )
        assert got == want


class TestBM25:
    DOCS = [
        (1, "spark window functions compute over partitions"),
        (2, "window window window repeated emphasis document"),
        (3, "an unrelated essay about sourdough bread"),
        (4, "scan the column store then scan again"),
        (5, None),
        (6, "   "),
    ]

    def _expected(self, terms, k1=1.2, b=0.75):
        import math

        docs = {
            i: t.lower().split()
            for i, t in self.DOCS
            if t is not None and t.strip()
        }
        n = len(docs)
        tdl = sum(len(w) for w in docs.values())
        df = {t: sum(1 for w in docs.values() if t in w) for t in terms}
        out = {}
        for i, w in docs.items():
            s = 0.0
            for t in terms:
                tf = w.count(t)
                if tf == 0 or df[t] == 0:
                    continue
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf / (tf + k1 * (1 - b + b * len(w) * n / tdl))
            if s > 0:
                out[i] = round(s, 6)
        return out

    def test_matches_python_reference(self, spark):
        from cdc_makanmana_spark.operators.search import bm25_rank

        df = spark.createDataFrame(self.DOCS, "id long, text string")
        got = {
            r["id"]: r["bm25"]
            for r in bm25_rank(df, ["window", "scan"], "text", "id", topk=10).collect()
        }
        want = self._expected(["window", "scan"])
        assert got.keys() == want.keys()
        for i in got:
            assert abs(got[i] - want[i]) < 1e-6, (i, got[i], want[i])

    def test_repeated_term_scores_higher_but_saturates(self, spark):
        from cdc_makanmana_spark.operators.search import bm25_rank

        df = spark.createDataFrame(self.DOCS, "id long, text string")
        ranked = [r["id"] for r in bm25_rank(df, ["window"], "text", "id").collect()]
        assert ranked[0] == 2          # tf=3 beats tf=1
        assert set(ranked) == {1, 2}   # non-matching docs absent

    def test_corpus_stats_artifact_equals_computed(self, spark):
        from cdc_makanmana_spark.operators.search import bm25_rank

        df = spark.createDataFrame(self.DOCS, "id long, text string")
        auto = sorted(map(tuple, bm25_rank(df, ["scan"], "text", "id").collect()))
        # stats computed by hand: docs 1-4 valid, total tokens 6+6+6+7
        pinned = sorted(
            map(tuple, bm25_rank(df, ["scan"], "text", "id", corpus_stats=(4, 25)).collect())
        )
        assert auto == pinned

    def test_topk_and_tiebreak(self, spark):
        from cdc_makanmana_spark.operators.search import bm25_rank

        # two identical docs tie exactly -> lower id first, topk cuts
        df = spark.createDataFrame(
            [(9, "scan scan scan"), (7, "scan scan scan"), (8, "scan scan scan")],
            "id long, text string",
        )
        got = [r["id"] for r in bm25_rank(df, ["scan"], "text", "id", topk=2).collect()]
        assert got == [7, 8]

    def test_empty_corpus_returns_empty(self, spark):
        from cdc_makanmana_spark.operators.search import bm25_rank

        df = spark.createDataFrame([(1, None), (2, "  ")], "id long, text string")
        out = bm25_rank(df, ["scan"], "text", "id")
        assert out.count() == 0 and out.columns == ["id", "bm25"]


class TestSignatureIndex:
    A = "the first novel document about adaptive query execution in distributed engines"
    B = "a second unrelated piece concerning columnar storage layouts and encodings"
    C = "fresh third content mentioning watermarks and state store eviction policies"

    def test_incremental_dedup_matches_recompute_operator(self, spark, tmp_path):
        """Index-backed dedup must agree with a brute-force recompute
        over the raw corpus text (every batch×corpus pair, string
        shingles) — exact dups, near dups, novel docs."""
        corpus_rows = [(1, self.A), (2, self.B)]
        batch_rows = [
            (3, self.A),                  # exact dup
            (4, self.A + " postscript"),  # near dup
            (5, self.C),                  # novel
            (6, None),                    # blank survives
        ]
        idx = _corpus_index(spark, tmp_path / "idx", _docs(spark, corpus_rows))
        got = _kept(idx, _docs(spark, batch_rows))
        assert got == _brute_force_kept(batch_rows, corpus_rows) == [5, 6]

    def test_append_grows_index_and_is_idempotent(self, spark, tmp_path):
        idx = SignatureIndex(spark, str(tmp_path / "idx"), id_col="id")
        idx.append(_docs(spark, [(1, self.A)]), batch_id=0)
        # batch 2 survivor C gets appended; a later near-dup of C dies
        b2 = idx.dedup_batch(_docs(spark, [(7, self.C)]))
        assert [r["id"] for r in b2.collect()] == [7]
        idx.append(b2, batch_id=1)
        idx.append(b2, batch_id=1)  # retry of the same micro-batch
        assert idx.docs().count() == 2  # no duplicate index rows
        b3 = idx.dedup_batch(_docs(spark, [(8, self.C + " addendum"), (9, self.B)]))
        assert sorted(r["id"] for r in b3.collect()) == [9]

    def test_empty_index_passes_batch_through(self, spark, tmp_path):
        idx = SignatureIndex(spark, str(tmp_path / "idx"), id_col="id")
        batch = _docs(spark, [(1, self.A)])
        assert idx.dedup_batch(batch).count() == 1

    def test_parameter_mismatch_raises(self, spark, tmp_path):
        SignatureIndex(spark, str(tmp_path / "idx"), id_col="id", num_hashes=32)
        with pytest.raises(ValueError, match="was built with"):
            SignatureIndex(spark, str(tmp_path / "idx"), id_col="id", num_hashes=64)

    def test_completed_batch_retry_never_wipes_index(self, spark, tmp_path):
        """The composed foreachBatch retry: after a COMPLETED ingest of
        batch 1, re-running the same batch must (a) not wipe the
        batch's index entries and (b) return the original survivors —
        the re-run dedup sees the batch's own rows in the index, so a
        naive re-dedup-and-overwrite would yield zero survivors and
        empty the batch's directories."""
        idx = SignatureIndex(spark, str(tmp_path / "idx"), id_col="id")
        idx.append(_docs(spark, [(1, self.A)]), batch_id=0)
        batch = _docs(spark, [(5, self.C), (6, self.A)])  # novel + dup
        first = sorted(r["id"] for r in idx.ingest(batch, batch_id=1).collect())
        assert first == [5]
        # driver crashed before the streaming checkpoint committed;
        # Spark re-runs batch 1 verbatim
        retry = sorted(r["id"] for r in idx.ingest(batch, batch_id=1).collect())
        assert retry == [5]                       # original survivors recovered
        assert idx.docs().count() == 2            # batch 1's entry still indexed
        # future dups of the batch-1 survivor still die
        later = idx.ingest(_docs(spark, [(9, self.C + " tail")]), batch_id=2)
        assert later.count() == 0

    def test_ingest_computes_minhash_once_and_matches_two_step(self, spark, tmp_path):
        """ingest == dedup_batch + append in one pass; the resulting
        index state must be equivalent (same docs, same postings)."""
        a = SignatureIndex(spark, str(tmp_path / "a"), id_col="id")
        b = SignatureIndex(spark, str(tmp_path / "b"), id_col="id")
        corpus = _docs(spark, [(1, self.A), (2, self.B)])
        a.append(corpus, batch_id=0)
        b.append(corpus, batch_id=0)
        batch = _docs(spark, [(5, self.C), (6, self.A), (7, None)])
        got = sorted(r["id"] for r in a.ingest(batch, batch_id=1).collect())
        keep = b.dedup_batch(batch)
        b.append(keep, batch_id=1)
        assert got == sorted(r["id"] for r in keep.collect()) == [5, 7]
        rows_a = sorted(map(tuple, a.docs().select("id", "fp").collect()))
        rows_b = sorted(map(tuple, b.docs().select("id", "fp").collect()))
        assert rows_a == rows_b
        pa = sorted(map(tuple, a.buckets().collect()))
        pb = sorted(map(tuple, b.buckets().collect()))
        assert pa == pb


class TestChunkDocuments:
    """chunk_documents (operators/corpus.py, declared as q64)."""

    def _chunks(self, spark, rows, window, stride):
        from cdc_makanmana_spark.operators.corpus import chunk_documents

        df = _docs(spark, rows)
        return {
            (r["id"], r["chunk_id"]): (r["n_chunk_words"], r["chunk_text"])
            for r in chunk_documents(df, "text", "id", window, stride).collect()
        }

    def _reference(self, text, window, stride):
        """Plain-Python chunker: starts at 1, 1+S, ...; keep a start iff
        it's the first or the previous chunk didn't already reach the
        end of the words."""
        words = text.lower().split()
        out = {}
        cid = 0
        for s in range(1, len(words) + 1, stride):
            if not (s == 1 or s - stride + window - 1 < len(words)):
                continue
            w = words[s - 1 : s - 1 + window]
            out[cid] = (len(w), " ".join(w))
            cid += 1
        return out

    def test_matches_python_reference(self, spark):
        text = " ".join(f"w{i}" for i in range(25))
        got = self._chunks(spark, [(1, text)], window=8, stride=6)
        ref = self._reference(text, 8, 6)
        assert got == {(1, cid): v for cid, v in ref.items()}

    def test_short_doc_single_chunk(self, spark):
        got = self._chunks(spark, [(1, "only three words")], window=64, stride=48)
        assert got == {(1, 0): (3, "only three words")}

    def test_blank_and_null_dropped(self, spark):
        got = self._chunks(
            spark, [(1, None), (2, "   "), (3, "a b")], window=4, stride=4
        )
        assert got == {(3, 0): (2, "a b")}

    def test_no_tail_chunk_contained_in_predecessor(self, spark):
        # 100 words, window 64 stride 48: start 97 would yield a chunk
        # fully inside 49..100 — must be dropped; ids stay contiguous
        text = " ".join(f"w{i}" for i in range(100))
        got = self._chunks(spark, [(1, text)], window=64, stride=48)
        assert set(got) == {(1, 0), (1, 1)}
        assert got[(1, 1)] == (52, " ".join(f"w{i}" for i in range(48, 100)))

    def test_overlap_reassembles_exactly(self, spark):
        """Dropping each chunk's first (window-stride) overlap words
        after chunk 0 reconstructs the normalized document."""
        text = " ".join(f"tok{i}" for i in range(137))
        got = self._chunks(spark, [(7, text)], window=32, stride=24)
        parts = []
        for cid in sorted(c for (_, c) in got):
            words = got[(7, cid)][1].split(" ")
            parts.extend(words if cid == 0 else words[32 - 24 :])
        assert " ".join(parts) == text

    def test_stride_greater_than_window_rejected(self, spark):
        from cdc_makanmana_spark.operators.corpus import chunk_documents

        with pytest.raises(ValueError, match="stride"):
            chunk_documents(_docs(spark, [(1, "a b")]), "text", "id", 4, 8)


class TestBigramCommonness:
    """bigram_commonness (operators/corpus.py, declared as q65)."""

    def test_matches_python_reference(self, spark):
        from collections import Counter

        from cdc_makanmana_spark.operators.corpus import bigram_commonness

        rows = [
            (1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "a completely different sentence here"),
            (4, "one"),       # < 2 words: no row
            (5, None),        # NULL: no row
        ]
        corpus = Counter()
        per_doc = {}
        for i, t in rows:
            if t is None:
                continue
            w = t.lower().split()
            bg = [f"{a} {b}" for a, b in zip(w, w[1:])]
            if bg:
                per_doc[i] = bg
                corpus.update(bg)
        expected = {}
        for i, bg in per_doc.items():
            s = sum(corpus[b] for b in bg)
            expected[i] = (len(bg), s, round(s / len(bg), 6))
        got = {
            r["id"]: (r["n_bigrams"], r["sum_freq"], r["avg_bigram_freq"])
            for r in bigram_commonness(_docs(spark, rows), "text", "id").collect()
        }
        assert got == expected

    def test_boilerplate_scores_above_unique_text(self, spark):
        from cdc_makanmana_spark.operators.corpus import bigram_commonness

        rows = [(i, "subscribe to our newsletter for updates") for i in range(10)]
        rows.append((99, "xylophone quark nebula parsnip vortex lattice"))
        got = {
            r["id"]: r["avg_bigram_freq"]
            for r in bigram_commonness(_docs(spark, rows), "text", "id").collect()
        }
        assert got[0] == 10.0 and got[99] == 1.0


class TestSignatureIndexScrub:
    A = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    B = "completely different second document with its own unique words here now"

    def test_scrub_removes_doc_and_future_ingests_pass(self, spark, tmp_path):
        """Erasing a doc from the index must remove its fingerprint,
        signature and postings — afterwards identical content is no
        longer suppressed (the index stops ACTING on the erased text)."""
        ix = SignatureIndex(spark, str(tmp_path / "ix"), id_col="id")
        ix.append(_docs(spark, [(1, self.A), (2, self.B)]), batch_id=0)
        # duplicate of doc 1 is suppressed while 1 is indexed
        dup = _docs(spark, [(10, self.A)])
        assert ix.dedup_batch(dup).count() == 0

        stats = ix.scrub([1, 999])
        assert stats["docs_removed"] == 1 and stats["batches_rewritten"] >= 2
        assert sorted(r["id"] for r in ix.docs().collect()) == [2]
        assert ix.buckets().filter("id = 1").count() == 0
        # the erased content now ingests clean
        assert [r["id"] for r in ix.dedup_batch(dup).collect()] == [10]
        # idempotent / no-op paths
        assert ix.scrub([1])["batches_rewritten"] == 0
        assert ix.scrub([])["docs_removed"] == 0

    def test_scrub_crash_window_heals_on_read(self, spark, tmp_path):
        """A scrub killed between the two renames leaves the batch dir
        as a hole with committed staging — the next read heals it."""
        import shutil

        from cdc_makanmana_spark import fs
        from cdc_makanmana_spark.operators.dedup_index import (
            _SCRUB_STAGING,
            SignatureIndex,
        )

        root = str(tmp_path / "ix2")
        ix = SignatureIndex(spark, root, id_col="id")
        ix.append(_docs(spark, [(1, self.A), (2, self.B)]), batch_id=0)
        n_docs = ix.docs().count()
        p = f"{root}/docs/b0"
        staging = f"{root}/docs/{_SCRUB_STAGING}b0"
        shutil.copytree(p, staging)
        fs.mark_committed(spark, staging)
        shutil.rmtree(p)
        assert ix.docs().count() == n_docs  # healed transparently
        import os

        assert os.path.exists(p) and not os.path.exists(staging)
        # uncommitted staging + intact batch dir -> swept
        shutil.copytree(p, staging)
        assert ix.docs().count() == n_docs
        assert not os.path.exists(staging)


class TestSignatureIndexCompact:
    A = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    B = "completely different second document with its own unique words here now"
    C = "a third document about spark engines and distributed analytics at scale"

    def _mk(self, spark, tmp_path):
        ix = SignatureIndex(spark, str(tmp_path / "ixc"), id_col="id")
        ix.append(_docs(spark, [(1, self.A), (2, self.B)]), batch_id=0)
        ix.append(_docs(spark, [(3, self.C)]), batch_id=1)
        return ix

    def test_compact_folds_batches_preserving_semantics(self, spark, tmp_path):
        import os

        ix = self._mk(spark, tmp_path)
        before_docs = sorted(r["id"] for r in ix.docs().collect())
        before_buckets = sorted(map(tuple, ix.buckets().collect()))
        assert ix.compact() >= 4  # 2 docs dirs + 2 buckets dirs
        root = str(tmp_path / "ixc")
        assert sorted(os.listdir(f"{root}/docs")) == ["base"]
        assert sorted(r["id"] for r in ix.docs().collect()) == before_docs
        assert sorted(map(tuple, ix.buckets().collect())) == before_buckets
        # write-once guard survives: re-append of folded batch is a no-op
        ix.append(_docs(spark, [(9, self.A)]), batch_id=0)
        assert sorted(r["id"] for r in ix.docs().collect()) == before_docs
        # ingest retry of a folded batch recovers survivors by provenance
        got = sorted(
            r["id"] for r in ix.ingest(_docs(spark, [(3, self.C), (4, self.A)]), batch_id=1).collect()
        )
        assert got == [3]  # batch 1's original survivor, not a re-dedup
        # dedup still suppresses duplicates of folded content
        assert ix.dedup_batch(_docs(spark, [(10, self.B)])).count() == 0
        # second compact with one more batch folds base + new dir
        ix.append(_docs(spark, [(5, "brand new fifth text unlike the others entirely")]), batch_id=2)
        assert ix.compact() >= 4
        assert ix._folded_ids("docs") >= {"b0", "b1", "b2"}

    def test_compact_refuses_missing_src_batch_provenance(self, spark, tmp_path):
        """A docs batch dir written without src_batch (older index
        version / schema drift) must fail the fold loudly: folded into
        base with NULL provenance, ingest()'s retry recovery would
        return zero survivors and silently drop a retried batch."""
        import pytest as _pytest

        from cdc_makanmana_spark import fs

        ix = self._mk(spark, tmp_path)
        bdir = str(tmp_path / "ixc" / "docs" / "b0")
        drifted = spark.read.parquet(bdir).drop("src_batch")
        drifted.write.mode("overwrite").parquet(bdir + ".tmp")
        fs.delete(spark, bdir)
        fs.rename(spark, bdir + ".tmp", bdir)
        fs.mark_committed(spark, bdir)
        with _pytest.raises(ValueError, match="src_batch"):
            ix.compact()

    def test_compact_crash_heals_without_double_serve(self, spark, tmp_path):
        import shutil

        from cdc_makanmana_spark import fs
        from cdc_makanmana_spark.operators.dedup_index import _CMP_STAGING, _MANIFEST

        ix = self._mk(spark, tmp_path)
        n = ix.docs().count()
        root = str(tmp_path / "ixc") + "/docs"
        # simulate: staging committed, inputs NOT yet deleted
        staging = f"{root}/{_CMP_STAGING}"
        merged = spark.read.parquet(f"{root}/b0", f"{root}/b1")
        merged.write.mode("overwrite").parquet(staging)
        fs.write_text(spark, f"{staging}/{_MANIFEST}", "b0\nb1\n#ids\nb0\nb1")
        fs.mark_committed(spark, staging)
        assert ix.docs().count() == n  # healed: no double-serve
        import os

        assert sorted(os.listdir(root)) == ["base"]

    def test_scrub_after_compact_keeps_append_guard(self, spark, tmp_path):
        ix = self._mk(spark, tmp_path)
        ix.compact()
        stats = ix.scrub([1])
        assert stats["docs_removed"] == 1
        # the folded-batch memory survived the scrub rewrite
        assert ix._folded_ids("docs") >= {"b0", "b1"}
        ix.append(_docs(spark, [(7, self.A)]), batch_id=0)  # still a no-op
        assert sorted(r["id"] for r in ix.docs().collect()) == [2, 3]


class TestBPE:
    """bpe_train_merges / bpe_tokenize (operators/corpus.py) against a
    plain-Python reference implementation of Sennrich et al.'s
    algorithm (same tie-break: max count, then lexicographic pair)."""

    @staticmethod
    def _ref_train(texts, n_merges, min_freq=2):
        from collections import Counter

        freq = Counter()
        for t in texts:
            for w in t.lower().split():
                freq[tuple(list(w) + ["</w>"])] += 1
        merges = []
        for _ in range(n_merges):
            pc = Counter()
            for sym, f in freq.items():
                for a, b in zip(sym, sym[1:]):
                    pc[(a, b)] += f
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < min_freq:
                break
            (a, b) = best[0]
            merges.append((a, b))
            new = Counter()
            for sym, f in freq.items():
                out = []
                for s in sym:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                new[tuple(out)] += f
            freq = new
        return merges

    TEXTS = [
        "low low low low low lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest",
    ]

    def test_merges_match_python_reference(self, spark):
        from cdc_makanmana_spark.operators.corpus import bpe_train_merges

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id long, text string"
        )
        got = bpe_train_merges(df, "text", n_merges=12)
        assert got == self._ref_train(self.TEXTS, 12)
        # canonical example: first merges build 'est</w>' and 'low'
        assert got[:3] == [("e", "s"), ("es", "t"), ("est", "</w>")]

    def test_tokenize_roundtrips_and_respects_word_boundaries(self, spark):
        from cdc_makanmana_spark.operators.corpus import (
            bpe_tokenize,
            bpe_train_merges,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id long, text string"
        )
        merges = bpe_train_merges(df, "text", n_merges=12)
        toks = {
            r["id"]: r["tokens"]
            for r in bpe_tokenize(df, "text", "id", merges).collect()
        }
        # concatenating tokens (stripping </w>) reconstructs the text
        for i, t in enumerate(self.TEXTS):
            joined = "".join(toks[i]).replace("</w>", " ").strip()
            assert joined == t
        # no token spans a word boundary: every '</w>' is token-final
        for ts in toks.values():
            for tok in ts:
                assert "</w>" not in tok[:-4] or tok.endswith("</w>")
        # fully-merged frequent words become single tokens
        assert "newest</w>" in toks[1]


class TestQ46MinByDedupSemantics:
    """Pin the r10 q46 rewrite's semantics (r10 ADVICE): the min_by
    aggregate keeps EXACTLY ONE row per text fingerprint, keyed by min
    doc_id — whereas the generic ``dedup_exact`` join-back keeps every
    row carrying the min id. The two coincide only while doc_id is
    unique per document, which the fixture contract guarantees; both
    halves are pinned here so a duplicated-doc_id fixture would fail
    loudly instead of silently changing q46's counts."""

    def test_fixture_doc_ids_are_unique(self, spark, sf_dir):
        from cdc_makanmana_spark.tables import load_table

        d = load_table(spark, "documents", sf_dir)
        total, distinct = d.select(
            F.count("doc_id"), F.count_distinct("doc_id")
        ).first()
        assert total == distinct and total > 0

    def test_min_by_keeps_one_row_per_fingerprint(self, spark):
        from cdc_makanmana_spark.functions.text import doc_fingerprint

        # doc_id 1 duplicated across two langs with identical text:
        # min_by keeps ONE of the duplicate-id rows (the struct
        # ordering breaks the doc_id tie by the remaining fields);
        # dedup_exact's join-back would keep BOTH rows with id 1.
        df = spark.createDataFrame(
            [
                (1, "en", "same words here"),
                (1, "fr", "same words here"),
                (2, "en", "same words here"),
                (3, "de", "different words entirely"),
            ],
            "doc_id long, lang string, text string",
        )
        deduped = (
            df.select("doc_id", "lang", doc_fingerprint("text").alias("__fp"))
            .groupBy("__fp")
            .agg(
                F.min_by(
                    F.struct("doc_id", "lang"), F.col("doc_id")
                ).alias("__r")
            )
            .select("__r.*")
        )
        rows = {(r.doc_id, r.lang) for r in deduped.collect()}
        assert len(rows) == 2  # one survivor per distinct text
        assert (3, "de") in rows
        assert {r[0] for r in rows} == {1, 3}  # min doc_id survives


class TestCorpusPipeline:
    """CorpusPipeline facade: zero new semantics — its composition must
    equal the q46 pipeline's kept set, stage for stage."""

    def test_composition_matches_q46_stages(self, spark, sf_dir):
        from cdc_makanmana_spark.corpus_engine import CorpusPipeline
        from cdc_makanmana_spark.functions.text import quality_score
        from cdc_makanmana_spark.operators.dedup import _norm_text, dedup_exact
        from cdc_makanmana_spark.tables import load_table

        d = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "text")
        pipe = (
            CorpusPipeline(d)
            .quality_filter(0.5)
            .repetition_filter(0.6)
            .dedup_exact()
            .split()
        )
        got = {
            (r.split, r.lang): r.n
            for r in pipe.df.groupBy("split", "lang").agg(F.count("*").alias("n")).collect()
        }
        # manual replay of the same stages (q46's construction)
        words = F.split(_norm_text(F.col("text")), " ")
        kept = (
            d.filter(F.col("text").isNotNull())
            .filter(quality_score("text") >= 0.5)
            .filter(
                (1.0 - F.size(F.array_distinct(words)).cast("double") / F.size(words))
                <= 0.6
            )
        )
        from cdc_makanmana_spark.operators.dedup import md5_hash64

        deduped = dedup_exact(kept, "text", "doc_id")
        bucket = F.pmod(
            md5_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            F.lit(100),
        )
        want = {
            (r.split, r.lang): r.n
            for r in deduped.withColumn(
                "split",
                F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
            )
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want and sum(got.values()) > 0

    def test_decontaminate_scrub_and_pack(self, spark):
        from cdc_makanmana_spark.corpus_engine import CorpusPipeline

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "email me at secret about the plan now please thanks"),
                (3, "completely unrelated words describing database engines here"),
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "quick brown fox jumps over the lazy dog")], "doc_id long, text string"
        )
        pipe = CorpusPipeline(docs).decontaminate(ev).blocklist_scrub(["secret"])
        rows = {r.doc_id: r.text for r in pipe.df.collect()}
        assert 1 not in rows                       # contaminated doc dropped
        assert "[REDACTED]" in rows[2] and "secret" not in rows[2]
        packed = pipe.pack(budget=5).df
        assert {"n_tokens", "shard_id"} <= set(packed.columns)
        assert packed.filter("shard_id >= 0").count() == 2

    def test_blocklist_terms_are_literal_not_patterns(self, spark):
        """A term containing regex metacharacters ('c++', 'a.b') must
        match literally — unquoted it would change match semantics or
        throw a pattern-compile error at execution time."""
        from cdc_makanmana_spark.corpus_engine import CorpusPipeline

        docs = spark.createDataFrame(
            [
                (1, "we write c++ at work"),
                (2, "the acb token must survive a.b scrubbing"),
                (3, "plain ccc text stays"),
            ],
            "doc_id long, text string",
        )
        pipe = CorpusPipeline(docs).blocklist_scrub(["c++", "a.b"])
        rows = {r.doc_id: r.text for r in pipe.df.collect()}
        assert "[REDACTED]" in rows[1] and "c++" not in rows[1]
        assert "acb" in rows[2] and "a.b" not in rows[2]  # dot is literal
        assert rows[3] == "plain ccc text stays"

    def test_snm_sample_and_profile_stages(self, spark):
        """The session-4 stages compose through the facade: dedup_snm
        drops the sort-adjacent near-dup, sample_weighted keeps k per
        group deterministically, profile reports the current state
        without mutating the pipeline."""
        from cdc_makanmana_spark.corpus_engine import CorpusPipeline

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, "en", base),
                (2, "en", base + " extra"),
                (3, "en", "alpha unrelated words entirely different today"),
                (4, "de", "zzz ein anderer block ganz anders hier"),
            ],
            "doc_id long, lang string, text string",
        )
        pipe = CorpusPipeline(docs).dedup_snm(window=2, threshold=0.5)
        kept = sorted(r.doc_id for r in pipe.df.collect())
        assert kept == [1, 3, 4]                  # 2 folded into 1's cluster

        sampled = pipe.sample_weighted(1, "lang")
        ids_a = sorted(r.doc_id for r in sampled.df.collect())
        ids_b = sorted(r.doc_id for r in pipe.sample_weighted(1, "lang").df.collect())
        assert ids_a == ids_b and len(ids_a) == 2  # deterministic, 1 per lang

        prof = {r.col_name: r for r in pipe.profile(["lang"]).collect()}
        assert prof["lang"].n_rows == 3 and prof["lang"].n_nulls == 0
        assert sorted(r.doc_id for r in pipe.df.collect()) == kept  # unchanged
