"""Repetition / corpus-duplication signal tests.

Beyond-reference training-pipeline layer (no reference counterpart —
SURVEY §2.5 notes the reference has no corpus-analysis surface). Tests
pin the Gopher-style definitions on hand-computable documents and the
cross-doc span signal on planted duplicates.
"""

import pytest
from pyspark.sql import functions as F

from datagrowth_spark.operators.repetition import (
    crossdoc_span_stats,
    distinct_token_ratio,
    ngram_repetition,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestNgramRepetition:
    def test_hand_computed_bigram_stats(self, spark):
        # "a b a b c": bigrams = [a b, b a, a b, b c] → 4 occurrences,
        # "a b" twice → dup_occ=2, top=("a b", 2), chars=9.
        out = ngram_repetition(_docs(spark, [(1, "a b a b c")]), n=2).collect()[0]
        assert out["n_ngrams"] == 4
        assert out["dup_ngram_frac"] == pytest.approx(0.5)
        assert out["top_ngram"] == "a b"
        assert out["top_ngram_count"] == 2
        assert out["top_ngram_char_frac"] == pytest.approx(2 * 3 / 9, abs=1e-6)

    def test_all_unique_bigrams(self, spark):
        out = ngram_repetition(_docs(spark, [(1, "a b c d")]), n=2).collect()[0]
        assert out["dup_ngram_frac"] == 0.0
        assert out["top_ngram_count"] == 1

    def test_tie_breaks_deterministically(self, spark):
        # Both bigrams occur once; longer n-gram wins the tie, then the
        # lexicographically larger one.
        out = ngram_repetition(_docs(spark, [(1, "xx yy z")]), n=2).collect()[0]
        assert out["top_ngram"] == "xx yy"  # len 5 beats "yy z" len 4

    def test_short_doc_produces_no_row(self, spark):
        assert ngram_repetition(_docs(spark, [(1, "solo")]), n=2).count() == 0

    def test_degenerate_repeat_flagged(self, spark):
        # "spam spam ... spam" — every bigram identical: dup frac 1,
        # top bigram covers ~all characters.
        text = " ".join(["spam"] * 50)
        out = ngram_repetition(_docs(spark, [(1, text)]), n=2).collect()[0]
        assert out["dup_ngram_frac"] == 1.0
        assert out["top_ngram_char_frac"] > 0.9


class TestDistinctTokenRatio:
    def test_ratio(self, spark):
        df = _docs(spark, [(1, "a a b b"), (2, "a b c d")])
        got = {
            r["doc_id"]: r["r"]
            for r in df.select("doc_id", F.round(distinct_token_ratio("text"), 6).alias("r")).collect()
        }
        assert got[1] == pytest.approx(0.5)
        assert got[2] == pytest.approx(1.0)

    def test_empty_text_is_zero_not_nan(self, spark):
        row = _docs(spark, [(1, "")]).select(distinct_token_ratio("text").alias("r")).collect()[0]
        assert row["r"] == 0.0


class TestCrossdocSpans:
    def test_planted_duplicate_is_fully_shared(self, spark):
        base = " ".join(f"w{i}" for i in range(20))
        other = " ".join(f"v{i}" for i in range(20))
        df = _docs(spark, [(1, base), (2, base), (3, other)])
        got = {r["id"]: r for r in crossdoc_span_stats(df, n=8).collect()}
        assert got[1]["shared_frac"] == 1.0
        assert got[2]["shared_frac"] == 1.0
        assert got[3]["shared_frac"] == 0.0
        assert got[3]["n_spans"] == 13  # 20 tokens → 13 distinct 8-grams

    def test_partial_overlap(self, spark):
        # Doc 2 copies doc 1's first 10 tokens then diverges: the shared
        # spans are exactly the 3 8-grams fully inside the copied prefix.
        shared_prefix = " ".join(f"w{i}" for i in range(10))
        df = _docs(spark, [
            (1, shared_prefix + " " + " ".join(f"a{i}" for i in range(10))),
            (2, shared_prefix + " " + " ".join(f"b{i}" for i in range(10))),
        ])
        got = {r["id"]: r for r in crossdoc_span_stats(df, n=8).collect()}
        assert got[1]["shared_spans"] == 3
        assert got[2]["shared_spans"] == 3


class TestSpanRewrite:
    """drop_duplicated_spans — the exact-substring dedup REWRITE."""

    def test_keeper_intact_dup_stripped(self, spark):
        from datagrowth_spark.operators.dedup import drop_duplicated_spans

        base = " ".join(f"w{i}" for i in range(12))
        other = " ".join(f"v{i}" for i in range(12))
        df = _docs(spark, [(1, base), (2, base), (3, other)])
        got = {r["doc_id"]: r for r in drop_duplicated_spans(df, n=8).collect()}
        # keeper (min id) keeps its text verbatim
        assert got[1]["text_deduped"] == base and got[1]["n_removed"] == 0
        # the duplicate loses every covered token (all 12 are inside
        # some shared 8-gram)
        assert got[2]["text_deduped"] == "" and got[2]["n_removed"] == 12
        # the unrelated doc is untouched
        assert got[3]["text_deduped"] == other and got[3]["n_removed"] == 0

    def test_partial_overlap_removes_only_covered_prefix(self, spark):
        from datagrowth_spark.operators.dedup import drop_duplicated_spans

        shared = " ".join(f"w{i}" for i in range(10))
        tail_a = " ".join(f"a{i}" for i in range(10))
        tail_b = " ".join(f"b{i}" for i in range(10))
        df = _docs(spark, [(1, shared + " " + tail_a), (2, shared + " " + tail_b)])
        got = {r["doc_id"]: r for r in drop_duplicated_spans(df, n=8).collect()}
        assert got[1]["n_removed"] == 0
        # doc 2: shared 8-grams are those fully inside the 10-token
        # prefix -> starts 0..2, covering token positions 0..9
        assert got[2]["n_removed"] == 10
        assert got[2]["text_deduped"] == tail_b

    def test_short_docs_pass_through(self, spark):
        from datagrowth_spark.operators.dedup import drop_duplicated_spans

        df = _docs(spark, [(1, "a b c"), (2, "a b c")])
        got = {r["doc_id"]: r for r in drop_duplicated_spans(df, n=8).collect()}
        assert got[1]["n_removed"] == 0 and got[2]["n_removed"] == 0
        assert got[2]["text_deduped"] == "a b c"

    def test_null_text_passes_through_empty(self, spark):
        from datagrowth_spark.operators.dedup import drop_duplicated_spans

        df = spark.createDataFrame([(1, None), (2, "a b c")],
                                   "doc_id long, text string")
        got = {r["doc_id"]: r for r in drop_duplicated_spans(df, n=8).collect()}
        assert got[1]["n_tokens"] == 0 and got[1]["n_removed"] == 0
        assert got[1]["text_deduped"] == ""


class TestIncrementalDedup:
    """incremental_minhash_dedup — batch-vs-store near-dup verdicts."""

    def test_store_hit_batch_hit_and_novel(self, spark):
        from datagrowth_spark.operators.dedup import (
            incremental_minhash_dedup, minhash_signature)

        text_a = " ".join(f"w{i}" for i in range(30))
        text_b = " ".join(f"z{i}" for i in range(30))
        store_docs = _docs(spark, [(1, text_a)])
        # 10 = dup of store doc 1; 11+12 = batch-internal dups of each
        # other; 13 = novel
        batch = _docs(spark, [
            (10, text_a), (11, text_b), (12, text_b),
            (13, " ".join(f"q{i}" for i in range(30))),
        ])
        store_sigs = minhash_signature(store_docs, num_hashes=16, n=3)
        result = incremental_minhash_dedup(
            batch, store_sigs, num_hashes=16, bands=4, n=3, threshold=0.5)
        verdicts, new_sigs = result  # handle unpacks as the 2-tuple
        got = {r["id"]: r for r in verdicts.collect()}
        assert got[10]["is_dup"] and got[10]["dup_of"] == 1
        assert got[10]["est_jaccard"] == 1.0
        assert not got[11]["is_dup"] and got[11]["dup_of"] is None
        assert got[12]["is_dup"] and got[12]["dup_of"] == 11
        assert not got[13]["is_dup"]
        # new_sigs append-compatible with the store
        assert set(new_sigs.columns) == set(store_sigs.columns)
        assert new_sigs.count() == 4
        result.cleanup()

    def test_cleanup_empties_cache(self, spark):
        """The operator persists the batch signatures (the probe reads
        them several times); the result handle's cleanup() must drop
        that cache — DataFrame caches live in the SQL CacheManager, a
        strong driver-side ref the ContextCleaner never collects, so a
        leak here accumulates one cache per ingest batch in a daemon."""
        from datagrowth_spark.operators.dedup import (
            incremental_minhash_dedup, minhash_signature)

        spark.catalog.clearCache()  # caches are transparent; start clean
        text = " ".join(f"w{i}" for i in range(30))
        store_sigs = minhash_signature(_docs(spark, [(1, text)]),
                                       num_hashes=16, n=3)
        for batch_id in (10, 20):  # two ingest rounds, as a daemon would
            batch = _docs(spark, [(batch_id, text)])
            result = incremental_minhash_dedup(
                batch, store_sigs, num_hashes=16, bands=4, n=3)
            result.verdicts.count()  # materialize BEFORE cleanup (the contract)
            result.cleanup()
        jcm = spark._jsparkSession.sharedState().cacheManager()
        assert jcm.isEmpty(), "cleanup leaked a cached plan"

    def test_cleanup_safe_after_derived_frames(self, spark):
        """Deriving new frames from new_sigs before cleanup must not
        leak: the handle owns the original persisted frames, not
        whatever the caller last touched (the monkey-patch design this
        replaced broke exactly here)."""
        from datagrowth_spark.operators.dedup import (
            incremental_minhash_dedup, minhash_signature)

        spark.catalog.clearCache()
        text = " ".join(f"w{i}" for i in range(30))
        store_sigs = minhash_signature(_docs(spark, [(1, text)]),
                                       num_hashes=16, n=3)
        result = incremental_minhash_dedup(
            _docs(spark, [(10, text)]), store_sigs, num_hashes=16, bands=4, n=3)
        appended = result.new_sigs.select(store_sigs.columns)  # derived frame
        result.verdicts.count()
        assert appended.count() == 1
        result.cleanup()
        jcm = spark._jsparkSession.sharedState().cacheManager()
        assert jcm.isEmpty(), "cleanup leaked a cached plan"


class TestContainment:
    def test_subset_doc_has_full_containment_tiny_jaccard(self, spark):
        from datagrowth_spark.operators.dedup import (
            ngram_containment_pairs, ngram_jaccard_pairs)

        quote = " ".join(f"w{i}" for i in range(6))          # 4 shingles
        host = quote + " " + " ".join(f"h{i}" for i in range(40))
        df = _docs(spark, [(1, quote), (2, host)])
        got = ngram_containment_pairs(df, n=3, threshold=0.9).collect()
        assert len(got) == 1
        row = got[0]
        assert (row["id_a"], row["id_b"]) == (1, 2)
        assert row["cont_a"] == 1.0          # quote fully inside host
        assert row["cont_b"] < 0.2           # host barely overlaps quote
        # symmetric jaccard misses this pair entirely at any usable cut
        jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
        assert jac == []


class TestNgramNovelty:
    def test_copy_doc_owns_nothing_first_doc_owns_all(self, spark):
        from datagrowth_spark.operators.dedup import ngram_novelty

        base = " ".join(f"w{i}" for i in range(10))           # 6 distinct 5-grams
        fresh = " ".join(f"f{i}" for i in range(10))
        half = " ".join(f"w{i}" for i in range(5, 15))        # shares w5..w9 tail
        df = _docs(spark, [(1, base), (2, base), (3, fresh), (4, half)])
        got = {r["doc_id"]: r for r in ngram_novelty(df, n=5).collect()}
        assert got[1]["novelty"] == 1.0                       # first owner of every gram
        assert got[2]["novelty"] == 0.0                       # exact copy, owns nothing
        assert got[3]["novelty"] == 1.0                       # disjoint vocabulary
        # doc 4: grams starting inside w5..w9 that lie fully in base are owned
        # by doc 1; the rest (crossing into w10..w14) are novel
        assert 0.0 < got[4]["novelty"] < 1.0
        assert got[4]["n_grams"] == 6
        assert got[4]["n_novel"] == 5                         # only "w5 w6 w7 w8 w9" is owned by doc 1

    def test_hashed_and_md5_paths_agree(self, spark):
        from datagrowth_spark.operators.dedup import ngram_novelty

        rows = [(i, " ".join(f"t{(i * 3 + j) % 7}" for j in range(8))) for i in range(12)]
        df = _docs(spark, rows)
        a = {r["doc_id"]: (r["n_grams"], r["n_novel"]) for r in ngram_novelty(df, n=5).collect()}
        b = {r["doc_id"]: (r["n_grams"], r["n_novel"])
             for r in ngram_novelty(df, n=5, hashed=True).collect()}
        assert a == b

    def test_short_docs_drop_out(self, spark):
        from datagrowth_spark.operators.dedup import ngram_novelty

        df = _docs(spark, [(1, "a b c"), (2, " ".join(f"x{i}" for i in range(5)))])
        got = {r["doc_id"] for r in ngram_novelty(df, n=5).collect()}
        assert got == {2}                                     # doc 1 has no 5-grams
