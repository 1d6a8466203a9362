"""Deduplication operators for large-scale document corpora.

All variants are pure DataFrame programs (no Python UDFs) designed
around shuffle discipline:

* exact / fingerprint — one hash-groupBy (single shuffle on the hash).
* n-gram Jaccard — shingle explode → self-join on shingle → per-pair
  count; the join key is the shingle hash so frequency skew can be
  capped with a document-frequency filter (stopword-shingle blowup
  guard), which is also what makes this survive 100 TB.
* MinHash + LSH — md5-based minhash signatures (engine-portable,
  deterministic), banded into LSH buckets; candidate pairs only join
  within a band bucket. Shuffle volume scales with bucket sizes, not
  with the corpus square.
* SimHash — 32-bit signature; near-dup pairs via identical signature
  (or small hamming distance using bit_count).

Reference had no dedup; these follow the standard MinHash/LSH
construction (Broder; see PAPERS.md) re-expressed relationally.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datagrowth_spark.functions.text import fingerprint, md5_long, shingles, simhash


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups by content hash; keeps the minimum id.

    Returns one row per distinct content: (content_hash, keep_id, dup_count).
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Vocabulary-fingerprint dup groups (order/punctuation-insensitive)."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n\n") -> DataFrame:
    """Paragraph-level exact dedup with document rebuild — the
    CCNet/Dolma pipeline stage between document-exact and span-level
    dedup: split each document on ``sep``, keep each distinct
    paragraph's FIRST corpus-wide occurrence (smallest (id, position)
    — duplicates WITHIN a document collapse too), drop every other
    copy, and rebuild each document from its surviving paragraphs in
    original order.

    ``sep`` is a LITERAL separator: the split side regex-escapes it
    (``re.escape``), so a regex-active separator like ``"||"`` or
    ``"."`` splits on the literal characters and the split/rejoin pair
    stays consistent for any separator. Empty paragraphs (separator
    runs, leading/trailing separators) are dropped before hashing.

    ``id_col`` must be unique (and non-null): the keeper rule is
    ``min(struct(id, pos))`` and the final rebuild left join keys on
    the id, so duplicate ids would silently multiply output rows — the
    same contract as ``LogRegModel.score_docs``.

    Output: one row per input document —
    ``(id, n_paras, n_kept, new_text)``; ``new_text`` is ``''`` when
    every paragraph was dropped, and docs with no paragraphs at all
    (empty text) carry ``n_paras = 0``.

    Plan (100 TB): paragraphs explode once; the keeper decision is ONE
    ``groupBy`` on the paragraph md5 (fixed-width shuffle key,
    map-side-combinable ``min(struct(id, pos))``) — never a
    window/global sort; the survivor join-back shares the md5 key so
    it co-partitions with the keeper table; the rebuild is one
    ``groupBy(id)``. Shuffle volume is paragraph-linear, never
    corpus-squared.
    """
    paras = _paragraph_frame(df, text_col, id_col, sep)
    keeper = paras.groupBy("__h").agg(
        F.min(F.struct("__id", "__pos")).alias("__k"))
    surv = (paras.join(keeper, "__h")
            .where((F.col("__id") == F.col("__k.__id"))
                   & (F.col("__pos") == F.col("__k.__pos"))))
    return _rebuild_docs(df, text_col, surv, id_col, sep)


def _paragraph_frame(df: DataFrame, text_col: str, id_col: str,
                     sep: str) -> DataFrame:
    """Exploded paragraph occurrences (``__id``, ``__pos``, ``__para``,
    ``__h``) — ``sep`` split literally, empties dropped, ``__h`` the
    paragraph's md5 (the fixed-width shuffle/join key)."""
    parts = F.split(F.col(text_col), re.escape(sep), -1)
    return (df.select(F.col(id_col).alias("__id"),
                      F.posexplode(parts).alias("__pos", "__para"))
            .where(F.col("__para") != "")
            .withColumn("__h", F.md5(F.encode("__para", "utf-8"))))


def _rebuild_docs(df: DataFrame, text_col: str, surv: DataFrame,
                  id_col: str, sep: str) -> DataFrame:
    """Shared tail of the paragraph-dedup family: per-doc paragraph
    counts, survivor rebuild in original order (one ``groupBy(id)``),
    and the left-join-back that keeps paragraph-less docs.

    ``n_paras`` is computed MAP-ONLY from the document row itself
    (size of the non-empty split — r12, guide §2.4): each row fully
    determines its own paragraph count, so the old ``groupBy(__id)``
    over the exploded paragraph frame re-evaluated the split for a
    third time and paid an exchange plus a second join for a value a
    projection already knows. NULL text → NULL split → coalesce 0,
    exactly the count the old left join backfilled."""
    parts = F.split(F.col(text_col), re.escape(sep), -1)
    n_paras = F.coalesce(
        F.size(F.filter(parts, lambda p: p != F.lit(""))),
        F.lit(0)).cast("long")
    rebuilt = (surv.groupBy("__id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("__pos", "__para"))),
                            lambda s: s["__para"]),
                        sep).alias("new_text")))
    return (df.select(F.col(id_col).alias("__id"), n_paras.alias("n_paras"))
            .join(rebuilt, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    "n_paras",
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                    .alias("n_kept"),
                    F.coalesce("new_text", F.lit("")).alias("new_text")))


def paragraph_dedup_fuzzy(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          sep: str = "\n\n",
                          num_hashes: int = 16, bands: int = 4,
                          n: int = 3,
                          threshold: float = 0.5) -> DataFrame:
    """Fuzzy paragraph-level dedup with document rebuild — the
    RefinedWeb/Dolma stage between :func:`paragraph_dedup` (exact) and
    span rewrite: paragraphs that are NEAR-duplicates of an earlier
    paragraph are dropped too, where "near" is banded MinHash-LSH over
    word 3-shingles verified by estimated Jaccard ≥ ``threshold``
    (same signature construction as the document-level
    :func:`minhash_lsh_pairs`, so signatures stay engine-portable).

    Semantics (deterministic, order-free): exact copies collapse to
    one DISTINCT paragraph first (keeper = smallest corpus-wide
    ``(id, pos)``, as in :func:`paragraph_dedup`); a distinct
    paragraph is then dropped entirely when it shares an LSH band
    bucket with a paragraph whose first occurrence is strictly earlier
    AND the pair's estimated Jaccard clears the threshold — the greedy
    first-wins rule every incremental dedup pipeline applies, stated
    corpus-wide. Paragraphs with fewer than ``n`` tokens have no
    shingles, hence no signature, and can only dedup exactly.

    Output matches :func:`paragraph_dedup`:
    ``(id, n_paras, n_kept, new_text)``.

    ``id_col`` must be unique and non-null (same contract, same
    reason: min-struct keeper + id join-backs).

    Plan (100 TB): work splits into a paragraph-linear half (explode,
    one md5 groupBy to the distinct-paragraph table, survivor
    join-back, rebuild) and a DISTINCT-paragraph-sized half (shingle →
    minhash aggregate, band self-join, verify join). The band
    self-join never sees exact duplicates — boilerplate collapses to
    one row before signatures — so bucket skew is bounded by
    near-dup-cluster sizes, not by copy counts; nothing is all-pairs.
    Signature/keeper frames feed multiple consumers and are persisted
    via the session cache registry.
    """
    from datagrowth_spark.core.caching import persist_registered

    assert num_hashes % bands == 0, "bands must divide num_hashes"
    paras = persist_registered(_paragraph_frame(df, text_col, id_col, sep))
    # distinct paragraphs with their first-occurrence key; min() of the
    # (identical) texts keeps the row single-aggregate
    dp = persist_registered(paras.groupBy("__h").agg(
        F.min(F.struct("__id", "__pos")).alias("__k"),
        F.min("__para").alias("__para")))
    sig = persist_registered(
        minhash_signature(dp, "__para", "__h", num_hashes, n))
    banded = (_banded_keys(sig, num_hashes, bands)
              .join(dp.select(F.col("__h").alias("id"), "__k"), "id"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.__k") < F.col("b.__k")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .distinct())
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    sig_a = sig.select(F.col("id").alias("id_a"),
                       *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    sig_b = sig.select(F.col("id").alias("id_b"),
                       *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    agree = sum(F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
                for c in mh_cols)
    losers = (cands.join(sig_a, "id_a").join(sig_b, "id_b")
              .where(F.round(agree / F.lit(num_hashes), 6)
                     >= F.lit(threshold))
              .select(F.col("id_b").alias("__h"))
              .distinct())
    surv = (paras.join(dp.select("__h", "__k"), "__h")
            .where((F.col("__id") == F.col("__k.__id"))
                   & (F.col("__pos") == F.col("__k.__pos")))
            .join(losers, "__h", "left_anti"))
    return _rebuild_docs(df, text_col, surv, id_col, sep)


def ngram_novelty(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5, hashed: bool = False) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    n-grams whose smallest containing ``id`` is the document itself.

    The curation signal inverse to the repetition family — near-zero
    novelty means the corpus already contains this document's content
    recombined. Output: (doc_id, n_grams, n_novel, novelty∈[0,1]).

    Plan (r12, guide §2.4): ONE pass over the text — the gram frame is
    consumed exactly once by a posting-list aggregate (group by the
    fixed-width gram key: md5 by default — the cross-engine determinism
    contract; ``hashed=True`` switches to xxhash64 longs, 4× fewer key
    bytes, for internal pipelines). Each posting list carries its own
    minimum (``array_min`` — the gram's owner), so the novelty verdict
    rides the re-explode and the old first-occurrence JOIN (which
    re-tokenized the corpus for the probe side and sorted both join
    inputs) disappears: two gram-keyed shuffles total, no join, text
    read and shingled once.
    """
    sh = _shingle_frame(df, text_col, id_col, n, hashed=hashed)
    if not hashed:
        sh = sh.select("id", F.md5(F.encode("shingle", "utf-8")).alias("shingle"))
    posts = sh.groupBy("shingle").agg(F.collect_list("id").alias("ids"))
    owned = posts.select(F.array_min("ids").alias("first_id"),
                         F.explode("ids").alias("id"))
    return (
        owned.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_id") == F.col("id")).cast("int")).alias("n_novel"),
        )
        .select(
            "doc_id", "n_grams", "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def _shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int,
                   hashed: bool = False) -> DataFrame:
    # Tokenize into a real column first: shingle construction indexes the
    # token array per position, and an inlined tokenizer expression would
    # be re-evaluated per shingle (O(len²) per document).
    #
    # ``hashed=True`` emits xxhash64(shingle) longs instead of strings —
    # for operators where the shingle is ONLY an internal join/group key
    # (jaccard, decontamination), shuffling 8-byte longs beats shuffling
    # n-token strings; 64-bit collisions are negligible against exact
    # verification thresholds. MinHash keeps the string form: its hash
    # family is the engine-portable md5 arithmetic.
    from datagrowth_spark.functions.text import shingles_from_tokens, tokens_col

    toked = df.select(
        F.col(id_col).alias("id"),
        tokens_col(F.lower(F.col(text_col))).alias("toks"),
    )
    sh = shingles_from_tokens(F.col("toks"), n)
    if hashed:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    return toked.select(
        "id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def _sized_shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int,
                         hashed: bool = False) -> DataFrame:
    """:func:`_shingle_frame` variant that carries the per-document
    DISTINCT shingle count (``sz``) on every exploded row, so consumers
    that need |doc shingle set| (jaccard/containment denominators) get
    it map-only instead of re-shingling the corpus for a second
    groupBy(id) aggregate (r12, guide §2.4). The distinct array is
    aliased in its own projection; it feeds two consumers (``size`` +
    the generator), which is exactly the multi-reference case
    CollapseProject refuses to inline — one evaluation per row.
    """
    from datagrowth_spark.functions.text import shingles_from_tokens, tokens_col

    toked = df.select(
        F.col(id_col).alias("id"),
        tokens_col(F.lower(F.col(text_col))).alias("toks"),
    )
    sh = shingles_from_tokens(F.col("toks"), n)
    if hashed:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    arred = toked.select("id", F.array_distinct(sh).alias("darr"))
    # sz is computed BEFORE the explode: putting size(darr) in the
    # generate's own select would keep darr in the Generate's required
    # child output, copying the whole array into every exploded row —
    # O(k²) bytes per doc (measured 16× slower at sf0.1).
    szd = arred.select("id", F.size("darr").alias("sz"), "darr")
    # The no-op slice(darr, 1, size(darr)) is load-bearing: a BARE
    # attribute as the generator input is "cheap" to
    # InferFiltersFromGenerate, which then adds a size(darr) > 0 filter
    # that PushDownPredicates rewrites through the projections into a
    # SECOND (and third...) full evaluation of the tokenizer+shingle
    # chain per row — measured 13× slower at sf0.1 (split(lower(text))
    # appeared 6× in the plan). The slice keeps the generator input
    # non-cheap, exactly like the inline-expression form the rule
    # already skips, at the cost of one O(k) array copy.
    return szd.select("id", "sz",
                      F.explode(F.slice("darr", 1, F.size("darr")))
                      .alias("shingle"))


# Pair explosion over a sorted posting list of (id, sz) structs: all
# C(k,2) in-list combinations, each carrying both documents' shingle-set
# sizes — struct sort order is id-major (ids unique), so id_a < id_b
# exactly as in the plain-id form.
_SIZED_PAIRS_EXPR = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> "
    "struct(x.id AS id_a, x.sz AS size_a, y.id AS id_b, y.sz AS size_b))))"
)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Plan shape (posting-list style, one shuffle): distinct shingles per
    doc → group by shingle into a sorted posting list → explode the
    C(k,2) co-occurring pairs per shingle → count per pair →
    |A∩B| / (|A|+|B|−|A∩B|). Compared to a shingle self-join this
    avoids the second shuffle and the join build side entirely.

    ``max_shingle_df`` drops shingles shared by more than N docs — the
    skew guard that keeps the pair explosion linear-ish at scale (a
    stop-shingle in every doc would otherwise emit |corpus|² pairs).
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6dp.

    The |A|/|B| denominators ride the posting lists as per-id struct
    fields (r12, guide §2.4): the old shape re-shingled the corpus for
    a separate groupBy(id) sizes table and joined it back twice; now
    the text is read and shingled ONCE and the whole query is two
    shuffles (by shingle, by pair) with no size joins at all — the only
    extra shuffle bytes are one int per posting entry.
    """
    sh = _sized_shingle_frame(df, text_col, id_col, n, hashed=True)
    posts = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("id", "sz"))).alias("ids"))
    posts = posts.where(F.size("ids") > 1)
    if max_shingle_df is not None:
        posts = posts.where(F.size("ids") <= max_shingle_df)
    pairs = posts.select(F.explode(F.expr(_SIZED_PAIRS_EXPR)).alias("p")) \
        .select("p.id_a", "p.size_a", "p.id_b", "p.size_b")
    # Size-ratio prune (r13, guide §2.3 — filter below the pair
    # exchange): inter <= min(|A|,|B|), and i/(sa+sb-i) is increasing
    # in i, so round(min/(sa+sb-min), 6) is an upper bound on the
    # rounded jaccard (round is monotone). Pairs whose BOUND misses the
    # threshold can never pass the final filter — dropping them here is
    # provably result-identical for any threshold, runs map-side in the
    # same codegen stage as the explode, and cuts the pair-exchange
    # volume wherever document sizes are heterogeneous (at 100 TB a
    # boilerplate stub sharing one shingle with a book never ships).
    _lo = F.least("size_a", "size_b")
    pairs = pairs.where(
        F.round(_lo / (F.col("size_a") + F.col("size_b") - _lo), 6)
        >= threshold)
    inter = pairs.groupBy("id_a", "id_b", "size_a", "size_b") \
        .agg(F.count("*").alias("inter"))
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 64,
) -> DataFrame:
    """Near-dup candidate pairs from WINNOWED fingerprints — the sparse
    counterpart of :func:`ngram_jaccard_pairs`: instead of posting every
    shingle, each document posts only its winnowing-selected minima
    (expected density ``2/(window+1)``), so the shuffled posting volume
    and the per-bucket pair explosion shrink by the same factor while
    any shared run of ``window + n - 1`` tokens still guarantees a
    shared fingerprint. Same plan shape: distinct fingerprints per doc →
    sorted posting list per fingerprint → in-row C(k,2) pair explode →
    count per pair. ``max_fp_df`` is the boilerplate skew guard
    (a fingerprint in more than N docs is dropped before the explode).
    Output: (id_a, id_b, n_shared) with id_a < id_b,
    n_shared ≥ ``min_shared``.
    """
    from datagrowth_spark.functions.text import (
        shingles_from_tokens, tokens_col, winnow_fingerprints)

    toked = df.select(F.col(id_col).alias("id"),
                      tokens_col(F.lower(F.col(text_col))).alias("toks"))
    grammed = toked.select(
        "id",
        F.transform(shingles_from_tokens(F.col("toks"), n),
                    lambda s: F.md5(F.encode(s, "utf-8"))).alias("grams"))
    fl = grammed.select(
        "id", F.explode(winnow_fingerprints(F.col("grams"), window)).alias("fp"))
    posts = fl.groupBy("fp").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    posts = posts.where(F.size("ids") > 1)
    if max_fp_df is not None:
        posts = posts.where(F.size("ids") <= max_fp_df)
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle CONTAINMENT pairs — the asymmetric complement of Jaccard:
    ``cont(A in B) = |A∩B| / |A|``. Catches doc-in-doc relationships
    (quotes, supersets, page-of-site) that symmetric Jaccard misses:
    a 50-shingle doc fully contained in a 5000-shingle doc has
    containment 1.0 but Jaccard ~0.01.

    Identical plan shape to :func:`ngram_jaccard_pairs` (one text pass,
    sized posting lists, pair counts — hashed shingle keys, skew guard
    via ``max_shingle_df``; the size joins are gone since r12, see the
    jaccard docstring). Output: one row per unordered pair
    with max(cont_a, cont_b) >= threshold: (id_a, id_b, cont_a,
    cont_b) where cont_a = containment of id_a's shingle set in id_b's.
    """
    sh = _sized_shingle_frame(df, text_col, id_col, n, hashed=True)
    posts = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("id", "sz"))).alias("ids"))
    posts = posts.where(F.size("ids") > 1)
    if max_shingle_df is not None:
        posts = posts.where(F.size("ids") <= max_shingle_df)
    pairs = posts.select(F.explode(F.expr(_SIZED_PAIRS_EXPR)).alias("p")) \
        .select("p.id_a", "p.size_a", "p.id_b", "p.size_b")
    inter = pairs.groupBy("id_a", "id_b", "size_a", "size_b") \
        .agg(F.count("*").alias("inter"))
    return (
        inter.select(
            "id_a", "id_b",
            F.round(F.col("inter") / F.col("size_a"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("size_b"), 6).alias("cont_b"),
        )
        .where(F.greatest("cont_a", "cont_b") >= threshold)
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs overlapping an eval set.

    The standard training-data hygiene step — a document sharing
    ``min_overlap`` or more distinct word n-grams with ANY benchmark
    document leaks evaluation data and must be dropped before training.

    Plan shape: both sides shingle (distinct per doc); the benchmark's
    DISTINCT shingle set is the join side — an eval set is orders of
    magnitude smaller than the corpus, so Spark broadcasts it and the
    corpus-side scan streams through map-side: one shuffle (the
    per-doc overlap count), no corpus self-join anywhere. Output:
    (doc_id, overlap, contaminated) for every corpus document.
    """
    corpus_sh = _shingle_frame(corpus, text_col, id_col, n, hashed=True)
    bench_sh = _shingle_frame(benchmark, text_col, id_col, n, hashed=True) \
        .select("shingle").distinct()
    overlap = (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy("id").agg(F.count("*").alias("overlap"))
    )
    ids = corpus.select(F.col(id_col).alias("id"))
    return (
        ids.join(overlap, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("overlap"), F.lit(0)).cast("long").alias("overlap"),
            (F.coalesce(F.col("overlap"), F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def drop_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact-substring deduplication that REWRITES documents: every
    token covered by an ``n``-token span occurring in more than one
    document is removed — except in the single keeper document (minimum
    id among the span's holders), which keeps its text intact. The
    distributed form of Lee et al.'s "Deduplicating Training Data Makes
    Language Models Better" exact-substring dedup, at token-window
    granularity (this corpus has no line structure for line-level dedup).

    Returns one row per input document::

        doc_id, n_tokens, n_removed, text_deduped

    Plan shape (never pairwise): explode token windows → one hash
    aggregate per span hash (document frequency + keeper id) → join
    back on the span hash → per-doc covered-position set → one
    array-filter rewrite against the doc's own token array. Two
    shuffles, both keyed on the 8-byte span hash or the doc id; the
    rewrite never explodes the corpus to token rows. Per-doc cost of
    the final filter is O(len × |covered|) array_contains probes —
    bounded by document length, embarrassingly parallel.

    Tokens are whitespace-split; output joins kept tokens with a single
    space (the operator contract is token-level, not byte-level).
    """
    # NULL text → empty token array (size() on a null array is -1 and
    # would corrupt n_tokens; a null doc passes through with 0/0/"").
    toks = F.coalesce(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")),
        F.array().cast("array<string>"),
    )
    toked = df.select(F.col(id_col).alias("id"), toks.alias("toks"))

    size = F.size("toks")
    wins = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.struct(
                i.alias("pos"),
                # span identity = 64-bit hash of the token slice itself:
                # no string re-assembly, native hash — the span frame is
                # produced twice (df aggregate + coverage join) and this
                # is its dominant cost on boilerplate-heavy corpora
                F.xxhash64(F.slice("toks", i + 1, n)).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:long>>"))
    spans = toked.select("id", F.explode(wins).alias("w")) \
        .select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))

    # Per-doc array_distinct + plain count, NOT count_distinct(id): a
    # distinct aggregate shuffles the expanded (h, id) rows BY H, so a
    # span shared by every document (boilerplate headers — the exact
    # thing this operator exists to remove) funnels the whole corpus's
    # copies into one reduce task whose distinct set spills (measured
    # super-linear at 10M docs sharing a prefix). In-row array_distinct
    # makes (h, id) unique BEFORE the explode — zero extra shuffle —
    # and the count/min agg then combines map-side to one row per h
    # per partition, so no reduce key is hot at any multiplicity.
    span_df = (
        toked.select(
            "id",
            F.explode(F.array_distinct(
                F.transform(wins, lambda w: w["h"]))).alias("h"))
        .groupBy("h").agg(F.count("*").alias("dfreq"),
                          F.min("id").alias("keeper"))
    )
    # Window STARTS per doc, expanded to covered token positions with
    # per-row array ops — never an exploded token-position shuffle (a
    # dup-heavy corpus would otherwise shuffle n× the span count).
    starts = (
        spans.join(span_df, "h")
        .where((F.col("dfreq") > 1) & (F.col("id") != F.col("keeper")))
        .groupBy("id").agg(F.collect_set("pos").alias("starts"))
    )
    cov_expr = F.array_distinct(F.flatten(F.transform(
        "starts", lambda s: F.sequence(s, s + (n - 1)))))
    cov = starts.select("id", cov_expr.alias("cov"))

    out = toked.join(cov, "id", "left").withColumn(
        "cov", F.coalesce(F.col("cov"), F.array().cast("array<int>")))
    kept = F.filter("toks", lambda t, i: ~F.array_contains("cov", i))
    return out.select(
        F.col("id").alias(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("cov").cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_deduped"),
    )


# Affine MinHash family over a single md5 base hash: h_i = (a_i·h + b_i) mod P.
# P is the first prime above 2^32; a_i < 2^30 keeps a_i·h < 2^62 so the
# arithmetic never overflows BIGINT in any engine (portable, deterministic).
MINHASH_P = 4294967311


def minhash_params(i: int) -> tuple[int, int]:
    a = (i * 40503 + 1) % (1 << 30)
    b = (i * 2654435761) % MINHASH_P
    return a, b


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 16, n: int = 3) -> DataFrame:
    """MinHash signatures: mh_i = min over shingles of (a_i·md5₃₂(s)+b_i) mod P.

    One md5 per shingle; the hash family is affine arithmetic on top —
    ~16× cheaper than per-function md5 and still bit-reproducible in any
    engine (signatures are portable cache/compare keys across systems).
    Output: (id, mh_0 ... mh_{k-1}) as BIGINTs; a document with fewer
    than ``n`` tokens has no shingle and gets no row.

    The aggregates are SQL expression strings: one ``F.expr`` per hash
    instead of a tree of Column objects, each of which costs driver
    round trips (py4j commands) to build. The plan keeps explode + ``groupBy(id)`` + plain
    ``min`` on purpose: a per-row ``array_min(transform(...))`` form is
    bit-identical but measured about 6× slower (5k docs on local[4]:
    4.9 s vs 0.8 s), because higher-order functions run interpreted
    while the hash aggregate runs in whole-stage codegen.
    """
    sh = _shingle_frame(df, text_col, id_col, n).withColumn("h", md5_long(F.col("shingle")))
    aggs = [F.expr("min(({} * h + {}) % {}) AS mh_{}".format(*minhash_params(i), MINHASH_P, i))
            for i in range(num_hashes)]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified by
    estimated Jaccard (fraction of agreeing minhashes).

    rows-per-band = num_hashes / bands; a pair is a candidate when all
    rows of at least one band agree (classic LSH S-curve). Estimated
    Jaccard over the full signature filters the candidates.
    Output: (id_a, id_b, est_jaccard).
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    from datagrowth_spark.core.caching import persist_registered

    # The signature frame feeds the band projection plus both verify
    # joins (3 consumers); persist it so the shingle+minhash pipeline
    # runs once. Signatures are tiny (num_hashes longs per doc). No
    # cleanup handle on this operator, so the cache registers with the
    # session release hook (core/caching.py — r8 hygiene gate).
    sig = persist_registered(minhash_signature(df, text_col, id_col, num_hashes, n))
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]

    banded = _banded_keys(sig, num_hashes, bands).select("id", "band_key")

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sig_a = sig.select(F.col("id").alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    sig_b = sig.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in mh_cols
    )
    return (
        candidates.join(sig_a, "id_a").join(sig_b, "id_b")
        .withColumn("est_jaccard", F.round(agree / F.lit(num_hashes), 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _banded_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``sig`` with one row per (row, band): every input column plus
    ``band_key``, the md5 bucket key of that band. All keys come from
    ONE projection (an explode over the per-band key array), so the
    signature frame is scanned once, not once per band. The projection
    is one SQL expression string, so building it costs a few driver
    round trips, not a few per column."""
    rows = num_hashes // bands
    keys = ", ".join(
        "md5(concat_ws(',', '{}', {}))".format(
            b, ", ".join(f"CAST(mh_{i} AS STRING)" for i in range(b * rows, (b + 1) * rows)))
        for b in range(bands))
    return sig.selectExpr("*", f"explode(array({keys})) AS band_key")


class IncrementalDedupResult:
    """Result handle for :func:`incremental_minhash_dedup`.

    Unpacks as the historical ``(verdicts, new_sigs)`` 2-tuple;
    :meth:`cleanup` drops the one persisted frame the operator created,
    the batch signatures ``new_sigs``. Callers must materialize
    ``verdicts`` before calling it. One-shot callers that never clean
    up leak one cached plan until the session ends — fine for a query,
    wrong for a per-batch ingest daemon.
    """

    __slots__ = ("verdicts", "new_sigs")

    def __init__(self, verdicts: DataFrame, new_sigs: DataFrame) -> None:
        self.verdicts = verdicts
        self.new_sigs = new_sigs

    def __iter__(self):
        return iter((self.verdicts, self.new_sigs))

    @property
    def caches(self) -> list[DataFrame]:
        """Persisted frames this operator created — callers own their
        lifetime (mirror of ``BPETrainResult.caches``): either call
        :meth:`cleanup` after materializing ``verdicts``, or register
        each with a session release hook."""
        return [self.new_sigs]

    def cleanup(self, blocking: bool = False) -> None:
        """Unpersist every frame this operator cached."""
        self.new_sigs.unpersist(blocking)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    signature_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> IncrementalDedupResult:
    """Near-dup detection for an INCREMENTAL ingest batch against a
    persisted MinHash signature store — the production shape at corpus
    scale: the historical corpus is never re-shingled or re-joined
    against itself; only its (id, mh_0..mh_{k-1}) signature table
    participates, and only in buckets the new batch touches.

    Checks each new document against (a) the store and (b) earlier new
    documents in the same batch (smaller id wins, so batch-internal
    dups resolve deterministically). Returns an
    :class:`IncrementalDedupResult` (unpacks as ``(verdicts,
    new_sigs)``; ``.cleanup()`` drops the operator's cache):

    * ``verdicts`` — one row per new document:
      (id, is_dup, dup_of, est_jaccard); ``dup_of`` is the smallest
      matching id (store or batch), NULL when the document is novel,
      and ``est_jaccard`` is the estimate of that match.
    * ``new_sigs`` — the batch's signature rows, schema-compatible with
      the store for the caller to append (the store stays the single
      source of truth; this operator never mutates it).

    A pair is a candidate when it agrees on every row of at least one
    band, and a match when ``round(agree / num_hashes, 6) >=
    threshold``. Each side of a pair is verified with the signature
    it was banded from: a store row with its STORED signature, a batch
    row with the batch one. So a batch document whose id already
    exists in the store is compared with the store's row for that id
    (and may be reported as ``dup_of`` itself); when the smallest
    matching id has both a store and a batch signature, the larger of
    its two estimates is reported.

    Scale shape: one pass over the store. Its band keys are derived
    from stored signatures (k longs per row — no text touched) in one
    projection, and each store band row streams, with its own ``mh_*``
    columns, past a broadcast of the batch's band rows; the estimate
    is computed and thresholded inside that join, so only verified
    matches leave it and the store is never shuffled or read twice.
    The broadcast is batch-bounded (``bands`` rows of k+1 longs plus a
    key per new document) and forced, not left to AQE: a 100k-doc
    batch sits past the 10 MB auto-broadcast estimate, and the
    sort-merge fallback would shuffle the whole store per batch. A hot
    store bucket multiplies join OUTPUT rows, which are filtered in the
    same stage, never a driver-side structure. Only the verified
    matches reach the per-id aggregate. The batch's shingle + minhash
    map stage runs one task per partition of ``new_docs``: a batch read
    from one small file is one task, so a caller with such batches
    widens them first (``StreamingNearDupIndex`` does, by id).

    NOTE (construction-time work): building the result fires no Spark
    job; every job runs when the caller first executes ``verdicts``.
    ``new_sigs`` is persisted lazily and populated by that first job.
    The minhash aggregates, band keys, side projections and agreement
    count are SQL expression strings, so construction costs about 500
    driver round trips (py4j commands) at 8 hashes instead of about
    3,400 when each was a tree of Column nodes; the rest of the driver
    time is Catalyst analysing each intermediate frame.
    """
    new_sigs = minhash_signature(new_docs, text_col, id_col, num_hashes, n).persist()
    verdicts = incremental_verdicts(new_sigs, signature_store, num_hashes, bands, threshold)
    return IncrementalDedupResult(verdicts, new_sigs)


def incremental_verdicts(new_sigs: DataFrame, signature_store: DataFrame,
                         num_hashes: int = 16, bands: int = 4,
                         threshold: float = 0.5) -> DataFrame:
    """The probe of :func:`incremental_minhash_dedup` over a batch
    signature frame — split out so it can be checked against arbitrary
    signature tables directly. Both inputs carry (id, mh_0..mh_{k-1});
    ``new_sigs`` is read several times, so pass a persisted frame."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    # Sides are told apart by frame alias (`a` batch, `b` store or
    # batch), so no side needs a renaming projection.
    agree = " + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
                       for i in range(num_hashes))
    pair = ("a.id AS id", "b.id AS other",
            f"round(({agree}) / {num_hashes}, 6) AS est_jaccard")
    batch = F.broadcast(_banded_keys(new_sigs, num_hashes, bands)).alias("a")
    store_hits = batch.join(
        _banded_keys(signature_store, num_hashes, bands).alias("b"), "band_key")
    batch_hits = batch.join(
        _banded_keys(new_sigs, num_hashes, bands).alias("b"), "band_key").where("a.id > b.id")
    # A pair agreeing in several bands arrives once per band; min() over
    # (other, -est) is idempotent in those repeats, and its second field
    # makes the estimate deterministic when `other` has two signatures.
    matches = (
        store_hits.selectExpr(*pair)
        .unionByName(batch_hits.selectExpr(*pair))
        .where(F.col("est_jaccard") >= threshold)
        .groupBy("id")
        .agg(F.expr("min(named_struct('other', other, 'neg_est', -est_jaccard)) AS best"))
    )
    return new_sigs.selectExpr("id").join(matches, "id", "left").selectExpr(
        "id", "best IS NOT NULL AS is_dup", "best.other AS dup_of",
        "-best.neg_est AS est_jaccard")


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       bits: int = 32) -> DataFrame:
    """Per-document SimHash signature (32-bit, engine-portable).

    Plan shape: explode token hashes → one hash-aggregate with `bits`
    cheap integer sums (vectorized, whole-stage codegen) → recombine.
    Equivalent to the per-row array formulation
    (:func:`datagrowth_spark.functions.text.simhash`) but ~10× faster:
    Tungsten sums beat per-element lambda evaluation.

    Documents with no tokens still get a (zero) signature via the
    left join back to the id universe.
    """
    from datagrowth_spark.functions.text import md5_long, normalized_tokens

    ids = df.select(F.col(id_col).alias("id"))
    # One explode + ONE keyed aggregate. A factored variant (count per
    # (id, token) first, hash distinct tokens, weight the bit sums) was
    # measured SLOWER (0.81 vs 0.97s at sf0.1): the second shuffle
    # costs more than the saved md5 calls, which pipeline inside the
    # scan stage. Partial aggregation already collapses per-doc rows
    # map-side, so the single-agg shape holds at any scale.
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(normalized_tokens(text_col)).alias("tok"),
    ).withColumn("h", md5_long(F.col("tok")))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"c_{j}")
        for j in range(bits)
    ]
    counts = exploded.groupBy("id").agg(*aggs)
    sig = sum(
        (F.when(F.col(f"c_{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
         for j in range(bits)),
        start=F.lit(0),
    ).cast("long")
    with_sig = counts.select("id", sig.alias("simhash"))
    return ids.join(with_sig, "id", "left").select(
        "id", F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash")
    )


def simhash_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs whose SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding (full recall): the signature splits into
    ``max_hamming + 1`` bit blocks, so any pair within the hamming
    budget is IDENTICAL in at least one block. Candidates are the union
    of per-block equi-joins (one shuffle keyed on (block_idx, value)),
    deduped, then verified with bit_count(xor) — never a cross join,
    and never the half-signature heuristic that silently drops pairs
    whose differing bits land in the blocked half.

    Scale note: a degenerate block value (e.g. all-zero signatures from
    empty documents) concentrates its candidates in one key, exactly
    like a hot shingle — pre-filter empty/boilerplate docs or lower
    max_hamming if a block key grows pathological.
    """
    from datagrowth_spark.core.caching import persist_registered

    # The self-join consumes the signature frame twice; persist so the
    # shingle→explode→agg pipeline (the expensive part) runs once —
    # signatures are one long per doc, negligible storage at any scale.
    # No cleanup handle on this operator, so the cache registers with
    # the session release hook (core/caching.py — r8 hygiene gate).
    sig = persist_registered(simhash_signatures(df, text_col, id_col, bits))
    return simhash_pairs_from_signatures(sig, bits=bits, max_hamming=max_hamming)


def simhash_pairs_from_signatures(sig: DataFrame, bits: int = 32,
                                  max_hamming: int = 3) -> DataFrame:
    """Pair finding over an (id, simhash) frame — split out so recall can
    be verified against adversarial signatures directly."""
    nblocks = max_hamming + 1
    base, extra = divmod(bits, nblocks)
    blocks = []
    offset = 0
    for i in range(nblocks):
        width = base + (1 if i < extra else 0)
        blocks.append(F.struct(
            F.lit(i).alias("bi"),
            F.shiftright(F.col("simhash"), offset)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("bv"),
        ))
        offset += width
    exploded = sig.select(
        "id", "simhash", F.explode(F.array(*blocks)).alias("blk")
    ).select("id", "simhash", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    # Verify BEFORE deduplicating (r12, guide §2.3 "aggregate fewer
    # bytes"): the hamming check is a map-side codegen predicate on the
    # join output, while dropDuplicates is a shuffle — on block-skewed
    # corpora (similar docs pile into the same block values) the
    # candidate multiset is far larger than the verified pair set
    # (measured 2.8M candidates → 153k survivors → 83k pairs at sf0.1;
    # pair stage 2.28 → 0.72 s). hamming is a pure function of the
    # pair, so dedup-after-verify returns the identical set.
    return (
        a.join(b, (F.col("a.bi") == F.col("b.bi")) & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])  # a pair may agree in several blocks
    )
