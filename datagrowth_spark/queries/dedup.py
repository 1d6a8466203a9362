"""Dedup query family.

Split from the single-module queries.py by scripts/split_queries.py (r12); definitions are verbatim.
"""

from __future__ import annotations
import os
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from datagrowth_spark.core.session import ensure_ts_readable
from datagrowth_spark.functions import text as TX
from datagrowth_spark.operators import dedup as DD
from datagrowth_spark.operators import multimodal as MM
from datagrowth_spark.operators import similarity as SIM
from datagrowth_spark.sources import testclient as TC
from datagrowth_spark.core.caching import persist_registered as _persist
from datagrowth_spark.core.caching import register as _register_cache
from datagrowth_spark.core.caching import release as release_caches
from datagrowth_spark.queries._shared import SQL_DEDUP_NGRAM_JACCARD, _BANDS, _JACCARD_DF_CAP, _NUM_HASHES, _RAW_TOKS_SQL, _SHINGLES_SQL, _TOKS_SQL, _WINNOW_CTES, _mh_expr_sql, _t  # noqa: E501



# ---------------------------------------------------------------------------
# Dedup suite
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")



SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""



def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over NORMALIZED text (new r11): the CCNet/Dolma
    normalization key (``functions/text.py normalize_text`` —
    lowercase, punctuation→space, whitespace collapse, trim) applied
    before the hash-groupBy, so case and whitespace variants of the
    same content collapse into one group. The fixture's texts have no
    exact duplicates at gate sf, so the query clones every 7th doc
    under a shifted id with a deterministic perturbation by
    ``doc_id % 3`` (uppercased / space-padded / double-spaced) — a
    RAW exact dedup finds nothing across the clone pairs; the
    normalized key must re-collapse every pair. Output: the
    normalized dup groups (≥ 2 members), top 200 by keeper id."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    perturbed = (F.when(F.col("doc_id") % 3 == 0, F.upper(text))
                 .when(F.col("doc_id") % 3 == 1,
                       F.concat(F.lit("  "), text, F.lit(" ")))
                 .otherwise(F.regexp_replace(text, " ", "  ")))
    clones = (docs.where(F.col("doc_id") % 7 == 0)
              .select((F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                      perturbed.alias("text")))
    corpus = docs.select("doc_id", "text").unionAll(clones)
    normed = corpus.select(
        "doc_id", TX.normalize_text(F.col("text")).alias("text"))
    return (DD.exact_dedup(normed, "text", "doc_id")
            .where(F.col("dup_count") >= 2)
            .orderBy("keep_id")
            .limit(200))



SQL_DEDUP_EXACT_NORMALIZED = """
WITH v AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id,
         CASE doc_id % 3
           WHEN 0 THEN upper(text)
           WHEN 1 THEN '  ' || text || ' '
           ELSE replace(text, ' ', '  ') END AS text
  FROM documents
  WHERE doc_id % 7 = 0
),
n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM v
)
SELECT md5(norm) AS content_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_count
FROM n
GROUP BY 1
HAVING COUNT(*) >= 2
ORDER BY keep_id
LIMIT 200
"""



_PARA_WORDS = 12  # words per synthetic paragraph (fixture has no \n)



def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with document rebuild (new r11 —
    ``operators/dedup.py paragraph_dedup``, the CCNet/Dolma stage
    between doc-exact and span dedup): keep each distinct paragraph's
    first corpus-wide (doc_id, position) occurrence, drop the rest,
    rebuild docs from survivors in order. The fixture's texts carry no
    newlines, so paragraphs are materialized as ``_PARA_WORDS``-word
    chunks joined with a real ``\\n\\n`` separator — identical
    construction on both engines. Output: the docs that LOST at least
    one paragraph, with the rebuilt text's md5."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    chunks = F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(_PARA_WORDS))
                       .cast("int")),
            lambda i: F.array_join(
                F.slice(toks, i * _PARA_WORDS + 1, _PARA_WORDS), " ")))
    paradocs = docs.select(
        "doc_id", F.array_join(chunks, "\n\n").alias("text"))
    out = DD.paragraph_dedup(paradocs, "text", "doc_id")
    return (out.where(F.col("n_kept") < F.col("n_paras"))
            .select("doc_id", "n_paras", "n_kept",
                    F.md5(F.encode("new_text", "utf-8")).alias("new_md5"))
            .orderBy("doc_id")
            .limit(100))



SQL_DEDUP_PARAGRAPHS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(t) / {_PARA_WORDS}.0) AS INT)),
                        i -> array_to_string(
                               t[i * {_PARA_WORDS} + 1 : i * {_PARA_WORDS} + {_PARA_WORDS}],
                               ' ')) AS paras
  FROM toks
),
p AS (
  SELECT doc_id, s.pos AS pos, s.para AS para
  FROM (SELECT doc_id,
               unnest(list_transform(range(0, len(paras)),
                                     i -> struct_pack(pos := i,
                                                      para := paras[i + 1]))) AS s
        FROM chunks)
  WHERE s.para <> ''
),
surv AS (
  SELECT doc_id, pos, para
  FROM p
  QUALIFY row_number() OVER (PARTITION BY md5(para)
                             ORDER BY doc_id, pos) = 1
),
c AS (SELECT doc_id, COUNT(*) AS n_paras FROM p GROUP BY doc_id),
r AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(para, e'\\n\\n' ORDER BY pos) AS new_text
  FROM surv GROUP BY doc_id
)
SELECT c.doc_id, c.n_paras, COALESCE(r.n_kept, 0) AS n_kept,
       md5(COALESCE(r.new_text, '')) AS new_md5
FROM c LEFT JOIN r USING (doc_id)
WHERE COALESCE(r.n_kept, 0) < c.n_paras
ORDER BY doc_id
LIMIT 100
"""


def q_dedup_paragraphs_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy paragraph dedup with document rebuild (new r12 —
    ``operators/dedup.py paragraph_dedup_fuzzy``, the RefinedWeb/Dolma
    stage between exact-paragraph dedup and span rewrite): banded
    MinHash-LSH over word 3-shingles at PARAGRAPH granularity, keeper
    = earliest corpus-wide (doc_id, pos) first occurrence, a later
    paragraph dropped when a band bucket pairs it with an earlier one
    at estimated Jaccard >= 0.5. Paragraphs are the same
    ``_PARA_WORDS``-word chunks as ``dedup_paragraphs``, PLUS a seeded
    near-duplicate exact dedup must miss: every 7th doc re-appends its
    first chunk with two extra tokens (J = 10/12 on shingles). The
    oracle replays the identical md5-affine minhash construction, so
    LSH band outcomes match bit-for-bit. Output: docs that lost at
    least one paragraph, with the rebuilt text's md5."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    chunks = F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / F.lit(_PARA_WORDS))
                       .cast("int")),
            lambda i: F.array_join(
                F.slice(toks, i * _PARA_WORDS + 1, _PARA_WORDS), " ")))
    seeded = F.when(
        (F.col("doc_id") % 7 == 0) & (F.size(chunks) >= 1),
        F.concat(chunks, F.array(
            F.concat(F.element_at(chunks, 1), F.lit(" extra token"))))
    ).otherwise(chunks)
    paradocs = docs.select(
        "doc_id", F.array_join(seeded, "\n\n").alias("text"))
    out = DD.paragraph_dedup_fuzzy(paradocs, "text", "doc_id",
                                   num_hashes=_NUM_HASHES, bands=_BANDS,
                                   threshold=0.5)
    return (out.where(F.col("n_kept") < F.col("n_paras"))
            .select("doc_id", "n_paras", "n_kept",
                    F.md5(F.encode("new_text", "utf-8")).alias("new_md5"))
            .orderBy("doc_id")
            .limit(100))


def _para_fuzzy_sql() -> str:
    rows = _NUM_HASHES // _BANDS
    mh_selects = ",\n       ".join(
        f"{_mh_expr_sql(i)} AS mh_{i}" for i in range(_NUM_HASHES))
    band_selects = []
    for b in range(_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh_{i} AS VARCHAR)"
            for i in range(b * rows, (b + 1) * rows))
        band_selects.append(
            f"SELECT id, md5('{b},' || {cols}) AS band_key FROM sig")
    banded = "\nUNION ALL\n".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(_NUM_HASHES))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks0 AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(t) / {_PARA_WORDS}.0) AS INT)),
                        i -> array_to_string(
                               t[i * {_PARA_WORDS} + 1 : i * {_PARA_WORDS} + {_PARA_WORDS}],
                               ' ')) AS paras
  FROM toks
),
chunks AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 AND len(paras) >= 1
              THEN list_append(paras, paras[1] || ' extra token')
              ELSE paras END AS paras
  FROM chunks0
),
p AS (
  SELECT doc_id, s.pos AS pos, s.para AS para
  FROM (SELECT doc_id,
               unnest(list_transform(range(0, len(paras)),
                                     i -> struct_pack(pos := i,
                                                      para := paras[i + 1]))) AS s
        FROM chunks)
  WHERE s.para <> ''
),
firsts AS (
  SELECT md5(para) AS h, para, doc_id AS fid, pos AS fpos
  FROM p
  QUALIFY row_number() OVER (PARTITION BY md5(para)
                             ORDER BY doc_id, pos) = 1
),
sh AS (
  SELECT h, unnest(list_distinct(
    CASE WHEN len(pt) < 3 THEN []
         ELSE list_transform(generate_series(1, len(pt) - 2),
              i -> concat_ws(' ', pt[i], pt[i+1], pt[i+2]))
    END)) AS shingle
  FROM (SELECT h,
               list_filter(string_split_regex(lower(para), '\\s+'),
                           t -> t <> '') AS pt
        FROM firsts)
),
sig AS (
  SELECT h AS id,
       {mh_selects}
  FROM sh GROUP BY h
),
banded AS ({banded}),
bk AS (
  SELECT banded.id, banded.band_key, firsts.fid, firsts.fpos
  FROM banded JOIN firsts ON firsts.h = banded.id
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bk a JOIN bk b
    ON a.band_key = b.band_key
   AND (a.fid < b.fid OR (a.fid = b.fid AND a.fpos < b.fpos))
),
losers AS (
  SELECT DISTINCT c.id_b AS h
  FROM cands c
  JOIN sig sa ON sa.id = c.id_a
  JOIN sig sb ON sb.id = c.id_b
  WHERE round(({agree}) / CAST({_NUM_HASHES} AS DOUBLE), 6) >= 0.5
),
surv AS (
  SELECT fid AS doc_id, fpos AS pos, para
  FROM firsts
  WHERE h NOT IN (SELECT h FROM losers)
),
c AS (SELECT doc_id, COUNT(*) AS n_paras FROM p GROUP BY doc_id),
r AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(para, e'\\n\\n' ORDER BY pos) AS new_text
  FROM surv GROUP BY doc_id
)
SELECT c.doc_id, c.n_paras, COALESCE(r.n_kept, 0) AS n_kept,
       md5(COALESCE(r.new_text, '')) AS new_md5
FROM c LEFT JOIN r USING (doc_id)
WHERE COALESCE(r.n_kept, 0) < c.n_paras
ORDER BY doc_id
LIMIT 100
"""


SQL_DEDUP_PARAGRAPHS_FUZZY = _para_fuzzy_sql()




def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                  n=3, threshold=0.1,
                                  max_shingle_df=_JACCARD_DF_CAP)



def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs (doc-in-doc detection): asymmetric
    |A∩B|/|A| over hashed 3-gram shingle sets — catches subset/quote
    relationships symmetric Jaccard scores near zero."""
    return DD.ngram_containment_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                      n=3, threshold=0.5,
                                      max_shingle_df=_JACCARD_DF_CAP)



SQL_DEDUP_CONTAINMENT = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT id, COUNT(*) AS n_shingles FROM sh GROUP BY id),
kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_DF_CAP}),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  JOIN kept k ON k.shingle = a.shingle
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(inter / CAST(sa.n_shingles AS DOUBLE), 6) AS cont_a,
       round(inter / CAST(sb.n_shingles AS DOUBLE), 6) AS cont_b
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE greatest(round(inter / CAST(sa.n_shingles AS DOUBLE), 6),
               round(inter / CAST(sb.n_shingles AS DOUBLE), 6)) >= 0.5
"""



def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable MinHash signatures (first 4 hashes surfaced)."""
    sig = DD.minhash_signature(_t(spark, sf_dir, "documents"), "text", "doc_id",
                               num_hashes=4, n=3)
    return sig.select(F.col("id").alias("doc_id"), "mh_0", "mh_1", "mh_2", "mh_3")



SQL_DEDUP_MINHASH = f"""
WITH sh AS ({_SHINGLES_SQL})
SELECT id AS doc_id,
       {_mh_expr_sql(0)} AS mh_0, {_mh_expr_sql(1)} AS mh_1,
       {_mh_expr_sql(2)} AS mh_2, {_mh_expr_sql(3)} AS mh_3
FROM sh GROUP BY id
"""



def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                num_hashes=_NUM_HASHES, bands=_BANDS, n=3, threshold=0.2)



def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (the production shape at corpus scale):
    docs with doc_id % 10 < 8 play the already-ingested corpus — only
    their SIGNATURE table participates, as a persisted store would —
    and the rest arrive as a new batch checked against store + earlier
    batch members. The oracle recomputes the same verdicts from
    scratch, proving the store-only path loses nothing."""
    docs = _t(spark, sf_dir, "documents")
    store_docs = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    # The store is a MATERIALIZED table in production (that's the point
    # of the operator); persist stands in for the parquet signature
    # table so the probe never re-shingles the corpus.
    store_sigs = _persist(DD.minhash_signature(store_docs, "text", "doc_id",
                                               num_hashes=_NUM_HASHES, n=3))
    result = DD.incremental_minhash_dedup(
        batch, store_sigs, "text", "doc_id",
        num_hashes=_NUM_HASHES, bands=_BANDS, n=3, threshold=0.2)
    # The operator's batch-signature cache is registered with the
    # session release hook instead of cleanup(): cleanup() here would
    # fire at construction time — before the caller materializes the
    # returned frame — so every consumer of the batch signatures would
    # re-shingle the batch at execution. The cache lives until
    # release_caches(), like store_sigs; real ingest loops materialize
    # verdicts first and then cleanup (see streaming/dedup.py
    # process_batch).
    for _c in result.caches:
        _register_cache(_c)
    return result.verdicts.select(
        F.col("id").alias("doc_id"), "is_dup", "dup_of", "est_jaccard")



def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures per document (32-bit, engine-portable)."""
    return DD.simhash_signatures(_t(spark, sf_dir, "documents"), "text", "doc_id") \
        .select(F.col("id").alias("doc_id"), "simhash")



def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (hamming ≤ 3) via pigeonhole banding: the
    32-bit signature splits into 4 blocks, candidates are per-block
    equi-joins, verified with bit_count(xor). The oracle is the
    EXHAUSTIVE O(n²) SQL self-join, so a hash-match proves the banding
    loses no pairs (full recall)."""
    return DD.simhash_dup_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                max_hamming=3) \
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))



def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-pair → CLUSTER resolution: n-gram Jaccard pairs become
    connected components (min-label propagation, operators/graph.py);
    each doc gets its cluster id (min doc id in component), the cluster
    size, and the keep/drop decision. The oracle recomputes components
    with a recursive CTE — a hash-match proves the distributed label
    propagation converged to the exact component structure."""
    from datagrowth_spark.operators.graph import dedup_clusters

    pairs = DD.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id",
                                   n=3, threshold=0.1,
                                   max_shingle_df=_JACCARD_DF_CAP)
    return dedup_clusters(pairs).select(
        "doc_id", "cluster_id", F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )



SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_NGRAM_JACCARD}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, comp) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
components AS (SELECT node, MIN(comp) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM components GROUP BY cluster_id)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_canonical
FROM components c JOIN sizes s ON s.cluster_id = c.cluster_id
"""



def q_dedup_canonicalize_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization — the rewrite step real curation
    pipelines run after near-dup clustering: every document maps to its
    cluster's BEST member (highest quality score, doc id as the total-
    order tiebreak), not merely the smallest id; singletons map to
    themselves. Composition: jaccard pairs → connected components →
    per-cluster argmax via one groupBy struct-max. Scale contract: the
    argmax runs ONLY over clustered members (rows that appear in a
    dup pair), so the broadcast canonical table is bounded by the pair
    count — singletons never enter it and resolve to themselves via
    coalesce, keeping the broadcast side small on mostly-unique
    corpora."""
    from datagrowth_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    quality = TX.add_quality_score(docs, out="quality").select(
        "doc_id", "quality")
    pairs = DD.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1,
                                   max_shingle_df=_JACCARD_DF_CAP)
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    member = quality.join(clusters, "doc_id", "left")  # cluster_id null ⇒ singleton
    # struct-max = (quality DESC, doc_id ASC): negated id makes the
    # fieldwise max pick the smallest id among quality ties — identical
    # to the oracle's ROW_NUMBER ordering. Only multi-member clusters
    # participate; their count is ≤ the dup-pair count.
    best = (member.filter(F.col("cluster_id").isNotNull())
            .groupBy("cluster_id").agg(
                F.max(F.struct(F.col("quality"),
                               (-F.col("doc_id")).alias("nid"),
                               F.col("doc_id").alias("cid"))).alias("b")))
    canon = best.select("cluster_id", F.col("b.cid").alias("canonical_id"))
    # Left join: null cluster_id never matches, so singletons fall to
    # the coalesce and map to themselves without ever being shuffled
    # into (or broadcast with) the canonical table.
    return (member.join(F.broadcast(canon), "cluster_id", "left")
            .select("doc_id",
                    F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id"),
                    (F.col("doc_id") ==
                     F.coalesce("canonical_id", F.col("doc_id"))).alias("kept")))



def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥ 5 distinct
    3-gram shingles with the (deterministic) benchmark subset
    ``doc_id % 20 == 0`` are flagged as eval-set leaks. The benchmark
    side is distinct-shingled and broadcast — no corpus self-join."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    benchmark = docs.where(F.col("doc_id") % 20 == 0)
    return DD.contamination_flags(corpus, benchmark, "text", "doc_id",
                                  n=3, min_overlap=5)



def _subset_shingles_sql(predicate: str) -> str:
    return f"""
  SELECT doc_id AS id, unnest(list_distinct(
    CASE WHEN len({_TOKS_SQL}) < 3 THEN []
         ELSE list_transform(generate_series(1, len({_TOKS_SQL}) - 2),
              i -> concat_ws(' ', {_TOKS_SQL}[i], {_TOKS_SQL}[i+1], {_TOKS_SQL}[i+2]))
    END)) AS shingle
  FROM documents WHERE {predicate}
"""



SQL_DECONTAMINATION = f"""
WITH corpus_sh AS ({_subset_shingles_sql("doc_id % 20 != 0")}),
bench_sh AS (SELECT DISTINCT shingle FROM ({_subset_shingles_sql("doc_id % 20 = 0")})),
overlap AS (
  SELECT id, COUNT(*) AS overlap
  FROM corpus_sh JOIN bench_sh USING (shingle)
  GROUP BY id
)
SELECT d.doc_id,
       CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap,
       COALESCE(o.overlap, 0) >= 5 AS contaminated
FROM documents d LEFT JOIN overlap o ON o.id = d.doc_id
WHERE d.doc_id % 20 != 0
"""



def q_dedup_spans_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span duplication: per document, the fraction of its
    distinct 8-gram spans that occur in ≥1 other document. Plan: distinct
    spans hashed to longs → global doc-frequency agg (one shuffle on the
    hash) → join back → per-doc agg. The RefinedWeb/CCNet line-dedup
    signal at n-gram granularity.

    Hash contract: each engine may use its own span hash, but BOTH must
    be collision-free at the corpus size — Spark uses xxhash64 (64-bit),
    the oracle full md5 (128-bit). A truncated hash breaks the value
    match exactly at scale: a 32-bit oracle key collided at sf0.1
    (~450k distinct spans → ~20 birthday collisions → phantom shared
    spans) while passing sf0.01 — caught by the 10× oracle sweep.
    """
    from datagrowth_spark.operators import repetition as RT

    docs = _t(spark, sf_dir, "documents")
    return RT.crossdoc_span_stats(docs, "text", "doc_id", n=8).select(
        F.col("id").alias("doc_id"), "n_spans", "shared_spans", "shared_frac",
    )



SQL_DEDUP_SPANS_CROSSDOC = f"""
WITH toks AS (SELECT doc_id AS id, {_TOKS_SQL} AS t FROM documents),
spans AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(t) < 8 THEN []
         ELSE list_transform(generate_series(1, len(t) - 7),
              i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                  t[i+4], t[i+5], t[i+6], t[i+7])) END)) AS span
  FROM toks
),
h AS (SELECT id, md5(span) AS h FROM spans),
dfreq AS (SELECT h, COUNT(*) AS df FROM h GROUP BY h)
SELECT id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_spans,
       round(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac
FROM h JOIN dfreq USING (h)
GROUP BY id
"""



def q_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup that REWRITES documents (Lee et al. shape):
    tokens covered by an 8-token span occurring in >1 document are
    removed everywhere except the keeper (min doc_id holding the span).
    The oracle recomputes the rewrite from first principles — a value
    match on the rewritten text proves position bookkeeping, keeper
    election and re-assembly all agree."""
    return DD.drop_duplicated_spans(_t(spark, sf_dir, "documents"), "text", "doc_id", n=8)



SQL_DEDUP_SPAN_REWRITE = f"""
WITH toked AS (SELECT doc_id AS id, {_RAW_TOKS_SQL} AS toks FROM documents),
spans AS (
  SELECT id, i - 1 AS pos, array_to_string(list_slice(toks, i, i + 7), ' ') AS span
  FROM toked, unnest(generate_series(1, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
span_df AS (
  SELECT span, COUNT(DISTINCT id) AS dfreq, MIN(id) AS keeper FROM spans GROUP BY span
),
covered AS (
  SELECT DISTINCT s.id, u.tokpos
  FROM spans s
  JOIN span_df d ON s.span = d.span AND d.dfreq > 1 AND s.id <> d.keeper,
       unnest(generate_series(s.pos, s.pos + 7)) AS u(tokpos)
),
kept AS (
  SELECT t.id, u.i, t.toks[u.i] AS tok
  FROM toked t, unnest(generate_series(1, len(t.toks))) AS u(i)
  WHERE NOT EXISTS (SELECT 1 FROM covered c WHERE c.id = t.id AND c.tokpos = u.i - 1)
),
agg AS (
  SELECT id, COUNT(*) AS n_kept, string_agg(tok, ' ' ORDER BY i) AS text_deduped
  FROM kept GROUP BY id
)
SELECT t.id AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(a.text_deduped, '') AS text_deduped
FROM toked t LEFT JOIN agg a ON a.id = t.id
"""



def q_decontamination_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination on WINNOWED fingerprints instead of
    full shingle sets (compare ``decontamination``): the eval split
    (every 97th doc) contributes its sparse fingerprints as a broadcast
    set and corpus docs sharing any fingerprint are flagged with their
    shared-fingerprint count. Same plan shape as the full-shingle
    decontamination — eval side broadcast, corpus never self-joins —
    but the exploded corpus volume is only ~2/(w+1) of the gram count,
    which at 100 TB is the difference between shuffling the corpus's
    entire shingle inventory and a 40% sample with a recall guarantee
    (any shared 6-token run is still caught)."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", TX.tokens_col(F.lower(F.col("text"))).alias("toks"))
    grammed = toked.select(
        "doc_id",
        F.transform(TX.shingles_from_tokens(F.col("toks"), 3),
                    lambda s: F.md5(F.encode(s, "utf-8"))).alias("grams"))
    fl = grammed.select(
        "doc_id",
        F.explode(TX.winnow_fingerprints(F.col("grams"), 4)).alias("fp"))
    is_eval = F.col("doc_id") % 97 == 0
    eval_fps = fl.where(is_eval).select("fp").distinct()
    return (
        fl.where(~is_eval)
        .join(F.broadcast(eval_fps), "fp")
        .groupBy("doc_id")
        .agg(F.countDistinct("fp").alias("n_shared_fps"))
    )



SQL_DECONTAMINATION_WINNOW = f"""
WITH {_WINNOW_CTES},
fl AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w),
ev AS (SELECT DISTINCT fp FROM fl WHERE doc_id % 97 = 0)
SELECT doc_id, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_shared_fps
FROM fl JOIN ev USING (fp)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
"""



def q_entity_match_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: distinct part names are matched
    approximately (levenshtein ≤ 3) inside blocks keyed by their first
    token — the standard ER shape (dedupe entities first, block, verify
    pairwise only within blocks, enrich with entity weights). The
    pairwise verify is quadratic ONLY in block size: the self-join is
    on the block key, never all-pairs, and the name table is
    distinct-entity-sized (row count collapses first through one hash
    aggregate), so corpus scale enters the plan only through that
    initial aggregate. Weights join back from the same aggregate."""
    parts = _t(spark, sf_dir, "part")
    names = (parts.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_rows"))
             .withColumn("block", F.split("p_name", " ").getItem(0)))
    a = names.select(F.col("p_name").alias("name_a"),
                     F.col("n_rows").alias("n_a"), "block")
    b = names.select(F.col("p_name").alias("name_b"),
                     F.col("n_rows").alias("n_b"), "block")
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .where(F.col("dist") <= 3)
        .select("block", "name_a", "name_b", "dist", "n_a", "n_b")
    )



SQL_ENTITY_MATCH_BLOCKS = """
WITH names AS (
  SELECT p_name, COUNT(*) AS n_rows, split_part(p_name, ' ', 1) AS block
  FROM part GROUP BY p_name)
SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       a.n_rows AS n_a, b.n_rows AS n_b
FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""



def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from winnowed fingerprints: the sparse
    posting-list dedup — each doc posts only its winnow-selected minima
    (~2/(w+1) of its grams), so the shuffle and the per-bucket pair
    explode shrink by the same factor vs ``dedup_ngram_jaccard`` while
    shared ≥6-token runs are still guaranteed to collide. Boilerplate
    fingerprints past the df cap are dropped before the explode (the
    standard skew guard)."""
    return DD.winnow_candidate_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, window=4, min_shared=2, max_fp_df=64)



SQL_DEDUP_WINNOW_PAIRS = f"""
WITH {_WINNOW_CTES},
fl AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w),
dfc AS (SELECT fp FROM fl GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 64)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fl a
JOIN dfc USING (fp)
JOIN fl b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

