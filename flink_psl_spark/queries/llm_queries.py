"""LLM-data-pipeline query inventory (SURVEY §7 M5; driver north star).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + LSH ANN), and text analysis over the documents/embeddings
fixtures. Oracles replicate the deterministic parts in DuckDB SQL; the
sketch-based operators (MinHash/SimHash/LSH) register rows-only checks with
their exactness asserted against brute force in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_psl_spark.llm.text import pinned_trim
from flink_psl_spark.queries.registry import query, tables
from flink_psl_spark.materialize import materialize


@query(
    "llm_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g'), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))))
    """,
)
def llm_exact_dedup(spark, sf_dir):
    """Exact dedup via content fingerprint hash-groupBy."""
    from flink_psl_spark.llm import exact_dedup

    t = tables(spark, sf_dir)
    return exact_dedup(t["documents"])


@query(
    "llm_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([array_to_string(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents WHERE doc_id < 200))
    SELECT l.doc_id AS a, r.doc_id AS b,
           ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                 LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 6) AS jaccard
    FROM sh l JOIN sh r ON l.doc_id < r.doc_id
    WHERE LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
          LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))) >= 0.2
    """,
)
def llm_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram (3-shingle) Jaccard similarity pairs >= 0.2 over a
    document subset — the verification stage of near-dup dedup."""
    from flink_psl_spark.llm import ngram_jaccard_pairs

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, threshold=0.2)


# All-pairs ground truth for near-dup survivors: docs NOT appearing as the
# greater id of any pair with exact 3-shingle Jaccard >= 0.8. Both sketch
# dedup queries verify candidates with this exact Jaccard, so their output
# equals this truth whenever candidate recall is 1 — which the oracle now
# *proves* per run instead of a pytest spot-check.
# Cost shaping (the harness pays for oracle SQL too): shingles are hashed
# to 64-bit ints (set ops on ints, not strings; Jaccard unchanged barring a
# ~2^-64 collision), and pairs are pre-pruned by the lossless size bound
# J >= 0.8 ⟹ 5·min(|A|,|B|) >= 4·max(|A|,|B|). 12.3s → 1.1s at sf0.01.
_NEARDUP_SURVIVORS_SQL = """
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([hash(array_to_string(words[i:i+2], ' '))
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    sized AS (SELECT doc_id, s, LEN(s) AS n FROM sh),
    dropped AS (
      SELECT DISTINCT r.doc_id
      FROM sized l JOIN sized r
        ON l.doc_id < r.doc_id
       AND r.n * 5 >= l.n * 4 AND l.n * 5 >= r.n * 4
      WHERE ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                  LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 6) >= 0.8)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@query("llm_minhash_dedup", oracle=_NEARDUP_SURVIVORS_SQL)
def llm_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dup dedup: shingle → 64-hash signature → 16-band LSH
    → exact Jaccard verify ≥ 0.8 → drop higher doc_id of each pair.

    Exact oracle: all-pairs Jaccard ground truth — a hash-match means LSH
    candidate recall was 1 AND the verify threshold agreed, end to end."""
    from flink_psl_spark.llm import minhash_dedup

    t = tables(spark, sf_dir)
    return minhash_dedup(t["documents"]).select("doc_id", "lang", "source")


@query("llm_simhash_dedup", oracle=_NEARDUP_SURVIVORS_SQL)
def llm_simhash_dedup(spark, sf_dir):
    """SimHash near-dup dedup as candidates + exact verify: 64-bit
    fingerprint, Hamming ≤ 13 block-permutation candidate join, then
    exact 3-shingle Jaccard ≥ 0.8 verification — same sketch-for-
    candidates / exact-for-output shape as minhash_dedup, so the same
    all-pairs oracle applies WHEN the Hamming budget captures every true
    pair. The budget is empirical: true dup pairs measure ≤ 10 at
    sf0.001/sf0.01 and ≤ 13 at sf0.1 (a 13-Hamming true pair at sf0.1
    caught the old 10 budget — simhash LSH recall is probabilistic in
    Jaccard, which is why minhash_dedup is the primary Jaccard path);
    13 ⇒ 14 four-bit blocks, still one equi-join shuffle. The tight
    production setting (Hamming ≤ 3, no verify) is exercised in
    tests/test_llm.py."""
    from flink_psl_spark.llm import simhash_dedup

    t = tables(spark, sf_dir)
    return simhash_dedup(
        t["documents"], max_hamming=13, verify_threshold=0.8
    ).select("doc_id", "lang", "source")


@query(
    "llm_dedup_clusters",
    oracle="""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT([array_to_string(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents WHERE doc_id < 200)),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b
      FROM sh l JOIN sh r ON l.doc_id < r.doc_id
      WHERE LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
            LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))) >= 0.2),
    und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT s, s FROM und
      UNION
      SELECT u.d, w.label FROM walk w JOIN und u ON u.s = w.node)
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def llm_dedup_clusters(spark, sf_dir):
    """Duplicate-group clustering: exact 3-shingle Jaccard >= 0.2 pairs on a
    doc subset → connected components (min-label propagation; the Gelly
    ConnectedComponents surface). Oracle: recursive-CTE transitive closure."""
    from flink_psl_spark.llm import dedup_clusters, ngram_jaccard_pairs

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return dedup_clusters(pairs)


@query(
    "llm_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS n_pieces
    FROM documents
    """,
)
def llm_bpe_token_count(spark, sf_dir):
    """BPE-ish sub-word token estimate (word/number/punct piece split)."""
    from flink_psl_spark.llm.text import bpe_ish_token_count

    t = tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", bpe_ish_token_count("text").alias("n_pieces")
    )


@query(
    "llm_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS toks,
             LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) * 1.0
               / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS mwl,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+'),
                 x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in',
                     'is','are','was','were','be','been','it','this','that',
                     'for','on','with','as','at','by','from','not','no'], x)))
               * 1.0 / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS sw,
             LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) * 1.0
               / LEN(text) AS pr
      FROM documents)
    SELECT doc_id,
           CAST(CASE WHEN toks BETWEEN 10 AND 100000 THEN 0.25 ELSE 0 END
              + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END
              + CASE WHEN sw >= 0.05 THEN 0.25 ELSE 0 END
              + CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0 END AS DOUBLE) AS q
    FROM f
    """,
)
def llm_quality_score(spark, sf_dir):
    """Composite quality score (Gopher/C4-style band checks)."""
    from flink_psl_spark.llm.text import quality_score

    t = tables(spark, sf_dir)
    return t["documents"].select("doc_id", quality_score("text").alias("q"))


@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS BIGINT) AS n_tokens,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g'), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)))) AS fp,
           ROUND(LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) * 1.0
                 / LEN(text), 6) AS punct_ratio,
           ROUND(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+'),
                 x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is',
                                     'are','was','were','be','been','it','this',
                                     'that','for','on','with','as','at','by',
                                     'from','not','no'], x))) * 1.0
                 / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')), 6) AS stop_ratio
    FROM documents
    """,
)
def llm_text_stats(spark, sf_dir):
    """Text analysis: token count, content fingerprint, punctuation and
    stopword ratios — expression-only feature extraction."""
    from flink_psl_spark.llm.text import (
        fingerprint,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    t = tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        fingerprint("text").alias("fp"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stop_ratio"),
    )


@query(
    "llm_language_id",
    # exact oracle: per-language stopword hit-ratio, sequential argmax with
    # strict > (ties keep the earlier language in en,fr,de,es order),
    # threshold 0.03 → 'und'. Ratios are single divisions of identical int
    # operands on both engines, so the comparisons are bit-reproducible.
    oracle="""
    WITH sc AS (
      SELECT lang,
             STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+') AS toks
      FROM documents),
    r AS (
      SELECT lang,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['the','a','an','and',
                 'or','of','to','in','is','are','was','were','be','been','it',
                 'this','that','for','on','with','as','at','by','from','not',
                 'no'], t))) * 1.0 / LEN(toks) END AS s_en,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['le','la','les','de',
                 'des','un','une','et','est','dans','pour','que','qui','sur',
                 'au','du'], t))) * 1.0 / LEN(toks) END AS s_fr,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['der','die','das',
                 'und','ist','ein','eine','nicht','mit','für','von','auf',
                 'dem','den'], t))) * 1.0 / LEN(toks) END AS s_de,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['el','la','los','las',
                 'de','un','una','y','es','en','que','por','para','con',
                 'del'], t))) * 1.0 / LEN(toks) END AS s_es
      FROM sc),
    p AS (
      SELECT lang,
             CASE
               WHEN s_en > 0.03 AND s_en >= s_fr AND s_en >= s_de
                    AND s_en >= s_es THEN 'en'
               WHEN s_fr > 0.03 AND s_fr > s_en AND s_fr >= s_de
                    AND s_fr >= s_es THEN 'fr'
               WHEN s_de > 0.03 AND s_de > s_en AND s_de > s_fr
                    AND s_de >= s_es THEN 'de'
               WHEN s_es > 0.03 AND s_es > s_en AND s_es > s_fr
                    AND s_es > s_de THEN 'es'
               ELSE 'und' END AS pred
      FROM r)
    SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY lang, pred
    """,
)
def llm_language_id(spark, sf_dir):
    """Stopword-profile language identification vs the fixture's lang label."""
    from flink_psl_spark.llm import language_id

    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select("lang", language_id("text").alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )


@query(
    "llm_quality_filter",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS toks,
             LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) * 1.0
               / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS mwl
      FROM documents)
    SELECT doc_id FROM feats
    WHERE toks >= 10 AND toks <= 100000 AND mwl >= 2.0 AND mwl <= 12.0
    """,
)
def llm_quality_filter(spark, sf_dir):
    """Quality filtering: keep docs passing token-count and mean-word-length
    bands (C4/Gopher-style heuristics)."""
    from flink_psl_spark.llm.text import mean_word_length, token_count

    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .where(
            token_count("text").between(10, 100000)
            & mean_word_length("text").between(2.0, 12.0)
        )
        .select("doc_id")
    )


@query(
    "llm_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
               FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  LIST_COSINE_SIMILARITY(q.v, c.v) AS sim
           FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def llm_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for 10 query vectors — the exact
    ANN baseline (broadcast queries; corpus never shuffles)."""
    from flink_psl_spark.llm import cosine_topk

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _ann_recall_check(spark, sf_dir, ann_fn, min_hits: int):
    """Shared oracle-able restatement for approximate top-k: per query, the
    invariant is |ANN top-5 ∩ exact top-5| >= min_hits (deterministic —
    seeded hyperplanes/centroids, no rand()). The oracle side is the fixed
    truth `SELECT vec_id, TRUE`; the Spark side computes both ANN and the
    brute-force baseline and emits the measured boolean."""
    from flink_psl_spark.llm import cosine_topk

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    q = emb.where(F.col("vec_id") < 10)
    ann = ann_fn(emb, q).select("query_id", "neighbor_id")
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    hits = (
        ann.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("__hits"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("__hits", F.lit(0)) >= min_hits).alias("recall_ok"),
        )
    )


_ANN_RECALL_ORACLE = """
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """


@query("llm_ivf_ann_topk", oracle=_ANN_RECALL_ORACLE)
def llm_ivf_ann_topk(spark, sf_dir):
    """IVF approximate nearest neighbors: hash-sampled centroids, map-side
    cell assignment, n_probe-cell scan (the second ANN scale path).
    Oracle-able invariant: every query recovers ≥ 2/5 of its exact top-5
    (measured ≥ 3/5 at sf0.001, sf0.01 AND sf0.1 with probe 20/32 — the
    old probe-10/16 point recalled 0/5 for one sf0.1 query: this
    fixture's embeddings are near-random, so cell boundaries carry
    little signal and the probe fraction must stay generous)."""
    from flink_psl_spark.llm.similarity import ivf_cosine_topk

    return _ann_recall_check(
        spark, sf_dir,
        lambda emb, q: ivf_cosine_topk(emb, q, k=5, n_centroids=32, n_probe=20),
        min_hits=2,
    )


@query("llm_pq_ann_topk", oracle=_ANN_RECALL_ORACLE)
def llm_pq_ann_topk(spark, sf_dir):
    """Product-quantization approximate nearest neighbors (Jégou et al.
    2011; the faiss IVF-PQ family's compression half): m-byte codes
    replace the vectors, queries score via per-query lookup tables
    (asymmetric distance), candidates re-rank exactly. The third ANN
    scale path next to IVF and LSH. Oracle-able invariant: every query
    recovers ≥ 2/5 of its exact top-5 (measured ≥ 3/5 at sf0.001 and
    sf0.01 with m=8, 32 codes, refine 12)."""
    from flink_psl_spark.llm.similarity import pq_cosine_topk

    return _ann_recall_check(
        spark, sf_dir,
        lambda emb, q: pq_cosine_topk(
            emb, q, k=5, m=8, n_codes=32, refine=12
        ),
        min_hits=2,
    )


@query("llm_sq_ann_topk", oracle=_ANN_RECALL_ORACLE)
def llm_sq_ann_topk(spark, sf_dir):
    """Int8 scalar-quantized cosine top-k (faiss SQ8 tier): per-vector
    symmetric scale + one-byte codes (8× compression), partition-local
    dequantized scoring, exact re-rank of broadcast candidates.
    Oracle-able invariant: every query recovers ≥ 4/5 of its exact top-5
    (measured 5/5 at sf0.001 and sf0.01 — int8 rounding error is far
    below the fixture's similarity gaps)."""
    from flink_psl_spark.llm.similarity import sq_cosine_topk

    return _ann_recall_check(
        spark, sf_dir,
        lambda emb, q: sq_cosine_topk(emb, q, k=5, refine=4),
        min_hits=4,
    )


@query(
    "llm_rolling_fingerprints",
    oracle="""
    SELECT doc_id, norm[1:16] AS prefix16 FROM (
      SELECT doc_id, LOWER(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 100)
    """,
)
def llm_rolling_fingerprints(spark, sf_dir):
    """Rolling-hash fingerprint sketch; the oracle checks the shared
    normalization prefix (the hash family is engine-specific — xxhash64 —
    so sketch equality is asserted in tests instead)."""
    from flink_psl_spark.llm.text import rolling_fingerprints

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 100)
    # materialize the sketch (forces the expression) but compare on the
    # deterministic normalization used by it
    sketched = docs.select(
        "doc_id",
        rolling_fingerprints("text").alias("fp"),
        F.substring(
            F.lower(F.regexp_replace("text", r"[ \t\n\f\r]+", " ")), 1, 16
        ).alias("prefix16"),
    )
    return sketched.where(F.size("fp") > 0).select("doc_id", "prefix16")


@query("llm_lsh_ann_topk", oracle=_ANN_RECALL_ORACLE)
def llm_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors (random hyperplanes,
    multi-table) — the 100 TB scale path for similarity search.
    The fixture's similarity structure is weak (max cosine ≈ 0.35), so the
    operating point favors recall: few planes, many tables. Oracle-able
    invariant: every query recovers ≥ 3/5 of its exact top-5 (measured
    ≥ 4/5 at sf0.001 and sf0.01 with 4 planes × 24 tables)."""
    from flink_psl_spark.llm import lsh_cosine_topk

    return _ann_recall_check(
        spark, sf_dir,
        lambda emb, q: lsh_cosine_topk(emb, q, k=5, n_planes=4, n_tables=24),
        min_hits=3,
    )


@query(
    "llm_embedding_dedup",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dropped AS (
      SELECT DISTINCT r.vec_id
      FROM c l JOIN c r ON l.vec_id < r.vec_id
      WHERE LIST_COSINE_SIMILARITY(l.v, r.v) >= 0.2)
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def llm_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup removal, exact-verification configuration
    (threshold 0.2 — the fixture's similarity ceiling is ~0.35). The LSH
    candidate path is exercised in tests/test_llm.py."""
    from flink_psl_spark.llm import embedding_dedup

    t = tables(spark, sf_dir)
    return embedding_dedup(t["embeddings"], threshold=0.2, exact=True).select(
        "vec_id", "label"
    )


@query(
    "salted_agg_skew",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           COUNT(*) AS n,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
           COUNT(DISTINCT l_partkey) AS uniq_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_agg_skew(spark, sf_dir):
    """Salted two-stage aggregation (reference SplitAggregateRule /
    distinct-agg split): l_returnflag has only 3 values — exactly the hot
    GROUP BY key shape — so each runs over 32 salt buckets before the
    final merge, including an exact two-level count distinct."""
    from flink_psl_spark.operators.skew import salted_agg

    t = tables(spark, sf_dir)
    out = salted_agg(
        t["lineitem"],
        "l_returnflag",
        {
            "total_price": ("sum", "l_extendedprice"),
            "n": ("count", "l_linenumber"),
            "avg_qty": ("avg", "l_quantity"),
            "min_q": ("min", "l_quantity"),
            "max_q": ("max", "l_quantity"),
            "uniq_parts": ("count_distinct", "l_partkey"),
        },
    )
    return out.select(
        "l_returnflag",
        F.round("total_price", 2).alias("total_price"),
        "n",
        F.round("avg_qty", 6).alias("avg_qty"),
        "min_q", "max_q", "uniq_parts",
    )


@query(
    "llm_stratified_sample",
    # the sampler's md5-derived bucket reproduces exactly in DuckDB, so the
    # oracle replays the very same row selection: first 6 hex digits of
    # md5('<doc_id>|42') < 0.5 * 16^6 for non-en strata (en keeps all)
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE lang = 'en'
       OR CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|42'), 1, 6)
               AS BIGINT) < 8388608
    """,
)
def llm_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sampling (training-mix curation):
    keep all English docs, a reproducible half of every other language."""
    from flink_psl_spark.llm import stratified_sample

    t = tables(spark, sf_dir)
    langs = [r[0] for r in t["documents"].select("lang").distinct().collect()]
    fractions = {lg: (1.0 if lg == "en" else 0.5) for lg in langs}
    return stratified_sample(
        t["documents"], "lang", fractions, key_cols=["doc_id"]
    ).select("doc_id", "lang")


@query(
    "llm_embedding_outliers",
    # Mahalanobis scoring needs the PCA eigenbasis, so (like
    # llm_embedding_pca) the oracle is the algebraic self-check: for
    # sample-covariance whitening, Σ maha² over the corpus is EXACTLY
    # k·(n−1), and the returned outlier ranking must be monotone. Both
    # are computed in Spark with explicit tolerances per returned row.
    oracle="""
    SELECT r AS rank, TRUE AS sum_identity_ok, TRUE AS monotone_ok
    FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) AS t(r)
    ORDER BY r
    """,
)
def llm_embedding_outliers(spark, sf_dir):
    """Embedding-space outlier flagging (squared Mahalanobis distance in
    the top-8 PCA subspace): the curation step that drops mis-embedded /
    out-of-distribution rows before clustering or ANN indexing."""
    from flink_psl_spark.llm import embedding_outliers, pca_fit

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    model = pca_fit(emb, 8)
    scores = embedding_outliers(emb, model=model)
    k, n = len(model["eigenvalues"]), model["n"]
    total = scores.agg(F.sum("maha_sq")).first()[0]
    identity_ok = abs(total - k * (n - 1)) <= 1e-6 * k * (n - 1)
    top = [
        r["maha_sq"]
        for r in scores.orderBy(
            F.desc("maha_sq"), F.asc("vec_id")
        ).limit(10).collect()
    ]
    rows = [
        (i + 1, bool(identity_ok),
         bool(i == 0 or top[i] <= top[i - 1]))
        for i in range(len(top))
    ]
    return spark.createDataFrame(
        rows, "rank int, sum_identity_ok boolean, monotone_ok boolean"
    )


@query(
    "llm_curriculum_schedule",
    # the schedule replays in SQL: global difficulty rank (n_chars asc,
    # doc_id tie-break), explicit phase arithmetic ((rk-1)*n//total + 1 —
    # distributed_ntile's engine-independent formula), md5 order key
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER () AS total
      FROM documents
    )
    SELECT doc_id, n_chars,
           CAST((rk - 1) * 4 // total + 1 AS INT) AS phase,
           CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|42'), 1, 6)
                AS BIGINT) AS order_key
    FROM r
    """,
)
def llm_curriculum_schedule(spark, sf_dir):
    """Curriculum ordering (easy→hard by length quantile, deterministic
    intra-phase shuffle): 4 phases over the documents table; consumption
    order is (phase, order_key, doc_id). Phase assignment is the two-pass
    distributed NTILE — no single-partition global sort anywhere."""
    from flink_psl_spark.llm import curriculum_schedule

    t = tables(spark, sf_dir)
    return curriculum_schedule(
        t["documents"].select("doc_id", "n_chars"),
        "n_chars",
        id_col="doc_id",
        n_phases=4,
        bin_col=F.col("n_chars"),
    ).select("doc_id", "n_chars", "phase", "order_key")


@query(
    "llm_preference_pairs",
    # full replica: the quality-score CTE (the llm_quality_score oracle)
    # plus two deterministic rank windows and the (group, rank) pair join;
    # scores are exact quarter sums so the margin compare is exact
    oracle="""
    WITH f AS (
      SELECT source, doc_id,
             LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS toks,
             LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) * 1.0
               / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS mwl,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+'),
                 x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in',
                     'is','are','was','were','be','been','it','this','that',
                     'for','on','with','as','at','by','from','not','no'], x)))
               * 1.0 / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS sw,
             LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) * 1.0
               / LEN(text) AS pr
      FROM documents),
    q AS (
      SELECT source, doc_id,
             CAST(CASE WHEN toks BETWEEN 10 AND 100000 THEN 0.25 ELSE 0 END
                + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END
                + CASE WHEN sw >= 0.05 THEN 0.25 ELSE 0 END
                + CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0 END AS DOUBLE) AS s
      FROM f),
    b AS (
      SELECT source, doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY s DESC, doc_id ASC) AS r
      FROM q),
    w AS (
      SELECT source, doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY s ASC, doc_id ASC) AS r
      FROM q)
    SELECT b.source, CAST(b.r AS INT) AS pair_rank,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           b.s AS chosen_score, w.s AS rejected_score,
           b.s - w.s AS margin
    FROM b JOIN w ON b.source = w.source AND b.r = w.r
    WHERE b.r <= 10 AND w.r <= 10
      AND b.doc_id != w.doc_id AND b.s - w.s >= 0.25
    """,
)
def llm_preference_pairs(spark, sf_dir):
    """Preference-pair assembly for reward-model / DPO-style training:
    per source, the i-th best document by the Gopher-band quality score is
    paired with the i-th worst (i <= 10), kept when the score margin
    reaches 0.25 — the quality-contrast recipe when no human labels
    exist. Two k-bounded rank windows + one (group, rank) pair join."""
    from flink_psl_spark.llm import preference_pairs
    from flink_psl_spark.llm.text import quality_score

    t = tables(spark, sf_dir)
    return preference_pairs(
        t["documents"],
        group_col="source",
        score_col=quality_score("text"),
        k=10,
        min_margin=0.25,
    )


@query(
    "llm_html_extract",
    # exact roundtrip oracle: the query renders each document into a full
    # HTML page (head/style/nav chrome, a pure-link menu div, 12-word
    # <p> paragraphs, footer) and extracts the main content back — the
    # extractor must return precisely the paragraph texts, newline-joined,
    # which SQL reconstructs from the raw text alone
    oracle="""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, s, ARRAY_TO_STRING(w[s:s+11], ' ') AS chunk
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 12)) AS t(s)
    )
    SELECT doc_id, STRING_AGG(chunk, CHR(10) ORDER BY s) AS text
    FROM c GROUP BY doc_id
    """,
)
def llm_html_extract(spark, sf_dir):
    """HTML main-content extraction (trafilatura/jusText-style): strip
    chrome subtrees (head/nav/footer/script/style), prune link-dense
    menu blocks, keep paragraph blocks. The page is synthesized from the
    fixture text so extraction is oracle-checked as an exact inverse."""
    from flink_psl_spark.llm import html_extract

    t = tables(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    seq = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(12))
    paras = F.array_join(
        F.transform(
            seq,
            lambda s: F.concat(
                F.lit("<p>"),
                F.concat_ws(" ", F.slice(w, s, 12)),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    page = F.concat(
        F.lit(
            '<html><head><title>Doc</title><style>p{margin:0}</style>'
            '</head><body><nav><a href="/">Home</a> <a href="/a">About'
            '</a></nav><div><a href="/x">one</a> <a href="/y">two</a>'
            "</div><article>"
        ),
        paras,
        F.lit('</article><footer>(c) <a href="/tos">Terms</a></footer>'
              "</body></html>"),
    )
    docs = t["documents"].select("doc_id", page.alias("html"))
    return html_extract(docs)


@query(
    "llm_embedding_pca",
    # PCA needs an eigendecomposition, which SQL cannot express — the
    # oracle-able contract is the spectral-identity self-check (the
    # agg_hll_sketch pattern): the fitted basis is orthonormal, the
    # projected corpus's per-component sample variance equals the
    # eigenvalue, distinct components are uncorrelated, and eigenvalues
    # descend. Each check is computed in Spark with explicit tolerances
    # and must come back TRUE for every component.
    oracle="""
    SELECT c AS component, TRUE AS orthonormal, TRUE AS variance_matches,
           TRUE AS decorrelated, TRUE AS explained_desc
    FROM (VALUES (0), (1), (2), (3)) AS t(c) ORDER BY c
    """,
)
def llm_embedding_pca(spark, sf_dir):
    """Distributed PCA over the embedding corpus (moment-sketch fit: one
    scan to a d²-sized aggregate, driver eigh, broadcast projection) —
    the standard dimensionality-reduction step before embedding-space
    curation (visualization, whitening, coarse ANN)."""
    import math

    from flink_psl_spark.llm import pca_fit, pca_project

    k = 4
    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    model = pca_fit(emb, k)
    proj = pca_project(emb, model)
    p = proj.select(*[F.col("proj")[i].alias(f"c{i}") for i in range(k)])
    aggs = [F.var_samp(f"c{i}").alias(f"v{i}") for i in range(k)]
    pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]
    aggs += [
        F.covar_samp(f"c{i}", f"c{j}").alias(f"cv{i}_{j}")
        for i, j in pairs
    ]
    st = p.agg(*aggs).first()
    lam = model["eigenvalues"]
    W = model["components"]
    gram = [
        [sum(a * b for a, b in zip(W[i], W[j])) for j in range(k)]
        for i in range(k)
    ]
    rows = []
    for i in range(k):
        ortho = all(
            abs(gram[i][j] - (1.0 if i == j else 0.0)) < 1e-9
            for j in range(k)
        )
        var_ok = abs(st[f"v{i}"] - lam[i]) <= 1e-5 * max(lam[i], 1e-12)
        decor = all(
            abs(st[f"cv{a}_{b}"])
            <= 1e-5 * math.sqrt(max(lam[a] * lam[b], 1e-24)) + 1e-9
            for a, b in pairs
            if i in (a, b)
        )
        desc = i == 0 or lam[i] <= lam[i - 1]
        rows.append((i, ortho, var_ok, decor, desc))
    return spark.createDataFrame(
        rows,
        "component int, orthonormal boolean, variance_matches boolean, "
        "decorrelated boolean, explained_desc boolean",
    )


@query(
    "llm_weighted_sample",
    # A-ES keys replay exactly in DuckDB: u = (md5 bucket + 1) / 2^24 is an
    # exact double, LN(u)/n_chars quantized to 1e-9 integers, ties on doc_id
    oracle="""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             CAST(ROUND(LN((CAST('0x' || SUBSTR(
                      MD5(CAST(doc_id AS VARCHAR) || '|42'), 1, 6)
                    AS BIGINT) + 1) / 16777216.0)
                  / n_chars * 1000000000.0) AS BIGINT) AS sk
      FROM documents WHERE n_chars > 0
    ), r AS (
      SELECT doc_id, source, n_chars, sk,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY sk DESC, doc_id) AS rk
      FROM s
    )
    SELECT doc_id, source, n_chars, CAST(rk AS INT) AS sample_rank,
           ROUND(sk / 1000000000.0, 6) AS logkey
    FROM r WHERE rk <= 10
    """,
)
def llm_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    10 docs per source, inclusion probability proportional to length —
    the standard length-weighted subsampling step in pretraining-mix
    construction, deterministic and engine-replayable."""
    from flink_psl_spark.llm import weighted_sample

    t = tables(spark, sf_dir)
    return weighted_sample(
        t["documents"].select("doc_id", "source", "n_chars"),
        10,
        "n_chars",
        by="source",
        key_cols=["doc_id"],
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90,
           ROUND(MEDIAN(l_quantity), 4) AS med_q
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact percentile aggregates (continuous interpolation — matches
    QUANTILE_CONT)."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("med_q"),
        )
    )


@query(
    "agg_hll_sketch",
    # sketch bytes are engine-specific, so the oracle-able invariant is the
    # datasketches accuracy contract: every per-group estimate AND the
    # cross-group union land within ±5% of the exact distinct count
    # (lgConfigK=12 → rsd ≈ 1.6%, so 5% has wide margin)
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT l_partkey), TRUE FROM lineitem
    """,
)
def agg_hll_sketch(spark, sf_dir):
    """Explicit HLL sketch aggregate + merge (reference
    BatchApproxCountDistinctAggFunctions.java:55 HllBuffer): per-group
    sketches merged across groups via hll_union_agg — the mergeable-sketch
    workflow a 100 TB rollup uses (partial sketches per partition/day,
    union at query time). Exact counts anchor the hash; the booleans carry
    the estimate-accuracy check for both the per-group and merged paths."""
    t = tables(spark, sf_dir)
    li = t["lineitem"]
    per_flag = (
        li.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_agg("l_partkey").alias("sk"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )
    flag_rows = per_flag.select(
        "l_returnflag",
        "exact_parts",
        F.hll_sketch_estimate("sk")
        .between(F.col("exact_parts") * 0.95, F.col("exact_parts") * 1.05)
        .alias("within_5pct"),
    )
    all_row = (
        per_flag.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est")
        )
        .crossJoin(li.agg(F.countDistinct("l_partkey").alias("exact_parts")))
        .select(
            F.lit("ALL").alias("l_returnflag"),
            "exact_parts",
            F.col("__est")
            .between(F.col("exact_parts") * 0.95, F.col("exact_parts") * 1.05)
            .alias("within_5pct"),
        )
    )
    return flag_rows.unionByName(all_row)


@query(
    "llm_multimodal_features",
    # byte-level half (n_bytes, sha over the utf-8 payload) reproduces in
    # SQL exactly; the fake feature vector is projected to scalar
    # invariants (dimension + value range) so every column is oracle-able
    # and the harness canonicalizer never sees an array cell
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           SHA256(text) AS sha,
           8 AS feature_dim, TRUE AS feature_ok
    FROM documents
    """,
)
def llm_multimodal_features(spark, sf_dir):
    """Multimodal column plumbing: binary payload + metadata → mapInPandas
    feature extraction (codec stubbed, plumbing real — see llm.multimodal)."""
    from flink_psl_spark.llm.multimodal import extract_features, synthetic_media

    t = tables(spark, sf_dir)
    media = synthetic_media(spark, t["documents"])
    return extract_features(media).select(
        "media_id",
        "media_type",
        "n_bytes",
        "sha",
        F.size("feature").alias("feature_dim"),
        F.forall("feature", lambda x: (x >= 0) & (x < 1)).alias("feature_ok"),
    )


@query(
    "llm_dataset_mix",
    # md5-derived sampling replays exactly in DuckDB: source 0 (en, w=1.0)
    # keeps everything at seed 42; source 1 (rest, w=0.25) keeps buckets
    # below 0.25 * 16^6 at seed 43
    oracle="""
    SELECT lang, 0 AS __mix_source, COUNT(*) AS n
    FROM documents WHERE lang = 'en' GROUP BY lang
    UNION ALL
    SELECT lang, 1 AS __mix_source, COUNT(*) AS n
    FROM documents
    WHERE lang <> 'en'
      AND CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|43'), 1, 6)
              AS BIGINT) < 4194304
    GROUP BY lang
    """,
)
def llm_dataset_mix(spark, sf_dir):
    """Weighted training-corpus mix: per-source deterministic downsampling +
    provenance tag (the standard corpus-mixing step of a data pipeline)."""
    from flink_psl_spark.llm import mix_datasets

    t = tables(spark, sf_dir)
    docs = t["documents"]
    en = docs.where(F.col("lang") == "en")
    rest = docs.where(F.col("lang") != "en")
    mixed = mix_datasets(
        [(en, 1.0), (rest, 0.25)], key_cols=["doc_id"]
    )
    return mixed.groupBy("lang", "__mix_source").agg(
        F.count("*").alias("n")
    )


@query(
    "llm_multimodal_stats",
    # the byte-level half of the multimodal featurization is exactly
    # checkable: payload = utf-8 text bytes, so n_bytes/sha reproduce in SQL
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           SHA256(text) AS sha
    FROM documents
    """,
)
def llm_multimodal_stats(spark, sf_dir):
    """Multimodal byte-stat extraction (the exactly-checkable projection of
    extract_features; the fake feature vector stays under the rows-only
    llm_multimodal_features check)."""
    from flink_psl_spark.llm.multimodal import extract_features, synthetic_media

    t = tables(spark, sf_dir)
    media = synthetic_media(spark, t["documents"])
    return extract_features(media).select(
        "media_id", "media_type", "n_bytes", "sha"
    )


# ---------------------------------------------------------------------------
# Repetition filtering / chunking / packing (training-data curation)
# ---------------------------------------------------------------------------

# blank-safe tokenization shared by the curation oracles (Spark's tokenize()
# returns [] for blank text; DuckDB's split of '' returns [''])
_TOKS = (
    "CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[] "
    "ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END"
)


@query(
    "llm_pii_scrub",
    # deterministic PII synthesized from doc_id, then the same regex chain
    # replayed in DuckDB (RE2 ∩ Java-regex common subset, 'g' flag)
    oracle="""
    WITH s AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 AS VARCHAR) AS t
      FROM documents)
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(t,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER)
             AS n_ips,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS scrubbed
    FROM s
    """,
)
def llm_pii_scrub(spark, sf_dir):
    """PII scrubbing pass (emails / IPv4 / phone-like runs → typed
    placeholders) — expression-only regexp chain in the scan stage; the
    standard pre-training redaction step."""
    from pyspark.sql import functions as F

    from flink_psl_spark.llm.text import pii_counts, scrub_pii

    t = tables(spark, sf_dir)
    synth = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    return synth.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ips"),
        scrub_pii(F.col("t")).alias("scrubbed"),
    )


@query(
    "llm_contamination_check",
    # benchmark set = docs with doc_id % 7 == 0; a corpus doc is
    # contaminated iff it shares any word 5-gram with any benchmark doc
    # (the fixture's near-duplicate pairs straddle the split, so both the
    # hit and clean paths are exercised)
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    g AS (
      SELECT doc_id, ARRAY_TO_STRING(w[i:i+4], ' ') AS gram
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 0))) AS t(i)),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_hits
      FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 7 <> 0
      GROUP BY g.doc_id)
    SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 7 <> 0
    """,
)
def llm_contamination_check(spark, sf_dir):
    """Benchmark decontamination (5-gram overlap vs an eval set): broadcast
    the benchmark's distinct grams, corpus grams never shuffle — the only
    exchange is the per-doc hit count. 100 TB-safe by construction."""
    from pyspark.sql import functions as F

    from flink_psl_spark.llm.text import benchmark_contamination

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") % 7 != 0)
    bench = t["documents"].where(F.col("doc_id") % 7 == 0)
    return benchmark_contamination(docs, bench, n=5)


@query(
    "llm_bloom_decontamination",
    # same exact-semantics oracle as llm_contamination_check: the Bloom
    # path is two-tier (no-false-negative prefilter + exact verify of
    # candidates), so its output is provably identical to the exact join
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    g AS (
      SELECT doc_id, ARRAY_TO_STRING(w[i:i+4], ' ') AS gram
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 0))) AS t(i)),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
    hits AS (
      SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_hits
      FROM g JOIN bench USING (gram)
      WHERE g.doc_id % 7 <> 0
      GROUP BY g.doc_id)
    SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 7 <> 0
    """,
)
def llm_bloom_decontamination(spark, sf_dir):
    """Bloom-filter decontamination, the 100 TB shape: the benchmark's
    gram hashes build a broadcast m-bit filter (Kirsch–Mitzenmacher
    double hashing), the corpus probes it in one Arrow-batched numpy
    kernel WITHOUT shuffling a single gram, and only the candidate docs
    (true hits + fpp-bounded false positives) pay the exact verify join —
    output provably identical to the exact check (Bloom filters have no
    false negatives; tier 2 removes the false positives)."""
    from pyspark.sql import functions as F

    from flink_psl_spark.llm.text import bloom_contamination

    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    # fan the corpus side out: the Arrow probe kernel runs at scan
    # parallelism (r13 scan-floor class); the benchmark side stays as-is
    # (it reduces to a driver-built filter)
    docs = ensure_parallelism(
        t["documents"], "doc_id"
    ).where(F.col("doc_id") % 7 != 0)
    bench = t["documents"].where(F.col("doc_id") % 7 == 0)
    return bloom_contamination(docs, bench, n=5, fpp=0.01)


@query(
    "llm_bfd_packing",
    # SQL-derivable facts (docs + token totals per shard) plus the
    # capacity invariant the packer must uphold. The SUM is CAST to
    # BIGINT: DuckDB types an integral SUM as HUGEINT (int128), a
    # non-portable type the driver's hasher normalizes differently
    # than a BIGINT — the sole cause of the r8/r9 red rows (the
    # registry's only HUGEINT-emitting oracle was its only red row;
    # tests/test_registry_rotation.py now tripwires the whole class).
    oracle=f"""
    SELECT source AS shard, COUNT(*) AS n_docs,
           CAST(SUM(LEN({_TOKS})) AS BIGINT) AS total_tokens,
           TRUE AS bins_ok
    FROM documents GROUP BY source
    """,
)
def llm_bfd_packing(spark, sf_dir):
    """Best-fit-decreasing no-split sequence packing (each doc whole in
    one bin — no cross-document attention contamination): per-shard
    totals must match the corpus exactly (every doc packed once, token
    mass preserved) and every bin must respect capacity except flagged
    singleton overflows."""
    from flink_psl_spark.llm.chunking import pack_sequences_bfd

    t = tables(spark, sf_dir)
    out = pack_sequences_bfd(t["documents"], max_len=128)
    bins = out.groupBy("shard", "sub_shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("overflow").cast("int")).alias("ov"),
    )
    bins_ok = bins.groupBy("shard").agg(
        F.min(
            ((F.col("fill") <= 128) | (F.col("ov") == 1)).cast("int")
        ).alias("__ok")
    )
    return (
        out.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .join(bins_ok, "shard")
        .select(
            "shard", "n_docs", "total_tokens",
            (F.col("__ok") == 1).alias("bins_ok"),
        )
    )


@query(
    "llm_bfd_token_mass",
    # Bisect canary #1 for llm_bfd_packing (judge-ordered, r9 verdict):
    # the tokenization + grouping half ONLY — no packer. If bfd ever
    # reds again while this row is green, the divergence lives in the
    # packer's accounting, not the token contract.
    oracle=f"""
    SELECT source AS shard, COUNT(*) AS n_docs,
           CAST(SUM(LEN({_TOKS})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source
    """,
)
def llm_bfd_token_mass(spark, sf_dir):
    """Per-shard doc count + token mass via the same tokenizer the BFD
    packer consumes (llm/text.py token_count — pinned whitespace class)."""
    from flink_psl_spark.llm.text import token_count

    t = tables(spark, sf_dir)
    return (
        t["documents"]
        .select(
            F.col("source").alias("shard"),
            token_count(F.col("text")).alias("_tc"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_tc").alias("total_tokens"),
        )
    )


@query(
    "llm_bfd_capacity",
    # Bisect canary #2 for llm_bfd_packing: the packer-invariant half
    # ONLY — no token mass. n_overflow IS SQL-derivable (every doc
    # longer than max_len becomes exactly one flagged singleton bin);
    # bins_ok asserts capacity on every non-overflow bin.
    oracle=f"""
    SELECT source AS shard,
           CAST(SUM(CASE WHEN LEN({_TOKS}) > 128 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overflow,
           TRUE AS bins_ok
    FROM documents GROUP BY source
    """,
)
def llm_bfd_capacity(spark, sf_dir):
    """BFD packer capacity invariant per shard: overflow-singleton count
    matches the SQL-derivable count of over-capacity docs, and every
    non-overflow bin fill respects max_len."""
    from flink_psl_spark.llm.chunking import pack_sequences_bfd

    t = tables(spark, sf_dir)
    out = pack_sequences_bfd(t["documents"], max_len=128)
    bins = out.groupBy("shard", "sub_shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("overflow").cast("int")).alias("ov"),
    )
    bins_ok = bins.groupBy("shard").agg(
        F.min(
            ((F.col("fill") <= 128) | (F.col("ov") == 1)).cast("int")
        ).alias("__ok")
    )
    return (
        out.groupBy("shard")
        .agg(F.sum(F.col("overflow").cast("bigint")).alias("n_overflow"))
        .join(bins_ok, "shard")
        .select(
            "shard", "n_overflow", (F.col("__ok") == 1).alias("bins_ok")
        )
    )


@query(
    "llm_heavy_hitter_ngrams",
    # exact-semantics oracle: CMS errors are one-sided (estimate >= true),
    # so the sketch prefilter + exact verify equals the plain HAVING
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    g AS (
      SELECT ARRAY_TO_STRING(w[i:i+1], ' ') AS gram
      FROM d, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 1, 0))) AS t(i))
    SELECT gram, COUNT(*) AS cnt
    FROM g GROUP BY gram HAVING COUNT(*) >= 20
    """,
)
def llm_heavy_hitter_ngrams(spark, sf_dir):
    """Heavy-hitter bigrams via a count-min-sketch prefilter (Cormode &
    Muthukrishnan 2005): per-partition numpy CMS tables merge by cell
    (the exchange is sketch-sized, not gram-cardinality-sized), grams
    estimated under the threshold are exactly eliminable map-side
    (one-sided CMS error), and only the candidate fringe pays the exact
    count — output provably equal to the exact HAVING."""
    from flink_psl_spark.llm.text import cms_heavy_hitters

    t = tables(spark, sf_dir)
    return cms_heavy_hitters(t["documents"], n=2, threshold=20)


@query(
    "skew_key_report",
    # exact-semantics oracle (one-sided CMS error + exact verify); keys
    # are stringified because the sketch hashes a canonical string form
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS cnt
    FROM events GROUP BY 1 HAVING COUNT(*) >= 70
    """,
)
def skew_key_report(spark, sf_dir):
    """Skew diagnosis (the cheap first step before salting a hot join or
    aggregation key — operators/skew.py): keys occurring >= threshold
    times, found via the CMS prefilter so the full-cardinality key
    exchange never happens; output exact."""
    from flink_psl_spark.llm.text import heavy_keys

    t = tables(spark, sf_dir)
    return heavy_keys(t["events"], "user_id", threshold=70)


@query(
    "llm_repetition_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS w,
             LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)),
                                        s -> TRIM(s, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), s -> s <> '') AS segs
      FROM documents)
    SELECT doc_id,
           ROUND(CASE WHEN LEN(w) > 0
                 THEN (LEN(w) - LEN(LIST_DISTINCT(w))) * 1.0 / LEN(w)
                 ELSE 0.0 END, 6) AS dup_token_frac,
           ROUND(CASE WHEN LEN(segs) > 0
                 THEN (LEN(segs) - LEN(LIST_DISTINCT(segs))) * 1.0 / LEN(segs)
                 ELSE 0.0 END, 6) AS dup_segment_frac,
           ROUND(CASE WHEN COALESCE(LIST_SUM(LIST_TRANSFORM(segs, s -> LENGTH(s))), 0) > 0
                 THEN (LIST_SUM(LIST_TRANSFORM(segs, s -> LENGTH(s)))
                       - LIST_SUM(LIST_TRANSFORM(LIST_DISTINCT(segs), s -> LENGTH(s))))
                      * 1.0 / LIST_SUM(LIST_TRANSFORM(segs, s -> LENGTH(s)))
                 ELSE 0.0 END, 6) AS dup_segment_char_frac
    FROM d
    """,
)
def llm_repetition_stats(spark, sf_dir):
    """Expression-only repetition signals (Gopher duplicate-line family):
    duplicate token / segment / segment-char fractions per document."""
    from flink_psl_spark.llm.repetition import (
        duplicate_segment_char_fraction,
        duplicate_segment_fraction,
        duplicate_token_fraction,
    )
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    return ensure_parallelism(t["documents"]).select(
        "doc_id",
        F.round(duplicate_token_fraction("text"), 6).alias("dup_token_frac"),
        F.round(duplicate_segment_fraction("text"), 6).alias("dup_segment_frac"),
        F.round(duplicate_segment_char_fraction("text"), 6).alias(
            "dup_segment_char_frac"
        ),
    )


@query(
    "llm_repetition_filter",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    g2 AS (
      SELECT doc_id, UNNEST(
        CASE WHEN LEN(w) >= 2
        THEN [ARRAY_TO_STRING(w[i:i+1], ' ') FOR i IN RANGE(1, LEN(w) - 2 + 2)]
        ELSE []::VARCHAR[] END) AS gram
      FROM d),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
    s2 AS (SELECT doc_id, MAX(cnt * LENGTH(gram)) AS top_chars,
                  SUM(cnt * LENGTH(gram)) AS tot
           FROM c2 GROUP BY doc_id),
    g5 AS (
      SELECT doc_id, UNNEST(
        CASE WHEN LEN(w) >= 5
        THEN [ARRAY_TO_STRING(w[i:i+4], ' ') FOR i IN RANGE(1, LEN(w) - 5 + 2)]
        ELSE []::VARCHAR[] END) AS gram
      FROM d),
    c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY doc_id, gram),
    s5 AS (SELECT doc_id,
                  SUM(CASE WHEN cnt >= 2 THEN cnt * LENGTH(gram) ELSE 0 END) AS dup_chars,
                  SUM(cnt * LENGTH(gram)) AS tot
           FROM c5 GROUP BY doc_id),
    r AS (
      SELECT d.doc_id,
             ROUND(COALESCE(s2.top_chars * 1.0 / s2.tot, 0.0), 6) AS top_2gram_char_frac,
             ROUND(COALESCE(s5.dup_chars * 1.0 / s5.tot, 0.0), 6) AS dup_5gram_char_frac
      FROM d LEFT JOIN s2 USING (doc_id) LEFT JOIN s5 USING (doc_id))
    SELECT doc_id, top_2gram_char_frac, dup_5gram_char_frac,
           (top_2gram_char_frac <= 0.20 AND dup_5gram_char_frac <= 0.15) AS keep
    FROM r
    """,
)
def llm_repetition_filter(spark, sf_dir):
    """Gopher-style n-gram repetition verdict: top-2-gram char fraction +
    duplicate-5-gram char fraction → keep/drop flag per document."""
    from flink_psl_spark.llm.repetition import repetition_filter
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    return repetition_filter(ensure_parallelism(t["documents"], "doc_id"))


@query(
    "llm_doc_chunking",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    s AS (SELECT doc_id, w,
                 UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 48)) AS start_token
          FROM d)
    SELECT doc_id,
           CAST((start_token - 1) // 48 AS BIGINT) AS chunk_id,
           CAST(start_token AS BIGINT) AS start_token,
           CAST(LEN(w[start_token:start_token + 63]) AS BIGINT) AS n_tokens,
           ARRAY_TO_STRING(w[start_token:start_token + 63], ' ') AS chunk_text
    FROM s WHERE LEN(w[start_token:start_token + 63]) > 0
    """,
)
def llm_doc_chunking(spark, sf_dir):
    """Overlapping token-window chunking (64-token chunks, stride 48) —
    shuffle-free explode in the scan stage."""
    from flink_psl_spark.llm.chunking import chunk_documents

    t = tables(spark, sf_dir)
    return chunk_documents(
        t["documents"], chunk_tokens=64, stride=48
    )


@query(
    "llm_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT source AS shard, doc_id,
             CAST(LEN({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (SELECT shard, doc_id, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM d)
    SELECT shard, doc_id, n_tokens,
           CAST(cum // 512 AS BIGINT) AS first_seq,
           CAST(cum % 512 AS BIGINT) AS seq_offset,
           CAST((CASE WHEN n_tokens > 0 THEN (cum + n_tokens - 1) // 512
                      ELSE cum // 512 END) - cum // 512 + 1
                AS BIGINT) AS seqs_spanned
    FROM c
    """,
)
def llm_sequence_packing(spark, sf_dir):
    """Concat-and-split sequence packing (512-token sequences) per source
    shard — deterministic document → training-sequence assignment."""
    from flink_psl_spark.llm.chunking import pack_sequences

    t = tables(spark, sf_dir)
    return pack_sequences(t["documents"], max_len=512, partition_col="source")


# ---------------------------------------------------------------------------
# Multimodal decode pipeline (codec-gated; deterministic fake in-container)
# ---------------------------------------------------------------------------


@query(
    "llm_image_decode",
    # the decode -> resize pipeline's shape invariants + payload hash are
    # exactly checkable in SQL (payload = utf-8 text bytes); pixel values
    # are pinned by tests/test_llm.py::test_decode_resize_stats_pipeline
    oracle="""
    SELECT doc_id AS media_id,
           32 AS width, 32 AS height,
           CAST(3072 AS BIGINT) AS n_px,
           SHA256(text) AS payload_sha
    FROM documents
    """,
)
def llm_image_decode(spark, sf_dir):
    """Image pipeline (decode → resize → stats) over mapInPandas; projects
    the SQL-checkable invariant columns (shape + content hash)."""
    from flink_psl_spark.llm.multimodal import decode_resize_stats, synthetic_media
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    media = ensure_parallelism(synthetic_media(spark, t["documents"]))
    return decode_resize_stats(media, out_w=32, out_h=32).select(
        "media_id", "width", "height", "n_px", "payload_sha"
    )


@query(
    "llm_image_dhash_dedup",
    # perceptual hashing is not SQL-expressible — bounded-agreement
    # restatement (BPE/ANN pattern): the Spark side re-derives the dHash
    # of a PARAMETER-bounded sample through the single-process python
    # model and independently recomputes the survivor contract; the
    # oracle is the fixed expected truth
    oracle="""
    SELECT doc_id AS media_id, TRUE AS hash_agree, TRUE AS survivor_ok
    FROM documents WHERE doc_id < 200
    """,
)
def llm_image_dhash_dedup(spark, sf_dir):
    """Perceptual image dedup (dHash): decode → grayscale gradient-sign
    hash → group by hash, keep lowest media_id. Self-checks: distributed
    dHash == python-model dHash on the bounded sample (collect is 200
    payloads — a parameter); survivor flag == independently recomputed
    min-id-per-group contract."""
    from flink_psl_spark.llm.multimodal import (
        decode_image,
        dhash_kernel,
        image_dedup,
        synthetic_media,
    )
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    media = ensure_parallelism(synthetic_media(spark, t["documents"]))
    out = image_dedup(media)

    sample = media.where("media_id < 200").select("media_id", "payload")
    model = spark.createDataFrame(
        [
            (r["media_id"], dhash_kernel(decode_image(bytes(r["payload"]))))
            for r in sample.collect()
        ],
        "media_id bigint, model_dhash bigint",
    )
    mins = out.groupBy("dhash").agg(F.min("media_id").alias("min_id"))
    return (
        out.join(model, "media_id")
        .join(mins, "dhash")
        .select(
            "media_id",
            (F.col("dhash") == F.col("model_dhash")).alias("hash_agree"),
            (F.col("survivor") == (F.col("media_id") == F.col("min_id"))).alias(
                "survivor_ok"
            ),
        )
    )


@query(
    "llm_image_near_dedup",
    # bounded-agreement restatement (same pattern as llm_image_dhash_dedup):
    # the distributed banded near-dedup over the bounded corpus is compared
    # against the brute-force python model on the same (parameter-bounded)
    # dHash table; oracle is the fixed expected truth
    oracle="""
    SELECT doc_id AS media_id, TRUE AS survivor_ok
    FROM documents WHERE doc_id < 200
    """,
)
def llm_image_near_dedup(spark, sf_dir):
    """Near-duplicate image dedup (dHash Hamming <= 3) via the SimHash
    block-permutation candidate join + bit_count verify — one shuffle,
    no all-pairs. Self-check: distributed survivors == brute-force model
    survivors over the bounded corpus (collect is 200 hashes — a
    parameter)."""
    from flink_psl_spark.llm.multimodal import (
        image_dhash,
        image_near_dedup,
        synthetic_media,
    )
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    media = ensure_parallelism(synthetic_media(spark, docs))
    max_h = 3
    survivors = image_near_dedup(media, max_hamming=max_h).select("media_id")

    hashes = {
        r["media_id"]: r["dhash"] for r in image_dhash(media).collect()
    }
    model = {
        i
        for i in hashes
        if not any(
            j < i
            and bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            <= max_h
            for j in hashes
        )
    }
    model_df = spark.createDataFrame(
        [(i, True) for i in model], "media_id bigint, model_survivor boolean"
    )
    return (
        media.select("media_id")
        .join(survivors.withColumn("got", F.lit(True)), "media_id", "left")
        .join(F.broadcast(model_df), "media_id", "left")
        .select(
            "media_id",
            (
                F.coalesce("got", F.lit(False))
                == F.coalesce("model_survivor", F.lit(False))
            ).alias("survivor_ok"),
        )
    )


@query(
    "llm_audio_fingerprint_dedup",
    # bounded-agreement restatement (dHash pattern): the distributed
    # fingerprint over REAL WAV bytes is compared to the python model on
    # a parameter-bounded sample; survivor flag re-derived independently
    oracle="""
    SELECT doc_id AS media_id, TRUE AS fp_agree, TRUE AS survivor_ok
    FROM documents WHERE doc_id < 200
    """,
)
def llm_audio_fingerprint_dedup(spark, sf_dir):
    """Audio dedup by energy-delta fingerprint (the audio twin of dHash,
    volume-scaling invariant) over genuine RIFF/WAVE payloads decoded by
    the stdlib codec. Self-checks: distributed fingerprint == python
    model on the bounded sample (collect is 200 clips — a parameter);
    survivor flag == min-id-per-group contract."""
    from flink_psl_spark.llm.multimodal import (
        audio_dedup,
        audio_fingerprint_kernel,
        decode_wav,
        synthetic_wav_media,
    )
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    media = ensure_parallelism(synthetic_wav_media(spark, docs))
    out = audio_dedup(media)

    model = spark.createDataFrame(
        [
            (
                r["media_id"],
                audio_fingerprint_kernel(decode_wav(bytes(r["payload"]))[2]),
            )
            for r in media.select("media_id", "payload").collect()
        ],
        "media_id bigint, model_afp bigint",
    )
    mins = out.groupBy("afp").agg(F.min("media_id").alias("min_id"))
    return (
        out.join(F.broadcast(model), "media_id")
        .join(F.broadcast(mins), "afp")
        .select(
            "media_id",
            (F.col("afp") == F.col("model_afp")).alias("fp_agree"),
            (F.col("survivor") == (F.col("media_id") == F.col("min_id"))).alias(
                "survivor_ok"
            ),
        )
    )


@query(
    "llm_video_clip_dedup",
    # bounded-agreement restatement: distributed survivors vs the python
    # Jaccard model over the bounded corpus's frame-hash sets
    oracle="""
    SELECT doc_id AS media_id, TRUE AS survivor_ok
    FROM documents WHERE doc_id < 150
    """,
)
def llm_video_clip_dedup(spark, sf_dir):
    """Clip-level video dedup: Jaccard over per-clip frame-dHash sets —
    one hash-keyed shuffle generates candidate pairs (clips sharing a
    frame), df-capped against non-discriminative frames. Self-check:
    survivors == the python Jaccard model over the bounded corpus
    (collect is 150 clips' hash sets — parameter-bounded)."""
    from flink_psl_spark.llm.multimodal import (
        synthetic_media,
        video_clip_dedup,
        video_frame_hashes,
    )
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 150)
    media = ensure_parallelism(synthetic_media(spark, docs, media_type="video"))
    thr = 0.8
    survivors = video_clip_dedup(media, jaccard_threshold=thr).select("media_id")

    sets: dict = {}
    for r in video_frame_hashes(media).collect():
        sets.setdefault(r["media_id"], set()).add(r["frame_hash"])
    model = {
        i
        for i in sets
        if not any(
            j < i and len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= thr
            for j in sets
        )
    }
    model_df = spark.createDataFrame(
        [(i, True) for i in model], "media_id bigint, model_survivor boolean"
    )
    return (
        media.select("media_id")
        .join(survivors.withColumn("got", F.lit(True)), "media_id", "left")
        .join(F.broadcast(model_df), "media_id", "left")
        .select(
            "media_id",
            (
                F.coalesce("got", F.lit(False))
                == F.coalesce("model_survivor", F.lit(False))
            ).alias("survivor_ok"),
        )
    )


@query(
    "llm_frame_sample",
    # codec-free frame extraction is byte arithmetic, fully replayable in
    # SQL on the ASCII fixture (byte offsets == char offsets); TRUNC
    # mirrors Spark's toward-zero int() cast
    oracle="""
    WITH s AS (
      SELECT doc_id AS media_id, text,
             UNNEST(GENERATE_SERIES(0,
               GREATEST(CAST(TRUNC((OCTET_LENGTH(ENCODE(text)) - 32) / 64.0) AS INT) + 1,
                        0) - 1)) AS frame_idx
      FROM documents)
    SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           SUBSTRING(text, CAST(frame_idx * 64 + 1 AS INT), 32) AS frame_text
    FROM s WHERE LENGTH(SUBSTRING(text, CAST(frame_idx * 64 + 1 AS INT), 32)) > 0
    """,
)
def llm_frame_sample(spark, sf_dir):
    """Fixed-stride frame sampling with payloads (expression-only byte
    windows; real `av` decode slots in behind the same schema)."""
    from flink_psl_spark.llm.multimodal import sample_frame_payloads, synthetic_media

    t = tables(spark, sf_dir)
    vids = synthetic_media(spark, t["documents"], media_type="video")
    return sample_frame_payloads(vids, frame_len=32, stride=64).select(
        "media_id",
        "frame_idx",
        F.decode("frame_bytes", "utf-8").alias("frame_text"),
    )


@query(
    "llm_audio_stats",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(OCTET_LENGTH(ENCODE(text)) // 2 AS BIGINT) AS n_samples,
           ROUND((OCTET_LENGTH(ENCODE(text)) // 2) / 16000.0, 6) AS duration_s
    FROM documents
    """,
)
def llm_audio_stats(spark, sf_dir):
    """Audio sample/duration stats (16-bit PCM model, expression-only)."""
    from flink_psl_spark.llm.multimodal import audio_stats, synthetic_media

    t = tables(spark, sf_dir)
    auds = synthetic_media(spark, t["documents"], media_type="audio")
    return audio_stats(auds, sample_rate=16000)


@query(
    "llm_segment_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    seg0 AS (
      SELECT doc_id, w,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 16)) AS s
      FROM d),
    seg AS (
      SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS seg_no,
             ARRAY_TO_STRING(w[s:s + 15], ' ') AS seg
      FROM seg0 WHERE LEN(w[s:s + 15]) > 0),
    k AS (SELECT doc_id, seg_no, seg,
                 ROW_NUMBER() OVER (PARTITION BY MD5(seg)
                                    ORDER BY doc_id, seg_no) AS rn
          FROM seg),
    tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM seg GROUP BY doc_id),
    kp AS (SELECT doc_id, COUNT(*) AS n_kept,
                  STRING_AGG(seg, ' ' ORDER BY seg_no) AS clean_text
           FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT d0.doc_id,
           CAST(COALESCE(tot.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(kp.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(kp.clean_text, '') AS clean_text
    FROM (SELECT DISTINCT doc_id FROM documents) d0
    LEFT JOIN tot USING (doc_id) LEFT JOIN kp USING (doc_id)
    """,
)
def llm_segment_dedup(spark, sf_dir):
    """Segment-level corpus-wide exact dedup (C4/CCNet line dedup on
    16-token segments): keep-first by (doc, position), reassemble docs from
    surviving segments."""
    from flink_psl_spark.llm import segment_dedup

    t = tables(spark, sf_dir)
    return segment_dedup(t["documents"], segment_tokens=16)


@query(
    "llm_deterministic_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR),
                                               '42')), 1, 6) AS BIGINT)
               % 8 AS shard,
             MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR), '43')) AS ord
      FROM documents)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id)
                - 1 AS BIGINT) AS pos
    FROM h
    """,
)
def llm_deterministic_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle: reproducible pseudorandom
    (shard, pos) assignment; per-shard rank windows, no global sort."""
    from flink_psl_spark.llm import deterministic_shuffle

    t = tables(spark, sf_dir)
    return deterministic_shuffle(
        t["documents"], key_cols=["doc_id"], n_shards=8, seed=42
    ).select("doc_id", "shard", "pos")


@query(
    "llm_temperature_mix",
    # alpha = 0.5: rate_i = (p_i)^(-1/2) scaled to max 1 — replayed in
    # DuckDB with the same double arithmetic and md5-threshold selection
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    r AS (SELECT source, n,
                 POWER(n * 1.0 / SUM(n) OVER (), -0.5) AS rr
          FROM c),
    r2 AS (SELECT source, n, rr / MAX(rr) OVER () AS rate FROM r),
    sel AS (
      SELECT d.source, r2.n, r2.rate
      FROM documents d JOIN r2 USING (source)
      WHERE CAST('0x' || SUBSTR(MD5(CONCAT_WS('|', CAST(d.doc_id AS VARCHAR),
                                              '42')), 1, 6) AS BIGINT)
            < CAST(r2.rate * 16777216 AS BIGINT))
    SELECT source, CAST(MIN(n) AS BIGINT) AS n_total,
           COUNT(*) AS n_kept, ROUND(MIN(rate), 6) AS rate
    FROM sel GROUP BY source
    """,
)
def llm_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (sampled size ∝ p^alpha, alpha=0.5):
    per-source keep-rates from a tiny broadcast aggregate, deterministic
    md5-threshold selection; projects per-source totals for the oracle."""
    from flink_psl_spark.llm import temperature_mix

    t = tables(spark, sf_dir)
    docs = t["documents"]
    totals = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    kept = temperature_mix(docs, "source", alpha=0.5, key_cols=["doc_id"], seed=42)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.min("__mix_rate"), 6).alias("rate"),
        )
        .join(F.broadcast(totals), on="source")
        .select("source", "n_total", "n_kept", "rate")
    )


@query(
    "llm_bigram_lm_score",
    # per-bigram log-probs quantized to 1e-6 before the per-doc sum make
    # the aggregate an exact integer sum — addition-order-proof, so the
    # DuckDB replica matches bit-for-bit after the final rounding
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(w[1:LEN(w) - 1]) AS w1, UNNEST(w[2:LEN(w)]) AS w2
      FROM d WHERE LEN(w) >= 2),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    cnt1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vs FROM bg),
    sc AS (
      SELECT bg.doc_id,
             CAST(ROUND(LN((c12 + 1.0) / (c1 + 1.0 * vs)) * 1000000)
                  AS BIGINT) AS s
      FROM bg JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1) CROSS JOIN v),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(SUM(s) * 1.0 / COUNT(*) / 1000000, 6) AS avg_logprob
      FROM sc GROUP BY doc_id)
    SELECT d0.doc_id,
           CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           agg.avg_logprob,
           ROUND(EXP(-agg.avg_logprob), 4) AS ppl_proxy
    FROM (SELECT DISTINCT doc_id FROM documents) d0
    LEFT JOIN agg USING (doc_id)
    """,
)
def llm_bigram_lm_score(spark, sf_dir):
    """Bigram LM fluency scoring (CCNet-style perplexity filtering with a
    corpus-trained add-1 bigram model): avg log-prob + perplexity proxy per
    document; quantized-integer aggregation for cross-engine exactness."""
    from flink_psl_spark.llm.text import ngram_lm_scores
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    return ngram_lm_scores(ensure_parallelism(t["documents"], "doc_id"))


@query(
    "llm_kneser_ney_score",
    # interpolated Kneser-Ney replayed count-for-count: the probability
    # expression uses ONE fixed operation order on both engines and each
    # bigram's log-prob is quantized to a 1e-6 integer before the per-doc
    # sum, so the aggregate is addition-order-proof (same discipline as
    # the add-1 bigram oracle above)
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(w[1:LEN(w) - 1]) AS w1, UNNEST(w[2:LEN(w)]) AS w2
      FROM d WHERE LEN(w) >= 2),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1f
            FROM bg GROUP BY w1),
    cont AS (SELECT w2, COUNT(DISTINCT w1) AS n1b FROM bg GROUP BY w2),
    tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t
           FROM (SELECT DISTINCT w1, w2 FROM bg)),
    sc AS (
      SELECT bg.doc_id,
             CAST(ROUND(LN(
               GREATEST(c12 - 0.75, 0.0) / c1
               + 0.75 * n1f / c1 * (n1b / t)
             ) * 1000000) AS BIGINT) AS s
      FROM bg JOIN cnt2 USING (w1, w2) JOIN ctx USING (w1)
              JOIN cont USING (w2) CROSS JOIN tt),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(SUM(s) * 1.0 / COUNT(*) / 1000000, 6) AS avg_logprob
      FROM sc GROUP BY doc_id)
    SELECT d0.doc_id,
           CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           agg.avg_logprob,
           ROUND(EXP(-agg.avg_logprob), 4) AS ppl_proxy
    FROM (SELECT DISTINCT doc_id FROM documents) d0
    LEFT JOIN agg USING (doc_id)
    """,
)
def llm_kneser_ney_score(spark, sf_dir):
    """Interpolated Kneser-Ney bigram fluency scoring — the smoothing the
    CCNet/KenLM perplexity filter actually uses (distinct-continuation
    backoff instead of add-alpha): avg log-prob + perplexity proxy per
    document, trained on the scored corpus itself."""
    from flink_psl_spark.llm.text import kneser_ney_scores
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    return kneser_ney_scores(ensure_parallelism(t["documents"], "doc_id"))


@query(
    "llm_token_budget_mix",
    # the per-source hash-ordered running sum is replayed exactly: a doc is
    # kept while the budget line hasn't been crossed BEFORE it
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(LEN({_TOKS}) AS BIGINT) AS n_tokens,
             MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR), '42')) AS ord
      FROM documents),
    c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d),
    kept AS (
      SELECT * FROM c WHERE cum - n_tokens < 5000)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(cum) AS BIGINT) AS max_cum
    FROM kept GROUP BY source
    """,
)
def llm_token_budget_mix(spark, sf_dir):
    """Per-source token-budget capping (public corpus-recipe domain caps):
    deterministic hash-ordered take until 5000 tokens per source — one
    per-source window, no global sort."""
    from flink_psl_spark.llm import token_budget_mix

    t = tables(spark, sf_dir)
    srcs = [r[0] for r in t["documents"].select("source").distinct().collect()]
    kept = token_budget_mix(
        t["documents"], "source",
        {s: 5000 for s in srcs}, key_cols=["doc_id"], seed=42,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("__n_tokens").cast("bigint").alias("total_tokens"),
        F.max("__cum_tokens").cast("bigint").alias("max_cum"),
    )


@query(
    "llm_curation_pipeline",
    # the full composed pipeline replayed stage by stage in SQL:
    # quality bands -> exact-dedup survivors -> deterministic (shard, pos)
    oracle="""
    WITH kept AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS toks,
               LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) * 1.0
                 / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) AS mwl
        FROM documents)
      WHERE toks >= 10 AND toks <= 100000 AND mwl >= 2.0 AND mwl <= 12.0),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM kept
      GROUP BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g'), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))))),
    h AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR),
                                               '42')), 1, 6) AS BIGINT)
               % 8 AS shard,
             MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR), '43')) AS ord
      FROM survivors)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id)
                - 1 AS BIGINT) AS pos
    FROM h
    """,
)
def llm_curation_pipeline(spark, sf_dir):
    """The composed curation pipeline a training-data user actually runs:
    quality filtering (C4/Gopher bands) -> exact dedup (keep-min survivor
    per fingerprint) -> deterministic training-order shuffle into shards —
    three library operators chained, hash-checked end to end. Every stage
    keeps its scale shape (narrow filter, fingerprint-keyed agg, per-shard
    windows)."""
    from flink_psl_spark.llm import deterministic_shuffle, exact_dedup
    from flink_psl_spark.llm.text import mean_word_length, token_count

    t = tables(spark, sf_dir)
    kept = t["documents"].where(
        token_count("text").between(10, 100000)
        & mean_word_length("text").between(2.0, 12.0)
    )
    survivors = exact_dedup(kept).select("doc_id")
    return deterministic_shuffle(
        survivors, key_cols=["doc_id"], n_shards=8, seed=42
    ).select("doc_id", "shard", "pos")


@query(
    "llm_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT UNNEST({_TOKS}) AS w FROM documents),
    p AS (
      SELECT UNNEST([SUBSTR(w, i, 2) FOR i IN RANGE(1, LEN(w))]) AS pair
      FROM w WHERE LEN(w) >= 2)
    SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 50
    """,
)
def llm_bpe_pair_counts(spark, sf_dir):
    """BPE merge-pair statistics (the first tokenizer-training step):
    top-50 adjacent character pairs inside corpus words, deterministic
    tie-break; the pair space stays tiny so the top-k sort is free."""
    from flink_psl_spark.llm.text import bpe_pair_counts

    t = tables(spark, sf_dir)
    return bpe_pair_counts(t["documents"], top_k=50)


@query(
    "llm_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS ql,
                      embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, label AS cl,
                      embedding::DOUBLE[] AS v
               FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  LIST_COSINE_SIMILARITY(q.v, c.v) AS sim
           FROM q CROSS JOIN c WHERE q.ql <> c.cl),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def llm_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive-training data prep): for each
    anchor embedding, the top-5 most similar vectors with a DIFFERENT
    label — anchors broadcast, corpus never shuffles."""
    from flink_psl_spark.llm import hard_negatives

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    return hard_negatives(
        emb, emb.where(F.col("vec_id") < 10), k=5
    )


_SW_LIST = (
    "['the','a','an','and','or','of','to','in','is','are','was','were',"
    "'be','been','it','this','that','for','on','with','as','at','by',"
    "'from','not','no']"
)


@query(
    "llm_boilerplate_removal",
    # the corpus-frequency verdict replayed in SQL: 8-token segments,
    # distinct-doc count per segment text, remove every copy of segments
    # in > 2 docs, reassemble by position
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    seg0 AS (
      SELECT doc_id, w,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 8)) AS s
      FROM d),
    seg AS (
      SELECT doc_id, CAST((s - 1) // 8 AS BIGINT) AS seg_no,
             ARRAY_TO_STRING(w[s:s + 7], ' ') AS seg
      FROM seg0 WHERE LEN(w[s:s + 7]) > 0),
    freq AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM seg GROUP BY seg),
    tagged AS (
      SELECT seg.doc_id, seg.seg_no, seg.seg, freq.ndocs <= 2 AS keep
      FROM seg JOIN freq USING (seg)),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_segments,
             SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS n_removed,
             COALESCE(STRING_AGG(CASE WHEN keep THEN seg END, ' '
                                 ORDER BY seg_no), '') AS clean_text
      FROM tagged GROUP BY doc_id)
    SELECT d0.doc_id,
           CAST(COALESCE(reb.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(reb.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(reb.clean_text, '') AS clean_text
    FROM (SELECT DISTINCT doc_id FROM documents) d0
    LEFT JOIN reb USING (doc_id)
    """,
)
def llm_boilerplate_removal(spark, sf_dir):
    """Corpus-frequency boilerplate removal (public web-corpus recipe:
    drop repeated paragraphs/headers corpus-wide): segments occurring in
    more than 2 distinct documents are removed from EVERY document, docs
    reassembled from the survivors."""
    from flink_psl_spark.llm import boilerplate_removal

    t = tables(spark, sf_dir)
    return boilerplate_removal(t["documents"], segment_tokens=8, max_docs=2)


@query(
    "llm_quality_classifier",
    # the exact feature chain + fixed-weight dot product, same operation
    # order (left-assoc additions over IEEE doubles), rounded identically
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             LEN({_TOKS}) AS n,
             CASE WHEN LEN({_TOKS}) > 0 THEN
               LEN(LIST_FILTER(
                     CASE WHEN TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                          ELSE STRING_SPLIT_REGEX(TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')
                     END,
                     x -> LIST_CONTAINS({_SW_LIST}, x)))
                 / LEN({_TOKS}) ELSE 0.0 END AS sw,
             CASE WHEN LEN(text) > 0 THEN
               LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
                 / LEN(text) ELSE 0.0 END AS pr,
             CASE WHEN LEN({_TOKS}) > 0 THEN
               LIST_SUM(LIST_TRANSFORM({_TOKS}, x -> LEN(x)))
                 / LEN({_TOKS}) ELSE 0.0 END AS mwl
      FROM documents),
    sc AS (
      SELECT doc_id, source,
             ROUND(-1.0 + 2.0 * sw + -1.5 * pr + 0.15 * mwl
                   + 0.25 * LN(CAST(n AS DOUBLE) + 1.0), 6) AS score
      FROM f)
    SELECT doc_id, source, score,
           CASE WHEN score >= 0.5 THEN 'high'
                WHEN score >= 0.0 THEN 'medium'
                ELSE 'low' END AS band
    FROM sc
    """,
)
def llm_quality_classifier(spark, sf_dir):
    """Linear quality classifier (fastText-filter shape, fixed public
    weights): margin over cheap expression features + keep/drop band —
    scan-speed, fully deterministic across engines."""
    from flink_psl_spark.llm.text import linear_quality_classifier, quality_band

    t = tables(spark, sf_dir)
    score = linear_quality_classifier(F.col("text"))
    return t["documents"].select(
        "doc_id",
        "source",
        score.alias("score"),
        quality_band(score).alias("band"),
    )


@query(
    "llm_common_ngrams_per_source",
    # deterministic top-5 trigram per source (count desc, gram asc)
    oracle=f"""
    WITH d AS (SELECT source, {_TOKS} AS w FROM documents),
    g AS (
      SELECT source,
             ARRAY_TO_STRING(w[i:i+2], ' ') AS gram
      FROM (SELECT source, w, UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS i
            FROM d WHERE LEN(w) >= 3)),
    c AS (SELECT source, gram, COUNT(*) AS n FROM g GROUP BY source, gram),
    r AS (SELECT source, gram, n,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n DESC, gram) AS rank
          FROM c)
    SELECT source, gram, CAST(n AS BIGINT) AS n, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 5
    """,
)
def llm_common_ngrams_per_source(spark, sf_dir):
    """Corpus analytics for curation reports: the 5 most frequent word
    trigrams per source (rank-then-filter compiles to WindowGroupLimit —
    only 5 rows per source survive the exchange)."""
    from pyspark.sql import Window

    from flink_psl_spark.llm.text import ngrams

    t = tables(spark, sf_dir)
    g = t["documents"].select(
        "source", F.explode(ngrams(F.col("text"), 3)).alias("gram")
    )
    counts = g.groupBy("source", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), "gram")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("source", "gram", "n", "rank")
    )


@query(
    "llm_semantic_dedup",
    # exact replica of the scale-hardened operator: md5-hash-sampled
    # centroids (n = ceil(count/32)), max-cosine routing (ties to lower
    # centroid id), clusters split into sub-buckets of <= 25 rows in hash
    # order (the per-cluster pair-count hard cap), within-sub-bucket
    # cosine >= 0.2 drop-greater-id
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      MD5(CAST(vec_id AS VARCHAR)) AS h
               FROM embeddings),
    k AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 32.0) AS BIGINT)) AS n
          FROM c),
    cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn FROM c)
      WHERE rn <= (SELECT n FROM k)),
    routed AS (
      SELECT vec_id, v, h, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY LIST_COSINE_SIMILARITY(v, cv) DESC, cid) AS rn
      FROM c CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY cid ORDER BY h, vec_id) - 1) / 25)
               AS BIGINT) AS sub
      FROM routed WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r
        ON l.cluster_id = r.cluster_id AND l.sub = r.sub
       AND l.vec_id < r.vec_id
      WHERE LIST_COSINE_SIMILARITY(l.v, r.v) >= 0.2)
    SELECT e.vec_id, e.label, a.cluster_id
    FROM embeddings e JOIN assigned a USING (vec_id)
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def llm_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: hash-sampled deterministic
    centroids with corpus-derived cluster count bound the pair space, a
    sub-bucket hard cap (25 here, so the fixture exercises the split
    path) bounds worst-case pair counts per shuffle key; near-dups
    (cosine >= 0.2, the fixture's separation threshold) are removed
    within sub-buckets, keep-lowest-id."""
    from flink_psl_spark.llm import semantic_dedup

    t = tables(spark, sf_dir)
    return semantic_dedup(
        t["embeddings"].select("vec_id", "embedding", "label"),
        target_cluster_size=32,
        max_cluster_size=25,
        threshold=0.2,
    ).select("vec_id", "label", "cluster_id")


@query(
    "llm_semantic_dedup_two_level",
    # exact replica of the IVF-style two-level routing path: the same
    # md5-hash-sampled fine centroids (K = ceil(count/32)), but routing
    # goes coarse-then-fine — m = isqrt(K) coarse cells (the first m fine
    # centroids in cid order; floor(sqrt(K+0.5)) is exact integer sqrt
    # for K < 2^52), each fine centroid and each vector max-cosine-routes
    # to a coarse cell (ties lower gid), then the vector resolves its
    # fine centroid among ONLY its cell's centroids (ties lower cid).
    # Downstream (sub-bucket cap 25, within-bucket cosine >= 0.2
    # keep-lowest-id) is identical to llm_semantic_dedup.
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      MD5(CAST(vec_id AS VARCHAR)) AS h
               FROM embeddings),
    k AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 32.0) AS BIGINT)) AS n
          FROM c),
    cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn FROM c)
      WHERE rn <= (SELECT n FROM k)),
    g AS (SELECT GREATEST(1, CAST(FLOOR(SQRT((SELECT n FROM k) + 0.5))
                                  AS BIGINT)) AS m),
    coarse AS (
      SELECT cid AS gid, cv AS gv
      FROM (SELECT cid, cv, ROW_NUMBER() OVER (ORDER BY cid) AS rn
            FROM cents)
      WHERE rn <= (SELECT m FROM g)),
    cent_cell AS (
      SELECT cid, cv, gid AS cell FROM (
        SELECT cid, cv, gid,
               ROW_NUMBER() OVER (
                 PARTITION BY cid
                 ORDER BY LIST_COSINE_SIMILARITY(cv, gv) DESC, gid) AS rn
        FROM cents CROSS JOIN coarse) WHERE rn = 1),
    vec_cell AS (
      SELECT vec_id, v, h, gid AS cell FROM (
        SELECT vec_id, v, h, gid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY LIST_COSINE_SIMILARITY(v, gv) DESC, gid) AS rn
        FROM c CROSS JOIN coarse) WHERE rn = 1),
    routed AS (
      SELECT vec_id, v, h, cid FROM (
        SELECT vc.vec_id, vc.v, vc.h, cc.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vc.vec_id
                 ORDER BY LIST_COSINE_SIMILARITY(vc.v, cc.cv) DESC,
                          cc.cid) AS rn
        FROM vec_cell vc JOIN cent_cell cc ON vc.cell = cc.cell)
      WHERE rn = 1),
    assigned AS (
      SELECT vec_id, v, cid AS cluster_id,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY cid ORDER BY h, vec_id) - 1) / 25)
               AS BIGINT) AS sub
      FROM routed),
    dropped AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r
        ON l.cluster_id = r.cluster_id AND l.sub = r.sub
       AND l.vec_id < r.vec_id
      WHERE LIST_COSINE_SIMILARITY(l.v, r.v) >= 0.2)
    SELECT e.vec_id, e.label, a.cluster_id
    FROM embeddings e JOIN assigned a USING (vec_id)
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def llm_semantic_dedup_two_level(spark, sf_dir):
    """SemDeDup at 100k-cluster scale: IVF-style two-level routing
    (broadcast only ~sqrt(K) coarse centroids; the K-row fine-centroid
    table shuffles by coarse cell, never broadcast) feeding the same
    sub-bucket-capped within-cluster dedup as llm_semantic_dedup."""
    from flink_psl_spark.llm import semantic_dedup

    t = tables(spark, sf_dir)
    return semantic_dedup(
        t["embeddings"].select("vec_id", "embedding", "label"),
        target_cluster_size=32,
        max_cluster_size=25,
        threshold=0.2,
        two_level=True,
    ).select("vec_id", "label", "cluster_id")


@query(
    "llm_bpe_train_merges",
    # BPE training is inherently iterative (argmax + rewrite per round) —
    # not SQL-expressible, so the oracle-able restatement follows the ANN
    # recall pattern: the Spark side runs BOTH the distributed trainer and
    # the single-process reference transcription (over the same word-count
    # table, which is vocabulary-sized and bounded) and emits per-rank
    # agreement; the oracle is the fixed expected truth.
    oracle="""
    SELECT CAST(UNNEST(GENERATE_SERIES(0, 11)) AS INTEGER) AS rank,
           TRUE AS agree
    """,
)
def llm_bpe_train_merges(spark, sf_dir):
    """Distributed BPE merge learning (12 merges): driver-loop rounds over
    the vocabulary-sized word-count table, each round one weighted pair
    aggregation + an Arrow-batched merge rewrite. Proven per run against
    the reference single-process algorithm (same deterministic tiebreak)."""
    from flink_psl_spark.llm import bpe_train, reference_bpe_merges, word_counts

    t = tables(spark, sf_dir)
    docs = t["documents"]
    # the self-check replays the SAME top-V vocabulary through the
    # single-process reference, so the driver-side collect is bounded by
    # V (a parameter), never by corpus vocabulary; V=20 < the fixture's
    # 31-word vocab so the capped path is the one being proven
    V = 20
    got = bpe_train(docs, n_merges=12, vocab_limit=V)
    wc_df = (
        word_counts(docs)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(V)
    )
    wc = {r["word"]: r["cnt"] for r in wc_df.collect()}
    want = reference_bpe_merges(wc, 12)
    rows = [
        (i, i < len(got) and i < len(want) and got[i] == want[i])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "rank int, agree boolean")


@query(
    "llm_bpe_encode_roundtrip",
    # encoding invariants, provable without re-deriving BPE in SQL:
    # merges only concatenate adjacent symbols, so the token concatenation
    # must reconstruct the word characters exactly, and the token count
    # can never exceed the character count
    oracle="""
    SELECT doc_id, TRUE AS content_ok, TRUE AS compressed
    FROM documents WHERE doc_id < 200
    """,
)
def llm_bpe_encode_roundtrip(spark, sf_dir):
    """BPE encoding with corpus-learned merges: row-local Arrow-batched
    encode; the emitted booleans prove content preservation (token concat
    == stripped word chars) and compression (n_tokens <= n_chars) per
    document."""
    from flink_psl_spark.llm import bpe_encode, bpe_train
    from flink_psl_spark.llm.text import tokenize

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    merges = bpe_train(t["documents"], n_merges=12)
    enc = bpe_encode(docs, merges)
    chars = docs.select(
        "doc_id",
        F.concat_ws("", tokenize(F.col("text"))).alias("__chars"),
        F.length(F.concat_ws("", tokenize(F.col("text")))).alias("__n_chars"),
    )
    return (
        enc.join(chars, on="doc_id")
        .select(
            "doc_id",
            (F.concat_ws("", "tokens") == F.col("__chars")).alias("content_ok"),
            (F.col("n_tokens") <= F.col("__n_chars")).alias("compressed"),
        )
    )


@query(
    "llm_perplexity_bucket_sample",
    # full replica: bigram-LM scores (exact quantized-integer aggregation),
    # scale-safe quartile via explicit integer arithmetic over the global
    # (avg_logprob, doc_id) rank, md5-threshold sampling per quartile
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(w[1:LEN(w) - 1]) AS w1, UNNEST(w[2:LEN(w)]) AS w2
      FROM d WHERE LEN(w) >= 2),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    cnt1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vs FROM bg),
    sc AS (
      SELECT bg.doc_id,
             CAST(ROUND(LN((c12 + 1.0) / (c1 + 1.0 * vs)) * 1000000)
                  AS BIGINT) AS s
      FROM bg JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1) CROSS JOIN v),
    agg AS (
      SELECT doc_id,
             ROUND(SUM(s) * 1.0 / COUNT(*) / 1000000, 6) AS avg_logprob
      FROM sc GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, avg_logprob,
             ROW_NUMBER() OVER (ORDER BY avg_logprob, doc_id) AS rank,
             COUNT(*) OVER () AS total
      FROM agg),
    tiled AS (
      SELECT doc_id, avg_logprob,
             CAST(((rank - 1) * 4) // total + 1 AS INTEGER) AS tile
      FROM ranked),
    kept AS (
      SELECT * FROM tiled
      WHERE CAST('0x' || SUBSTR(MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR),
                                              '42')), 1, 6) AS BIGINT)
            < CAST((CASE tile WHEN 1 THEN 0.25 WHEN 2 THEN 0.5
                              WHEN 3 THEN 0.75 ELSE 1.0 END)
                   * 16777216 AS BIGINT))
    SELECT t.tile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           ROUND(MIN(t.avg_logprob), 6) AS min_lp,
           ROUND(MAX(t.avg_logprob), 6) AS max_lp
    FROM tiled t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.tile
    """,
)
def llm_perplexity_bucket_sample(spark, sf_dir):
    """Perplexity-bucketed sampling (CCNet's head/middle/tail selection,
    quartile form): bigram-LM fluency quartiles via the scale-safe
    two-pass rank (no single-partition window over the corpus), then a
    deterministic md5-threshold keep-rate per quartile — fluent buckets
    keep more. Output: per-quartile doc/kept counts + logprob range."""
    from flink_psl_spark.llm import distributed_ntile
    from flink_psl_spark.llm.sampling import _HASH_BUCKETS, _bucket
    from flink_psl_spark.llm.text import ngram_lm_scores
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    scores = ngram_lm_scores(
        ensure_parallelism(t["documents"], "doc_id")
    ).where(F.col("n_bigrams") > 0)
    tiled = distributed_ntile(
        scores.select("doc_id", "avg_logprob"), "avg_logprob", "doc_id",
        n_tiles=4,
    )
    rate = (
        F.when(F.col("tile") == 1, 0.25)
        .when(F.col("tile") == 2, 0.5)
        .when(F.col("tile") == 3, 0.75)
        .otherwise(1.0)
    )
    kept = F.when(
        _bucket(["doc_id"], 42) < (rate * _HASH_BUCKETS).cast("bigint"),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        tiled.withColumn("__kept", kept)
        .groupBy("tile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__kept").cast("bigint").alias("n_kept"),
            F.round(F.min("avg_logprob"), 6).alias("min_lp"),
            F.round(F.max("avg_logprob"), 6).alias("max_lp"),
        )
    )


@query(
    "llm_source_quality_report",
    # the full report replayed feature-by-feature: token counts, the
    # 4-check quality heuristic (0.25 steps -> exact mean), linear
    # classifier bands, exact-dup counts by md5 fingerprint
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             CAST(LEN({_TOKS}) AS BIGINT) AS toks,
             CASE WHEN LEN({_TOKS}) > 0 THEN
               LEN(LIST_FILTER(
                     CASE WHEN TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                          ELSE STRING_SPLIT_REGEX(TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')
                     END,
                     x -> LIST_CONTAINS({_SW_LIST}, x)))
                 / LEN({_TOKS}) ELSE 0.0 END AS sw,
             CASE WHEN LEN(text) > 0 THEN
               LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
                 / LEN(text) ELSE 0.0 END AS pr,
             CASE WHEN LEN({_TOKS}) > 0 THEN
               LIST_SUM(LIST_TRANSFORM({_TOKS}, x -> LEN(x)))
                 / LEN({_TOKS}) ELSE 0.0 END AS mwl,
             MD5(LOWER(TRIM(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g'), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)))) AS fp
      FROM documents),
    scored AS (
      SELECT *,
             (CASE WHEN toks >= 10 AND toks <= 100000 THEN 0.25 ELSE 0.0 END
              + CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.25 ELSE 0.0 END
              + CASE WHEN sw >= 0.05 THEN 0.25 ELSE 0.0 END
              + CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0.0 END) AS q,
             ROUND(-1.0 + 2.0 * sw + -1.5 * pr + 0.15 * mwl
                   + 0.25 * LN(CAST(toks AS DOUBLE) + 1.0), 6) AS margin
      FROM f),
    dups AS (
      SELECT source, fp, COUNT(*) AS n FROM scored GROUP BY source, fp)
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(s.q) / COUNT(*), 6) AS avg_quality,
           CAST(SUM(CASE WHEN s.margin >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           CAST(SUM(CASE WHEN s.margin >= 0.0 AND s.margin < 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
           CAST(SUM(CASE WHEN s.margin < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(SUM(CASE WHEN d.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs
    FROM scored s JOIN dups d ON d.source = s.source AND d.fp = s.fp
    GROUP BY s.source
    """,
)
def llm_source_quality_report(spark, sf_dir):
    """Per-source corpus curation report — the summary a data team reads
    before fixing a mix: doc/token volumes, mean heuristic quality,
    classifier band counts, and exact-duplicate document counts. One
    expression-only scan + two per-source hash aggregations."""
    from pyspark.sql import Window

    from flink_psl_spark.llm.text import (
        fingerprint,
        linear_quality_classifier,
        quality_band,
        quality_score,
        token_count,
    )

    t = tables(spark, sf_dir)
    docs = t["documents"].select(
        "source",
        token_count(F.col("text")).alias("toks"),
        quality_score(F.col("text")).alias("q"),
        quality_band(linear_quality_classifier(F.col("text"))).alias("band"),
        fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("source", "fp")
    tagged = docs.withColumn("__dup", F.count("*").over(w) > 1)
    return tagged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.round(F.sum("q") / F.count("*"), 6).alias("avg_quality"),
        F.sum((F.col("band") == "high").cast("long")).cast("bigint").alias("n_high"),
        F.sum((F.col("band") == "medium").cast("long")).cast("bigint").alias("n_medium"),
        F.sum((F.col("band") == "low").cast("long")).cast("bigint").alias("n_low"),
        F.sum(F.col("__dup").cast("long")).cast("bigint").alias("n_exact_dup_docs"),
    )


@query(
    "llm_wav_decode_stats",
    # the Spark side round-trips GENUINE RIFF/WAVE bytes (stdlib encoder
    # + decoder); the oracle derives the expected decoded stats
    # analytically from the deterministic synthesis formula — integer
    # waveform, exact integer sum of squares, correctly-rounded sqrt
    oracle="""
    WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
    s AS (
      SELECT doc_id, n,
             LIST_TRANSFORM(GENERATE_SERIES(0, n - 1),
                            i -> (doc_id * 31 + i * 7) % 2048 - 1024) AS xs
      FROM d)
    SELECT doc_id AS media_id,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(n / 8000.0, 6) AS duration_s,
           ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(xs, x -> x * x)) * 1.0 / n), 6)
             AS rms
    FROM s
    """,
)
def llm_wav_decode_stats(spark, sf_dir):
    """Real audio decode branch (the WAV twin of the stdlib PNG decoder):
    deterministic 16-bit PCM clips are written as genuine RIFF/WAVE bytes
    and parsed back with the stdlib wave codec inside an Arrow-batched
    mapInPandas — channels, rate, sample count, duration, integer-exact
    RMS all proven against the analytic oracle."""
    from flink_psl_spark.llm.multimodal import synthetic_wav_media, wav_stats

    t = tables(spark, sf_dir)
    return wav_stats(synthetic_wav_media(spark, t["documents"]))


@query(
    "llm_curation_pipeline_v2",
    # all four stages replayed in one chained SQL: linear-classifier
    # filter -> corpus-frequency boilerplate removal (8-token segments,
    # > 2 docs) on the kept docs -> keep-first segment dedup (16-token)
    # on the cleaned texts -> deterministic shard/pos assignment of the
    # docs that still carry content
    oracle=f"""
    WITH f AS (
      SELECT doc_id, {_TOKS} AS w, text FROM documents),
    kept AS (
      SELECT doc_id, text FROM f
      WHERE ROUND(-1.0
          + 2.0 * (CASE WHEN LEN(w) > 0 THEN
              LEN(LIST_FILTER(
                    CASE WHEN TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                         ELSE STRING_SPLIT_REGEX(TRIM(LOWER(text), ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')
                    END,
                    x -> LIST_CONTAINS({_SW_LIST}, x)))
                / LEN(w) ELSE 0.0 END)
          + -1.5 * (CASE WHEN LEN(text) > 0 THEN
              LEN(REGEXP_REPLACE(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
                / LEN(text) ELSE 0.0 END)
          + 0.15 * (CASE WHEN LEN(w) > 0 THEN
              LIST_SUM(LIST_TRANSFORM(w, x -> LEN(x))) / LEN(w)
              ELSE 0.0 END)
          + 0.25 * LN(CAST(LEN(w) AS DOUBLE) + 1.0), 6) >= 0.0),
    -- stage 2: corpus-frequency boilerplate removal over the KEPT docs
    kw AS (SELECT doc_id,
                  CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                       ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END AS w
           FROM kept),
    bseg AS (
      SELECT doc_id, CAST((s - 1) // 8 AS BIGINT) AS seg_no,
             ARRAY_TO_STRING(w[s:s + 7], ' ') AS seg
      FROM (SELECT doc_id, w,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 8)) AS s
            FROM kw)
      WHERE LEN(w[s:s + 7]) > 0),
    bfreq AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM bseg GROUP BY seg),
    clean1 AS (
      SELECT b.doc_id,
             COALESCE(STRING_AGG(CASE WHEN f2.nd <= 2 THEN b.seg END, ' '
                                 ORDER BY b.seg_no), '') AS text
      FROM bseg b JOIN bfreq f2 USING (seg)
      GROUP BY b.doc_id),
    -- stage 3: keep-first segment dedup over the cleaned texts
    cw AS (SELECT doc_id,
                  CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                       ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END AS w
           FROM clean1),
    sseg AS (
      SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS seg_no,
             ARRAY_TO_STRING(w[s:s + 15], ' ') AS seg
      FROM (SELECT doc_id, w,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 16)) AS s
            FROM cw)
      WHERE LEN(w[s:s + 15]) > 0),
    sk AS (
      SELECT doc_id, seg_no, seg,
             ROW_NUMBER() OVER (PARTITION BY MD5(seg)
                                ORDER BY doc_id, seg_no) AS rn
      FROM sseg),
    clean2 AS (
      SELECT doc_id, COUNT(*) AS n_kept
      FROM sk WHERE rn = 1 GROUP BY doc_id),
    -- stage 4: deterministic shard/pos over docs that kept content
    h AS (
      SELECT doc_id, n_kept,
             CAST('0x' || SUBSTR(MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR),
                                               '42')), 1, 6) AS BIGINT)
               % 8 AS shard,
             MD5(CONCAT_WS('|', CAST(doc_id AS VARCHAR), '43')) AS ord
      FROM clean2 WHERE n_kept > 0)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id)
                - 1 AS BIGINT) AS pos,
           CAST(n_kept AS BIGINT) AS n_final_segments
    FROM h
    """,
)
def llm_curation_pipeline_v2(spark, sf_dir):
    """The round-4 end-to-end curation pipeline: linear quality
    classifier -> corpus-frequency boilerplate removal -> keep-first
    segment dedup -> deterministic training-order shuffle, four library
    operators chained and hash-checked end to end. Every stage keeps its
    scale shape (codegen'd filter; hash-keyed frequency join; md5-keyed
    keep-first window; per-shard position windows)."""
    from flink_psl_spark.llm import (
        boilerplate_removal,
        deterministic_shuffle,
        segment_dedup,
    )
    from flink_psl_spark.llm.text import linear_quality_classifier

    t = tables(spark, sf_dir)
    kept = t["documents"].where(
        linear_quality_classifier(F.col("text")) >= 0.0
    )
    # materialize the stage boundary: segment_dedup references its input
    # in TWO branches (segment explode + the doc-universe left join), so
    # without this the whole boilerplate_removal DAG — itself 2-3
    # references deep over the quality-filtered scan — re-plans per
    # branch (measured: 3 document scans and 2 36k-row segment explodes
    # in one plan, 6.4 s warm). A real pipeline persists exactly this
    # intermediate between curation stages; 6.4 -> ~2.5 s at sf0.1.
    cleaned = boilerplate_removal(
        kept, segment_tokens=8, max_docs=2
    ).select("doc_id", F.col("clean_text").alias("text")).transform(materialize)
    deduped = segment_dedup(cleaned, segment_tokens=16).where(
        F.col("n_kept") > 0
    )
    return deterministic_shuffle(
        deduped.select("doc_id", "n_kept"),
        key_cols=["doc_id"], n_shards=8, seed=42,
    ).select(
        "doc_id", "shard", "pos",
        F.col("n_kept").cast("bigint").alias("n_final_segments"),
    )


@query(
    "llm_importance_resample",
    # exact replica of the quantized DSIR recipe: hashed uni+bigram
    # features (md5 -> 256 buckets), add-1 smoothed target/raw bucket
    # distributions, per-raw-doc integer sum of 1e-6-quantized
    # log-ratios, global top-100 (score desc, doc_id asc)
    oracle=f"""
    WITH d AS (SELECT doc_id, source = 'src0' AS t, {{toks}} AS w
               FROM documents),
    uni AS (SELECT doc_id, t, UNNEST(w) AS g FROM d),
    bi AS (
      SELECT doc_id, t, ARRAY_TO_STRING(w[i:i+1], ' ') AS g
      FROM (SELECT doc_id, t, w,
                   UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i
            FROM d WHERE LEN(w) >= 2)),
    f AS (
      SELECT doc_id, t,
             CAST(CONCAT('0x', SUBSTR(MD5(g), 1, 6)) AS BIGINT) % 256 AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    tc AS (SELECT b, COUNT(*) AS c FROM f WHERE t GROUP BY b),
    rc AS (SELECT b, COUNT(*) AS c FROM f WHERE NOT t GROUP BY b),
    tt AS (SELECT COUNT(*) AS n FROM f WHERE t),
    rt AS (SELECT COUNT(*) AS n FROM f WHERE NOT t),
    ratio AS (
      SELECT COALESCE(tc.b, rc.b) AS b,
             CAST(ROUND((LN(COALESCE(tc.c, 0) + 1.0)
                         - LN((SELECT n FROM tt) + 256.0)
                         - LN(COALESCE(rc.c, 0) + 1.0)
                         + LN((SELECT n FROM rt) + 256.0)) * 1000000)
                  AS BIGINT) AS lr
      FROM tc FULL JOIN rc ON tc.b = rc.b),
    sc AS (SELECT f.doc_id, SUM(lr) AS score, COUNT(*) AS n_feats
           FROM f JOIN ratio USING (b) WHERE NOT t GROUP BY f.doc_id),
    r AS (SELECT doc_id, score, n_feats,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM sc)
    SELECT doc_id, ROUND(score / 1000000.0, 6) AS logweight,
           CAST(n_feats AS BIGINT) AS n_feats, CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 100
    """.replace("{toks}", _TOKS),
)
def llm_importance_resample(spark, sf_dir):
    """DSIR-style importance resampling: pick the 100 raw documents whose
    hashed-n-gram feature distribution is most target-like (target =
    source 'src0'). Bucket tables are parameter-bounded aggregates; the
    selection is a distributed TakeOrdered."""
    from flink_psl_spark.llm import importance_resample
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    # fan the scan out: the featurize explode (tokenize + per-gram md5,
    # the dominant CPU) runs in the scan stage, and the single-file
    # documents scan is one input split (r13 scan-floor class)
    return importance_resample(
        ensure_parallelism(t["documents"], "doc_id"),
        F.col("source") == "src0",
        n_buckets=256,
        k=100,
    )


@query(
    "llm_hash_split",
    # per-ROW exact oracle: the split assignment is pure md5-bucket
    # arithmetic, replayable in SQL (same bucket formula as the
    # deterministic samplers)
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CONCAT_WS('|',
                  CAST(doc_id AS VARCHAR), '42')), 1, 6) AS BIGINT) AS bkt
      FROM documents)
    SELECT doc_id,
           CASE WHEN bkt < CAST(0.8 * 16777216 AS BIGINT) THEN 'train'
                WHEN bkt < CAST(0.9 * 16777216 AS BIGINT) THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def llm_hash_split(spark, sf_dir):
    """Deterministic train/val/test splitting by md5-bucket ranges:
    reproducible across engines, stable under corpus growth (a row's
    split never changes when new rows arrive — unlike randomSplit),
    disjoint + exhaustive by construction. Expression-only."""
    from flink_psl_spark.llm import hash_split

    t = tables(spark, sf_dir)
    return hash_split(
        t["documents"],
        {"train": 0.8, "val": 0.1, "test": 0.1},
        key_cols=["doc_id"],
    ).select("doc_id", "split")


@query(
    "llm_diversity_sample",
    # exact replica of the cluster-balanced sampler: the same
    # md5-hash-sampled centroids and max-cosine routing as semantic
    # dedup (ties to lower centroid id), then the first 3 rows per
    # cluster in (md5-hash, id) order
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      MD5(CAST(vec_id AS VARCHAR)) AS h
               FROM embeddings),
    k AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 32.0) AS BIGINT)) AS n
          FROM c),
    cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn FROM c)
      WHERE rn <= (SELECT n FROM k)),
    routed AS (
      SELECT vec_id, h, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY LIST_COSINE_SIMILARITY(v, cv) DESC, cid) AS rn
      FROM c CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, h, cid AS cluster_id FROM routed WHERE rn = 1),
    picked AS (
      SELECT vec_id, cluster_id,
             ROW_NUMBER() OVER (
               PARTITION BY cluster_id ORDER BY h, vec_id) AS rn
      FROM assigned)
    SELECT e.vec_id, e.label, p.cluster_id
    FROM embeddings e JOIN picked p USING (vec_id)
    WHERE p.rn <= 3
    """,
)
def llm_diversity_sample(spark, sf_dir):
    """Cluster-balanced (coreset-style) diversity sampling: cover the
    embedding space, not the ingestion distribution — a fixed quota of
    3 rows per hash-seeded cluster caps each semantic mode's
    contribution (the cluster-sweep selection of the published
    data-pruning recipes). Routing is the same map-side min_by partial
    agg as semantic dedup; the quota compiles to WindowGroupLimit."""
    from flink_psl_spark.llm import diversity_sample

    t = tables(spark, sf_dir)
    return diversity_sample(
        t["embeddings"].select("vec_id", "embedding", "label"),
        target_cluster_size=32,
        per_cluster=3,
    ).select("vec_id", "label", "cluster_id")


# lowercased variant of the shared blank-safe tokenization
_LTOKS = (
    "CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[] "
    "ELSE STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+') END"
)


@query(
    "llm_tfidf_top_terms",
    # score quantized to an integer (floor(tf·ln(N/df)·1e6)) before
    # ranking — the same cross-engine quantized-log discipline as
    # importance_resample, so rank never depends on sub-ulp floats
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_LTOKS}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfq AS (
      SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.doc_freq,
             CAST(FLOOR(t.tf * LN(CAST(n_docs AS DOUBLE) / d.doc_freq)
                        * 1000000.0) AS BIGINT) AS score_q
      FROM tf t JOIN dfq d USING (term), n),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_q DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(doc_freq AS BIGINT) AS doc_freq, score_q,
           CAST(rank AS INTEGER) AS rank
    FROM r WHERE rank <= 3
    """,
)
def llm_tfidf_top_terms(spark, sf_dir):
    """Per-document TF-IDF keywords (top-3): document-frequency
    discounting without a stopword list. Two corpus-sized shuffles +
    one vocabulary join + a WindowGroupLimit rank — and an
    integer-quantized score so the ranking replays exactly in any
    engine."""
    from flink_psl_spark.llm import tfidf_top_terms

    t = tables(spark, sf_dir)
    return tfidf_top_terms(t["documents"], k=3)


@query(
    "llm_vocab_coverage",
    # coverage = ROUND(cum/total, 6) of exact integer counts — the two
    # engines divide the same exact integers, so the double is identical
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST({_LTOKS}) AS token FROM documents),
    cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    tot AS (SELECT SUM(n) AS total FROM cnt),
    top AS (
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
      FROM cnt QUALIFY rank <= 100)
    SELECT rank, token, CAST(n AS BIGINT) AS n,
           CAST(SUM(n) OVER (ORDER BY rank) AS BIGINT) AS cum_n,
           ROUND(SUM(n) OVER (ORDER BY rank) * 1.0 / total, 6) AS coverage
    FROM top, tot
    """,
)
def llm_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (top-100 tokens + cumulative corpus
    share): the pre-tokenizer Zipf diagnostic. One vocabulary-sized
    shuffle, a TakeOrdered top-V, and a parameter-sized (never
    corpus-sized) running-sum window."""
    from flink_psl_spark.llm import vocab_coverage

    t = tables(spark, sf_dir)
    return vocab_coverage(t["documents"], top_v=100)


@query(
    "llm_duplicate_spans",
    # string span keys (hashed=False) so the shingle join replays
    # exactly in SQL; df-capped [2, 8] before the pair join
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([array_to_string(words[i:i+7], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 7, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    e AS (SELECT doc_id, UNNEST(s) AS span FROM sh),
    d AS (SELECT span FROM (SELECT span, COUNT(*) AS df FROM e GROUP BY span)
          WHERE df BETWEEN 2 AND 8),
    c AS (SELECT e.doc_id, e.span FROM e JOIN d USING (span))
    SELECT l.doc_id AS a, r.doc_id AS b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM c l JOIN c r ON l.span = r.span AND l.doc_id < r.doc_id
    GROUP BY 1, 2
    """,
)
def llm_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span detection: document pairs
    sharing verbatim 8-token spans — the dup signal bag-of-shingles
    Jaccard underweights. Span df capped at 8 before the self-join
    (bounded fan-out per span key); one shuffle on the span, one pair
    aggregation."""
    from flink_psl_spark.llm import duplicate_spans

    t = tables(spark, sf_dir)
    return duplicate_spans(
        t["documents"], k=8, max_span_df=8, hashed=False
    )


@query(
    "llm_text_normalize",
    # DuckDB's nfc_normalize implements the same Unicode NFC table as
    # python's unicodedata, so the full canonicalization chain replays
    # exactly (char classes in \x{...} to keep the source ASCII)
    oracle=r"""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(
                 REGEXP_REPLACE(
                   REGEXP_REPLACE(
                     REGEXP_REPLACE(
                       REGEXP_REPLACE(nfc_normalize(text),
                         '[\x{2018}\x{2019}\x{201A}\x{201B}]', '''', 'g'),
                       '[\x{201C}\x{201D}\x{201E}\x{201F}]', '"', 'g'),
                     '[\x{2013}\x{2014}\x{2015}]', '-', 'g'),
                   '\x{2026}', '...', 'g'),
                 '[\x{00A0}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]',
                 ' ', 'g'),
               '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}'
               || '\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
             '[ \t\n\f\r]+', ' ', 'g'),
           ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) AS text
    FROM documents
    """,
)
def llm_text_normalize(spark, sf_dir):
    """Training-text canonicalization: NFC composition (Arrow-batched —
    the one step needing a Unicode table), typographic unification,
    control/zero-width strip, whitespace collapse. One pass, no
    shuffle; byte-compared against the SQL replay."""
    from flink_psl_spark.llm.text import normalize_text

    t = tables(spark, sf_dir)
    return normalize_text(t["documents"])


@query(
    "llm_compression_ratio_check",
    # zlib is not SQL-expressible, so — the BPE-agreement pattern — the
    # Spark side runs BOTH the distributed Arrow kernel and an
    # in-driver reference zlib over a bounded 20-doc sample and emits
    # per-doc agreement; the oracle is the fixed expected truth
    oracle="""
    SELECT doc_id, TRUE AS agree FROM documents WHERE doc_id < 20
    """,
)
def llm_compression_ratio_check(spark, sf_dir):
    """Compressibility quality signal (entropy proxy): zlib ratio per
    document via an Arrow-batched kernel; this check proves the
    distributed kernel bit-agrees with a single-process reference on a
    bounded sample (V=20 — parameter-sized driver work, the BPE
    verification pattern)."""
    import zlib

    from flink_psl_spark.llm.text import compression_ratio

    t = tables(spark, sf_dir)
    sample = t["documents"].where(F.col("doc_id") < 20)
    got = {
        r["doc_id"]: r["ratio"]
        for r in compression_ratio(sample).collect()  # 20 rows, bounded
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in sample.select("doc_id", "text").collect()
    }

    def ref(tx):
        raw = (tx or "").encode("utf-8")
        return round(len(zlib.compress(raw, 6)) / len(raw), 6) if raw else 0.0

    rows = [(d, bool(got[d] == ref(tx))) for d, tx in texts.items()]
    return spark.createDataFrame(rows, "doc_id bigint, agree boolean")


@query(
    "llm_ngram_novelty",
    # distinct (doc, 3-gram) pairs, grams unique to one doc are novel;
    # novelty = exact integer ratio rounded at 6
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id,
             UNNEST([array_to_string(w[i:i+2], ' ')
                     FOR i IN RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)]) AS gr
      FROM (SELECT doc_id, {_TOKS} AS w FROM documents)),
    d AS (SELECT gr, COUNT(*) AS df FROM g GROUP BY gr),
    per AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COALESCE(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_novel
      FROM g JOIN d USING (gr) GROUP BY g.doc_id)
    SELECT doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(n_novel, 0) AS n_novel,
           COALESCE(ROUND(n_novel * 1.0 / n_grams, 6), 0.0) AS novelty
    FROM documents LEFT JOIN per USING (doc_id)
    """,
)
def llm_ngram_novelty(spark, sf_dir):
    """Document originality: the fraction of a doc's distinct 3-grams
    found in no other document — ranks template/boilerplate docs low
    even when no pairwise dedup match fires. Two vocabulary-keyed
    shuffles + one per-doc aggregation."""
    from flink_psl_spark.llm.text import ngram_novelty

    t = tables(spark, sf_dir)
    return ngram_novelty(t["documents"], n=3)


@query(
    "llm_mixed_language_report",
    # the llm_language_id scoring CASE applied per 20-token chunk
    # (lowercased tokens; en wins ties, then fr/de/es, strict-> rules
    # identical to the whole-doc oracle), aggregated per doc
    oracle=f"""
    WITH d AS (SELECT doc_id, {_LTOKS} AS w FROM documents),
    s AS (SELECT doc_id,
                 w[start_token:start_token + 19] AS toks
          FROM (SELECT doc_id, w,
                       UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w), 1), 20))
                         AS start_token
                FROM d)
          WHERE LEN(w[start_token:start_token + 19]) > 0),
    r AS (
      SELECT doc_id,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['the','a','an','and',
                 'or','of','to','in','is','are','was','were','be','been','it',
                 'this','that','for','on','with','as','at','by','from','not',
                 'no'], t))) * 1.0 / LEN(toks) END AS s_en,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['le','la','les','de',
                 'des','un','une','et','est','dans','pour','que','qui','sur',
                 'au','du'], t))) * 1.0 / LEN(toks) END AS s_fr,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['der','die','das',
                 'und','ist','ein','eine','nicht','mit','für','von','auf',
                 'dem','den'], t))) * 1.0 / LEN(toks) END AS s_de,
             CASE WHEN LEN(toks) = 0 THEN 0.0 ELSE
               LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(['el','la','los','las',
                 'de','un','una','y','es','en','que','por','para','con',
                 'del'], t))) * 1.0 / LEN(toks) END AS s_es
      FROM s),
    p AS (
      SELECT doc_id,
             CASE
               WHEN s_en > 0.03 AND s_en >= s_fr AND s_en >= s_de
                    AND s_en >= s_es THEN 'en'
               WHEN s_fr > 0.03 AND s_fr > s_en AND s_fr >= s_de
                    AND s_fr >= s_es THEN 'fr'
               WHEN s_de > 0.03 AND s_de > s_en AND s_de > s_fr
                    AND s_de >= s_es THEN 'de'
               WHEN s_es > 0.03 AND s_es > s_en AND s_es > s_fr
                    AND s_es > s_de THEN 'es'
               ELSE 'und' END AS lang
      FROM r)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(COALESCE(
             LIST(lang) FILTER (WHERE lang <> 'und'), []))), ','), '')
             AS langs,
           LEN(LIST_DISTINCT(COALESCE(
             LIST(lang) FILTER (WHERE lang <> 'und'), []))) > 1
             AS is_mixed
    FROM p GROUP BY doc_id
    """,
)
def llm_mixed_language_report(spark, sf_dir):
    """Within-document language mixing: language-ID every 20-token
    chunk and flag documents whose chunks disagree — the
    code-switching/concatenation-artifact signal whole-doc lang-ID
    misses. Row-local chunk explode + expression scoring + one keyed
    aggregation."""
    from flink_psl_spark.llm.text import mixed_language_report

    t = tables(spark, sf_dir)
    return mixed_language_report(t["documents"], chunk_tokens=20)


@query(
    "llm_span_dedup_rewrite",
    # the removal policy replayed in SQL: 1-based positions there,
    # 0-based in Spark — internal only, the rebuilt text is compared
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN []::VARCHAR[]
                  ELSE STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') END AS w
      FROM documents),
    tok AS (
      SELECT doc_id, UNNEST(w) AS tok, GENERATE_SUBSCRIPTS(w, 1) AS pos
      FROM d),
    sp AS (
      SELECT doc_id, i AS start, array_to_string(w[i:i+7], ' ') AS span
      FROM d, UNNEST(RANGE(1, GREATEST(LEN(w) - 7, 0) + 1)) t(i)),
    own AS (
      SELECT span, MIN(doc_id) AS owner
      FROM (SELECT span, doc_id FROM sp GROUP BY span, doc_id)
      GROUP BY span HAVING COUNT(*) BETWEEN 2 AND 8),
    cov AS (
      SELECT DISTINCT s.doc_id, UNNEST(RANGE(s.start, s.start + 8)) AS pos
      FROM sp s JOIN own o USING (span)
      WHERE s.doc_id <> o.owner),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.doc_id IS NULL),
    agg AS (
      SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY pos) AS text
      FROM kept GROUP BY doc_id)
    SELECT d0.doc_id, COALESCE(a.text, '') AS text
    FROM documents d0 LEFT JOIN agg a USING (doc_id)
    """,
)
def llm_span_dedup_rewrite(spark, sf_dir):
    """ExactSubstr dedup as a rewrite: duplicated 8-token spans survive
    only in their lowest-id owner; every other document is reassembled
    without them. No pair join — ownership is one span-keyed agg,
    coverage a bounded explode, reassembly one doc-keyed agg."""
    from flink_psl_spark.llm import remove_duplicate_spans
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    # fan the scan out: tokenize + the positional span explode run in
    # the scan stage twice (toks + the span table) — r13 scan-floor class
    return remove_duplicate_spans(
        ensure_parallelism(t["documents"], "doc_id"), k=8, max_span_df=8
    )


@query(
    "llm_cluster_report",
    # same routing as semantic dedup / diversity sample; per-member
    # centroid similarity quantized to floor(sim*1e6) BEFORE the
    # aggregation so the mean is a ratio of exact integers
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      MD5(CAST(vec_id AS VARCHAR)) AS h
               FROM embeddings),
    k AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 32.0) AS BIGINT)) AS n
          FROM c),
    cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v,
                   ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn FROM c)
      WHERE rn <= (SELECT n FROM k)),
    routed AS (
      SELECT vec_id, cid, LIST_COSINE_SIMILARITY(v, cv) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY LIST_COSINE_SIMILARITY(v, cv) DESC, cid) AS rn
      FROM c CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, cid AS cluster_id,
             CAST(FLOOR(sim * 1000000.0) AS BIGINT) AS sq
      FROM routed WHERE rn = 1)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(sq) * 1.0 / (COUNT(*) * 1000000.0), 6) AS mean_sim,
           ROUND(MIN(sq) / 1000000.0, 6) AS min_sim
    FROM assigned GROUP BY cluster_id
    """,
)
def llm_cluster_report(spark, sf_dir):
    """Embedding-cluster cohesion report: per cluster the member count
    and mean/min centroid similarity — the diagnostic read before
    trusting cluster-bounded dedup or cluster-balanced sampling.
    Integer-quantized similarities make the means engine-exact; output
    is n_clusters rows from one keyed aggregation."""
    from flink_psl_spark.llm import cluster_report

    t = tables(spark, sf_dir)
    return cluster_report(
        t["embeddings"].select("vec_id", "embedding"),
        target_cluster_size=32,
    )


_BM25_QUERIES = [
    ("q_exec", "spark query join window"),
    ("q_sort", "merge sort batch"),
    ("q_cust", "customer data filter stream"),
]
_BM25_VALUES = ", ".join(
    f"('{qid}', '{term}')"
    for qid, qtext in _BM25_QUERIES
    for term in sorted(set(qtext.split()))
)


@query(
    "llm_bm25_topk",
    # all statistics are exact integers and all constants typed double
    # (e-notation keeps DuckDB from parsing them as DECIMAL), so both
    # engines evaluate the identical IEEE tree; per-(doc,term) scores
    # quantize to ints before the per-doc sum — rank is float-proof
    oracle=f"""
    WITH q(qid, term) AS (VALUES {_BM25_VALUES}),
    toks AS (
      SELECT doc_id, UNNEST({_LTOKS}) AS term FROM documents),
    dl AS (
      SELECT doc_id,
             CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) END AS dl
      FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
    dft AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    scored AS (
      SELECT q.qid, tf.doc_id,
             CAST(FLOOR(
               LN(1e0 + (n_docs - doc_freq + 5e-1) / (doc_freq + 5e-1))
               * (tf * 2.2e0)
               / (tf + 1.2e0
                  * (2.5e-1 + 7.5e-1 * dl.dl * n_docs / sum_dl))
               * 1000000e0) AS BIGINT) AS s
      FROM tf
      JOIN dft USING (term)
      JOIN q USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    ranked AS (
      SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_q,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY SUM(s) DESC, doc_id) AS rank
      FROM scored GROUP BY qid, doc_id)
    SELECT qid, doc_id, score_q, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def llm_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-5 per query — lexical retrieval for
    query-conditioned corpus mining. The corpus-sized token explode is
    broadcast-semi-joined down to query-term hits before anything
    shuffles; N and Σdl ride a one-row broadcast; the final rank
    compiles to WindowGroupLimit."""
    from flink_psl_spark.llm import bm25_topk

    t = tables(spark, sf_dir)
    return bm25_topk(t["documents"], _BM25_QUERIES, k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


@query(
    "llm_conversation_assembly",
    # lag + cumulative-sum sessionization, then an ORDER-BY string agg;
    # EPOCH_US() gap math keeps both engines on exact integer microseconds
    # (second-truncation vs rounding would diverge at fractional gaps)
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS session_n
      FROM s)
    SELECT user_id, session_n, CAST(COUNT(*) AS BIGINT) AS n_turns,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           STRING_AGG(event_type, ' ' ORDER BY ts, event_id)
             AS transcript
    FROM g GROUP BY user_id, session_n
    """,
)
def llm_conversation_assembly(spark, sf_dir):
    """Per-user conversation transcripts: 30-min-gap sessionization
    (lag + running sum) then ordered turn concatenation — the chat-log →
    training-document assembly step. One user-keyed shuffle shared by
    both window passes and the aggregate; transcripts capped at
    max_turns=64 (fixture sessions are far shorter, so the cap is
    inactive here and the oracle needs no slice)."""
    from flink_psl_spark.llm import assemble_conversations

    t = tables(spark, sf_dir)
    return assemble_conversations(t["events"], gap_minutes=30, max_turns=64)


@query(
    "llm_sft_loss_mask",
    # pure integer arithmetic replica: the assembly oracle's
    # sessionization CTE, then per-session turn numbering, segment
    # lengths (3-char role tags + content), a running sum, and the
    # assistant-content span [cum - seg + tag, cum)
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS session_n
      FROM s),
    t AS (
      SELECT user_id, session_n,
             ROW_NUMBER() OVER w3 AS turn_idx,
             3 + LEN(event_type) AS seg,
             SUM(3 + LEN(event_type)) OVER w3 AS cum,
             SUM(3 + LEN(event_type)) OVER (
               PARTITION BY user_id, session_n) AS render_len
      FROM g
      WINDOW w3 AS (PARTITION BY user_id, session_n ORDER BY ts, event_id))
    SELECT user_id, session_n, CAST(turn_idx AS INT) AS turn_idx,
           CAST(cum - seg + 3 AS BIGINT) AS mask_start,
           CAST(cum AS BIGINT) AS mask_end,
           CAST(render_len AS BIGINT) AS render_len
    FROM t WHERE turn_idx % 2 = 0
    """,
)
def llm_sft_loss_mask(spark, sf_dir):
    """SFT loss-mask layout: sessionize the chat log (the conversation-
    assembly windows), render each turn virtually as a 3-char role tag +
    content (odd = user, even = assistant), and emit every assistant
    segment's 0-indexed content span in the rendered string — computed
    arithmetically from one running sum, the render never materializes."""
    from flink_psl_spark.llm import sft_loss_mask

    t = tables(spark, sf_dir)
    return sft_loss_mask(t["events"], gap_minutes=30)


@query(
    "llm_dedup_keep_best",
    # same hashed-shingle + size-bound pruning as _NEARDUP_SURVIVORS_SQL,
    # then recursive-CTE connected components and a per-cluster rank by
    # (n_chars DESC, doc_id) — keep-best instead of keep-lowest-id
    oracle="""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT([hash(array_to_string(words[i:i+2], ' '))
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    sized AS (SELECT doc_id, s, LEN(s) AS n FROM sh),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b
      FROM sized l JOIN sized r
        ON l.doc_id < r.doc_id
       AND r.n * 5 >= l.n * 4 AND l.n * 5 >= r.n * 4
      WHERE ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                  LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 6) >= 0.8),
    und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT s, s FROM und
      UNION
      SELECT u.d, w.label FROM walk w JOIN und u ON u.s = w.node),
    comp AS (SELECT node AS doc_id, MIN(label) AS cid FROM walk GROUP BY node),
    reps AS (
      SELECT doc_id FROM (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cid
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN documents d USING (doc_id))
      WHERE rn = 1)
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM comp)
       OR doc_id IN (SELECT doc_id FROM reps)
    """,
)
def llm_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup keeping the BEST group member (longest doc, ties
    to lower id) — LSH candidates, exact verification, connected
    components, rank-1 representative election. The curation policy a
    production pipeline uses where keep-lowest-id would discard the
    richer page."""
    from flink_psl_spark.llm import minhash_dedup_keep_best

    t = tables(spark, sf_dir)
    return minhash_dedup_keep_best(
        t["documents"].select("doc_id", "text", "lang", "source", "n_chars"),
        quality_col="n_chars",
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "llm_cross_corpus_dedup",
    # new crawl = doc_id % 3 == 0, existing corpus = the rest; a new doc
    # survives iff no corpus doc is exact-Jaccard >= 0.8 similar (the
    # candidate step is recall-1 here, so the exact restatement is the
    # oracle — same proof shape as _NEARDUP_SURVIVORS_SQL)
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([hash(array_to_string(words[i:i+2], ' '))
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    sized AS (SELECT doc_id, s, LEN(s) AS n FROM sh),
    dropped AS (
      SELECT DISTINCT l.doc_id
      FROM sized l JOIN sized r
        ON l.doc_id % 3 = 0 AND r.doc_id % 3 <> 0
       AND r.n * 5 >= l.n * 4 AND l.n * 5 >= r.n * 4
      WHERE ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                  LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 6) >= 0.8)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 3 = 0
      AND doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def llm_cross_corpus_dedup(spark, sf_dir):
    """Incremental-ingest dedup: the new crawl (doc_id % 3 == 0) filtered
    against the immutable existing corpus — LSH band join BETWEEN the two
    sides only (intra-side pairs structurally impossible), exact-Jaccard
    verification on candidates."""
    from flink_psl_spark.llm import cross_corpus_dedup

    t = tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text", "lang", "source")
    new = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    return cross_corpus_dedup(new, corpus).select("doc_id", "lang", "source")


@query(
    "llm_containment_pairs",
    # same df-capped candidate generation as the Spark side (pairs must
    # share a shingle with document frequency in [2, 8]); containment is
    # the smaller set's covered fraction, both orientations kept on size
    # ties — identical contract both engines
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([hash(array_to_string(words[i:i+3], ' '))
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 3, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    sized AS (SELECT doc_id, s, LEN(s) AS n FROM sh WHERE LEN(s) > 0),
    e AS (SELECT doc_id, UNNEST(s) AS h FROM sized),
    rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM e GROUP BY h)
             WHERE df BETWEEN 2 AND 8),
    co AS (SELECT e.doc_id, e.h FROM e JOIN rare USING (h)),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM co l JOIN co r ON l.h = r.h AND l.doc_id <> r.doc_id)
    SELECT c.a, c.b,
           ROUND(LEN(LIST_INTERSECT(la.s, lb.s)) * 1.0 / la.n, 6)
             AS containment
    FROM cand c
    JOIN sized la ON la.doc_id = c.a
    JOIN sized lb ON lb.doc_id = c.b
    WHERE la.n <= lb.n
      AND ROUND(LEN(LIST_INTERSECT(la.s, lb.s)) * 1.0 / la.n, 6) >= 0.5
    """,
)
def llm_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup pairs by shingle CONTAINMENT (|A∩B|/|A|,
    smaller set as denominator) — quote-inclusion / page-subset
    duplication that symmetric Jaccard misses. Candidates from shared
    df-capped rare shingles, verified exactly."""
    from flink_psl_spark.llm import shingle_containment_pairs

    t = tables(spark, sf_dir)
    return shingle_containment_pairs(
        t["documents"], shingle_n=4, threshold=0.5
    )


@query(
    "llm_mmr_rerank",
    # greedy MMR is inherently sequential (non-SQL-expressible); the
    # oracle-able restatement checks the selection's provable invariants
    # per query: exactly k picks, all drawn from the exact top-pool
    # candidate set, and the first pick IS the exact cosine top-1
    oracle="""
    SELECT vec_id AS query_id, TRUE AS mmr_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def llm_mmr_rerank(spark, sf_dir):
    """Maximal-Marginal-Relevance diverse top-5 (λ=0.7 over an exact
    top-50 pool): dedup-aware retrieval — trades 30% of raw relevance
    for coverage so near-identical neighbors don't crowd the result.
    Per-query greedy runs as one grouped-map call over a parameter-sized
    group; queries parallelize."""
    from flink_psl_spark.llm import cosine_topk, mmr_rerank

    t = tables(spark, sf_dir)
    emb = t["embeddings"]
    q = emb.where(F.col("vec_id") < 10)
    picked = mmr_rerank(emb, q, k=5, pool=50, lam=0.7)
    exact = cosine_topk(emb, q, k=50).select(
        "query_id", "neighbor_id",
        (F.col("rank") == 1).alias("__is_top1"),
    )
    checked = (
        picked.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.when(F.col("neighbor_id").isNull(), 1).otherwise(0))
             .alias("__outside"),
            F.max(
                F.when(F.col("mmr_rank") == 1, F.col("__is_top1"))
            ).alias("__first_is_top1"),
        )
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(checked, "query_id", "left")
        .select(
            "query_id",
            (
                (F.coalesce("__n", F.lit(0)) == 5)
                & (F.coalesce("__outside", F.lit(1)) == 0)
                & F.coalesce("__first_is_top1", F.lit(False))
            ).alias("mmr_ok"),
        )
    )


@query(
    "llm_tokenizer_fertility",
    # chars/piece and pieces/word from EXACT integer sums, divided once
    # and rounded at 6 digits — engine-identical
    oracle="""
    WITH d AS (
      SELECT lang,
             LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) AS n_chars_ws,
             LEN(REGEXP_EXTRACT_ALL(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')) AS n_pieces,
             CASE WHEN TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)) = '' THEN 0
                  ELSE LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+')) END
               AS n_words
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
           ROUND(SUM(n_chars_ws) * 1.0 / SUM(n_pieces), 6)
             AS chars_per_piece,
           ROUND(SUM(n_pieces) * 1.0 / SUM(n_words), 6)
             AS pieces_per_word
    FROM d GROUP BY lang
    """,
)
def llm_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility report per language: chars/piece and
    pieces/word under the BPE-ish word-piece split — the metric that
    decides whether a tokenizer under-serves a language (high fertility
    = more pieces per word = costlier context). Row-local expressions +
    one language-keyed aggregation; ratios divide exact integer sums."""
    from flink_psl_spark.llm.text import bpe_ish_token_count, token_count

    t = tables(spark, sf_dir)
    d = t["documents"].select(
        "lang",
        F.length(F.regexp_replace("text", r"[ \t\n\f\r]", "")).alias("n_chars_ws"),
        bpe_ish_token_count("text").alias("n_pieces"),
        token_count("text").alias("n_words"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_pieces").cast("bigint").alias("total_pieces"),
        F.round(
            F.sum("n_chars_ws") * F.lit(1.0) / F.sum("n_pieces"), 6
        ).alias("chars_per_piece"),
        F.round(
            F.sum("n_pieces") * F.lit(1.0) / F.sum("n_words"), 6
        ).alias("pieces_per_word"),
    )


# exact replica of the KMV estimator: per-corpus bottom-256 distinct
# 48-bit md5 shingle hashes, per-set estimate (k-1)/(h_k/16^12) (exact
# count when under k), union bottom-k of the merged sketches, Jaccard
# from match fraction inside the union sketch. Every step is a
# deterministic function of the element sets, so the two engines agree
# bit-for-bit (same doubles, same HALF_UP rounding). Shared with the
# streaming variant, whose final keyed state equals the batch sketch.
_CORPUS_OVERLAP_ORACLE = f"""
    WITH d AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
             {_TOKS} AS w
      FROM documents),
    el AS (
      SELECT g, ARRAY_TO_STRING(w[i:i+2], ' ') AS e
      FROM (SELECT g, w, UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS i
            FROM d WHERE LEN(w) >= 3)),
    h AS (
      SELECT DISTINCT g,
             CAST('0x' || SUBSTR(MD5(e), 1, 12) AS BIGINT) AS h
      FROM el),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
        FROM h) WHERE rk <= 256),
    pg AS (
      SELECT g, COUNT(*) AS n, MAX(h) AS theta FROM sk GROUP BY g),
    est AS (
      SELECT g, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                     ELSE CAST(71776119061217280 AS DOUBLE) / CAST(theta AS DOUBLE)
                END AS est
      FROM pg),
    u AS (
      SELECT h, MAX(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS in_b
      FROM sk GROUP BY h),
    uk AS (
      SELECT h, in_a, in_b FROM (
        SELECT h, in_a, in_b, ROW_NUMBER() OVER (ORDER BY h) AS urk
        FROM u) WHERE urk <= 256),
    ur AS (
      SELECT COUNT(*) AS n_u, MAX(h) AS theta_u,
             SUM(in_a * in_b) AS matches
      FROM uk)
    SELECT 256 AS k,
           ROUND((SELECT est FROM est WHERE g = 'even'), 4)
             AS est_distinct_a,
           ROUND((SELECT est FROM est WHERE g = 'odd'), 4)
             AS est_distinct_b,
           ROUND(CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                      ELSE CAST(71776119061217280 AS DOUBLE)
                           / CAST(theta_u AS DOUBLE)
                 END, 4) AS est_distinct_union,
           ROUND(CAST(matches AS DOUBLE) / n_u, 6) AS jaccard_est,
           ROUND((CAST(matches AS DOUBLE) / n_u)
                 * CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                        ELSE CAST(71776119061217280 AS DOUBLE)
                             / CAST(theta_u AS DOUBLE)
                   END, 4) AS est_intersection
    FROM ur
"""


@query("llm_corpus_overlap_sketch", oracle=_CORPUS_OVERLAP_ORACLE)
def llm_corpus_overlap_sketch(spark, sf_dir):
    """Corpus-overlap estimation from KMV bottom-k sketches — "how much
    of corpus B is already in corpus A?" answered with k numbers per
    corpus instead of an exact distinct join over every shingle. The
    exchange carries at most partitions x corpora x k rows (partition-
    local partial bottom-k in an Arrow kernel), so the same plan holds
    when the shingle space is 10^12. Estimates are deterministic, hence
    oracle-reproducible."""
    from flink_psl_spark.llm import kmv_overlap
    from flink_psl_spark.llm.dedup import shingle_strings
    from flink_psl_spark.llm.text import tokenize
    from flink_psl_spark.parallelism import ensure_parallelism

    t = tables(spark, sf_dir)
    # fan the scan out FIRST: tokenize + shingle explode + the md5 sketch
    # hash + the partial-bottom-k kernel all run in the scan stage (the
    # kernel deliberately has no exchange below it), so a single-split
    # documents scan serializes the whole sketch build on one core (r13
    # scan-floor class); then project tokens — see shingle_strings (7x
    # on this scan)
    el = ensure_parallelism(t["documents"], "doc_id").select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("corpus"),
        tokenize(F.col("text")).alias("__tk"),
    ).select(
        "corpus", F.explode(shingle_strings("__tk", 3)).alias("e")
    )
    out = kmv_overlap(el, "e", "corpus", "even", "odd", k=256)
    return out.select(
        "k",
        F.round("est_distinct_a", 4).alias("est_distinct_a"),
        F.round("est_distinct_b", 4).alias("est_distinct_b"),
        F.round("est_distinct_union", 4).alias("est_distinct_union"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round("est_intersection", 4).alias("est_intersection"),
    )


# the oracle REPLAYS TRAINING: three unrolled full-batch GD updates in
# fixed-point integer micro-units over the same portable hashed features,
# with the algebraic fast sigmoid (only +,*,/,abs — every op IEEE-exactly-
# rounded, so the engines agree bit-for-bit; libm EXP would not). Shared
# by the batch report and the streaming scoring query (scoring is
# row-local, so the stream equals the batch per doc).
_LOGREG_TRAIN_CTES = f"""
    WITH docs AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE)
               AS y,
             {_TOKS} AS w
      FROM documents),
    nn AS (SELECT COUNT(*) AS n FROM docs),
    fi AS (
      SELECT DISTINCT doc_id, y,
             CAST('0x' || SUBSTR(MD5(t.tok), 1, 12) AS BIGINT) % 64 AS i
      FROM docs, UNNEST(docs.w) AS t(tok)
      UNION
      SELECT doc_id, y, CAST(64 AS BIGINT) AS i FROM docs),
    g1 AS (SELECT i, SUM(CAST(ROUND((0.5 - y) * 1000000) AS BIGINT)) AS g
           FROM fi GROUP BY i),
    w1 AS (SELECT i, -CAST(ROUND(4.0 * g / nn.n) AS BIGINT) AS wt
           FROM g1 CROSS JOIN nn),
    z2 AS (SELECT f.doc_id, f.y, SUM(w1.wt) AS z
           FROM fi f JOIN w1 ON f.i = w1.i GROUP BY 1, 2),
    q2 AS (SELECT doc_id,
                  CAST(ROUND((0.5 + ((z / 1000000.0) / 2.0)
                              / (1.0 + ABS(z / 1000000.0)) - y)
                             * 1000000) AS BIGINT) AS q
           FROM z2),
    g2 AS (SELECT f.i, SUM(q2.q) AS g
           FROM fi f JOIN q2 USING (doc_id) GROUP BY f.i),
    w2 AS (SELECT w1.i, w1.wt - CAST(ROUND(4.0 * g2.g / nn.n) AS BIGINT)
                    AS wt
           FROM w1 JOIN g2 ON w1.i = g2.i CROSS JOIN nn),
    z3 AS (SELECT f.doc_id, f.y, SUM(w2.wt) AS z
           FROM fi f JOIN w2 ON f.i = w2.i GROUP BY 1, 2),
    q3 AS (SELECT doc_id,
                  CAST(ROUND((0.5 + ((z / 1000000.0) / 2.0)
                              / (1.0 + ABS(z / 1000000.0)) - y)
                             * 1000000) AS BIGINT) AS q
           FROM z3),
    g3 AS (SELECT f.i, SUM(q3.q) AS g
           FROM fi f JOIN q3 USING (doc_id) GROUP BY f.i),
    w3 AS (SELECT w2.i, w2.wt - CAST(ROUND(4.0 * g3.g / nn.n) AS BIGINT)
                    AS wt
           FROM w2 JOIN g3 ON w2.i = g3.i CROSS JOIN nn),
    zf AS (SELECT f.doc_id, SUM(w3.wt) AS z
           FROM fi f JOIN w3 ON f.i = w3.i GROUP BY 1),
    sc AS (SELECT d.doc_id, d.lang, zf.z,
                  CAST(ROUND((0.5 + ((zf.z / 1000000.0) / 2.0)
                              / (1.0 + ABS(zf.z / 1000000.0)))
                             * 1000000) AS BIGINT) AS qp
           FROM zf JOIN docs d USING (doc_id))
"""


@query(
    "llm_trained_quality_classifier",
    oracle=_LOGREG_TRAIN_CTES
    + """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(qp) * 1.0 / (COUNT(*) * 1000000.0), 6) AS mean_prob,
           CAST(SUM(CASE WHEN z >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_en
    FROM sc GROUP BY lang
    """,
)
def llm_trained_quality_classifier(spark, sf_dir):
    """Model-based corpus filtering with a model TRAINED IN-ENGINE
    (CCNet/DCLM-style): 3 full-batch GD iterations of logistic regression
    on hashed bag-of-words (dim 64 + bias), predicting lang='en'. The
    fixed-point trace (integer weights/gradients, algebraic fast sigmoid)
    makes distributed training byte-reproducible — the oracle unrolls the
    identical three updates in SQL. Per iteration: one persisted-corpus
    scan, a dim+1-row integer gradient exchange, a dim+1-row driver
    collect."""
    from flink_psl_spark.llm.classifier import (
        MICRO,
        _margin,
        _prob,
        hashed_feature_indices,
        train_logreg_hashed,
    )

    t = tables(spark, sf_dir)
    docs = t["documents"].withColumn(
        "__y", (F.col("lang") == "en").cast("double")
    )
    # featurize ONCE (tokenize + md5 is the expensive pass) and share the
    # materialized feature table between training and scoring — the old
    # shape re-featurized the whole corpus for the scoring pass (2 full
    # featurizations -> 1). lang rides along so scoring needs no join.
    # Fan the scan out first: featurization is compute-dense and the
    # single-file documents scan is one input split, AND the checkpoint
    # preserves that layout — so all three gradient iterations + scoring
    # would otherwise aggregate from one partition (r13 scan-floor class).
    from flink_psl_spark.parallelism import ensure_parallelism

    feats = ensure_parallelism(
        docs.select("text", "__y", "lang")  # fan RAW rows out, featurize after
    ).select(
        hashed_feature_indices("text", dim=64).alias("__idx"),
        F.col("__y"),
        F.col("lang"),
    ).transform(materialize)
    w = train_logreg_hashed(
        docs, "text", "__y", dim=64, iters=3, lr=4.0, feats=feats
    )
    z = _margin(F.col("__idx"), w)
    scored = feats.select("lang", z.alias("__z")).withColumn(
        "__qp",
        F.round(_prob(F.col("__z")) * F.lit(float(MICRO)), 0).cast(
            "bigint"
        ),
    )
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum("__qp") * F.lit(1.0)
            / (F.count("*") * F.lit(float(MICRO))),
            6,
        ).alias("mean_prob"),
        F.sum((F.col("__z") >= 0).cast("int")).cast("bigint").alias(
            "n_pred_en"
        ),
    )


@query(
    "llm_unigram_train_agreement",
    # unigram-LM EM training is iterative (Viterbi E-step + prune per
    # round) — not SQL-expressible, so (the BPE-agreement pattern) the
    # Spark side runs BOTH the distributed trainer and the single-process
    # reference over the same V-capped word table and emits per-rank
    # agreement of (piece, logprob) — logprobs compared EXACTLY (identical
    # integer counts through identical float ops); the oracle is the
    # fixed expected truth.
    oracle="""
    SELECT CAST(UNNEST(GENERATE_SERIES(0, 15)) AS INTEGER) AS rank,
           TRUE AS agree
    """,
)
def llm_unigram_train_agreement(spark, sf_dir):
    """Distributed SentencePiece-style unigram-LM training (hard-EM:
    Arrow-batched Viterbi E-step over the vocabulary-sized word-type
    table, inventory-bounded M-step on the driver), proven per run
    against the single-process reference transcription."""
    from flink_psl_spark.llm import reference_unigram_train, unigram_train
    from flink_psl_spark.llm.bpe import word_counts

    t = tables(spark, sf_dir)
    docs = t["documents"]
    V = 20  # capped word-type table — driver collect bounded by V
    got = unigram_train(
        docs, vocab_size=24, iters=3, max_piece_len=4, seed_size=60,
        vocab_limit=V,
    )
    wc = {
        r["word"]: r["cnt"]
        for r in word_counts(docs)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(V)
        .collect()
    }
    want = reference_unigram_train(
        wc, vocab_size=24, iters=3, max_piece_len=4, seed_size=60
    )
    rows = [
        (i, i < len(got) and i < len(want) and got[i] == want[i])
        for i in range(16)
    ]
    return spark.createDataFrame(rows, "rank int, agree boolean")


@query(
    "llm_unigram_encode_stats",
    # encoding invariants (the bpe_encode_roundtrip pattern): Viterbi
    # pieces only partition the word, so the piece concatenation must
    # reconstruct the character stream and can never out-count the chars
    oracle="""
    SELECT doc_id, TRUE AS content_ok, TRUE AS compressed
    FROM documents WHERE doc_id < 200
    """,
)
def llm_unigram_encode_stats(spark, sf_dir):
    """Unigram-LM Viterbi encoding with the corpus-learned inventory:
    row-local Arrow map; emitted booleans prove content preservation
    (piece concat == stripped chars) and compression (n_pieces <=
    n_chars) per document."""
    from flink_psl_spark.llm import unigram_encode, unigram_train

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    vocab = unigram_train(
        t["documents"], vocab_size=24, iters=2, vocab_limit=20
    )
    enc = unigram_encode(docs, vocab)
    joined = enc.join(docs, "doc_id").select(
        "doc_id",
        (
            F.concat_ws("", "pieces")
            == F.concat_ws("", F.split(pinned_trim("text"), r"[ \t\n\f\r]+"))
        ).alias("content_ok"),
        (
            F.col("n_pieces")
            <= F.length(F.regexp_replace("text", r"[ \t\n\f\r]", ""))
        ).alias("compressed"),
    )
    return joined


@query(
    "llm_wordpiece_train_agreement",
    # WordPiece training is iterative (per-round likelihood-scored argmax
    # + merge rewrite) — not SQL-expressible, so (the BPE/unigram
    # agreement pattern) the Spark side runs BOTH the distributed trainer
    # and the single-process reference over the same V-capped word table
    # and emits per-rank agreement of the merged pieces; the quantized-
    # rational score makes the comparison exact integer math. The oracle
    # is the fixed expected truth.
    oracle="""
    SELECT CAST(UNNEST(GENERATE_SERIES(0, 11)) AS INTEGER) AS rank,
           TRUE AS agree
    """,
)
def llm_wordpiece_train_agreement(spark, sf_dir):
    """Distributed WordPiece training (per-round pair/symbol hash aggs on
    the vocabulary-sized word table, likelihood score count(ab)/(count(a)
    *count(b)) compared as a quantized rational), proven per run against
    the single-process reference transcription."""
    from flink_psl_spark.llm import reference_wordpiece_train, wordpiece_train
    from flink_psl_spark.llm.bpe import word_counts

    t = tables(spark, sf_dir)
    docs = t["documents"]
    V = 20  # capped word-type table — driver collect bounded by V
    got = wordpiece_train(docs, n_merges=12, vocab_limit=V)
    wc = {
        r["word"]: r["cnt"]
        for r in word_counts(docs)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(V)
        .collect()
    }
    want = reference_wordpiece_train(wc, 12)
    rows = [
        (i, i < len(got) and i < len(want) and got[i] == want[i])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "rank int, agree boolean")


@query(
    "llm_wordpiece_encode_stats",
    # encoding invariants (the unigram/bpe roundtrip pattern): greedy
    # longest-match pieces partition each word, so stripping the ##
    # continuation prefix and concatenating must reconstruct the char
    # stream; with the corpus alphabet in the vocab nothing falls to
    # [UNK]; piece count can never exceed the char count
    oracle="""
    SELECT doc_id, TRUE AS content_ok, TRUE AS no_unk, TRUE AS compressed
    FROM documents WHERE doc_id < 200
    """,
)
def llm_wordpiece_encode_stats(spark, sf_dir):
    """WordPiece greedy longest-match encoding with the corpus-learned
    merges over the full corpus alphabet: row-local Arrow map; emitted
    booleans prove content preservation (##-stripped piece concat ==
    stripped chars), zero [UNK] fallbacks, and compression (n_pieces <=
    n_chars) per document."""
    from flink_psl_spark.llm import (
        wordpiece_alphabet,
        wordpiece_encode,
        wordpiece_train,
    )

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    merges = wordpiece_train(t["documents"], n_merges=8, vocab_limit=20)
    vocab = wordpiece_alphabet(t["documents"]) + merges
    enc = wordpiece_encode(docs, vocab)
    return enc.join(docs, "doc_id").select(
        "doc_id",
        (
            F.expr(
                "concat_ws('', transform(pieces, "
                "p -> CASE WHEN substring(p, 1, 2) = '##' "
                "THEN substring(p, 3) ELSE p END))"
            )
            == F.concat_ws("", F.split(pinned_trim("text"), r"[ \t\n\f\r]+"))
        ).alias("content_ok"),
        (F.col("n_unk") == F.lit(0)).alias("no_unk"),
        (
            F.col("n_pieces")
            <= F.length(F.regexp_replace("text", r"[ \t\n\f\r]", ""))
        ).alias("compressed"),
    )


@query(
    "llm_leakage_safe_split",
    # full replica: transitive closure of the exact Jaccard>=0.2 pair
    # graph (the llm_dedup_clusters recursive CTE), cluster representative
    # = component min (docs in no pair represent themselves), then the
    # hash_split bucket intervals over md5(rep|44):
    # int(0.8*16^6)=13421772, int(0.9*16^6)=15099494
    oracle="""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT([array_to_string(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents WHERE doc_id < 200)),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b
      FROM sh l JOIN sh r ON l.doc_id < r.doc_id
      WHERE LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
            LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))) >= 0.2),
    und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT s, s FROM und
      UNION
      SELECT u.d, w.label FROM walk w JOIN und u ON u.s = w.node),
    cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id
           FROM walk GROUP BY node),
    r AS (
      SELECT d.doc_id,
             CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR) AS rep
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      LEFT JOIN cl USING (doc_id)),
    b AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(rep || '|44'), 1, 6) AS BIGINT) AS bk
      FROM r)
    SELECT doc_id,
           CASE WHEN bk < 13421772 THEN 'train'
                WHEN bk < 15099494 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def llm_leakage_safe_split(spark, sf_dir):
    """Eval-hygiene splitting: near-duplicate clusters (connected
    components of the exact-Jaccard pair graph) are assigned to
    train/val/test as UNITS — every member hashes on its cluster
    representative, so no near-duplicate of a training document lands in
    validation or test. Plain id-hash splits scatter duplicate clusters
    across splits and silently inflate eval scores."""
    from flink_psl_spark.llm import ngram_jaccard_pairs
    from flink_psl_spark.llm.sampling import leakage_safe_split

    t = tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    out = leakage_safe_split(
        docs.select("doc_id"),
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=44,
    )
    return out.select("doc_id", "split")


@query(
    "llm_source_similarity_matrix",
    # pairwise KMV replay: one bottom-256 sketch per source, every
    # unordered source pair's union bottom-k and match fraction
    oracle=f"""
    WITH d AS (SELECT source AS g, {_TOKS} AS w FROM documents),
    el AS (
      SELECT g, ARRAY_TO_STRING(w[i:i+2], ' ') AS e
      FROM (SELECT g, w, UNNEST(GENERATE_SERIES(1, LEN(w) - 2)) AS i
            FROM d WHERE LEN(w) >= 3)),
    h AS (
      SELECT DISTINCT g,
             CAST('0x' || SUBSTR(MD5(e), 1, 12) AS BIGINT) AS h
      FROM el),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
        FROM h) WHERE rk <= 256),
    gs AS (SELECT DISTINCT g FROM sk),
    pairs AS (
      SELECT l.g AS ga, r.g AS gb FROM gs l JOIN gs r ON l.g < r.g),
    tag AS (
      SELECT p.ga, p.gb, s.g, s.h
      FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
    pp AS (
      SELECT ga, gb, h,
             MAX(CASE WHEN g = ga THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN g = gb THEN 1 ELSE 0 END) AS in_b
      FROM tag GROUP BY ga, gb, h),
    uk AS (
      SELECT ga, gb, h, in_a, in_b FROM (
        SELECT ga, gb, h, in_a, in_b,
               ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS urk
        FROM pp) WHERE urk <= 256),
    ur AS (
      SELECT ga, gb, COUNT(*) AS n_u, MAX(h) AS theta_u,
             SUM(in_a * in_b) AS matches
      FROM uk GROUP BY ga, gb)
    SELECT ga AS group_a, gb AS group_b,
           ROUND(CAST(matches AS DOUBLE) / n_u, 6) AS jaccard_est,
           ROUND((CAST(matches AS DOUBLE) / n_u)
                 * CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                        ELSE CAST(71776119061217280 AS DOUBLE)
                             / CAST(theta_u AS DOUBLE)
                   END, 4) AS est_intersection
    FROM ur
    """,
)
def llm_source_similarity_matrix(spark, sf_dir):
    """Corpus similarity matrix: pairwise shingle-set Jaccard estimates
    across ALL document sources from ONE sketch build — the "which
    sources feed me near-identical content" report at k-numbers-per-
    source cost. Everything after the single corpus scan operates on
    parameter-sized sketch frames (sources^2 x k rows)."""
    from flink_psl_spark.llm.dedup import shingle_strings
    from flink_psl_spark.llm.sketches import overlap_matrix
    from flink_psl_spark.llm.text import tokenize

    t = tables(spark, sf_dir)
    el = t["documents"].select(
        "source", tokenize(F.col("text")).alias("__tk")
    ).select("source", F.explode(shingle_strings("__tk", 3)).alias("e"))
    out = overlap_matrix(el, "e", "source", k=256)
    return out.select(
        "group_a",
        "group_b",
        F.round("jaccard_est", 6).alias("jaccard_est"),
        F.round("est_intersection", 4).alias("est_intersection"),
    )


@query(
    "llm_kmeans_train_agreement",
    # iterative Lloyd's training is not SQL-expressible — the
    # BPE/unigram agreement pattern: the distributed trainer and the
    # single-process reference run over the same bounded slice
    # (vec_id < 500 at any scale) and must produce bit-identical
    # integer centroid matrices; the oracle is the fixed truth.
    oracle="""
    SELECT CAST(UNNEST(GENERATE_SERIES(0, 7)) AS INTEGER) AS cid,
           TRUE AS agree
    """,
)
def llm_kmeans_train_agreement(spark, sf_dir):
    """Distributed Lloyd's K-means (k=8, 4 iterations) with the
    fixed-point determinism contract: quantized integer M-step sums
    (order/partition independent), vectorized float64 argmin E-step
    against broadcast centroids, md5-sampled init — proven per run
    bit-identical to the single-process reference. The clustering
    trainer behind SemDeDup routing, diversity sampling, and IVF
    coarse quantizers."""
    from flink_psl_spark.llm.clustering import kmeans_fit, reference_kmeans

    t = tables(spark, sf_dir)
    vecs = t["embeddings"].where(F.col("vec_id") < 500)
    got = kmeans_fit(vecs, 8, iters=4)
    rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in vecs.select("vec_id", "embedding").collect()
    ]  # bounded by the fixed vec_id < 500 slice at any SF
    want = reference_kmeans(rows, 8, iters=4)
    out = [(c, got[c] == want[c]) for c in range(8)]
    return spark.createDataFrame(out, "cid int, agree boolean")


@query(
    "llm_sft_pipeline",
    # the composed SFT-prep truth: sessionization (the loss-mask CTE),
    # trainable sessions (>= 2 turns, so an assistant span exists),
    # per-user session counts + exact rendered mass; packing adds only
    # the capacity invariant (every session packed once is already
    # proven by the exact totals)
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS session_n
      FROM s),
    sess AS (
      SELECT user_id, session_n,
             COUNT(*) AS n_turns,
             SUM(3 + LEN(event_type)) AS render_len
      FROM g GROUP BY user_id, session_n)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(render_len) AS BIGINT) AS total_render,
           TRUE AS bins_ok
    FROM sess WHERE n_turns >= 2
    GROUP BY user_id
    """,
)
def llm_sft_pipeline(spark, sf_dir):
    """The composed SFT data-prep pipeline: sessionize the chat log, lay
    out loss-mask spans (llm_sft_loss_mask), then bin-pack the trainable
    sessions whole into 512-char training sequences (no session straddles
    a boundary — the BFD packer on the rendered length). Per-user session
    counts and rendered mass are proven exactly; bins respect capacity
    except flagged singleton overflows."""
    from flink_psl_spark.llm import sft_loss_mask
    from flink_psl_spark.llm.chunking import pack_sequences_bfd

    t = tables(spark, sf_dir)
    sessions = (
        sft_loss_mask(t["events"], gap_minutes=30)
        .select("user_id", "session_n", "render_len")
        .distinct()
    )
    packed = pack_sequences_bfd(
        sessions.select(
            F.lit("all").alias("source"),
            (F.col("user_id").cast("bigint") * 1_000_000
             + F.col("session_n")).alias("doc_id"),
            "render_len",
        ),
        max_len=512,
        length_col="render_len",
        n_sub_shards=8,
    )
    bins_ok = (
        packed.groupBy("sub_shard", "bin_id")
        .agg(
            F.sum("n_tokens").alias("fill"),
            F.max(F.col("overflow").cast("int")).alias("ov"),
        )
        .agg(
            F.min(
                ((F.col("fill") <= 512) | (F.col("ov") == 1)).cast("int")
            ).alias("__ok")
        )
    )
    return (
        packed.select(
            F.floor(F.col("doc_id") / 1_000_000).cast("int").alias("user_id"),
            "n_tokens",
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_tokens").alias("total_render"),
        )
        .crossJoin(F.broadcast(bins_ok))
        .select(
            "user_id", "n_sessions", "total_render",
            (F.col("__ok") == 1).alias("bins_ok"),
        )
    )


@query(
    "llm_naive_bayes_langid",
    # the whole train+score path is exact relational algebra: priors and
    # add-1 token likelihoods replayed count-for-count, per-token logs
    # quantized to 1e-6 integers before the sum, argmax ties to the
    # lexicographically smallest label
    oracle=f"""
    WITH d AS (SELECT doc_id, lang AS actual, {_TOKS} AS w FROM documents),
    tk AS (SELECT doc_id, actual, UNNEST(w) AS w FROM d),
    langs AS (SELECT lang AS l, COUNT(*) AS nd FROM documents GROUP BY lang),
    dd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d_total FROM documents),
    cw AS (SELECT actual AS l, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
    cl AS (SELECT actual AS l, COUNT(*) AS ct FROM tk GROUP BY 1),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM tk),
    sc AS (
      SELECT tk.doc_id, langs.l,
             CAST(ROUND(LN((COALESCE(cw.c, 0) + 1.0)
                           / (cl.ct + 1.0 * vv.v)) * 1000000)
                  AS BIGINT) AS q
      FROM tk CROSS JOIN langs
      LEFT JOIN cw ON cw.l = langs.l AND cw.w = tk.w
      JOIN cl ON cl.l = langs.l CROSS JOIN vv),
    tot AS (
      SELECT sc.doc_id, sc.l,
             SUM(q) + CAST(ROUND(LN(langs.nd * 1.0 / dd.d_total)
                                 * 1000000) AS BIGINT) AS score
      FROM sc JOIN langs ON langs.l = sc.l CROSS JOIN dd
      GROUP BY sc.doc_id, sc.l, langs.nd, dd.d_total),
    rk AS (
      SELECT doc_id, l,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, l ASC) AS rn
      FROM tot)
    SELECT r.doc_id, r.l AS pred, dx.lang AS actual,
           (r.l = dx.lang) AS correct
    FROM rk r JOIN documents dx USING (doc_id) WHERE rn = 1
    """,
)
def llm_naive_bayes_langid(spark, sf_dir):
    """Multinomial Naive Bayes language ID trained and scored in-engine —
    the counting classifier whose whole train+score path is exact
    relational algebra (hash-agg priors/likelihoods, one token->model
    join, rank-1 argmax), quantized-integer scores."""
    from flink_psl_spark.llm import naive_bayes_langid

    t = tables(spark, sf_dir)
    return naive_bayes_langid(t["documents"])


@query(
    "llm_hybrid_rrf_topk",
    # both lists replayed exactly (the cosine oracle + the 3-shingle
    # Jaccard with an integer-quantized rank key), then quantized-integer
    # reciprocal-rank fusion round(1e9/(60+rank)) — engine-exact end to
    # end; ties to the lower neighbor id
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
          FROM embeddings),
    cscored AS (
      SELECT q.query_id, c.neighbor_id,
             LIST_COSINE_SIMILARITY(q.v, c.v) AS sim
      FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    crank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rc
      FROM cscored),
    ctop AS (SELECT * FROM crank WHERE rc <= 20),
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT([array_to_string(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+') AS words
            FROM documents)),
    jp AS (
      SELECT qs.doc_id AS query_id, cs.doc_id AS neighbor_id,
             (LEN(LIST_INTERSECT(cs.s, qs.s)) * 1000000)
               // LEN(LIST_DISTINCT(LIST_CONCAT(cs.s, qs.s))) AS jq
      FROM sh cs JOIN sh qs
        ON qs.doc_id < 10 AND cs.doc_id <> qs.doc_id
      WHERE LEN(LIST_INTERSECT(cs.s, qs.s)) > 0),
    jrank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY jq DESC, neighbor_id) AS rj
      FROM jp WHERE jq > 0),
    jtop AS (SELECT * FROM jrank WHERE rj <= 20),
    fused AS (
      SELECT COALESCE(ct.query_id, jt.query_id) AS query_id,
             COALESCE(ct.neighbor_id, jt.neighbor_id) AS neighbor_id,
             COALESCE(CAST(ROUND(1e9 / (60e0 + rc)) AS BIGINT), 0)
               + COALESCE(CAST(ROUND(1e9 / (60e0 + rj)) AS BIGINT), 0)
               AS rrf_q
      FROM ctop ct FULL JOIN jtop jt
        ON ct.query_id = jt.query_id AND ct.neighbor_id = jt.neighbor_id),
    final AS (
      SELECT query_id, neighbor_id, rrf_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_q DESC, neighbor_id) AS rank
      FROM fused)
    SELECT query_id, neighbor_id, rrf_q, CAST(rank AS INT) AS rank
    FROM final WHERE rank <= 5
    """,
)
def llm_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid more-like-this retrieval: reciprocal-rank fusion of the
    exact embedding-cosine ranking and the exact 3-gram Jaccard ranking
    for 10 query entities — quantized-integer fusion scores, top-5 per
    query. The two-signal recipe when neither semantic nor lexical alone
    is trusted."""
    from flink_psl_spark.llm import hybrid_rrf_topk

    t = tables(spark, sf_dir)
    return hybrid_rrf_topk(t["documents"], t["embeddings"], n_queries=10)


@query(
    "llm_dataset_card",
    # ONE corpus scan computes every card metric; each is exact integer
    # arithmetic (token counts, md5 fingerprints, quarter-point quality
    # scores scaled x4, quantized ratios), unpivoted to (metric, value)
    oracle=f"""
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN({_TOKS})) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT MD5(LOWER(TRIM(
               REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]+', ' ', 'g'),
               ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))))) AS BIGINT)
               AS n_distinct,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(
               CASE WHEN LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+'))
                         BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
             + CASE WHEN LEN(REGEXP_REPLACE(text, '[ \\t\\n\\f\\r]', '', 'g')) * 1.0
                         / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+'))
                         BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END
             + CASE WHEN LEN(LIST_FILTER(
                       STRING_SPLIT_REGEX(LOWER(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13))), '[ \\t\\n\\f\\r]+'),
                       x -> LIST_CONTAINS(['the','a','an','and','or','of',
                           'to','in','is','are','was','were','be','been',
                           'it','this','that','for','on','with','as','at',
                           'by','from','not','no'], x))) * 1.0
                         / LEN(STRING_SPLIT_REGEX(TRIM(text, ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13)), '[ \\t\\n\\f\\r]+'))
                         >= 0.05 THEN 1 ELSE 0 END
             + CASE WHEN LEN(REGEXP_REPLACE(text,
                         '[^.,;:!?''"()\\[\\]-]', '', 'g')) * 1.0
                         / LEN(text) <= 0.3 THEN 1 ELSE 0 END
             ) AS BIGINT) AS quality_quarters
      FROM documents)
    SELECT 'n_docs' AS metric, n_docs AS value FROM agg
    UNION ALL SELECT 'total_tokens', total_tokens FROM agg
    UNION ALL SELECT 'n_langs', n_langs FROM agg
    UNION ALL SELECT 'dup_rate_q',
      CAST(FLOOR((n_docs - n_distinct) * 1000000.0 / n_docs) AS BIGINT)
      FROM agg
    UNION ALL SELECT 'pct_english_q',
      CAST(FLOOR(n_en * 1000000.0 / n_docs) AS BIGINT) FROM agg
    UNION ALL SELECT 'mean_quality_q',
      CAST(FLOOR(quality_quarters * 1000000.0 / (4 * n_docs)) AS BIGINT)
      FROM agg
    """,
)
def llm_dataset_card(spark, sf_dir):
    """Dataset card — the one-table summary a corpus release ships:
    document/token counts, exact-duplicate rate, language spread, share
    of English, mean Gopher-band quality — ONE corpus scan, every metric
    exact integer arithmetic, unpivoted to (metric, value)."""
    from flink_psl_spark.llm.text import quality_score, token_count

    t = tables(spark, sf_dir)
    fp = F.md5(
        F.lower(pinned_trim(F.regexp_replace("text", r"[ \t\n\f\r]+", " ")))
    )
    agg = t["documents"].agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
        F.countDistinct(fp).cast("bigint").alias("n_distinct"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum((F.col("lang") == "en").cast("int"))
        .cast("bigint")
        .alias("n_en"),
        F.sum((quality_score("text") * 4).cast("bigint"))
        .cast("bigint")
        .alias("quality_quarters"),
    )
    rows = [
        ("n_docs", F.col("n_docs")),
        ("total_tokens", F.col("total_tokens")),
        ("n_langs", F.col("n_langs")),
        (
            "dup_rate_q",
            F.floor(
                (F.col("n_docs") - F.col("n_distinct"))
                * 1000000.0
                / F.col("n_docs")
            ).cast("bigint"),
        ),
        (
            "pct_english_q",
            F.floor(F.col("n_en") * 1000000.0 / F.col("n_docs"))
            .cast("bigint"),
        ),
        (
            "mean_quality_q",
            F.floor(
                F.col("quality_quarters")
                * 1000000.0
                / (4 * F.col("n_docs"))
            ).cast("bigint"),
        ),
    ]
    card = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(name).alias("metric"), v.alias("value"))
                    for name, v in rows
                ]
            )
        ).alias("kv")
    )
    return card.select("kv.metric", "kv.value")


@query(
    "llm_span_corruption",
    # the mask choice is a pure hash of (doc_id, position), so both
    # engines derive the identical corruption; long strings compare by
    # md5 fingerprint to keep the result rows small
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    m AS (
      SELECT doc_id, w,
             [CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|' ||
                                      CAST(i AS VARCHAR)), 1, 6) AS BIGINT)
              % 5 = 0
              FOR i IN RANGE(1, LEN(w) + 1)] AS flags
      FROM d),
    r AS (
      SELECT doc_id,
             CAST(LEN(LIST_FILTER(flags, x -> x)) AS BIGINT) AS n_masked,
             MD5(ARRAY_TO_STRING(
               [CASE WHEN flags[i] THEN '<X>' ELSE w[i] END
                FOR i IN RANGE(1, LEN(w) + 1)], ' ')) AS corrupted_fp,
             MD5(COALESCE(ARRAY_TO_STRING(
               [w[i] FOR i IN RANGE(1, LEN(w) + 1) IF flags[i]], ' '), ''))
               AS target_fp
      FROM m)
    SELECT doc_id, n_masked, corrupted_fp, target_fp FROM r
    """,
)
def llm_span_corruption(spark, sf_dir):
    """Denoising-objective data prep (T5-style span corruption): every
    token position hashes deterministically to masked-or-kept (~20%),
    the corrupted input replaces masked tokens with a sentinel, and the
    target collects the removed tokens — all expression-only; the mask
    is a pure (doc, position) hash, so shards, retries, and engines
    derive the identical corruption."""
    from flink_psl_spark.llm.text import bind_once, tokenize

    t = tables(spark, sf_dir)

    def mk(tk):
        flags = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1))),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.col("doc_id").cast("string"),
                                i.cast("string"),
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 5
                == 0
            ),
        )
        return F.struct(tk.alias("w"), flags.alias("flags"))

    m = t["documents"].select(
        "doc_id", bind_once(tokenize(F.col("text")), mk).alias("m")
    )
    w, flags = F.col("m.w"), F.col("m.flags")
    idx = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)))
    corrupted = F.transform(
        idx,
        lambda i: F.when(F.element_at(flags, i), F.lit("<X>")).otherwise(
            F.element_at(w, i)
        ),
    )
    target = F.filter(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(w, i).alias("t"),
                F.element_at(flags, i).alias("f"),
            ),
        ),
        lambda s: s["f"],
    )
    empty = F.size(w) == 0  # guard the greatest(...,1) phantom index
    return m.select(
        "doc_id",
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.filter(flags, lambda x: x)))
        .cast("bigint")
        .alias("n_masked"),
        F.md5(
            F.when(empty, F.lit("")).otherwise(F.concat_ws(" ", corrupted))
        ).alias("corrupted_fp"),
        F.md5(
            F.when(empty, F.lit("")).otherwise(
                F.concat_ws(" ", F.transform(target, lambda s: s["t"]))
            )
        ).alias("target_fp"),
    )


@query(
    "llm_fim_transform",
    # both cut points are pure (doc, salt) hashes, so prefix/middle/
    # suffix and the PSM rendering derive identically on both engines;
    # long strings compare by md5 fingerprint
    oracle="""
    WITH d AS (
      SELECT doc_id, text, LEN(text) AS n,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|1'),
                                 1, 6) AS BIGINT) AS h1,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|2'),
                                 1, 6) AS BIGINT) AS h2
      FROM documents),
    c AS (
      SELECT doc_id, text, n, h1 % (n + 1) AS a,
             h1 % (n + 1) + h2 % (n - h1 % (n + 1) + 1) AS b
      FROM d)
    SELECT doc_id,
           CAST(a AS BIGINT) AS n_prefix,
           CAST(b - a AS BIGINT) AS n_middle,
           CAST(n - b AS BIGINT) AS n_suffix,
           MD5('[PRE]' || SUBSTR(text, 1, a)
               || '[SUF]' || SUBSTR(text, b + 1, n - b)
               || '[MID]' || SUBSTR(text, a + 1, b - a)) AS psm_fp
    FROM c
    """,
)
def llm_fim_transform(spark, sf_dir):
    """Fill-in-the-middle data prep (the FIM transformation code models
    train on): two hash-derived cut points split each document into
    prefix/middle/suffix and the sample renders in PSM order
    ([PRE] prefix [SUF] suffix [MID] middle) — expression-only, the
    cuts a pure (doc, salt) hash, so shards and engines derive the
    identical sample."""
    t = tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|1"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint").alias("h1"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|2"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint").alias("h2"),
    )
    c = d.select(
        "doc_id", "text", "n", "h2",
        (F.col("h1") % (F.col("n") + 1)).alias("a"),
    ).withColumn(
        "b", F.col("a") + F.col("h2") % (F.col("n") - F.col("a") + 1)
    )
    return c.select(
        "doc_id",
        F.col("a").cast("bigint").alias("n_prefix"),
        (F.col("b") - F.col("a")).cast("bigint").alias("n_middle"),
        (F.col("n") - F.col("b")).cast("bigint").alias("n_suffix"),
        F.md5(
            F.concat(
                F.lit("[PRE]"),
                F.expr("substring(text, 1, a)"),
                F.lit("[SUF]"),
                F.expr("substring(text, b + 1, n - b)"),
                F.lit("[MID]"),
                F.expr("substring(text, a + 1, b - a)"),
            )
        ).alias("psm_fp"),
    )
