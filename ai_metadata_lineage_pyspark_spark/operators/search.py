"""Full-text search primitives over the documents corpus: inverted index
(token -> postings list) and integer-exact TF-IDF top terms per document.

These extend the reference's retrieval layer (SURVEY.md §2A A28/A36 —
embedding KNN over corpus docs, qa/embed_index.py:23-46) with the lexical
half every retrieval stack pairs with vectors: a postings index for keyword
lookup and a TF-IDF ranking for sparse relevance.

Tokenization is the corpus tokenizer (lower + whitespace split) from
functions/text.py, and the four term-weighting rankers (tfidf_top_terms,
lexical_search_topk, sparse_cosine_doc_pairs, bm25_search_topk) read one
(doc_id, token, tf) table built there (`term_counts`).

Scale notes: the index build is explode -> groupBy(token) — one shuffle
keyed by token with map-side partial aggregation; postings lists are
sort_array(collect_list(...)) which stays bounded because document
frequency per token is capped by corpus vocabulary skew (at 100 TB,
stop-token postings would be truncated or tiered — here df is full). TF-IDF
reuses the same exploded frame for term frequencies and document
frequencies; scoring is integer fixed-point (tf * SCALE // df), so ranking
ties are engine-independent.
"""

from __future__ import annotations

import heapq
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cache import (
    model_memo_get,
    model_memo_put,
    release_persisted,
    scoped_persist,
)
from ..functions.io import fan_out, load
from ..functions.text import TOKENS, term_counts
from ..registry import register

# minimum document frequency for a token to enter the index (drops hapax
# noise and keeps the fixture output readable); TF-IDF uses no floor.
_MIN_DF = 5
_TFIDF_SCALE = 1_000_000
_TOP_TERMS = 3


@register(
    "inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    )
    SELECT token,
      COUNT(*) AS df,
      list_sort(list(doc_id)) AS postings
    FROM tok
    WHERE token <> ''
    GROUP BY token
    HAVING COUNT(*) >= {_MIN_DF}
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: token -> sorted postings list of doc_ids containing
    it (distinct per doc), with document frequency, for tokens appearing in
    at least _MIN_DF documents.

    Plan: explode(split) -> distinct (map-side partial) -> groupBy(token)
    with collect_list; ONE token-keyed shuffle. sort_array makes the
    postings deterministic regardless of shuffle arrival order."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.expr(TOKENS)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .filter(F.col("df") >= _MIN_DF)
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token <> ''
      GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tf)
      GROUP BY token
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        CAST(tf.tf * {_TFIDF_SCALE} AS BIGINT) // df.df AS score_fp,
        ROW_NUMBER() OVER (
          PARTITION BY tf.doc_id
          ORDER BY (CAST(tf.tf * {_TFIDF_SCALE} AS BIGINT) // df.df) DESC,
                   tf.token
        ) AS rn
      FROM tf JOIN df ON tf.token = df.token
    )
    SELECT doc_id, token, tf, df, score_fp, rn
    FROM scored WHERE rn <= {_TOP_TERMS}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point TF-IDF: per (doc, token) term frequency joined
    with corpus document frequency; score = tf * SCALE // df (a monotone
    stand-in for tf/df rarity weighting that stays BIGINT-exact, so
    cross-engine ranking cannot diverge on float noise); top-3 terms per
    doc by (score desc, token) via row_number.

    Plan: one explode + (doc,token) groupBy for tf; df derives from tf
    (token-keyed re-aggregation of already-tiny per-doc rows — NOT a second
    corpus scan); df is vocabulary-sized and BROADCASTS back onto tf; the
    top-k window partitions by doc_id, which is the same key tf is already
    hashed on."""
    release_persisted()  # drop any prior invocation's cached intermediates
    tf = term_counts(fan_out(load(spark, sf_dir, "documents")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "token").withColumn(
        "score_fp",
        F.expr(f"CAST(tf * {_TFIDF_SCALE} AS BIGINT) div df"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_TERMS)
        .select("doc_id", "token", "tf", "df", "score_fp", "rn")
    )


# ---------------------------------------------------------------------------
# bigram_pmi_topk — collocation extraction, integer-exact PMI ranking.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "bigram_pmi_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    uni AS (
      SELECT token, COUNT(*) AS n_tok
      FROM (SELECT unnest(t) AS token FROM toks)
      GROUP BY token
    ),
    bi AS (
      SELECT bigram, w1, w2, COUNT(*) AS n_bi
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS bigram,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i])) AS w1,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i + 1])) AS w2
        FROM toks
      )
      GROUP BY bigram, w1, w2
    ),
    total AS (SELECT CAST(SUM(n_bi) AS BIGINT) AS t_bi FROM bi),
    scored AS (
      SELECT b.bigram, b.n_bi,
        CAST(CAST(b.n_bi AS HUGEINT) * t.t_bi * 1000000
             // (CAST(u1.n_tok AS HUGEINT) * u2.n_tok) AS BIGINT)
          AS pmi_ratio_ppm
      FROM bi b
      JOIN uni u1 ON b.w1 = u1.token
      JOIN uni u2 ON b.w2 = u2.token
      CROSS JOIN total t
      WHERE b.n_bi >= {_PMI_MIN_COUNT}
    )
    SELECT bigram, n_bi, pmi_ratio_ppm
    FROM scored
    ORDER BY pmi_ratio_ppm DESC, bigram
    LIMIT {_PMI_TOP}
    """,
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-{_PMI_TOP} adjacent-token bigrams by
    pointwise mutual information — the corpus-analysis pass behind
    tokenizer-vocabulary and phrase-mining decisions.

    PMI is ranked by its exact monotone surrogate
    `n_xy * T * 1e6 // (n_x * n_y)` (T = total bigrams): the log is
    monotone in that rational, and keeping it integer sidesteps cross-
    engine libm ULP drift in ln(). Plan: bigrams are ADJACENT pairs only
    (row-local array work, corpus-linear — never the quadratic all-pairs
    co-occurrence), unigram counts broadcast back into the bigram table,
    total via 1-row broadcast; one explode-shuffle each for the two count
    aggregates."""
    toks = fan_out(load(spark, sf_dir, "documents")).select(F.expr(TOKENS).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    # the unfiltered bigram table (vocabulary-sized) is persisted so the
    # corpus total derives from it instead of a third corpus scan+split
    # (Σ n_bi over ALL bigrams ≡ Σ (len(t)-1), the previous formulation) —
    # r14: one corpus pass removed, plus the min-count filter no longer
    # re-runs the explode+agg
    release_persisted()  # drop any prior invocation's cached intermediates
    bi_all = scoped_persist(
        # size guard: Spark's sequence(1, size-1) is DESCENDING for a
        # 1-token doc ([1, 0] — null-padded bogus pairs), where DuckDB's
        # generate_series is empty; the guard pins both engines to "docs
        # with at least one adjacent pair" so Σ n_bi is the exact corpus
        # bigram total
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(concat(t[i-1], ' ', t[i]) AS bigram,"
                    " t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.bigram", "p.w1", "p.w2")
        .groupBy("bigram", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bi"))
    )
    bi = bi_all.filter(F.col("n_bi") >= _PMI_MIN_COUNT)
    total = bi_all.agg(F.sum("n_bi").alias("t_bi"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("n_tok").alias("n1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n_tok").alias("n2"))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            # widened intermediates: n_bi * t_bi * 1e6 overflows BIGINT once
            # t_bi passes ~1e9 with any stop-bigram, so the product runs in
            # DECIMAL(38,0) (Spark) / HUGEINT (oracle) — exact up to 1e38,
            # i.e. t_bi ≤ ~1e15 tokens, far past the 100 TB corpus bound;
            # only the final ppm ratio narrows back to BIGINT
            "pmi_ratio_ppm",
            F.expr(
                "CAST((CAST(n_bi AS DECIMAL(38,0)) * CAST(t_bi AS DECIMAL(38,0))"
                " * 1000000) div (CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS"
                " DECIMAL(38,0))) AS BIGINT)"
            ),
        )
        .select("bigram", "n_bi", "pmi_ratio_ppm")
        .orderBy(F.col("pmi_ratio_ppm").desc(), "bigram")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# lm_bigram_doc_score — corpus-statistics language-model proxy: score every
# document by how "ordinary" its adjacent bigrams are in the corpus. The
# integer analogue of a perplexity filter (low commonality = unusual or
# garbled text), without any float log() to drift across engines.
# ---------------------------------------------------------------------------

_LM_UNUSUAL_THRESHOLD = 5  # avg corpus bigram count below this -> flagged

# adjacent-token bigrams of a `t` token column; callers keep size(t) >= 2
# (on a 1-token doc Spark's sequence(1, 0) is [1, 0], a bogus pair)
_ADJ_BIGRAMS = "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"

# Shared CTE block ending in `lm_scores` (doc_id, n_bigrams,
# avg_bigram_count, is_unusual) — reused by curation.py's lm_quality_buckets
# so the bucket oracle scores docs with EXACTLY this SQL.
_LM_SCORE_CTES = f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    doc_bi AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    counts AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_bi FROM doc_bi GROUP BY bigram
    ),
    scored AS (
      SELECT d.doc_id, c.n_bi FROM doc_bi d JOIN counts c ON d.bigram = c.bigram
    ),
    lm_scores AS (
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(n_bi) // COUNT(*) AS BIGINT) AS avg_bigram_count,
        (SUM(n_bi) // COUNT(*)) < {_LM_UNUSUAL_THRESHOLD} AS is_unusual
      FROM scored
      GROUP BY doc_id
    )
"""


@register(
    "lm_bigram_doc_score",
    oracle=_LM_SCORE_CTES
    + """
    SELECT doc_id, n_bigrams, avg_bigram_count, is_unusual FROM lm_scores
    """,
)
def lm_bigram_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring from the corpus's own n-gram
    statistics: each doc's score is the average corpus frequency of its
    adjacent bigrams — fluent in-distribution text scores high, garbled or
    out-of-domain text scores low. This is the hygiene-family filter a real
    curation stack runs where a true LM is too expensive: one pass builds
    the bigram table, one token-keyed join scores every doc.

    Integer throughout (counts, integer-div average) — no log()/float
    perplexity, so the score is engine-exact.

    Plan (reworked after the round-5 scaling probe flagged 7x warm time at
    10x data): the exploded bigram stream is collapsed ONCE to per-doc
    bigram counts (doc_id, bigram, k) and scoped-persisted — previously the
    full explode ran twice (once under the corpus groupBy, once as the
    score join's probe side) and the join shuffled the raw occurrence
    stream. Now the corpus table is a re-aggregation of the persisted
    per-doc counts (map-side combine over an already-reduced table), and
    the score join carries one row per (doc, distinct bigram) weighted by
    k instead of one row per occurrence: Σk·n_bi / Σk ≡ the per-occurrence
    average. At 100 TB both join sides partition by bigram and stop-bigram
    skew is AQE-handled (bounded by the same vocabulary skew the inverted
    index documents)."""
    release_persisted()  # drop any prior invocation's cached intermediates
    toks = fan_out(load(spark, sf_dir, "documents")).select("doc_id", F.expr(TOKENS).alias("t"))
    doc_bi = toks.filter(F.size("t") >= 2).select(
        "doc_id", F.explode(F.expr(_ADJ_BIGRAMS)).alias("bigram")
    )
    per_doc = scoped_persist(
        doc_bi.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("k"))
    )
    counts = per_doc.groupBy("bigram").agg(F.sum("k").alias("n_bi"))
    scored = per_doc.join(counts, "bigram")
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias("n_bigrams"),
        F.expr("SUM(k * n_bi) DIV SUM(k)").alias("avg_bigram_count"),
        F.expr(f"(SUM(k * n_bi) DIV SUM(k)) < {_LM_UNUSUAL_THRESHOLD}").alias("is_unusual"),
    )


# ---------------------------------------------------------------------------
# bpe_merge_candidates — the counting step of byte-pair-encoding tokenizer
# training: adjacent character-pair frequencies over the corpus, weighted
# by word frequency, computed on the VOCABULARY (distinct words) rather
# than the raw token stream.
# ---------------------------------------------------------------------------

_BPE_TOP = 25


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word
      FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents
      )
      WHERE word <> '' AND len(word) >= 2
      GROUP BY word
    ),
    char_pairs AS (
      SELECT substr(w.word, p.i, 2) AS pair, w.n_word
      FROM words w
      CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(w.word) - 1)) AS i) p
    )
    SELECT pair,
      CAST(SUM(n_word) AS BIGINT) AS n_occurrences,
      CAST(COUNT(*) AS BIGINT) AS n_distinct_words
    FROM char_pairs
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT {_BPE_TOP}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge-selection round of BPE tokenizer training: which
    adjacent character pair occurs most often across the corpus (weighted
    by word frequency) — exactly the statistic a tokenizer-fitting job
    computes over the pre-training corpus before each merge.

    Scale shape: the heavy aggregation (word counts) happens FIRST, so the
    quadratic-ish character-pair explosion runs over the vocabulary
    (|V| distinct words, sublinear in corpus size by Heaps' law), not the
    raw token stream — the same reduce-then-expand trick real BPE trainers
    use. Pair extraction is a row-local codegen array expression; two
    token/pair-keyed shuffles with map-side combine; deterministic
    integer-weighted top-k."""
    words = (
        fan_out(load(spark, sf_dir, "documents"))
        .select(F.explode(F.expr(TOKENS)).alias("word"))
        .where("word <> '' AND length(word) >= 2")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "n_word",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("n_word").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_distinct_words"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# lexical_search_topk — keyword retrieval: integer-exact TF-IDF scoring of
# a fixed query set against the corpus, top-k docs per query. The lexical
# half of a hybrid (sparse + dense) retrieval stack; the dense half is
# similarity.py's cosine_topk/ivf_topk.
# ---------------------------------------------------------------------------

_SEARCH_QUERIES = ("spark table scan", "hash join merge", "window sort batch")
_SEARCH_TOP_K = 5


def _search_query_values_sql() -> str:
    return ", ".join(f"({i}, '{q}')" for i, q in enumerate(_SEARCH_QUERIES))


def _query_terms(spark: SparkSession) -> DataFrame:
    """(query_id, token): the fixed query set split on whitespace."""
    return (
        spark.createDataFrame(
            [(i, q) for i, q in enumerate(_SEARCH_QUERIES)], "query_id INT, qtext STRING"
        )
        .select("query_id", F.explode(F.expr("split(qtext, '\\\\s+')")).alias("token"))
    )


@register(
    "lexical_search_topk",
    oracle=f"""
    WITH queries(query_id, qtext) AS (VALUES {_search_query_values_sql()}),
    qterms AS (
      SELECT query_id, unnest(regexp_split_to_array(qtext, '\\s+')) AS token
      FROM queries
    ),
    tok AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token
    ),
    scored AS (
      SELECT q.query_id, t.doc_id,
        CAST(SUM(t.tf * {_TFIDF_SCALE} // d.df) AS BIGINT) AS score,
        CAST(COUNT(*) AS BIGINT) AS n_matched_terms
      FROM qterms q
      JOIN tok t ON t.token = q.token
      JOIN df d ON d.token = q.token
      GROUP BY q.query_id, t.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, n_matched_terms, rank
    FROM ranked WHERE rank <= {_SEARCH_TOP_K}
    """,
)
def lexical_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse retrieval: score = Σ over matched query terms of
    tf(term, doc) × SCALE // df(term) — the exact-integer TF-IDF surrogate
    the TF-IDF profiler already uses, so ranking ties are engine-exact
    (BM25's log() idf would drift across libms; the integer rational
    preserves the idf ordering).

    Scale shape: the postings build is the inverted-index shuffle the
    engine already does; the QUERY side is a handful of rows that
    broadcast into the postings join, so serving Q queries costs one
    token-keyed probe of the postings — never a corpus scan per query.
    WindowGroupLimit prunes to top-k per query before the final sort."""
    # the postings table feeds BOTH the score probe and the df build (r14
    # measurement before its persist: ~2x the query's CPU in duplicated
    # postings builds)
    release_persisted()  # drop any prior invocation's cached intermediates
    qterms = _query_terms(spark)
    tok = term_counts(fan_out(load(spark, sf_dir, "documents")))
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        F.broadcast(qterms)
        .join(tok, "token")
        .join(F.broadcast(df.join(F.broadcast(qterms.select("token").distinct()), "token")), "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.expr(f"tf * {_TFIDF_SCALE} DIV df")).alias("score"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SEARCH_TOP_K)
    )


# ---------------------------------------------------------------------------
# hybrid_search_rrf — reciprocal-rank fusion of the sparse (TF-IDF
# more-like-this) and dense (exact cosine) rankers over the SAME
# query-by-document set. The standard hybrid-retrieval combiner
# (RRF, Cormack et al.): score(d) = Σ_rankers 1/(k + rank_r(d)).
# ---------------------------------------------------------------------------

_RRF_K = 60
_HY_DEPTH = 10  # per-ranker candidate depth == similarity._TOP_K
_HY_FINAL = 10
# more-like-this term budget: each query doc probes the postings with only
# its _MLT_TERMS rarest features (Lucene MoreLikeThis' max_query_terms /
# prefer-rare-terms rule). Features are adjacent BIGRAMS, not unigrams:
# the fixture's 31-token unigram vocabulary makes every unigram a
# stop-token (df ~80% of the corpus — the unguarded r6 probe measured
# 222 MB of hash-agg spill from that fan-out), while the ~930-bigram
# space is Zipf-shaped (median df ~6%), so a rare-K probe is both
# selective here and the correct bounded-cost shape on real corpora:
# per-query candidate cost is K postings lists, never corpus-sized.
_MLT_TERMS = 12

# identical expression text in both engines; explicit DOUBLE casts because
# a bare 1.0 literal parses as DECIMAL in BOTH SQL dialects and decimal
# division semantics differ
_RRF_EXPR = (
    f"coalesce(CAST(1 AS DOUBLE) / CAST({_RRF_K} + lex_rank AS DOUBLE),"
    " CAST(0 AS DOUBLE))"
    f" + coalesce(CAST(1 AS DOUBLE) / CAST({_RRF_K} + dense_rank AS DOUBLE),"
    " CAST(0 AS DOUBLE))"
)


def _hybrid_oracle() -> str:
    from .similarity import _EXACT_TOPK_PANEL_CTES, _PANEL_CAP, _QUERY_MOD

    return f"""
    WITH {_EXACT_TOPK_PANEL_CTES},
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    bif AS (
      SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks WHERE len(t) >= 2
      )
      GROUP BY doc_id, bigram
    ),
    df AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS df FROM bif GROUP BY bigram
    ),
    qsel AS (
      SELECT query_id, bigram, df FROM (
        SELECT b.doc_id AS query_id, b.bigram, d.df,
          ROW_NUMBER() OVER (PARTITION BY b.doc_id
                             ORDER BY d.df ASC, b.bigram ASC) AS trn
        FROM bif b JOIN df d ON d.bigram = b.bigram
        WHERE b.doc_id % {_QUERY_MOD} = 0 AND b.doc_id < {_PANEL_CAP}
      ) WHERE trn <= {_MLT_TERMS}
    ),
    lex_scored AS (
      SELECT q.query_id, t.doc_id,
        CAST(SUM(t.tf * {_TFIDF_SCALE} // q.df) AS BIGINT) AS lex_score
      FROM qsel q
      JOIN bif t ON t.bigram = q.bigram
      WHERE t.doc_id <> q.query_id
      GROUP BY q.query_id, t.doc_id
    ),
    lex_top AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT query_id, doc_id,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY lex_score DESC, doc_id ASC) AS lex_rank
        FROM lex_scored
      ) WHERE lex_rank <= {_HY_DEPTH}
    ),
    dense_top AS (
      SELECT query_id, neighbor_id AS doc_id, rank AS dense_rank
      FROM exact_topk_panel WHERE rank <= {_HY_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             {_RRF_EXPR} AS rrf_score
      FROM lex_top l FULL OUTER JOIN dense_top d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, lex_rank, dense_rank, rrf_score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= {_HY_FINAL}
    """


@register("hybrid_search_rrf", oracle=_hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the sparse more-like-this TF-IDF ranking and
    the dense exact-cosine ranking of the SAME query documents (vec_id ≡
    doc_id in the fixture, a 1:1 embedding per document) with reciprocal-
    rank fusion — the combiner production search stacks use because it
    needs no score calibration between rankers, only ranks.

    Engine-exactness: both input rankings are already hash-checked
    operators (integer TF-IDF scores; bit-exact cosine fold), and the RRF
    score is a fixed-shape IEEE expression over small-integer ranks with
    explicit DOUBLE casts (a bare 1.0 literal is DECIMAL in both dialects,
    with differing division semantics), so fusion scores and the fused
    ranking are bit-identical across engines.

    Scale shape (r10, verdict #6): BOTH rankers run over the FIXED query
    panel (doc_id % 50 == 0 AND doc_id < 2000 — identical to the dense
    panel since vec_id ≡ doc_id), so |Q| is constant under corpus
    scale-up. The lexical side probes the bigram postings with each
    query's {12} RAREST features only (see _MLT_TERMS — the Lucene
    MoreLikeThis rule), so per-query candidate cost is K bounded postings
    lists, never a corpus-sized stop-token fan-out; the dense side is
    cosine_topk_panel — the corpus-LINEAR bounded-panel exact KNN (the
    |Q|∝corpus cosine_topk baseline stays registered for recall evals;
    IVF/LSH swap in transparently since only (query_id, doc_id, rank)
    crosses the fusion join); the fusion itself is a full outer join of
    two top-k lists — |panel|·k rows, trivially broadcastable. At the
    registered SFs the panel covers every query id, so results are
    unchanged from the pre-panel registration."""
    from .similarity import _PANEL_CAP, _QUERY_MOD, cosine_topk_panel

    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.expr(TOKENS).alias("t"))
    # the bigram postings feed three consumers (df build, query-feature
    # selection, score probe); column pruning makes the subtrees
    # non-identical so ReuseExchange never folds them, and each re-ran the
    # corpus tokenize+bigram-explode+agg (r14 measurement: 11s CPU inside a
    # 4.5s query — the duplicated builds were most of it)
    release_persisted()  # drop any prior invocation's cached intermediates
    bif = scoped_persist(
        toks.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(F.expr(_ADJ_BIGRAMS)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = bif.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("df").asc(), F.col("bigram").asc()
    )
    # broadcast the QUERY side into the vocabulary-sized df table (df can
    # be huge on real text; the query-feature list is |Q|·features rows)
    qsel = (
        F.broadcast(
            bif.filter(
                (F.col("doc_id") % _QUERY_MOD == 0) & (F.col("doc_id") < _PANEL_CAP)
            ).select(F.col("doc_id").alias("query_id"), "bigram")
        )
        .join(df, "bigram")
        .withColumn("trn", F.row_number().over(wq))
        .filter(F.col("trn") <= _MLT_TERMS)
        .select("query_id", "bigram", "df")
    )
    lex_scored = (
        F.broadcast(qsel)
        .join(bif, "bigram")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.expr(f"CAST(SUM(tf * {_TFIDF_SCALE} DIV df) AS BIGINT)").alias("lex_score"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("lex_score").desc(), F.col("doc_id").asc()
    )
    lex_top = (
        lex_scored.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= _HY_DEPTH)
        .select("query_id", "doc_id", "lex_rank")
    )
    dense_top = (
        cosine_topk_panel(spark, sf_dir)
        .filter(F.col("rank") <= _HY_DEPTH)
        .select("query_id", F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    )
    fused = lex_top.join(dense_top, ["query_id", "doc_id"], "full").select(
        "query_id", "doc_id", "lex_rank", "dense_rank", F.expr(_RRF_EXPR).alias("rrf_score")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn("rank", F.row_number().over(wf)).filter(
        F.col("rank") <= _HY_FINAL
    )


# ---------------------------------------------------------------------------
# bpe_train_merges — the iterative BPE trainer loop (r7, per the r6
# verdict): bpe_merge_candidates computes one merge statistic; a tokenizer
# pipeline needs the sequential fit — pick best pair, apply the merge to
# every vocabulary word, re-count, repeat. The three registered trainers
# (bpe_train_merges, bpe_train_merges_incremental, bpe_train_merges_batched)
# run one fit, `_bpe_fit`, and differ only in its round count and picks per
# round; each is hash-checked against its own full-recount DuckDB oracle.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_train_ctes(rounds: int) -> str:
    """Unrolled recursive-step CTE chain (the pagerank/kmeans_iterate
    model): one block per merge round, shared by the train and apply
    oracles. Token sequences are encoded as '##'-joined strings
    ('##a##b##' for 'ab'): every token is bounded by '#' on each side, so
    replacing '#L##R#' with '#LR#' merges exactly the adjacent full-token
    pairs (never intra-token substrings), and because SQL replace() is
    leftmost non-overlapping, 'aaaa' under merge (a,a) becomes [aa][aa] —
    the standard greedy-left BPE application. Words are restricted to
    ^[a-z]+$ so '#' can never occur in a token.

    Every chained CTE is MATERIALIZED (r9): DuckDB inlines plain CTEs per
    reference and v{r}/b{r} are each referenced twice per round, so the
    un-hinted chain re-expanded v0 EXPONENTIALLY (2^rounds scans of
    `documents` — harmlessly wasteful at 6 rounds, fd-exhaustion-fatal at
    the 24-round incremental fit)."""
    parts = [
        r"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word
      FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        FROM documents
      )
      WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
      GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT '##' || regexp_replace(word, '(.)', '\1##', 'g') AS seq, n_word
      FROM w
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT t.toks[u.i] AS left_tok, t.toks[u.i + 1] AS right_tok,
             CAST(SUM(t.n_word) AS BIGINT) AS n_occurrences
      FROM (
        SELECT list_filter(string_split(seq, '##'), x -> x <> '') AS toks,
               n_word
        FROM v{r - 1}
      ) t
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) u
      GROUP BY left_tok, right_tok
    ),
    b{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS round, left_tok, right_tok, n_occurrences
      FROM p{r}
      ORDER BY n_occurrences DESC, left_tok ASC, right_tok ASC
      LIMIT 1
    ),
    v{r} AS MATERIALIZED (
      SELECT replace(v.seq, '#' || b.left_tok || '##' || b.right_tok || '#',
                     '#' || b.left_tok || b.right_tok || '#') AS seq,
             v.n_word
      FROM v{r - 1} v CROSS JOIN b{r} b
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle(rounds: int) -> str:
    union = "\n    UNION ALL\n    ".join(
        f"SELECT round, left_tok, right_tok, left_tok || right_tok AS merged,"
        f" n_occurrences FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_train_ctes(rounds) + f"\n    {union}\n    "


def _bpe_words(docs: DataFrame, *keys: str) -> DataFrame:
    """The BPE word vocabulary: `n_word` occurrences per (*keys, word) of
    the lower-cased whitespace tokens matching ^[a-z]+$ with length >= 2.
    The character class keeps '#' (the sequence encoding's token
    delimiter, see `_bpe_train_ctes`) out of every token, and makes token
    strings pure ASCII, so Python's string order is Spark's binary order."""
    return (
        docs.select(*keys, F.explode(F.expr(TOKENS)).alias("word"))
        .where("word rlike '^[a-z]+$' AND length(word) >= 2")
        .groupBy(*keys, "word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )


class BpePairTableTooLarge(RuntimeError):
    """The driver-held BPE pair-count table grew past `_BPE_MAX_PAIRS`
    distinct adjacent token pairs: the fit stops instead of running the
    driver out of memory."""


# A dict entry (str, str) -> int costs about 250 B of driver heap, so
# 2,000,000 pairs is about 0.5 GB of the 8g default driver
# (SPARK_GRAFT_DRIVER_MEM). The table is bounded by the vocabulary's
# distinct adjacent pairs: tens of kB at sf0.1.
_BPE_MAX_PAIRS = 2_000_000
_VOCAB_CKPT_EVERY = 6  # rounds between vocab lineage cuts (see _bpe_fit)


def _bpe_pair_sums(df: DataFrame, *sides: tuple[str, str]) -> list:
    """Collect SUM(w) per adjacent (left_tok, right_tok) pair over the
    '##'-encoded sequence columns of `df`, each given as (column, weight
    expression). All sides explode from ONE scan of `df` (struct arrays
    concatenated in-row): a union of per-side explodes re-ran `df`'s
    subtree once per branch."""
    arrays = []
    for i, (col, weight) in enumerate(sides):
        df = df.withColumn(f"t{i}", F.expr(f"filter(split({col}, '##'), x -> x <> '')"))
        arrays.append(
            f"zip_with(slice(t{i}, 1, size(t{i}) - 1), slice(t{i}, 2, size(t{i}) - 1),"
            f" (a, b) -> struct(a AS left_tok, b AS right_tok, {weight} AS w))"
        )
    return (
        df.select(F.explode(F.expr(f"concat({', '.join(arrays)})")).alias("pw"))
        .groupBy("pw.left_tok", "pw.right_tok")
        .agg(F.sum("pw.w").alias("n"))
        .collect()
    )


def _bpe_fit(spark: SparkSession, sf_dir: str, rounds: int, picks: int) -> DataFrame:
    """Fit `rounds` BPE merge rounds of up to `picks` merges each over the
    corpus vocabulary; returns the merge table (round, [pick,] left_tok,
    right_tok, merged, n_occurrences) as a driver-side literal, with the
    pick index only when `picks` > 1.

    Picks: each round takes pairs greedily in count order (n DESC,
    left_tok ASC, right_tok ASC) and admits a pair only if its token set
    {L, R, L||R} is disjoint from every pick already admitted that round
    (the batch rule, see the bpe_train_merges_batched note), until `picks`
    are admitted. The greedy scans a doubling count-ordered prefix of the
    table (64, 128, ...) until it has `picks` or has seen every pair, so
    it is exactly the specification's unbounded greedy. With picks=1 it is
    the plain argmax of sequential BPE. All admitted merges apply in pick
    order as nested `replace()`s over the '##'-encoded vocabulary, the
    same greedy-left application as the oracles.

    Incremental counts: after a round only the words that contained a
    merged pattern can change any pair count, so the count table is
    updated by a delta: pairs(affected words after) - pairs(them before),
    exploded from one scan. Re-counting the affected words wholesale
    rather than patching neighbours keeps the recurrence exact under
    overlaps ('aaaa' under merge (a, a)): after R rounds the table equals
    a full recount, which is what each oracle replays. The last round's
    delta is skipped: no later pick reads it.

    State placement: the pair-count table is the model's sufficient
    statistic, bounded by the vocabulary's distinct adjacent pairs, so it
    lives on the driver, where the classic heap-based BPE trainers keep
    it. Each round is then one Spark action (the aggregated delta,
    collected) folded in with exact integer arithmetic; the greedy is a
    driver-side scan. Keeping the counts distributed with a reliable
    checkpoint per round (r10-r14) measured 108 jobs with 3.7s of job wall
    inside a ~14s steady run (r15), and persist-backed lazy checkpoints
    were slower still (6.9s -> 13.3s, r14). The table is bounded loudly:
    past `_BPE_MAX_PAIRS` pairs, after the base count or any fold, the fit
    raises `BpePairTableTooLarge`. Only the vocabulary stays distributed;
    it gets a RELIABLE checkpoint once up front and every
    `_VOCAB_CKPT_EVERY` rounds, which bounds its plan depth, and an
    executor loss replays at most that many narrow replace() scans.
    Between checkpoints it is a chain of narrow projections, so a
    per-round cut would buy nothing but a job. Driver state needs no
    checkpoint: a driver loss ends the fit with or without one.

    With SPARK_GRAFT_BPE_TIMINGS set to a path, one JSON line
    {"round", "sec"} per round is appended to it."""
    from ..session import ensure_checkpoint_dir  # noqa: PLC0415

    ensure_checkpoint_dir(spark)
    timings_path = os.environ.get("SPARK_GRAFT_BPE_TIMINGS")
    vocab = (
        _bpe_words(fan_out(load(spark, sf_dir, "documents")))
        .select(
            F.expr("'##' || regexp_replace(word, '(.)', '$1##')").alias("seq"),
            "n_word",
        )
        .checkpoint()
    )
    counts: dict[tuple[str, str], int] = {
        (row["left_tok"], row["right_tok"]): row["n"]
        for row in _bpe_pair_sums(vocab, ("seq", "n_word"))
    }
    batched = picks > 1  # sequential BPE's pick index is always 1: not returned
    out_rows: list[tuple] = []
    for r in range(1, rounds + 1):
        t0 = time.time()
        if len(counts) > _BPE_MAX_PAIRS:
            raise BpePairTableTooLarge(
                f"BPE pair-count table holds {len(counts)} pairs before round"
                f" {r}, over the driver cap _BPE_MAX_PAIRS={_BPE_MAX_PAIRS}"
            )
        lim = 64
        while True:
            top = heapq.nsmallest(
                lim, counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            chosen: list[tuple[str, str, int]] = []
            used: set[str] = set()
            for (left, right), n in top:
                if len(chosen) == picks:
                    break
                toks = {left, right, left + right}
                if toks & used:
                    continue
                chosen.append((left, right, int(n)))
                used |= toks
            if len(chosen) == picks or len(top) < lim:
                break
            lim *= 2
        if not chosen:
            break
        for k, (left, right, n) in enumerate(chosen, 1):
            key = (r, k) if batched else (r,)
            out_rows.append((*key, left, right, left + right, n))
        # tokens match ^[a-z]+$, so inlining them as SQL literals is safe
        new_seq = "seq"
        hit_terms = []
        for left, right, _ in chosen:
            pat, rep = f"'#{left}##{right}#'", f"'#{left}{right}#'"
            hit_terms.append(f"instr(seq, {pat}) > 0")
            new_seq = f"replace({new_seq}, {pat}, {rep})"
        tagged = vocab.select(
            "seq", "n_word",
            F.expr(" OR ".join(hit_terms)).alias("hit"),
            F.expr(new_seq).alias("new_seq"),
        )
        vocab = tagged.select(F.col("new_seq").alias("seq"), "n_word")
        if r < rounds:
            delta = _bpe_pair_sums(
                tagged.filter("hit"), ("seq", "-n_word"), ("new_seq", "n_word")
            )
            for row in delta:
                pair = (row["left_tok"], row["right_tok"])
                nv = counts.get(pair, 0) + row["n"]
                if nv > 0:
                    counts[pair] = nv
                else:
                    counts.pop(pair, None)
            if r % _VOCAB_CKPT_EVERY == 0:
                vocab = vocab.coalesce(4).checkpoint()
        if timings_path:
            with open(timings_path, "a") as fh:
                fh.write(json.dumps({"round": r, "sec": round(time.time() - t0, 3)}) + "\n")
    key_cols = "round bigint, pick bigint" if batched else "round bigint"
    return spark.createDataFrame(
        out_rows,
        f"{key_cols}, left_tok string, right_tok string, merged string, n_occurrences bigint",
    )


@register("bpe_train_merges", oracle=_bpe_train_oracle(_BPE_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training: _BPE_ROUNDS sequential merge
    rounds over the corpus vocabulary. Each round picks the most frequent
    adjacent token pair (weighted by word frequency; ties broken
    (count DESC, left ASC, right ASC), fully deterministic), applies the
    merge greedily left-to-right to every vocabulary word, and repeats on
    the merged sequences; the output is the ordered merge table a
    tokenizer ships. `_bpe_fit` with one pick per round; the DuckDB oracle
    replays the same recursion as a full recount, CTE-per-round."""
    return _bpe_fit(spark, sf_dir, _BPE_ROUNDS, 1)


def _fitted_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted merge table, memoized per (applicationId, sf_dir) in the
    fitted-model tier.

    `bpe_apply_encode` once embedded the trainer's DAG in its own plan,
    so every execution re-fitted a merge table the same process had
    already computed (~70% of the query's cost, r7 verdict). The fit
    returns a driver-side literal of R rows (zero executor storage), so it
    is reused until `release_models()` — the fitted-tokenizer shape a
    production encode job uses — and `release_persisted()` leaves it, and
    every other query's memo, alone."""
    key = ("bpe_merges", spark.sparkContext.applicationId, sf_dir)
    cached = model_memo_get(key)
    if cached is None:
        cached = model_memo_put(key, bpe_train_merges(spark, sf_dir))
    return cached


# ---------------------------------------------------------------------------
# bpe_apply_encode — the other half of the tokenizer loop (r7): apply the
# trained merge table to the corpus and report per-language encoding
# statistics. Train + apply together are what a tokenizer-fitting job
# ships: the merge list, and evidence of the compression it buys.
# ---------------------------------------------------------------------------


def _bpe_apply_oracle(rounds: int) -> str:
    enc = r"'##' || regexp_replace(word, '(.)', '\1##', 'g')"
    for k in range(1, rounds + 1):
        pat = (
            f"'#' || (SELECT left_tok FROM b{k}) || '##' ||"
            f" (SELECT right_tok FROM b{k}) || '#'"
        )
        rep = (
            f"'#' || (SELECT left_tok FROM b{k}) ||"
            f" (SELECT right_tok FROM b{k}) || '#'"
        )
        enc = f"replace({enc}, {pat}, {rep})"
    return (
        _bpe_train_ctes(rounds)
        + f""",
    wl AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM (
        SELECT lang,
          unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents
      )
      WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
      GROUP BY lang, word
    ),
    enc AS (
      SELECT lang, word, n_w, {enc} AS seq FROM wl
    )
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(n_w) AS BIGINT) AS n_occurrences,
      CAST(SUM(n_w * len(word)) AS BIGINT) AS chars_total,
      CAST(SUM(n_w * len(list_filter(string_split(seq, '##'), x -> x <> '')))
           AS BIGINT) AS tokens_total,
      CAST(SUM(n_w * len(list_filter(string_split(seq, '##'), x -> x <> '')))
           * 1000000 // SUM(n_w * len(word)) AS BIGINT) AS tokens_per_mchar
    FROM enc GROUP BY lang
    """
    )


@register("bpe_apply_encode", oracle=_bpe_apply_oracle(_BPE_ROUNDS))
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the merge table `bpe_train_merges` fits and
    report per-language tokenizer statistics (word/occurrence counts,
    character volume, post-merge token volume, and integer tokens-per-
    million-chars — the compression a trained tokenizer buys per domain).

    Scale shape: the trained merge table is PIVOTED into a single 6-column
    row and broadcast, so applying R merges is a chain of R codegen
    `replace()` calls over the (lang, word) vocabulary — one corpus scan
    for the weighted vocabulary, vocabulary-sized everything after,
    map-side-combinable final rollup. Encoding semantics are identical to
    training (greedy leftmost-non-overlapping application in merge order
    — the '#' string encoding proved engine-identical for the trainer),
    so re-encoding the training corpus with its own merges is exactly the
    consistency check a tokenizer pipeline runs before shipping. The
    merge table comes from the fitted-model memo (`_fitted_bpe_merges`):
    fitted once per (session, sf_dir), applied many times — this query
    prices ENCODING, not a redundant re-fit."""
    merges = _fitted_bpe_merges(spark, sf_dir)
    mrow = merges.agg(
        *[
            f
            for r in range(1, _BPE_ROUNDS + 1)
            for f in (
                F.max(F.when(F.col("round") == r, F.col("left_tok"))).alias(f"l{r}"),
                F.max(F.when(F.col("round") == r, F.col("right_tok"))).alias(f"r{r}"),
            )
        ]
    )
    wl = _bpe_words(fan_out(load(spark, sf_dir, "documents")), "lang").withColumnRenamed(
        "n_word", "n_w"
    )
    enc_expr = "'##' || regexp_replace(word, '(.)', '$1##')"
    for k in range(1, _BPE_ROUNDS + 1):
        enc_expr = (
            f"replace({enc_expr}, '#' || l{k} || '##' || r{k} || '#',"
            f" '#' || l{k} || r{k} || '#')"
        )
    enc = wl.crossJoin(F.broadcast(mrow)).select(
        "lang",
        "word",
        "n_w",
        F.expr(
            f"size(filter(split({enc_expr}, '##'), x -> x <> ''))"
        ).alias("n_tok_after"),
    )
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_w").alias("n_occurrences"),
        F.expr("CAST(SUM(n_w * length(word)) AS BIGINT)").alias("chars_total"),
        F.expr("CAST(SUM(n_w * n_tok_after) AS BIGINT)").alias("tokens_total"),
        F.expr(
            "CAST(SUM(n_w * n_tok_after) * 1000000"
            " DIV SUM(n_w * length(word)) AS BIGINT)"
        ).alias("tokens_per_mchar"),
    )


# ---------------------------------------------------------------------------
# bpe_train_merges_incremental — the production-length fit (r9): a
# ~30k-merge vocabulary cannot re-count every adjacent pair of every word
# each round, which is why `_bpe_fit` maintains its pair counts by deltas.
# Its oracle replays a _BPE_INC_ROUNDS-round FULL-RECOUNT chain, so the hash
# match proves the incremental recurrence reproduces the specification over
# four times bpe_train_merges' rounds; its first _BPE_ROUNDS rows are
# bpe_train_merges' table.
# ---------------------------------------------------------------------------

_BPE_INC_ROUNDS = 24


@register(
    "bpe_train_merges_incremental",
    oracle=_bpe_train_oracle(_BPE_INC_ROUNDS),
)
def bpe_train_merges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_BPE_INC_ROUNDS-round BPE fit, one merge per round: bpe_train_merges'
    semantics (greedy-left '#'-string replace, ties (count DESC, left ASC,
    right ASC)) run long enough that most picks read delta-maintained
    counts (`_bpe_fit`)."""
    return _bpe_fit(spark, sf_dir, _BPE_INC_ROUNDS, 1)


# ---------------------------------------------------------------------------
# bpe_train_merges_batched — MULTI-MERGE BATCHING (r10): one merge per round
# floors a 30k-merge fit at 30k sequential driver round-trips; batching
# applies B independent merges per vocabulary scan, cutting the round
# count ~B×.
#
# The batch rule that keeps application EXACT: within a round, pairs are
# picked greedily in count order (count DESC, left, right), and a pair is
# admitted only if its token set {L, R, L||R} is disjoint from every
# already-picked pair's set. Disjoint {L, R} means the '#L##R#' match
# windows cannot overlap (token-bounded patterns overlap only by sharing a
# full-token occurrence), and excluding the MERGED token L||R means no
# pick can create or destroy occurrences of a later pick's pattern (the
# only way a replace changes another pattern's match set is by minting its
# L or R token). Conflicting pairs simply defer to the next round, where
# they are re-counted against the updated vocabulary.
#
# Batched-greedy is a DIFFERENT (documented) training schedule from
# strict sequential BPE — after batch round 1 the counts differ from what
# three sequential recounts would see — which is exactly how production
# trainers (SentencePiece-style batched updates) trade strict greediness
# for throughput. The DuckDB oracle replays the SAME batched-greedy
# specification — per round, B unrolled NOT-IN-filtered argmax CTEs over a
# full recount, then one nested-replace application — so the driver's
# hash check proves the Spark implementation (incremental deltas, driver-
# side greedy over a doubling prefix) equals the spec exactly.
# ---------------------------------------------------------------------------

_BPE_BATCH_ROUNDS = 6
_BPE_BATCH_B = 4


def _bpe_batched_ctes(rounds: int, b: int) -> str:
    """Unrolled batched-greedy CTE chain. Pick k of round r filters the
    recounted pair table by NOT IN the union of {left, right, merged}
    tokens of picks 1..k-1 (NOT IN over an empty CTE is TRUE, so short
    rounds degrade gracefully); application nests b replace()s whose
    pattern falls back to chr(1) — a byte that cannot occur in an encoded
    sequence — when a pick is empty."""
    parts = [
        r"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word
      FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        FROM documents
      )
      WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
      GROUP BY word
    ),
    bv0 AS MATERIALIZED (
      SELECT '##' || regexp_replace(word, '(.)', '\1##', 'g') AS seq, n_word
      FROM w
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    bp{r} AS MATERIALIZED (
      SELECT t.toks[u.i] AS left_tok, t.toks[u.i + 1] AS right_tok,
             CAST(SUM(t.n_word) AS BIGINT) AS n_occurrences
      FROM (
        SELECT list_filter(string_split(seq, '##'), x -> x <> '') AS toks,
               n_word
        FROM bv{r - 1}
      ) t
      CROSS JOIN LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) u
      GROUP BY left_tok, right_tok
    )"""
        )
        for k in range(1, b + 1):
            if k == 1:
                cond = ""
            else:
                cond = f"""
      WHERE left_tok NOT IN (SELECT t FROM btoks{r}_{k - 1})
        AND right_tok NOT IN (SELECT t FROM btoks{r}_{k - 1})
        AND (left_tok || right_tok) NOT IN (SELECT t FROM btoks{r}_{k - 1})"""
            parts.append(
                f""",
    bc{r}_{k} AS MATERIALIZED (
      SELECT left_tok, right_tok, n_occurrences FROM bp{r}{cond}
      ORDER BY n_occurrences DESC, left_tok ASC, right_tok ASC
      LIMIT 1
    )"""
            )
            prev = f"SELECT t FROM btoks{r}_{k - 1} UNION " if k > 1 else ""
            parts.append(
                f""",
    btoks{r}_{k} AS MATERIALIZED (
      {prev}SELECT left_tok AS t FROM bc{r}_{k}
      UNION SELECT right_tok FROM bc{r}_{k}
      UNION SELECT left_tok || right_tok FROM bc{r}_{k}
    )"""
            )
        apply_expr = "seq"
        for k in range(1, b + 1):
            pat = (
                f"COALESCE((SELECT '#' || left_tok || '##' || right_tok || '#'"
                f" FROM bc{r}_{k}), chr(1))"
            )
            rep = (
                f"COALESCE((SELECT '#' || left_tok || right_tok || '#'"
                f" FROM bc{r}_{k}), '')"
            )
            apply_expr = f"replace({apply_expr}, {pat}, {rep})"
        parts.append(
            f""",
    bm{r} AS MATERIALIZED (
      {" UNION ALL ".join(
          f"SELECT CAST({r} AS BIGINT) AS round, CAST({k} AS BIGINT) AS pick,"
          f" left_tok, right_tok, n_occurrences FROM bc{r}_{k}"
          for k in range(1, b + 1)
      )}
    ),
    bv{r} AS MATERIALIZED (
      SELECT {apply_expr} AS seq, n_word FROM bv{r - 1}
    )"""
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT round, pick, left_tok, right_tok,"
        f" left_tok || right_tok AS merged, n_occurrences FROM bm{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + f"\n    {union}\n    "


@register(
    "bpe_train_merges_batched",
    oracle=_bpe_batched_ctes(_BPE_BATCH_ROUNDS, _BPE_BATCH_B),
)
def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_BPE_BATCH_ROUNDS-round × up-to-_BPE_BATCH_B-merge batched BPE fit
    (module note above): `_bpe_fit` with _BPE_BATCH_B picks per round, so
    each vocabulary scan applies every admitted pick of the round — the
    throughput shape a 30k-merge production vocabulary needs. The
    doubling-prefix greedy makes its picks EXACTLY the specification's
    unbounded greedy, never a truncated approximation."""
    return _bpe_fit(spark, sf_dir, _BPE_BATCH_ROUNDS, _BPE_BATCH_B)


# ---------------------------------------------------------------------------
# sparse_cosine_doc_pairs — all-pairs sparse (TF-IDF) cosine similarity via
# a posting-list self-join with signature pruning: the lexical twin of the
# dense near-dup path (embedding_cosine_neardup / ann_lsh_topk), and the
# candidate-generation shape of Bayardo et al., "Scaling Up All Pairs
# Similarity Search" (WWW'07) — pair candidates come only from shared
# signature terms, never from a doc x doc cross join.
#
# Determinism: weights are integer fixed-point (tf * SCALE div df), so dots
# and norms are BIGINT-exact and summation-order-independent; only the final
# cosine touches doubles, and it is rounded to 6 before the threshold test
# on BOTH engines.
#
# 100 TB design: two caps bound the quadratic.
#   * per-doc signature: each doc contributes only its top-R terms by
#     weight (prefix filtering) — candidate volume per doc is <= R postings;
#   * per-term posting cap: a signature term held by > _SPARSE_DF_CAP docs
#     is dropped entirely (the stopword tier), so one term's pair fan-out is
#     <= cap^2 and total candidates grow with vocabulary (corpus-linear),
#     not corpus^2. An ABSOLUTE cap, deliberately not a fraction of the
#     corpus: a relative cap re-admits the quadratic as the corpus grows.
# The cosine is computed over the pruned signature vectors (the documented
# approximation every prefix-filter system makes on the candidate side).
# ---------------------------------------------------------------------------

_SPARSE_SCALE = 10_000  # fixed-point weight scale; w <= tf*SCALE/2 ~ 3e5
_SPARSE_R = 16  # signature size: top-R terms per doc by (weight, token)
_SPARSE_DF_CAP = 256  # stopword tier: drop signature terms in > cap docs
_SPARSE_T = 0.8  # emit pairs with rounded cosine >= T


@register(
    "sparse_cosine_doc_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), wt0 AS (
      SELECT tf.doc_id, tf.token,
        CAST(tf.tf * {_SPARSE_SCALE} AS BIGINT) // df.df AS w
      FROM tf JOIN df ON tf.token = df.token
      WHERE df.df >= 2
    ), wt AS (
      SELECT doc_id, token, w FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY w DESC, token) AS rn
        FROM wt0
      ) WHERE rn <= {_SPARSE_R}
    ), sdf AS (
      SELECT token, COUNT(*) AS sdf FROM wt GROUP BY token
    ), wtc AS (
      SELECT wt.* FROM wt JOIN sdf ON wt.token = sdf.token
      WHERE sdf.sdf <= {_SPARSE_DF_CAP}
    ), nrm AS (
      SELECT doc_id, SUM(w * w) AS n2 FROM wtc GROUP BY doc_id
    ), dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        COUNT(*) AS n_shared, SUM(a.w * b.w) AS dot_fp
      FROM wtc a JOIN wtc b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared, dot_fp,
      round(CAST(dot_fp AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
            6) AS cosine
    FROM dot
    JOIN nrm na ON dot.doc_a = na.doc_id
    JOIN nrm nb ON dot.doc_b = nb.doc_id
    WHERE round(CAST(dot_fp AS DOUBLE)
                / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                6) >= {_SPARSE_T}
    """,
)
def sparse_cosine_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse cosine over TF-IDF signature vectors (module note
    above): tokenize -> integer tf-idf weights -> top-R signature per doc ->
    posting-cap stopword tier -> token-keyed self-join -> pair dot/norm ->
    rounded cosine >= T.

    Plan: tf is ONE corpus scan grouped by (doc, token); df derives from tf
    and BROADCASTS back (vocabulary-sized); the signature window partitions
    by doc_id (tf's existing hash key); candidate generation is an equi-join
    keyed by token whose per-key fan-out is bounded by the posting cap; the
    pair aggregation and the two norm joins are keyed by doc ids. No stage
    touches doc x doc."""
    # wt feeds the signature-df build and the capped-signature probe (which
    # itself fans into the norm pass and both self-join sides). Without its
    # persist (and term_counts') every consumer re-ran its whole upstream
    # (tf: corpus explode+agg; wt: tf + broadcast join + top-R window) —
    # r14: the deepest duplicated-subtree stack in the lexical family.
    release_persisted()  # drop any prior invocation's cached intermediates
    tf = term_counts(fan_out(load(spark, sf_dir, "documents")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    wt0 = (
        tf.join(F.broadcast(df.filter(F.col("df") >= 2)), "token")
        .withColumn("w", F.expr(f"CAST(tf * {_SPARSE_SCALE} AS BIGINT) div df"))
        .select("doc_id", "token", "w")
    )
    sig_w = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("token"))
    wt = scoped_persist(
        wt0.withColumn("rn", F.row_number().over(sig_w))
        .filter(F.col("rn") <= _SPARSE_R)
        .drop("rn")
    )
    sdf = wt.groupBy("token").agg(F.count(F.lit(1)).alias("sdf"))
    wtc = wt.join(
        F.broadcast(sdf.filter(F.col("sdf") <= _SPARSE_DF_CAP)).drop("sdf"), "token"
    )
    nrm = wtc.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    dot = (
        wtc.alias("a")
        .join(
            wtc.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot_fp"),
        )
    )
    cos = F.round(
        F.col("dot_fp").cast("double")
        / (F.sqrt(F.col("na.n2").cast("double")) * F.sqrt(F.col("nb.n2").cast("double"))),
        6,
    )
    return (
        dot.join(nrm.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(nrm.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", "n_shared", "dot_fp", cos.alias("cosine"))
        .filter(F.col("cosine") >= _SPARSE_T)
    )


# ---------------------------------------------------------------------------
# ngram_novelty_curve — per-document corpus novelty (r8): for each doc, the
# fraction of its DISTINCT bigrams that first appear (by doc_id order) in
# that doc. The curve a curation pipeline watches to decide when additional
# crawl data stops contributing new content (diminishing-novelty cutoff),
# and a per-doc diversity signal for curriculum ordering.
#
# 100 TB shape: per-doc distinct bigrams are computed IN-ROW
# (transform + array_distinct — no shuffle spent on within-doc dedup);
# the corpus pass is ONE bigram-keyed shuffle with map-side partial min,
# and per-doc novel counts come from re-grouping the bigram->first_doc
# table by first_doc — never a bigram-level join back against the corpus.
# All counts integer; the ratio is integer parts-per-million.
# ---------------------------------------------------------------------------


@register(
    "ngram_novelty_curve",
    oracle="""
    WITH b AS (
      SELECT doc_id,
        list_distinct(list_transform(
          generate_series(1, len(regexp_split_to_array(lower(text), '\\s+')) - 1),
          i -> regexp_split_to_array(lower(text), '\\s+')[i] || ' ' ||
               regexp_split_to_array(lower(text), '\\s+')[i + 1]
        )) AS bis
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(len(bis) AS BIGINT) AS n_bigrams FROM b
    ),
    firsts AS (
      SELECT bigram, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(bis) AS bigram FROM b)
      GROUP BY bigram
    ),
    novel AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM firsts GROUP BY first_doc
    )
    SELECT p.doc_id, p.n_bigrams,
      CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
      CASE WHEN p.n_bigrams = 0 THEN NULL
           ELSE CAST(COALESCE(n.n_novel, 0) * 1000000 // p.n_bigrams AS BIGINT)
      END AS novelty_ppm
    FROM per_doc p LEFT JOIN novel n ON n.doc_id = p.doc_id
    """,
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct-bigram novelty vs all earlier docs (module note
    above). Novel counts are derived by re-grouping the bigram->first_doc
    table by first_doc, so the plan is: in-row bigram arrays, one
    bigram-keyed shuffle (map-side partial MIN), one doc-cardinality
    groupBy, one doc-keyed join of two doc-cardinality tables — linear
    end to end, no bigram-level join against the corpus."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    # Short-doc guard: on a 1-token doc Spark's sequence(1, size-1) is
    # sequence(1, 0) = [1, 0] (DESCENDING), yielding a bogus [NULL] bigram
    # array where DuckDB's generate_series(1, 0) is empty — so gate the
    # build on size >= 2 (same guard pattern as the 3-token shingle floor).
    b = docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size({TOKENS}) >= 2 THEN"
            " array_distinct(transform("
            f"  sequence(1, size({TOKENS}) - 1),"
            f"  i -> concat({TOKENS}[i - 1], ' ', {TOKENS}[i])))"
            " ELSE array() END"
        ).alias("bis"),
    )
    per_doc = b.select("doc_id", F.size("bis").cast("long").alias("n_bigrams"))
    firsts = (
        b.select("doc_id", F.explode("bis").alias("bigram"))
        .groupBy("bigram")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.expr(
            "CASE WHEN n_bigrams = 0 THEN NULL"
            " ELSE CAST(coalesce(n_novel, 0) * 1000000 DIV n_bigrams AS BIGINT)"
            " END"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# bm25_search_topk — BM25 ranking (Robertson/Spärck Jones), integer-exact
# (r8): completes the lexical ranking family (binary postings ->
# tf-idf surrogate -> BM25 saturation + length normalization). All
# arithmetic is fixed-point integer so cross-engine ranking cannot drift:
#   lnorm_m  = (1-b) + b*dl/avgdl      in micro (b=0.75; avgdl = integer
#              token mean, deterministic)
#   sat_k    = tf*(k1+1) / (tf + k1*lnorm)  in milli (k1=1.2)
#   idf_k    = (N-df)/df               in milli — the monotone integer
#              surrogate of ln((N-df+.5)/(df+.5)) this module already uses
#              (per-term ordering identical; the summed ranking is the
#              surrogate's, stated honestly)
# Bounds: every intermediate fits BIGINT while N*2.2e6*|q| < 2^63 — i.e.
# beyond 10^11 documents per query term, far past any real corpus.
# ---------------------------------------------------------------------------

_BM25_TOP_K = 5


@register(
    "bm25_search_topk",
    oracle=f"""
    WITH q(query_id, qtext) AS (VALUES {_search_query_values_sql()}),
    qterms AS (
      SELECT query_id, unnest(regexp_split_to_array(qtext, '\\s+')) AS token
      FROM q
    ),
    tok AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
      ) WHERE token <> ''
      GROUP BY doc_id, token
    ),
    dl AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
      FROM dl
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token
    ),
    scored AS (
      SELECT qt.query_id, t.doc_id,
        CAST(SUM(
          (((s.n_docs - d.df) * 1000) // d.df)
          * ((t.tf * 2200000000) //
             (t.tf * 1000000
              + (1200000 * (250000 + (l.dl * 750000) // s.avgdl)) // 1000000))
        ) AS BIGINT) AS score,
        CAST(COUNT(*) AS BIGINT) AS n_matched_terms
      FROM qterms qt
      JOIN tok t ON t.token = qt.token
      JOIN df d ON d.token = qt.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      GROUP BY qt.query_id, t.doc_id
    )
    SELECT query_id, doc_id, score, n_matched_terms, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_TOP_K}
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_TOP_K} per query (module note above): term
    saturation (k1=1.2) and document-length normalization (b=0.75) in
    exact fixed-point integers, integer-rational idf surrogate.

    Plan: the postings build is the same (doc, token) shuffle the other
    lexical rankers share; per-doc lengths re-aggregate the postings
    table (map-side combine, never a second corpus scan); the corpus
    stats are ONE broadcast row; query terms broadcast into the postings
    probe, so Q queries cost one token-keyed probe. WindowGroupLimit
    prunes per-query candidates before the final sort."""
    # four consumers (probe, dl, corpus stats, df) each re-ran the corpus
    # tokenize+explode+agg before the term_counts persist (r14)
    release_persisted()  # drop any prior invocation's cached intermediates
    qterms = _query_terms(spark)
    tok = term_counts(fan_out(load(spark, sf_dir, "documents")))
    dl = tok.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST(SUM(dl) DIV COUNT(1) AS BIGINT)").alias("avgdl"),
    )
    df = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        F.broadcast(qterms)
        .join(tok, "token")
        .join(F.broadcast(df.join(F.broadcast(qterms.select("token").distinct()), "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.expr(
                    "(((n_docs - df) * 1000) DIV df)"
                    " * ((tf * 2200000000) DIV"
                    " (tf * 1000000"
                    "  + (1200000 * (250000 + (dl * 750000) DIV avgdl)) DIV 1000000))"
                )
            )
            .cast("long")
            .alias("score"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOP_K)
    )
