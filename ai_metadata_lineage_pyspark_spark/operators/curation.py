"""End-to-end corpus curation: language-ID -> quality gate -> exact dedup
-> stratified sampling -> audit rollup, composed as ONE declarative plan.

This is the shape of a real pretraining-data pipeline at 100 TB, and the
point of expressing it in a single DataFrame chain rather than four jobs
with materialized intermediates:

* all per-row signals (stopword hits, quality counts, fingerprint, sample
  bucket) are computed in one scan, one whole-stage-codegen projection —
  Catalyst fuses them; nothing is read twice;
* the only shuffle is the dedup window (partition by content fingerprint)
  followed by the tiny rollup aggregation (partial map-side);
* the quality/language gates run BEFORE the shuffle, so the dedup exchange
  only carries surviving rows.

Stage semantics (mirrored exactly in the DuckDB oracle):
  1. lang_pred: stopword-hit argmax (operators/text.py classifier)
  2. keep docs with quality_score >= 3 and a confident language
  3. exact dedup among survivors: keep doc_id == min(doc_id) per
     whitespace-normalized md5 fingerprint
  4. stratified sample: md5-bucket gate, 25% of predicted-en, 75% of rest
  5. rollup per (predicted, actual) language — a confusion-matrix-style
     audit of kept docs, chars and quality mass
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import release_persisted, scoped_persist
from ..functions.io import fan_out, load
from ..functions.text import _SHINGLES_FROM_TOKS, _SQL_SHINGLES, SQL_TOKENS, TOKENS
from ..registry import register
from .decontam import _EVAL_MOD
from .sampling import _BUCKET_SPARK, _BUCKET_SQL
from .search import _LM_SCORE_CTES
from .text import _LANG_STOPWORDS, _hits_sql, _hits_toks_expr

_MIN_QUALITY = 3
_EN_RATE = 25
_OTHER_RATE = 75


@register(
    "corpus_curation",
    bench=True,
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, lang, n_chars, text,
        {_hits_sql(_LANG_STOPWORDS['en'])} AS en_hits,
        {_hits_sql(_LANG_STOPWORDS['de'])} AS de_hits,
        {_hits_sql(_LANG_STOPWORDS['fr'])} AS fr_hits,
        {_hits_sql(_LANG_STOPWORDS['es'])} AS es_hits,
        len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
        len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS n_unique,
        length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
        {_BUCKET_SQL} AS bucket
      FROM documents
    ),
    scored AS (
      SELECT *,
        CASE
          WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'und'
          WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
          WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
          WHEN fr_hits >= es_hits THEN 'fr'
          ELSE 'es'
        END AS lang_pred,
        (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens > 0.3 THEN 1 ELSE 0 END
         + CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS quality_score
      FROM sig
    ),
    gated AS (
      SELECT * FROM scored
      WHERE quality_score >= {_MIN_QUALITY} AND lang_pred <> 'und'
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical FROM gated
      ) WHERE doc_id = canonical
    ),
    sampled AS (
      SELECT * FROM deduped
      WHERE bucket < CASE WHEN lang_pred = 'en' THEN {_EN_RATE} ELSE {_OTHER_RATE} END
    )
    SELECT lang_pred, lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(SUM(quality_score) AS BIGINT) AS quality_mass,
      MIN(doc_id) AS min_doc_id
    FROM sampled
    GROUP BY lang_pred, lang
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-plan curation pipeline over `documents` (see module doc)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    en, de, fr, es = (F.col(f"{c}_hits") for c in ("en", "de", "fr", "es"))
    # split once per row; the per-language filters and token counts all read
    # the materialized `toks` (higher-order fns get no cross-column CSE)
    sig = docs.selectExpr(
        "doc_id", "lang", "n_chars", "text", f"{TOKENS} AS toks"
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        *[
            F.expr(_hits_toks_expr(words)).alias(f"{lang}_hits")
            for lang, words in _LANG_STOPWORDS.items()
        ],
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_unique"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")).alias("n_punct"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_digit"),
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias("fp"),
        F.expr(_BUCKET_SPARK).alias("bucket"),
    )
    scored = sig.select(
        "*",
        F.when((en == 0) & (de == 0) & (fr == 0) & (es == 0), "und")
        .when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
        .alias("lang_pred"),
        (
            F.when(F.col("n_tokens").between(10, 100000), 1).otherwise(0)
            + F.when(F.col("n_punct").cast("double") / F.col("n_chars") < 0.1, 1).otherwise(0)
            + F.when(F.col("n_digit").cast("double") / F.col("n_chars") < 0.2, 1).otherwise(0)
            + F.when(F.col("n_unique").cast("double") / F.col("n_tokens") > 0.3, 1).otherwise(0)
            + F.when(F.col("n_chars") >= 100, 1).otherwise(0)
        ).alias("quality_score"),
    )
    gated = scored.filter(
        (F.col("quality_score") >= _MIN_QUALITY) & (F.col("lang_pred") != "und")
    )
    deduped = gated.withColumn(
        "canonical", F.min("doc_id").over(Window.partitionBy("fp"))
    ).filter(F.col("doc_id") == F.col("canonical"))
    sampled = deduped.filter(
        F.col("bucket")
        < F.when(F.col("lang_pred") == "en", _EN_RATE).otherwise(_OTHER_RATE)
    )
    return sampled.groupBy("lang_pred", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("quality_score").alias("quality_mass"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# lm_quality_buckets — the CCNet head/middle/tail split (Wenzek et al. 2020,
# "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
# Data"): per-language terciles of a language-model quality score. CCNet
# ranks each language's documents by LM perplexity and cuts the ranking in
# three; downstream training keeps `head` (and often `middle`) and drops
# `tail`. Here the LM score is the engine's integer-exact bigram
# commonality proxy (search.py lm_bigram_doc_score), so the whole split is
# engine-deterministic with no float perplexity.
# ---------------------------------------------------------------------------


@register(
    "lm_quality_buckets",
    oracle=_LM_SCORE_CTES
    + """
    , ranked AS (
      SELECT s.doc_id, d.lang, s.avg_bigram_count,
        ntile(3) OVER (
          PARTITION BY d.lang
          ORDER BY s.avg_bigram_count DESC, s.doc_id ASC
        ) AS tercile
      FROM lm_scores s JOIN documents d ON s.doc_id = d.doc_id
    )
    SELECT doc_id, lang, avg_bigram_count,
      CAST(tercile AS BIGINT) AS tercile,
      CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        AS bucket
    FROM ranked
    """,
)
def lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality terciles over the bigram LM score.

    Plan: the lm score pipeline (one explode + two bigram-keyed shuffles,
    see lm_bigram_doc_score) feeds a doc_id-keyed broadcast-size join to
    pick up `lang`, then ONE lang-partitioned window assigns terciles.
    ntile needs each language's scored docs ordered within its partition —
    a per-language sort, not a global one; at 100 TB with a handful of
    languages the partition is large but the sort is the mandatory cost of
    an exact quantile split (the approx swap is percentile_approx cutoffs
    per lang + a broadcast cutoff join, same output contract modulo ties).
    Tercile order is total (score DESC, doc_id ASC) so the split is
    deterministic and engine-exact; both engines distribute ntile
    remainders to the leading buckets.
    """
    from .search import lm_bigram_doc_score  # noqa: PLC0415

    scores = lm_bigram_doc_score(spark, sf_dir).select("doc_id", "avg_bigram_count")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_bigram_count"), F.asc("doc_id")
    )
    ranked = scores.join(docs, "doc_id").withColumn(
        "tercile", F.ntile(3).over(w).cast("bigint")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "avg_bigram_count",
        "tercile",
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# curation_funnel_report — the per-stage census of the curation pipeline:
# raw -> quality gate -> exact dedup -> decontamination, one row per stage
# with surviving docs/chars and the drop from the previous stage. This is
# the dashboard table every corpus build publishes (how much did each gate
# cost?); the gates reuse the engine's own definitions verbatim — the
# corpus_curation quality score, exact_dedup's normalized-text canonical
# rule, and benchmark_decontam's eval-slice shingle overlap — so the
# funnel numbers reconcile exactly with the individual operators.
# ---------------------------------------------------------------------------

_QSCORE_SQL = """
        (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens > 0.3 THEN 1 ELSE 0 END
         + CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
"""


@register(
    "curation_funnel_report",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, n_chars,
        {_hits_sql(_LANG_STOPWORDS['en'])} AS en_hits,
        {_hits_sql(_LANG_STOPWORDS['de'])} AS de_hits,
        {_hits_sql(_LANG_STOPWORDS['fr'])} AS fr_hits,
        {_hits_sql(_LANG_STOPWORDS['es'])} AS es_hits,
        len({SQL_TOKENS}) AS n_tokens,
        len(list_distinct({SQL_TOKENS})) AS n_unique,
        length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    flags_q AS (
      SELECT doc_id, n_chars, fp,
        ({_QSCORE_SQL} >= {_MIN_QUALITY}
         AND NOT (en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0))
          AS q
      FROM sig
    ),
    sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    contam AS (
      SELECT DISTINCT t.doc_id
      FROM sh t
      JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0) e
        ON t.shingle = e.shingle
      WHERE t.doc_id % {_EVAL_MOD} <> 0
    ),
    flags AS (
      SELECT f.doc_id, f.n_chars,
        f.q,
        f.q AND f.doc_id = MIN(CASE WHEN f.q THEN f.doc_id END)
          OVER (PARTITION BY f.fp) AS d,
        f.q AND f.doc_id = MIN(CASE WHEN f.q THEN f.doc_id END)
          OVER (PARTITION BY f.fp) AND c.doc_id IS NULL AS k
      FROM flags_q f LEFT JOIN contam c ON f.doc_id = c.doc_id
    ),
    tot AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(n_chars) AS BIGINT) AS c0,
        CAST(COUNT(*) FILTER (WHERE q) AS BIGINT) AS n1,
        CAST(COALESCE(SUM(n_chars) FILTER (WHERE q), 0) AS BIGINT) AS c1,
        CAST(COUNT(*) FILTER (WHERE d) AS BIGINT) AS n2,
        CAST(COALESCE(SUM(n_chars) FILTER (WHERE d), 0) AS BIGINT) AS c2,
        CAST(COUNT(*) FILTER (WHERE k) AS BIGINT) AS n3,
        CAST(COALESCE(SUM(n_chars) FILTER (WHERE k), 0) AS BIGINT) AS c3
      FROM flags
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
      n0 AS n_docs, c0 AS total_chars,
      CAST(NULL AS BIGINT) AS n_dropped, CAST(NULL AS BIGINT) AS drop_ppm
    FROM tot
    UNION ALL
    SELECT 1, 'quality_gate', n1, c1, n0 - n1,
      ((n0 - n1) * 1000000) // n0 FROM tot
    UNION ALL
    SELECT 2, 'exact_dedup', n2, c2, n1 - n2,
      CASE WHEN n1 = 0 THEN NULL ELSE ((n1 - n2) * 1000000) // n1 END FROM tot
    UNION ALL
    SELECT 3, 'decontam', n3, c3, n2 - n3,
      CASE WHEN n2 = 0 THEN NULL ELSE ((n2 - n3) * 1000000) // n2 END FROM tot
    """,
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survival census of the curation pipeline.

    Plan: one documents scan computes the quality flag per doc; the dedup
    flag is ONE fp-keyed window (min qualifying doc_id per normalized-text
    group); the decontam flag is the benchmark_decontam join — eval-slice
    distinct shingles are benchmark-sized, so the train side is a
    broadcast-hash join, no big-side shuffle. All four stage censuses then
    collapse into a SINGLE aggregate row (count/sum per cumulative flag —
    map-side combined, one scan of the flagged stream) and unpivot to four
    rows via stack(). Nothing in the plan grows with corpus size except
    the scans and the fp window, each linear and key-partitioned.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    en, de, fr, es = (F.col(f"{c}_hits") for c in ("en", "de", "fr", "es"))
    sig = docs.selectExpr(
        "doc_id", "n_chars", "text", f"{TOKENS} AS toks"
    ).select(
        "doc_id",
        "n_chars",
        *[
            F.expr(_hits_toks_expr(words)).alias(f"{lang}_hits")
            for lang, words in _LANG_STOPWORDS.items()
        ],
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_unique"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")).alias(
            "n_punct"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_digit"),
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias(
            "fp"
        ),
    )
    qscore = (
        F.when(F.col("n_tokens").between(10, 100000), 1).otherwise(0)
        + F.when(F.col("n_punct").cast("double") / F.col("n_chars") < 0.1, 1).otherwise(0)
        + F.when(F.col("n_digit").cast("double") / F.col("n_chars") < 0.2, 1).otherwise(0)
        + F.when(F.col("n_unique").cast("double") / F.col("n_tokens") > 0.3, 1).otherwise(0)
        + F.when(F.col("n_chars") >= 100, 1).otherwise(0)
    )
    flags_q = sig.select(
        "doc_id",
        "n_chars",
        "fp",
        (
            (qscore >= _MIN_QUALITY)
            & ~((en == 0) & (de == 0) & (fr == 0) & (es == 0))
        ).alias("q"),
    )
    sh = (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"explode({_SHINGLES_FROM_TOKS}) AS shingle")
    )
    eval_sh = (
        sh.filter(F.col("doc_id") % _EVAL_MOD == 0).select("shingle").distinct()
    )
    contam = (
        sh.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    w = Window.partitionBy("fp")
    flags = (
        flags_q.join(contam, "doc_id", "left")
        .withColumn(
            "d",
            F.col("q")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q"), F.col("doc_id"))).over(w)
            ),
        )
        .withColumn("k", F.col("d") & F.col("is_contam").isNull())
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("n_chars").alias("c0"),
        F.expr("CAST(COUNT(IF(q, 1, NULL)) AS BIGINT)").alias("n1"),
        F.expr("CAST(COALESCE(SUM(IF(q, n_chars, NULL)), 0) AS BIGINT)").alias("c1"),
        F.expr("CAST(COUNT(IF(d, 1, NULL)) AS BIGINT)").alias("n2"),
        F.expr("CAST(COALESCE(SUM(IF(d, n_chars, NULL)), 0) AS BIGINT)").alias("c2"),
        F.expr("CAST(COUNT(IF(k, 1, NULL)) AS BIGINT)").alias("n3"),
        F.expr("CAST(COALESCE(SUM(IF(k, n_chars, NULL)), 0) AS BIGINT)").alias("c3"),
    )
    return tot.selectExpr(
        """stack(4,
          CAST(0 AS BIGINT), 'raw', n0, c0,
            CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
          CAST(1 AS BIGINT), 'quality_gate', n1, c1, n0 - n1,
            ((n0 - n1) * 1000000) DIV n0,
          CAST(2 AS BIGINT), 'exact_dedup', n2, c2, n1 - n2,
            CASE WHEN n1 = 0 THEN CAST(NULL AS BIGINT)
              ELSE ((n1 - n2) * 1000000) DIV n1 END,
          CAST(3 AS BIGINT), 'decontam', n3, c3, n2 - n3,
            CASE WHEN n2 = 0 THEN CAST(NULL AS BIGINT)
              ELSE ((n2 - n3) * 1000000) DIV n2 END
        ) AS (stage, stage_name, n_docs, total_chars, n_dropped, drop_ppm)"""
    )


# ---------------------------------------------------------------------------
# quality_score_rank_correlation — integer-exact Spearman rank correlation
# between the engine's two document-quality signals: the rule-based
# quality score (corpus_curation's 5-point gate) and the corpus-statistics
# LM score (lm_bigram_doc_score). A curation stack runs exactly this
# check before trusting a cheap signal as a proxy for an expensive one —
# if the ranks disagree, the gates are measuring different things.
# Spearman's rho = 1 - 6*sum(d^2)/(n(n^2-1)) is integer-exact given
# total-ordered ranks (row_number with doc_id tie-breaks; the dense/
# average-rank tie variant is a documented alternative, not used, so both
# engines rank identically).
# ---------------------------------------------------------------------------


_SPEARMAN_ORACLE = (
    _LM_SCORE_CTES
    + f"""
    , qsig AS (
      SELECT doc_id, n_chars,
        len({SQL_TOKENS}) AS n_tokens,
        len(list_distinct({SQL_TOKENS})) AS n_unique,
        length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
      FROM documents
    ),
    q AS (
      SELECT doc_id, {_QSCORE_SQL} AS qscore FROM qsig
    ),
    j AS (
      SELECT q.doc_id, q.qscore, s.avg_bigram_count
      FROM q JOIN lm_scores s ON q.doc_id = s.doc_id
    ),
    r AS (
      SELECT doc_id,
        CAST(row_number() OVER (ORDER BY qscore ASC, doc_id ASC) AS BIGINT) AS r1,
        CAST(row_number() OVER (ORDER BY avg_bigram_count ASC, doc_id ASC)
          AS BIGINT) AS r2
      FROM j
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
      FROM r
    )
    SELECT n_docs, sum_d2,
      -- floor(6e6*S/D) via two-digit long division (base 1000): 6*S can
      -- reach ~2*D ~ 2*n^3 and D*1e6 overflows BIGINT past n ~ 20k (the
      -- r9 sf1 sweep caught the overflow at n = 50k); each split term
      -- stays <= D*1000 ~ 1e17
      1000000 - (
        1000000 * ((6 * sum_d2) // (n_docs * (n_docs * n_docs - 1)))
        + 1000 * ((((6 * sum_d2) % (n_docs * (n_docs * n_docs - 1))) * 1000)
                  // (n_docs * (n_docs * n_docs - 1)))
        + (((((6 * sum_d2) % (n_docs * (n_docs * n_docs - 1))) * 1000)
            % (n_docs * (n_docs * n_docs - 1))) * 1000)
          // (n_docs * (n_docs * n_docs - 1))
      ) AS spearman_ppm
    FROM agg
    """
)


def _quality_lm_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, qscore, avg_bigram_count) — the per-document signal table
    shared by the exact and the distributed Spearman entries."""
    from .search import lm_bigram_doc_score  # noqa: PLC0415

    docs = fan_out(load(spark, sf_dir, "documents"))
    qsig = docs.selectExpr("doc_id", "n_chars", "text", f"{TOKENS} AS toks").select(
        "doc_id",
        "n_chars",
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_unique"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")).alias(
            "n_punct"
        ),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_digit"),
    )
    qscore = (
        F.when(F.col("n_tokens").between(10, 100000), 1).otherwise(0)
        + F.when(F.col("n_punct").cast("double") / F.col("n_chars") < 0.1, 1).otherwise(0)
        + F.when(F.col("n_digit").cast("double") / F.col("n_chars") < 0.2, 1).otherwise(0)
        + F.when(F.col("n_unique").cast("double") / F.col("n_tokens") > 0.3, 1).otherwise(0)
        + F.when(F.col("n_chars") >= 100, 1).otherwise(0)
    )
    q = qsig.select("doc_id", qscore.alias("qscore"))
    lm = lm_bigram_doc_score(spark, sf_dir).select("doc_id", "avg_bigram_count")
    return q.join(lm, "doc_id")


def _spearman_from_ranks(r: DataFrame) -> DataFrame:
    """Exact integer Spearman ppm from a (r1, r2) rank table (shared tail of
    the exact and distributed entries; see the overflow note inline)."""
    # floor(6e6*S/D) in pure BIGINT via base-1000 long division: D = n(n^2-1)
    # reaches 1.25e14 at n = 50k, so 6e6*S (or D*1e6) overflows 2^63 — the
    # split keeps every term <= D*1000 (r9 sf1-sweep overflow fix; exact by
    # the division algorithm since S, D >= 0)
    return (
        r.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT)").alias("sum_d2"),
        )
        .selectExpr(
            "n_docs",
            "sum_d2",
            "6 * sum_d2 AS a",
            "n_docs * (n_docs * n_docs - 1) AS d",
        )
        .selectExpr(
            "n_docs",
            "sum_d2",
            "1000000 - (1000000 * (a DIV d)"
            " + 1000 * ((a % d) * 1000 DIV d)"
            " + ((a % d) * 1000 % d) * 1000 DIV d) AS spearman_ppm",
        )
    )


@register(
    "quality_score_rank_correlation",
    oracle=_SPEARMAN_ORACLE,
)
def quality_score_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho (integer ppm) between the rule and LM quality signals.

    Plan: the two per-doc signal streams join on doc_id, then two global
    row_number ranks feed one exact integer aggregate. The global windows
    run over the per-document SCORE table (one row per doc, not per
    token) — corpus-row-count-sized, the same cardinality every rank
    statistic fundamentally needs; the registered
    quality_score_rank_correlation_distributed twin computes the SAME
    ranks with range-partitioned distributed-sort rank (per-range offsets,
    no global window) and shares this entry's oracle.
    """
    j = _quality_lm_joined(spark, sf_dir)
    r = j.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.asc("qscore"), F.asc("doc_id")))
        .cast("bigint")
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.asc("avg_bigram_count"), F.asc("doc_id")))
        .cast("bigint")
        .alias("r2"),
    )
    return _spearman_from_ranks(r)


_RANK_BUCKETS = 32
_RANK_SAMPLE = 1024


def _range_partitioned_rank(
    df: DataFrame,
    value_col: str,
    rank_col: str,
    sample_from: DataFrame | None = None,
) -> DataFrame:
    """Global row_number over (value, doc_id) WITHOUT a global window —
    the distributed-sort rank: a bounded deterministic sample picks range
    boundaries, every row is bucketed by the composite (value, doc_id)
    total order, a bucket-partitioned window ranks locally, and each
    bucket's offset (count of rows in all lower buckets) is added back via
    a broadcast join.

    Exactness does NOT depend on the sample: any monotone bucketing of the
    total order yields rank = bucket_offset + local_rank exactly; the
    sample only balances bucket sizes. The sample is a k-min-hash top-K
    (TakeOrderedAndProject: map-side partial top-K, driver merge of
    32xK rows) — fixed driver memory at any corpus size, and a pure
    function of the data, so plans stay deterministic run-to-run (unlike
    approxQuantile, whose GK-sketch merge order is scheduling-dependent).
    Composite boundaries split ties of a low-cardinality value (qscore has
    6 levels) by doc_id, so no bucket is forced to hold a whole tie-run —
    the skew guarantee a value-only range partitioner cannot give.
    """
    src = sample_from if sample_from is not None else df
    sample = (
        src.select(value_col, "doc_id")
        .orderBy(F.xxhash64("doc_id").asc(), F.col("doc_id").asc())
        .limit(_RANK_SAMPLE)
        .collect()
    )
    pairs = sorted((row[0], row[1]) for row in sample)
    step = max(1, len(pairs) // _RANK_BUCKETS)
    splits = [pairs[i] for i in range(step, len(pairs), step)][: _RANK_BUCKETS - 1]
    v, d = F.col(value_col), F.col("doc_id")
    bucket = F.lit(0)
    for sv, sd in splits:
        after = (v > F.lit(sv)) | ((v == F.lit(sv)) & (d > F.lit(sd)))
        bucket = bucket + F.when(after, 1).otherwise(0)
    b = df.withColumn("_rb", bucket)
    w = Window.partitionBy("_rb").orderBy(F.asc(value_col), F.asc("doc_id"))
    local = b.withColumn("_lr", F.row_number().over(w).cast("bigint"))
    counts = b.groupBy("_rb").agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    lower = counts.select(F.col("_rb").alias("_rb2"), F.col("_cnt").alias("_cnt2"))
    offsets = (
        counts.select("_rb")
        .join(F.broadcast(lower), F.col("_rb2") < F.col("_rb"), "left")
        .groupBy("_rb")
        .agg(F.coalesce(F.sum("_cnt2"), F.lit(0)).cast("bigint").alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_rb")
        .withColumn(rank_col, (F.col("_off") + F.col("_lr")).cast("bigint"))
        .drop("_rb", "_lr", "_off")
    )


@register(
    "quality_score_rank_correlation_distributed",
    oracle=_SPEARMAN_ORACLE,
)
def quality_score_rank_correlation_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rho, same contract as quality_score_rank_correlation, with
    the two global rank windows replaced by range-partitioned
    distributed-sort ranks — the registered 100 TB twin (r12 verdict #6;
    the swap was previously documented in the exact entry's docstring and
    allowlist annotation only).

    CONSTRUCTION-TIME JOBS (deliberate, r13 advice): unlike every other
    registered query, merely BUILDING this DataFrame launches two bounded
    Spark jobs — the range boundaries are a TakeOrderedAndProject sample
    collected eagerly so they can be embedded as bucketing literals (a
    distributed sort's range partitioner does the same sampling pass
    inside the engine; here it surfaces at plan-construction). This is why
    the query is listed in plan_fingerprint.KNOWN_FIXTURE_SENSITIVE: the
    literals, and hence the fingerprint, are per-fixture.

    Plan: the shared per-doc signal table is persisted once (it feeds two
    bounded top-K sample passes, two bucketed rank passes, and the final
    aggregate); each rank = bucket-partitioned row_number + broadcast
    per-bucket offsets. No window in the plan has an empty partitionSpec
    (asserted by tests/test_plans.py's global-window audit), so no stage
    serializes the corpus through one task; the widest shuffles are keyed
    by 32 balanced composite ranges.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    j = scoped_persist(_quality_lm_joined(spark, sf_dir))
    r1 = _range_partitioned_rank(j, "qscore", "r1", sample_from=j)
    r = _range_partitioned_rank(r1, "avg_bigram_count", "r2", sample_from=j)
    return _spearman_from_ranks(r.select("doc_id", "r1", "r2"))


# ---------------------------------------------------------------------------
# domain_doc_cap — RefinedWeb-style per-domain document capping (r10): web
# pretraining corpora cap how many documents any single domain may
# contribute, keeping the highest-quality ones, so a crawl-heavy domain
# cannot dominate the mixture. `source` plays the domain role here.
#
# 100 TB plan — the hot-domain problem and its exact two-phase answer: the
# naive cap is ONE window (row_number over source), which shuffles every
# document of a domain into a single partition — the classic top-N-per-key
# skew collapse when one domain holds 10% of a 100 TB crawl. This plan
# SALTS first: top-CAP per (source, doc_id % SALT) sub-window — a provable
# SUPERSET of the global per-source top-CAP, because any row in a source's
# true top-CAP beats, within its salt, only a subset of the rows it beats
# globally, so its sub-window rank is <= its source rank <= CAP — then the
# final window ranks only CAP x SALT survivors per source. The heavy
# shuffle is keyed by (source, salt): a hot domain spreads over SALT
# partitions, and the second window's input per source is bounded by
# CAP x SALT rows regardless of domain size. The DuckDB oracle runs the
# single-window specification; the hash match proves the salted plan
# computes the identical cap.
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 15
_DOMAIN_SALT = 4

_DOC_QUALITY_SQL = """
      SELECT doc_id, source, n_chars,
        (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2 THEN 1 ELSE 0 END
         + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens > 0.3 THEN 1 ELSE 0 END
         + CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS quality_score
      FROM (
        SELECT doc_id, source, n_chars,
          len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
          len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS n_unique,
          length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
          length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
        FROM documents
      )
"""


@register(
    "domain_doc_cap",
    oracle=f"""
    WITH q AS ({_DOC_QUALITY_SQL}),
    ranked AS (
      SELECT doc_id, source, n_chars, quality_score,
        ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY quality_score DESC, n_chars DESC,
                                    doc_id ASC) AS source_rank
      FROM q
    )
    SELECT doc_id, source, n_chars, CAST(quality_score AS BIGINT) AS quality_score,
      CAST(source_rank AS BIGINT) AS source_rank
    FROM ranked WHERE source_rank <= {_DOMAIN_CAP}
    """,
)
def domain_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep each source's top {_DOMAIN_CAP} documents by
    (quality_score DESC, n_chars DESC, doc_id ASC) — RefinedWeb's
    domain-frequency control, computed with the salted two-phase exact
    top-N plan (module note above: sub-window per (source, doc_id %
    {_DOMAIN_SALT}) emits a provable superset, the final window ranks
    <= {_DOMAIN_CAP}x{_DOMAIN_SALT} rows per source, so no partition ever
    holds a whole hot domain)."""
    return _domain_cap_stages(spark, sf_dir)["out"]


def _domain_cap_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Stage-exposing builder (the `_simhash64_stages` pattern) so
    tools/domain_skew_probe.py can measure the phase-1 survivor bound
    directly: `survivors` carries at most CAP×SALT rows per source no
    matter how many documents the hottest domain holds."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    q = docs.selectExpr(
        "doc_id",
        "source",
        "n_chars",
        f"size({TOKENS}) AS n_tokens",
        f"size(array_distinct({TOKENS})) AS n_unique",
        "length(regexp_replace(lower(text), '[a-z0-9\\\\s]', '')) AS n_punct",
        "length(regexp_replace(text, '[^0-9]', '')) AS n_digit",
    ).selectExpr(
        "doc_id",
        "source",
        "n_chars",
        "(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END"
        " + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1D THEN 1 ELSE 0 END"
        " + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2D THEN 1 ELSE 0 END"
        " + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens > 0.3D THEN 1 ELSE 0 END"
        " + CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS quality_score",
    )
    order = [
        F.col("quality_score").desc(),
        F.col("n_chars").desc(),
        F.col("doc_id").asc(),
    ]
    # phase 1: bounded sub-window per (source, salt) — the skew-proof pass
    w_salt = Window.partitionBy("source", F.pmod("doc_id", F.lit(_DOMAIN_SALT))).orderBy(
        *order
    )
    survivors = (
        q.withColumn("salt_rank", F.row_number().over(w_salt))
        .filter(F.col("salt_rank") <= _DOMAIN_CAP)
        .drop("salt_rank")
    )
    # phase 2: exact rank over <= CAP*SALT rows per source
    w = Window.partitionBy("source").orderBy(*order)
    out = (
        survivors.withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= _DOMAIN_CAP)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("quality_score").cast("bigint").alias("quality_score"),
            F.col("source_rank").cast("bigint").alias("source_rank"),
        )
    )
    return {"scored": q, "survivors": survivors, "out": out}
