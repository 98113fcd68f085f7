"""Text-analysis operators for training-data pipelines over `documents`:
language-ID (stopword-hit heuristic), quality scoring, token statistics,
and document fingerprinting.

These are beyond-reference operators (BASELINE.json north-star): the large-
scale LLM-data-pipeline surface layered on the fixture `documents` table.

Scale notes: everything is per-row JVM expression work (split / higher-order
array functions / regexp / hashes) — no shuffle at all, embarrassingly
parallel, whole-stage codegen. At 100 TB these run at scan speed with
column pruning (only `doc_id`/`text` are read).

Determinism contract: all ratios are int/int double divisions (exact IEEE,
identical across engines); token arrays come from the corpus tokenizer in
functions/text.py (`TOKENS`, lower + `\\s+` split; the oracles split the
same way in DuckDB, exact on the ASCII fixtures); hashes are md5/sha256 hex
strings (identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import fan_out, load
from ..functions.text import TOKENS
from ..registry import register

# Tiny per-language stopword lists for the heuristic language classifier.
# Deterministic argmax with fixed preference order on ties.
_LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "avec"),
    "es": ("el", "la", "los", "que", "es", "no", "por", "con"),
}


def _hits_toks_expr(words: tuple[str, ...]) -> str:
    # over a pre-materialized `toks` column: higher-order functions are
    # interpreted (no codegen CSE across columns), so embedding the split in
    # every per-language filter re-splits the text once per language —
    # measured ~30% slower than splitting once in a prior projection
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"size(filter(toks, x -> x IN ({quoted})))"


def _hits_sql(words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x IN ({quoted})))"


@register(
    "text_langid",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang AS lang_actual,
        {_hits_sql(_LANG_STOPWORDS['en'])} AS en_hits,
        {_hits_sql(_LANG_STOPWORDS['de'])} AS de_hits,
        {_hits_sql(_LANG_STOPWORDS['fr'])} AS fr_hits,
        {_hits_sql(_LANG_STOPWORDS['es'])} AS es_hits
      FROM documents
    )
    SELECT doc_id, lang_actual, en_hits, de_hits, fr_hits, es_hits,
      CASE
        WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'und'
        WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        WHEN fr_hits >= es_hits THEN 'fr'
        ELSE 'es'
      END AS lang_pred
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts + argmax.

    Beyond-reference op (north-star); corpus-document text handling parallels
    qa/build_corpus.py:50-79, which treats doc text as opaque strings.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    hits = docs.selectExpr("doc_id", "lang", f"{TOKENS} AS toks").select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *[
            F.expr(_hits_toks_expr(words)).alias(f"{lang}_hits")
            for lang, words in _LANG_STOPWORDS.items()
        ],
    )
    en, de, fr, es = (F.col(f"{code}_hits") for code in ("en", "de", "fr", "es"))
    return hits.withColumn(
        "lang_pred",
        F.when((en == 0) & (de == 0) & (fr == 0) & (es == 0), "und")
        .when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es"),
    )


@register(
    "text_token_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
        regexp_split_to_array(lower(text), '\\s+') AS toks,
        regexp_extract_all(lower(text), '[a-z]+') AS word_toks
      FROM documents
    )
    SELECT doc_id, n_chars,
      len(toks) AS n_tokens,
      len(list_distinct(toks)) AS n_unique_tokens,
      len(word_toks) AS n_word_tokens,
      CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT)
        AS total_token_chars,
      CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
        / len(toks) AS avg_token_len,
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS unique_ratio
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens + uniqueness.

    The `[a-z]+` regex pass is the BPE-ish pre-tokenizer stand-in; both are
    per-row JVM work.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    # split once, derive counts once, ratios from the counted columns — the
    # raw expression repeated the split/distinct/aggregate per output column
    return (
        docs.selectExpr("doc_id", "n_chars", f"{TOKENS} AS toks", "lower(text) AS lt")
        .selectExpr(
            "doc_id",
            "n_chars",
            "size(toks) AS n_tokens",
            "size(array_distinct(toks)) AS n_unique_tokens",
            "size(regexp_extract_all(lt, '[a-z]+', 0)) AS n_word_tokens",
            "aggregate(toks, 0, (acc, x) -> acc + length(x)) AS total_token_chars",
        )
        .selectExpr(
            "doc_id",
            "n_chars",
            "n_tokens",
            "n_unique_tokens",
            "n_word_tokens",
            "total_token_chars",
            "cast(total_token_chars as double) / n_tokens AS avg_token_len",
            "cast(n_unique_tokens as double) / n_tokens AS unique_ratio",
        )
    )


@register(
    "text_quality_score",
    bench=True,
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
        len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
        len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS n_unique,
        length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
        len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            x -> x IN ('the', 'and', 'of', 'to', 'is', 'in', 'a', 'for'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_chars, n_tokens,
      CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
      CAST(n_digit AS DOUBLE) / n_chars AS digit_ratio,
      CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
      CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
      (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
       + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1 ELSE 0 END
       + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2 THEN 1 ELSE 0 END
       + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens > 0.3 THEN 1 ELSE 0 END
       + CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / punctuation / digit / stopword /
    uniqueness ratios, combined into an integer 0-5 score."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    t = docs.selectExpr(
        "doc_id", "lang", "n_chars", "text", f"{TOKENS} AS toks"
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr("size(toks)").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").alias("n_unique"),
        F.length(F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")).alias("n_punct"),
        F.length(F.regexp_replace(F.col("text"), r"[^0-9]", "")).alias("n_digit"),
        F.expr(
            "size(filter(toks, x -> x IN ('the', 'and', 'of', 'to', 'is', 'in', 'a', 'for')))"
        ).alias("n_stop"),
    )
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars")
    digit_ratio = F.col("n_digit").cast("double") / F.col("n_chars")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    uniq_ratio = F.col("n_unique").cast("double") / F.col("n_tokens")
    score = (
        F.when(F.col("n_tokens").between(10, 100000), 1).otherwise(0)
        + F.when(punct_ratio < 0.1, 1).otherwise(0)
        + F.when(digit_ratio < 0.2, 1).otherwise(0)
        + F.when(uniq_ratio > 0.3, 1).otherwise(0)
        + F.when(F.col("n_chars") >= 100, 1).otherwise(0)
    )
    return t.select(
        "doc_id",
        "lang",
        "n_chars",
        "n_tokens",
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        score.alias("quality_score"),
    )


# Longest equal-run length in the SORTED token array == max per-token count:
# a per-row O(n log n) fold with a tiny struct accumulator — the 100 TB shape
# (zero shuffle), vs the relational explode -> groupBy(doc, token) -> max,
# which shuffles every token. The oracle uses the relational form (DuckDB
# has no streaming fold with early termination semantics to mirror exactly);
# both compute the same number.
_TOP_RUN_FOLD = """
aggregate(
  array_sort(toks),
  named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
  (acc, x) -> named_struct(
    'prev', x,
    'run', if(x <=> acc.prev, acc.run + 1, 1),
    'best', greatest(acc.best, if(x <=> acc.prev, acc.run + 1, 1))),
  acc -> acc.best)
"""

_BIGRAMS = "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents
    ),
    f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM f),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY doc_id, tok),
    top AS (SELECT doc_id, MAX(c) AS top_token_count FROM c GROUP BY doc_id),
    b AS (
      SELECT f.doc_id, len(f.toks) AS n_tokens, top.top_token_count,
        len(list_distinct(list_transform(range(len(f.toks) - 1),
            i -> f.toks[i + 1] || ' ' || f.toks[i + 2]))) AS n_distinct_bigrams
      FROM f JOIN top ON f.doc_id = top.doc_id
    )
    SELECT doc_id, n_tokens, top_token_count,
      CAST(top_token_count AS DOUBLE) / n_tokens AS top_token_fraction,
      CAST(n_distinct_bigrams AS DOUBLE) / (n_tokens - 1) AS distinct_bigram_ratio,
      (CAST(top_token_count AS DOUBLE) / n_tokens > 0.2
       OR CAST(n_distinct_bigrams AS DOUBLE) / (n_tokens - 1) < 0.5) AS repetitive
    FROM b
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/FineWeb filter family):
    most-frequent-token fraction and distinct-bigram ratio, plus a
    `repetitive` gate. All per-row expression work — no shuffle."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 2")
        .selectExpr(
            "doc_id",
            "cast(size(toks) AS bigint) AS n_tokens",
            f"cast({_TOP_RUN_FOLD} AS bigint) AS top_token_count",
            f"cast(size(array_distinct({_BIGRAMS})) AS bigint) AS n_distinct_bigrams",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "top_token_count",
            "cast(top_token_count AS double) / n_tokens AS top_token_fraction",
            "cast(n_distinct_bigrams AS double) / (n_tokens - 1) AS distinct_bigram_ratio",
            "(cast(top_token_count AS double) / n_tokens > 0.2"
            " OR cast(n_distinct_bigrams AS double) / (n_tokens - 1) < 0.5) AS repetitive",
        )
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5,
      sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_sha256,
      substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8) AS fp_prefix
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace-normalized md5/sha256 digest.

    The reference derives SHA-1 doc ids from text (qa/build_corpus.py:33-35);
    md5/sha256 are used here because both engines implement them identically.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.sha2(norm, 256).alias("fp_sha256"),
        F.substring(F.md5(norm), 1, 8).alias("fp_prefix"),
    )


# ---------------------------------------------------------------------------
# token_length_histogram — corpus length-distribution profile: equal-width
# token-count buckets (10 tokens wide, top-coded at bucket 20) with per-
# bucket doc counts and token mass. The standard pre-training length audit
# (what gets truncated at the model's context length? what's too short to
# keep?). One scan, per-row bucket arithmetic, then a tiny groupBy whose
# partials combine map-side — bucket cardinality is 21 regardless of corpus
# size, so the shuffle is constant-width at any scale.
# ---------------------------------------------------------------------------


@register(
    "token_length_histogram",
    oracle="""
    WITH t AS (
      SELECT len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT CAST(least(n_tokens // 10, 20) AS BIGINT) AS bucket,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      MIN(n_tokens) AS min_tokens,
      MAX(n_tokens) AS max_tokens
    FROM t
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of whitespace-token counts: width-10 buckets, top-coded at
    200+ tokens (bucket 20), with doc and token totals per bucket."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return (
        docs.selectExpr(f"size({TOKENS}) AS n_tokens")
        .selectExpr("cast(least(n_tokens div 10, 20) as bigint) AS bucket", "n_tokens")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# arrow_token_stats — mapInArrow: the zero-conversion Arrow-native variant.
# ---------------------------------------------------------------------------


@register(
    "arrow_token_stats",
    oracle="""
    SELECT doc_id,
      len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
      CAST(length(text) AS BIGINT) AS n_chars_exact
    FROM documents
    """,
)
def arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token and character counts via mapInArrow — the
    lowest-overhead Python interop class: batches arrive as pyarrow
    RecordBatches and the computation runs entirely in Arrow compute
    kernels (C++), never materializing pandas objects or Python rows. Vs
    mapInPandas it skips the Arrow->pandas->Arrow conversion both ways; the
    pattern to reach for when the vectorized kernel you need lives in a
    Python library (tokenizers, feature extractors) rather than in Spark.

    The split is pyarrow's RE2 `\\s+` over `utf8_lower`, as DuckDB's is, not
    the JVM's `functions/text.py::TOKENS`: RE2's `\\s` does not match `\\x0b`
    (Java's does, so `a\\x0bb` is one token here and two there), and
    pyarrow lowercases non-ASCII text differently (`İx` becomes `ix` here,
    `i̇x` in Spark). On such text its `n_tokens` differs from the JVM token
    counts of `text_token_stats` and `token_length_histogram`; the fixtures
    hold neither, and this query's oracle is DuckDB's RE2 split."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for batch in batches:
            text = batch.column("text")
            toks = pc.split_pattern_regex(pc.utf8_lower(text), r"\s+")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.list_value_length(toks).cast(pa.int64()),
                    pc.utf8_length(text).cast(pa.int64()),
                ],
                names=["doc_id", "n_tokens", "n_chars_exact"],
            )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        stats, schema="doc_id long, n_tokens long, n_chars_exact long"
    )


# ---------------------------------------------------------------------------
# token_simpson_diversity — lexical diversity per document via the Simpson/
# Herfindahl index over token frequencies: repeat_prob = sum_t k_t^2 / n^2
# is the probability two uniformly drawn tokens are the same type;
# diversity = 1 - repeat_prob. The integer-exact cousin of Shannon entropy
# (no log() to drift across engines) and a standard repetitiveness signal
# alongside text_repetition_stats' distinct-ratio columns.
# ---------------------------------------------------------------------------


@register(
    "token_simpson_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents
    ),
    k AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
        CAST(list_aggregate(
          list_transform(list_distinct(toks),
                         x -> len(list_filter(toks, y -> y = x))
                              * len(list_filter(toks, y -> y = x))),
          'sum') AS BIGINT) AS sum_k2
      FROM t
    )
    SELECT doc_id, n_tokens, n_types, sum_k2,
      CAST(sum_k2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        AS repeat_prob,
      CAST(1 AS DOUBLE) - CAST(sum_k2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        AS simpson_diversity
    FROM k
    """,
)
def token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Simpson lexical-diversity index, computed entirely IN-ROW.

    Plan: zero shuffles — the type-frequency fold runs inside one
    projection over the scan (distinct types x tokens per row, bounded by
    document length), so the operator is embarrassingly parallel at any
    scale; contrast lm_bigram_doc_score, whose signal needs corpus-global
    shuffles. The per-row cost is O(types * tokens); for pathological
    single-doc lengths the swap is the explode + groupBy(doc_id, token)
    two-shuffle shape, same output.

    Determinism: counts are exact integers; the two double divisions are
    single IEEE expressions over those integers, bit-identical across
    engines (registry float rule).
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    return (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .selectExpr(
            "doc_id",
            "CAST(size(toks) AS BIGINT) AS n_tokens",
            "CAST(size(array_distinct(toks)) AS BIGINT) AS n_types",
            "CAST(aggregate(transform(array_distinct(toks),"
            " x -> size(filter(toks, y -> y = x)) * size(filter(toks, y -> y = x))),"
            " 0, (acc, v) -> acc + v) AS BIGINT) AS sum_k2",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_types",
            "sum_k2",
            "CAST(sum_k2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
            " AS repeat_prob",
            "CAST(1 AS DOUBLE) - CAST(sum_k2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
            " AS simpson_diversity",
        )
    )


# ---------------------------------------------------------------------------
# langid_confusion_matrix — the evaluation rollup of the heuristic
# language classifier against the labeled `lang` column: one row per
# (actual, predicted) cell with both marginals and the conditional rates
# (diagonal cells read as per-class recall/precision). The audit every
# langid deployment publishes before its output is trusted as a routing
# key for language-specific pipelines.
# ---------------------------------------------------------------------------


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang AS lang_actual,
        {_hits_sql(_LANG_STOPWORDS['en'])} AS en_hits,
        {_hits_sql(_LANG_STOPWORDS['de'])} AS de_hits,
        {_hits_sql(_LANG_STOPWORDS['fr'])} AS fr_hits,
        {_hits_sql(_LANG_STOPWORDS['es'])} AS es_hits
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang_actual,
        CASE
          WHEN en_hits = 0 AND de_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'und'
          WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
          WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
          WHEN fr_hits >= es_hits THEN 'fr'
          ELSE 'es'
        END AS lang_pred
      FROM hits
    ),
    cells AS (
      SELECT lang_actual, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_actual, lang_pred
    )
    SELECT lang_actual, lang_pred, n,
      CAST(SUM(n) OVER (PARTITION BY lang_actual) AS BIGINT) AS n_actual_total,
      CAST(SUM(n) OVER (PARTITION BY lang_pred) AS BIGINT) AS n_pred_total,
      (n * 1000000) // SUM(n) OVER (PARTITION BY lang_actual) AS recall_ppm,
      (n * 1000000) // SUM(n) OVER (PARTITION BY lang_pred) AS precision_ppm
    FROM cells
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion cells + marginals + conditional rates for text_langid.

    Plan: the per-doc classifier projection (one scan, in-row stopword
    folds) collapses straight into a (actual, pred) groupBy — at most
    |langs|^2 pre-combined rows leave the map side; the two marginal sums
    then run as windows over that tiny cell table (negligible at any
    corpus size). Rates are integer floor-ppm; totals are positive by
    construction (every cell row implies its marginals >= n), so no
    divide-by-zero guard is needed.
    """
    cells = (
        text_langid(spark, sf_dir)
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    wa = Window.partitionBy("lang_actual")
    wp = Window.partitionBy("lang_pred")
    return (
        cells.withColumn("n_actual_total", F.sum("n").over(wa).cast("bigint"))
        .withColumn("n_pred_total", F.sum("n").over(wp).cast("bigint"))
        .selectExpr(
            "lang_actual",
            "lang_pred",
            "n",
            "n_actual_total",
            "n_pred_total",
            "(n * 1000000) DIV n_actual_total AS recall_ppm",
            "(n * 1000000) DIV n_pred_total AS precision_ppm",
        )
    )
