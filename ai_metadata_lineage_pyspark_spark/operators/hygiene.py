"""Corpus-hygiene operators for training-data pipelines over `documents`:
hashed linear quality classification, intra-document window dedup, PII
scrub, and language-mixture budget allocation.

Beyond-reference operators (BASELINE.json north-star) completing the
curation surface: where text.py scores documents with hand-set heuristics,
this module adds the *model-shaped* and *policy-shaped* stages a production
corpus pipeline runs between filtering and sampling.

Scale notes: the classifier, window-dedup, and PII scrub are pure per-row
JVM expression work (split / higher-order folds / regexp / md5) — zero
shuffle, whole-stage codegen, scan-speed at 100 TB with column pruning.
`lang_mix_allocation` shuffles once on the (tiny-cardinality) language key
and resolves the global total via a 1-row broadcast, never a full-table
window.

Determinism contract: classifier weights are md5-derived integers, window
counts are exact integers, ratios are single int/int IEEE divisions,
sqrt-weights take sqrt of an exact BIGINT (bit-identical across engines)
and floor to micros before any further arithmetic; allocations use integer
floor-division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import fan_out, load
from ..functions.text import SQL_TOKENS, TOKENS
from ..registry import register

# hashed-feature linear model: weight(token) = md5-bucket in [-1000, 1000].
# The md5 prefix parse is the proven cross-engine uniform-hash pattern
# (dedup.py MinHash, sampling.py strata gates).
_W_SPARK = "cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint) % 2001 - 1000"
_W_SQL = "('0x' || substr(md5(t), 1, 8))::BIGINT % 2001 - 1000"

_WIN = 8  # intra-doc dedup window width (tokens)

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
# dictionary denylist standing in for a custom-terms scrub list (the
# synthetic corpus has no real PII; the regex classes exercise the same
# plumbing and count 0 on it)
_DENY_RE = "\\b(customer|vector)\\b"


@register(
    "quality_classifier_score",
    oracle=f"""
    SELECT doc_id,
      len({SQL_TOKENS}) AS n_tokens,
      CAST(list_sum(list_transform({SQL_TOKENS}, t -> {_W_SQL})) AS BIGINT)
        AS weight_sum,
      CAST(list_sum(list_transform({SQL_TOKENS}, t -> {_W_SQL})) AS DOUBLE)
        / len({SQL_TOKENS}) AS score
    FROM documents
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier (fastText-style architecture
    with deterministic md5-derived weights standing in for trained ones):
    score(doc) = mean over tokens of weight(token), weights in [-1000,1000].

    This is the *shape* of a production quality/toxicity classifier stage —
    feature hashing avoids any vocabulary table (no dictionary broadcast,
    no OOV handling), so the whole model evaluates inside whole-stage
    codegen at scan speed; swapping real trained weights in means replacing
    the hash-weight expression with a broadcast map lookup or a Pandas-UDF
    model call, with identical plumbing."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    wsum = F.expr(
        f"aggregate(transform(toks, t -> {_W_SPARK}), 0L, (acc, x) -> acc + x)"
    )
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            wsum.alias("weight_sum"),
        )
        .withColumn(
            "score", F.col("weight_sum").cast("double") / F.col("n_tokens")
        )
    )


@register(
    "intradoc_window_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
        CASE WHEN len({SQL_TOKENS}) >= {_WIN}
          THEN list_transform(
            generate_series(1, len({SQL_TOKENS}) - {_WIN - 1}),
            i -> array_to_string({SQL_TOKENS}[i:i + {_WIN - 1}], ' '))
          ELSE [] END AS wins
      FROM documents
    )
    SELECT doc_id,
      len(wins) AS n_windows,
      len(list_distinct(wins)) AS n_distinct,
      len(wins) - len(list_distinct(wins)) AS n_dup_windows,
      CASE WHEN len(wins) > 0
        THEN CAST(len(wins) - len(list_distinct(wins)) AS DOUBLE) / len(wins)
        ELSE 0.0 END AS dup_ratio
    FROM w
    """,
)
def intradoc_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition dedup: slide a {_WIN}-token window over each
    document and count repeated windows — the per-document stage of
    paragraph/line dedup (as applied to web corpora) where repeated
    boilerplate inside one document is detected before any cross-document
    comparison.

    All window materialization is per-row higher-order array work (no
    explode — the windows never leave the row, so there is NO shuffle and
    no row-count blow-up; an explode-based variant would multiply the
    shuffle volume by ~n_tokens). Guarded sequence: Spark's sequence(a, b)
    runs DESCENDING when b < a, so short docs take the empty-array branch
    explicitly."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    wins = F.expr(
        f"CASE WHEN size(toks) >= {_WIN} THEN transform("
        f"  sequence(1, size(toks) - {_WIN - 1}),"
        f"  i -> concat_ws(' ', slice(toks, i, {_WIN})))"
        f" ELSE array() END"
    )
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .select("doc_id", wins.alias("wins"))
        .select(
            "doc_id",
            F.size("wins").alias("n_windows"),
            F.size(F.array_distinct("wins")).alias("n_distinct"),
        )
        .withColumn("n_dup_windows", F.col("n_windows") - F.col("n_distinct"))
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double") / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
        )
    )


@register(
    "pii_redact",
    oracle=f"""
    SELECT doc_id,
      len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
      len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
      len(regexp_extract_all(text, '{_DENY_RE}')) AS n_denylist,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_PHONE_RE}', '<PHONE>', 'g'),
        '{_DENY_RE}', '<REDACTED>', 'g')) AS redacted_hash
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact email / phone regex classes plus a
    custom-terms denylist, emitting the redacted-text fingerprint (the text
    itself stays executor-side; only counts and the hash come back).

    Redaction order is fixed (email, phone, denylist) so the output hash is
    well-defined. Pure per-row regexp work — zero shuffle, scan-speed; at
    100 TB the redacted text would be written back columnar rather than
    hashed, with the same plan shape. Patterns stay in the RE2-compatible
    subset (no backreferences/lookahead) so Java and DuckDB agree."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _DENY_RE,
        "<REDACTED>",
    )
    # lit-column patterns, NOT F.expr-embedded strings: the Spark SQL parser
    # unescapes backslashes inside string literals ('\b' -> 'b'), silently
    # neutering the regex; the Python-side API passes patterns verbatim
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phone"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_DENY_RE), F.lit(0))).alias(
            "n_denylist"
        ),
        F.md5(redacted).alias("redacted_hash"),
    )


@register(
    "lang_mix_allocation",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
        COUNT(*) AS n_docs,
        CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY lang
    ),
    weighted AS (
      SELECT *,
        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
          AS w_micro
      FROM per_lang
    )
    SELECT lang, n_docs, n_tokens, w_micro,
      CAST(w_micro * 1000000 // (SELECT SUM(w_micro) FROM weighted) AS BIGINT)
        AS alloc_ppm
    FROM weighted
    """,
)
def lang_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture budget allocation: give each language a sampling
    share proportional to sqrt(token count) — the standard
    temperature-style reweighting (tau = 2) that upsamples low-resource
    languages relative to proportional sampling.

    Exactness: sqrt runs on an exact BIGINT token count (one IEEE op,
    bit-identical across engines) and floors to integer micro-weights
    BEFORE summation, so the global total is an exact integer sum and the
    final share is integer floor-division — no cross-row float accumulation
    anywhere. Plan: one groupBy on the ~|languages| key, 1-row broadcast
    for the total (Q11 scalar-subquery pattern), never a full-table
    window."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr(TOKENS))).alias("n_tokens"),
    )
    weighted = per_lang.withColumn(
        "w_micro",
        F.expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)"),
    )
    total = weighted.agg(F.sum("w_micro").alias("total_w"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .withColumn("alloc_ppm", F.expr("CAST(w_micro * 1000000 div total_w AS BIGINT)"))
        .select("lang", "n_docs", "n_tokens", "w_micro", "alloc_ppm")
    )


# ---------------------------------------------------------------------------
# perceptron_quality_step — distributed TRAINING of a linear quality probe:
# two full-batch perceptron epochs over surface features, in exact integer
# arithmetic (no sigmoid/exp, so no libm drift) — the oracle-able core of
# fitting the very classifier quality_classifier_score evaluates.
# ---------------------------------------------------------------------------

# integer surface features per doc: length signal, lexical diversity,
# volume, bias. Label: is-English (+1/-1) — a weak-supervision probe of
# whether surface stats separate the dominant language.
_PCT_FEATS_SPARK = (
    "n_chars DIV 100",
    f"size(array_distinct({TOKENS}))",
    f"size({TOKENS})",
    "1",
)
_PCT_FEATS_SQL = (
    "n_chars // 100",
    "len(list_distinct(regexp_split_to_array(lower(text), '\\s+')))",
    "len(regexp_split_to_array(lower(text), '\\s+'))",
    "1",
)
_PCT_LABEL_SPARK = "IF(lang = 'en', 1, -1)"
_PCT_LABEL_SQL = "CASE WHEN lang = 'en' THEN 1 ELSE -1 END"
_PCT_NAMES = ("w_len", "w_distinct", "w_tokens", "w_bias")


def _pct_oracle() -> str:
    f = _PCT_FEATS_SQL
    feats = ",\n        ".join(
        f"CAST({e} AS BIGINT) AS x{i}" for i, e in enumerate(f)
    )
    upd1 = ", ".join(f"CAST(SUM(y * x{i}) AS BIGINT) AS w{i}" for i in range(4))
    margin = " + ".join(f"w.w{i} * f.x{i}" for i in range(4))
    upd2 = ", ".join(
        f"CAST(COALESCE(SUM(y * x{i}) FILTER (WHERE y * ({margin}) <= 0), 0)"
        f" AS BIGINT) AS u{i}"
        for i in range(4)
    )
    sel_w1 = ", ".join(f"w{i} AS {n}" for i, n in enumerate(_PCT_NAMES))
    sel_w2 = ", ".join(f"w.w{i} + u.u{i} AS {n}" for i, n in enumerate(_PCT_NAMES))
    return f"""
    WITH feats AS (
      SELECT {_PCT_LABEL_SQL} AS y,
        {feats}
      FROM documents
    ),
    w1 AS (SELECT {upd1}, CAST(COUNT(*) AS BIGINT) AS n_updates FROM feats),
    s2 AS (
      SELECT {upd2},
        CAST(COUNT(*) FILTER (WHERE y * ({margin}) <= 0) AS BIGINT) AS n_updates
      FROM feats f CROSS JOIN w1 w
    )
    SELECT 1 AS step, n_updates, {sel_w1} FROM w1
    UNION ALL
    SELECT 2 AS step, u.n_updates, {sel_w2} FROM w1 w CROSS JOIN s2 u
    """


@register("perceptron_quality_step", oracle=_pct_oracle())
def perceptron_quality_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled full-batch perceptron epochs (w0 = 0, so epoch 1's
    update is the class-weighted feature sum over ALL docs; epoch 2 updates
    on the docs the epoch-1 weights still misclassify). Everything is
    BIGINT — feature sums, margins, updates — so the trained weights are
    bit-identical across engines AND partitionings, which float gradient
    descent can never be (summation-order-dependent).

    Scale shape per epoch: one corpus scan; the update aggregation is 4
    integer sums with map-side combine (the shuffle carries ONE row of 4
    longs); the running weight vector re-enters as a 1-row broadcast cross
    join. This is exactly how a linear probe / logreg-by-SGD-epoch fits on
    a 1000-executor cluster — the model state is driver-sized, the data
    never moves."""
    f = _PCT_FEATS_SPARK
    feats = load(spark, sf_dir, "documents").select(
        F.expr(_PCT_LABEL_SPARK).alias("y"),
        *[F.expr(f"CAST({e} AS BIGINT)").alias(f"x{i}") for i, e in enumerate(f)],
    )
    w1 = feats.agg(
        *[F.sum(F.expr(f"y * x{i}")).alias(f"w{i}") for i in range(4)],
        F.count(F.lit(1)).alias("n_updates"),
    )
    margin = " + ".join(f"w{i} * x{i}" for i in range(4))
    miscl = f"y * ({margin}) <= 0"
    s2 = (
        feats.crossJoin(F.broadcast(w1))
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.expr(miscl), F.expr(f"y * x{i}"))), F.lit(0)
                ).alias(f"u{i}")
                for i in range(4)
            ],
            F.count(F.when(F.expr(miscl), 1)).alias("n2"),
        )
    )
    row1 = w1.select(
        F.lit(1).alias("step"),
        "n_updates",
        *[F.col(f"w{i}").alias(n) for i, n in enumerate(_PCT_NAMES)],
    )
    row2 = (
        w1.crossJoin(s2)
        .select(
            F.lit(2).alias("step"),
            F.col("n2").alias("n_updates"),
            *[
                F.expr(f"w{i} + u{i}").alias(n)
                for i, n in enumerate(_PCT_NAMES)
            ],
        )
    )
    return row1.unionByName(row2)
