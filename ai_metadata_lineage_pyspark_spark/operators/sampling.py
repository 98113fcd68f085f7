"""Deterministic sampling operators for training-data pipelines:
stratified downsampling and train/val/test splitting over `documents`.

Beyond-reference surface (BASELINE.json north-star). Both operators key
every decision on a content-independent md5 of the stable doc_id — NOT on
`rand()` or Spark's engine-specific `hash()` — so:

* the sample is reproducible across runs, engines (the DuckDB oracle
  replays it exactly), partitionings and cluster sizes;
* re-running over a grown corpus keeps previously-selected rows selected
  (per-row decision, no global state);
* there is no shuffle at all — both are pure scan + filter/project, the
  ideal 100 TB shape. Per-stratum rates are a tiny broadcast map (a CASE
  expression here).

`pmod(('0x' || md5[:8]), 100)` is uniform over [0, 100) for md5's output
distribution, so a rate of r% keeps ≈ r% of each stratum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import load
from ..functions.text import TOKENS
from ..registry import register

# md5-derived bucket in [0, 100): identical expression in both engines.
_BUCKET_SPARK = (
    "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100)"
)
_BUCKET_SQL = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)"

# stratified rates: downsample the dominant language, keep the tail.
_RATES = {"en": 20, "de": 60, "fr": 60}
_DEFAULT_RATE = 90


def _rate_case_spark() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())
    return f"CASE lang {whens} ELSE {_DEFAULT_RATE} END"


@register(
    "stratified_sample",
    bench=True,
    oracle=f"""
    WITH s AS (
      SELECT lang, doc_id, n_chars, {_BUCKET_SQL} AS bucket,
        CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 60 WHEN 'fr' THEN 60
                  ELSE {_DEFAULT_RATE} END AS rate
      FROM documents
    )
    SELECT lang,
      COUNT(*) AS n_total,
      COUNT(*) FILTER (WHERE bucket < rate) AS n_sampled,
      MIN(doc_id) FILTER (WHERE bucket < rate) AS min_sampled_doc,
      CAST(SUM(n_chars) FILTER (WHERE bucket < rate) AS BIGINT) AS sampled_chars
    FROM s
    GROUP BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified downsampling with deterministic hash gates:
    keep a row iff its md5 bucket falls under the stratum's rate. Zero
    shuffle for the sample itself; the rollup here exists to make the
    selection auditable (and oracle-checkable) as counts per stratum."""
    docs = load(spark, sf_dir, "documents")
    s = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.expr(_rate_case_spark()).alias("rate"),
    )
    keep = F.col("bucket") < F.col("rate")
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(keep, 1)).alias("n_sampled"),
        F.min(F.when(keep, F.col("doc_id"))).alias("min_sampled_doc"),
        F.sum(F.when(keep, F.col("n_chars"))).alias("sampled_chars"),
    )


_PACK_BLOCK = 200  # docs per packing block
_PACK_BUDGET = 2000  # token budget per shard


@register(
    "shard_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, doc_id // {_PACK_BLOCK} AS block,
        len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang, block ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    ),
    s AS (SELECT *, CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS shard_id FROM c)
    SELECT lang, block, shard_id,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
      MIN(doc_id) AS min_doc_id,
      MAX(doc_id) AS max_doc_id
    FROM s
    GROUP BY lang, block, shard_id
    """,
)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (training-sequence packing): docs are
    greedily packed in id order until each shard's cumulative token count
    crosses the budget; a doc starts a new shard when the running total
    before it already filled the current one.

    Packing is a prefix-sum, inherently sequential — so it runs inside
    bounded (lang, block) partitions that pack independently in parallel.
    That is the 100 TB design: a single global orderBy would serialize the
    whole corpus through one partition; block-local packing keeps shards
    deterministic AND embarrassingly parallel, at the cost of at most one
    underfull shard per block."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = docs.select(
        "doc_id",
        "lang",
        F.expr(f"doc_id div {_PACK_BLOCK}").alias("block"),
        F.expr(f"size({TOKENS})").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "shard_id", F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}")
    )
    return s.groupBy("lang", "block", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "train_val_test_split",
    oracle=f"""
    WITH s AS (
      SELECT lang, n_chars, {_BUCKET_SQL} AS bucket FROM documents
    ),
    labeled AS (
      SELECT lang, n_chars,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM s
    )
    SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM labeled
    GROUP BY split, lang
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from the same md5 bucket: every
    row's split is a pure function of its id, so splits are stable under
    reprocessing and corpus growth (no leakage from rows migrating between
    splits). Output is the per-(split, lang) audit rollup."""
    docs = load(spark, sf_dir, "documents")
    s = docs.select("lang", "n_chars", F.expr(_BUCKET_SPARK).alias("bucket"))
    labeled = s.select(
        "lang",
        "n_chars",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return labeled.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# weighted_doc_sample — per-row Bernoulli sampling with a data-dependent
# keep-rate (importance sampling by document quality proxy).
# ---------------------------------------------------------------------------

# keep-rate in percent, a pure function of row content: longer docs are
# kept more aggressively, clamped to [10, 90]. Integer arithmetic only.
_WEIGHT_RATE = "least(90, greatest(10, n_chars DIV 20))"
_WEIGHT_RATE_SQL = "least(90, greatest(10, n_chars // 20))"


@register(
    "weighted_doc_sample",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id, n_chars, {_BUCKET_SQL} AS bucket,
        {_WEIGHT_RATE_SQL} AS rate
      FROM documents
    )
    SELECT source,
      COUNT(*) AS n_total,
      COUNT(*) FILTER (WHERE bucket < rate) AS n_sampled,
      CAST(SUM(rate) AS BIGINT) AS expected_pct_sum,
      MIN(doc_id) FILTER (WHERE bucket < rate) AS min_sampled_doc,
      CAST(SUM(n_chars) FILTER (WHERE bucket < rate) AS BIGINT) AS sampled_chars
    FROM s
    GROUP BY source
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with per-row weights: each doc's keep-rate is a
    function of its own quality proxy (length), and the keep decision is
    the same deterministic md5 gate the stratified sampler uses — so the
    weighted sample is reproducible across engines, partitionings and
    corpus growth, with zero shuffle for the selection itself.
    `expected_pct_sum` (the exact integer sum of keep-rates) is the audit
    column: n_sampled should track expected_pct_sum/100 per source."""
    docs = load(spark, sf_dir, "documents")
    s = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.expr(_WEIGHT_RATE).alias("rate"),
    )
    keep = F.col("bucket") < F.col("rate")
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(keep, 1)).alias("n_sampled"),
        F.sum("rate").alias("expected_pct_sum"),
        F.min(F.when(keep, F.col("doc_id"))).alias("min_sampled_doc"),
        F.sum(F.when(keep, F.col("n_chars"))).alias("sampled_chars"),
    )


# ---------------------------------------------------------------------------
# doc_mixture_schedule — multi-epoch annealed domain-mixture sampling plan
# (curriculum schedule): per epoch the keep-rate per source rises toward
# uniform, and each epoch draws an INDEPENDENT deterministic sample (the
# gate hashes doc_id and epoch together).
# ---------------------------------------------------------------------------

_MIX_EPOCHS = 3
# base keep-rate percent per source index (source = 'src<k>'): spreads the
# 20 fixture sources over five rate tiers. Identical integer expression in
# both engines.
_BASE_RATE = "20 + 14 * ({idx} % 5)"
_EPOCH_ANNEAL = 15  # percentage points added per epoch past the first

_EPOCH_BUCKET_SPARK = (
    "pmod(cast(conv(substr(md5(concat(cast(doc_id as string), ':', cast(epoch as string))),"
    " 1, 8), 16, 10) as bigint), 100)"
)
_EPOCH_BUCKET_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)),"
    " 1, 8))::BIGINT % 100)"
)


@register(
    "doc_mixture_schedule",
    oracle=f"""
    WITH epochs AS (SELECT unnest(range(1, {_MIX_EPOCHS + 1})) AS epoch),
    s AS (
      SELECT d.source, d.doc_id, d.n_chars, e.epoch,
        CAST(substr(d.source, 4) AS BIGINT) AS src_idx
      FROM documents d CROSS JOIN epochs e
    ),
    rated AS (
      SELECT *,
        least(100, {_BASE_RATE.format(idx="src_idx")} + {_EPOCH_ANNEAL} * (epoch - 1)) AS rate,
        {_EPOCH_BUCKET_SQL} AS bucket
      FROM s
    )
    SELECT epoch, source, rate,
      COUNT(*) AS n_docs,
      CAST(COUNT(*) * rate // 100 AS BIGINT) AS expected_docs,
      COUNT(*) FILTER (WHERE bucket < rate) AS n_sampled,
      CAST(SUM(n_chars) FILTER (WHERE bucket < rate) AS BIGINT) AS sampled_chars
    FROM rated
    GROUP BY epoch, source, rate
    """,
)
def doc_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annealed mixture schedule: epoch 1 samples sources at tiered base
    rates (domain weighting), later epochs anneal every source toward
    uniform inclusion — the standard curriculum shape for pre-training data
    (specialize early epochs, flatten later ones).

    Each (doc, epoch) keep decision hashes doc_id WITH the epoch, so
    epochs draw independent deterministic samples rather than nested
    subsets. The plan is a scan × tiny epoch range (a 3-row broadcast-able
    cross join), one rollup shuffle; no per-epoch corpus re-scan at 100 TB
    — one pass emits every epoch's allocation."""
    docs = load(spark, sf_dir, "documents")
    epochs = spark.range(1, _MIX_EPOCHS + 1).select(F.col("id").alias("epoch"))
    s = docs.crossJoin(F.broadcast(epochs)).select(
        "source",
        "doc_id",
        "n_chars",
        "epoch",
        F.expr("CAST(substr(source, 4) AS BIGINT)").alias("src_idx"),
    )
    rated = s.select(
        "*",
        F.expr(
            f"least(100, {_BASE_RATE.format(idx='src_idx')} + {_EPOCH_ANNEAL} * (epoch - 1))"
        ).alias("rate"),
        F.expr(_EPOCH_BUCKET_SPARK).alias("bucket"),
    )
    keep = F.col("bucket") < F.col("rate")
    return rated.groupBy("epoch", "source", "rate").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(COUNT(1) * rate DIV 100 AS BIGINT)").alias("expected_docs"),
        F.count(F.when(keep, 1)).alias("n_sampled"),
        F.sum(F.when(keep, F.col("n_chars"))).alias("sampled_chars"),
    )


# ---------------------------------------------------------------------------
# token_budget_waterfill — per-domain token budget allocation (r7): given a
# total training-token budget, allocate it across language domains by
# water-filling: small domains are fully funded, large domains are capped
# at a common water level C chosen so the allocations exactly exhaust the
# budget. The closed-form solve (sort domains ascending, find the largest
# prefix that can be fully funded, split the remainder evenly with
# deterministic +1s) replaces the iterative bisection a naive
# implementation would run.
# ---------------------------------------------------------------------------

_WF_BUDGET_NUM, _WF_BUDGET_DEN = 7, 10  # budget = 70% of corpus tokens


@register(
    "token_budget_waterfill",
    oracle=f"""
    WITH tok AS (
      SELECT lang AS domain,
        CAST(SUM(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> ''))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ),
    b AS (
      SELECT CAST(SUM(n_tok) * {_WF_BUDGET_NUM} // {_WF_BUDGET_DEN} AS BIGINT)
               AS budget,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tok
    ),
    r AS (
      SELECT domain, n_tok,
        ROW_NUMBER() OVER (ORDER BY n_tok ASC, domain ASC) AS rn,
        SUM(n_tok) OVER (ORDER BY n_tok ASC, domain ASC
                         ROWS UNBOUNDED PRECEDING) AS prefix
      FROM tok
    ),
    j AS (
      SELECT CAST(COALESCE(MAX(rn), 0) AS BIGINT) AS j
      FROM r, b
      WHERE prefix + n_tok * (b.n - rn) <= b.budget
    ),
    jp AS (
      SELECT j.j,
        COALESCE((SELECT prefix FROM r WHERE r.rn = j.j), 0) AS pj
      FROM j
    ),
    cap AS (
      SELECT jp.j,
        CASE WHEN b.n > jp.j
             THEN (b.budget - jp.pj) // (b.n - jp.j) ELSE 0 END AS c,
        CASE WHEN b.n > jp.j
             THEN (b.budget - jp.pj) % (b.n - jp.j) ELSE 0 END AS rem
      FROM b, jp
    )
    SELECT r.domain, r.n_tok AS n_tokens,
      CAST(CASE WHEN r.rn <= cap.j THEN r.n_tok
                ELSE cap.c + CASE WHEN r.rn - cap.j <= cap.rem
                                  THEN 1 ELSE 0 END
           END AS BIGINT) AS allocation,
      r.rn <= cap.j AS fully_funded
    FROM r, cap
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across language domains:
    allocation_i = min(n_tok_i, C) with the water level C solved in closed
    form, plus a deterministic +1 remainder spread (capped domains in
    ascending token order) so SUM(allocation) == budget EXACTLY in integer
    arithmetic.

    Scale shape: the corpus is scanned ONCE for the per-domain token
    counts (map-side combinable aggregate); everything after runs on the
    DOMAIN table, whose cardinality is the number of languages — the
    unpartitioned ranking window and the 1-row scalar cross-joins are
    bounded by that cardinality, never by corpus size (the quality.py
    doctrine for constant-size control tables). The fully-funded prefix j
    is found as max{{rn: prefix_rn + t_rn * (n - rn) <= B}} — the
    standard sorted-prefix water-fill solve — and both the fully-funded
    and capped branches are exercised by the fixture's skewed language
    mix (en ~43% of tokens vs ~13% each for the rest)."""
    from pyspark.sql.window import Window

    tok = (
        load(spark, sf_dir, "documents")
        .groupBy(F.col("lang").alias("domain"))
        .agg(
            F.expr(
                f"CAST(SUM(size(filter({TOKENS}, x -> x <> ''))) AS BIGINT)"
            ).alias("n_tok")
        )
    )
    b = tok.agg(
        F.expr(
            f"CAST(SUM(n_tok) * {_WF_BUDGET_NUM} DIV {_WF_BUDGET_DEN} AS BIGINT)"
        ).alias("budget"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy(F.col("n_tok").asc(), F.col("domain").asc())
    r = tok.select(
        "domain",
        "n_tok",
        F.row_number().over(w).alias("rn"),
        F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
    )
    j = (
        r.join(F.broadcast(b), F.expr("prefix + n_tok * (n - rn) <= budget"))
        .agg(F.coalesce(F.max("rn"), F.lit(0)).cast("long").alias("j"))
    )
    pj = (
        j.join(F.broadcast(r), F.col("rn") == F.col("j"), "left")
        .select("j", F.coalesce(F.col("prefix"), F.lit(0)).alias("pj"))
    )
    cap = (
        F.broadcast(b)
        .crossJoin(F.broadcast(pj))
        .select(
            "j",
            F.expr(
                "CASE WHEN n > j THEN (budget - pj) DIV (n - j) ELSE 0 END"
            ).alias("c"),
            F.expr(
                "CASE WHEN n > j THEN (budget - pj) % (n - j) ELSE 0 END"
            ).alias("rem"),
        )
    )
    return r.crossJoin(F.broadcast(cap)).select(
        "domain",
        F.col("n_tok").alias("n_tokens"),
        F.expr(
            "CAST(CASE WHEN rn <= j THEN n_tok"
            " ELSE c + CASE WHEN rn - j <= rem THEN 1 ELSE 0 END END AS BIGINT)"
        ).alias("allocation"),
        F.expr("rn <= j").alias("fully_funded"),
    )


# ---------------------------------------------------------------------------
# stratified_topk_sample — EXACT-k per-stratum sampling: each language
# keeps its k=20 docs with the smallest md5(doc_id) — the fixed-size eval
# set builder (rate-based stratified_sample gives proportional but
# variable-size samples; benchmarks and human-review queues need exactly
# k per stratum). Hash-ranked, so the selection is a deterministic
# function of doc_id alone: stable under reordering, re-partitioning, and
# corpus growth that doesn't touch the chosen ids' hash order.
# ---------------------------------------------------------------------------

_STRAT_K = 20


@register(
    "stratified_topk_sample",
    oracle=f"""
    SELECT lang, doc_id, n_chars, sample_rank FROM (
      SELECT lang, doc_id, n_chars,
        CAST(row_number() OVER (
          PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        ) AS BIGINT) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {_STRAT_K}
    """,
)
def stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=20 hash-selected docs per language stratum.

    Plan: ONE lang-partitioned window (row_number over the md5 order).
    At 100 TB per-stratum sorts are the cost; the production swap keeps
    the same contract with a per-partition top-k pre-prune (Spark's
    WindowGroupLimit pushes rank<=k below the exchange, so each map task
    ships at most k rows per stratum — the top_parts_per_segment
    property, plan-asserted there). Selection depends only on doc_id, so
    it is reproducible across runs and engines.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.asc("doc_id")
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= _STRAT_K)
    )
