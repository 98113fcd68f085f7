"""Corpus/table profiling operators: global vocabulary and per-group column
statistics — the "know your data" layer of a training pipeline.

corpus_vocabulary is the canonical wordcount shape: explode -> groupBy(token)
with map-side partial aggregation (hot stopword-like tokens are exactly the
case partial agg exists for), then a deterministic top-k via
TakeOrderedAndProject — no full-sort shuffle for a LIMIT.

table_profile computes per-group count / min / max / exact percentiles /
decimal-safe mean. Exact `percentile` is used because it is bit-identical to
DuckDB's quantile_cont (verified: linear interpolation over the sorted
values); at 100 TB you swap in `approx_percentile` (t-digest sketch, no
per-group sort) — the query shape is unchanged. The mean aggregates in
DECIMAL and casts to DOUBLE at the boundary: summing doubles directly is
partition-order-dependent and not reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import fan_out, load
from ..functions.text import TOKENS
from ..registry import register

_TOP_K_TOKENS = 50


@register(
    "corpus_vocabulary",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    )
    SELECT token,
      COUNT(*) AS n_occurrences,
      COUNT(DISTINCT doc_id) AS n_docs
    FROM x
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT {_TOP_K_TOKENS}
    """,
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} corpus tokens by occurrence count, with document frequency.
    Deterministic total order (count DESC, token ASC) so the top-k boundary
    is stable across engines and partitionings."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    x = docs.selectExpr("doc_id", f"explode({TOKENS}) AS token")
    return (
        x.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(_TOP_K_TOKENS)
    )


@register(
    "table_profile",
    oracle="""
    SELECT l_returnflag,
      COUNT(*) AS n_rows,
      MIN(l_quantity) AS min_qty,
      MAX(l_quantity) AS max_qty,
      quantile_cont(l_quantity, 0.5) AS med_qty,
      quantile_cont(l_quantity, 0.9) AS p90_qty,
      quantile_cont(l_extendedprice, 0.5) AS med_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS mean_price,
      COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag profile of lineitem: counts, extrema, exact median/p90
    (swap to approx_percentile at scale), decimal-safe mean, distinct parts."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("med_price"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@register("table_profile_approx", oracle=None)  # rows-only: sketch output
def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB swap for `table_profile`: `approx_percentile`
    (t-digest-style sketch, mergeable partial state, NO per-group sort)
    replaces exact `percentile`. Registered rows-only by design — the
    sketch's answers are accuracy-bounded, not bit-reproducible across
    engines; tests/test_approx.py pins the error bound against the exact
    operator instead. Shape and column contract are identical to
    table_profile, so a caller flips one name at scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("med_qty"),
        F.expr("approx_percentile(l_quantity, 0.9, 10000)").alias("p90_qty"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("med_price"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
        F.expr("approx_count_distinct(l_partkey)").alias("n_parts"),
    )


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension distribution profile of the embedding
# column: the sanity pass every vector pipeline runs before indexing
# (dead dimensions, scale drift between model versions, outlier dims that
# dominate L2 distance). Values are fixed-pointed to integer micro-units
# (floor(v * 1e6)) BEFORE aggregation, so every sum is exact integer
# arithmetic and the cross-engine hash cannot drift on float summation
# order; mean/variance leave as IEEE-double expressions over those exact
# integer sums, identical in both engines.
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    oracle="""
    WITH u AS (
      SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
      FROM embeddings
    ),
    m AS (
      SELECT dim,
        CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS v_micro
      FROM u
    )
    SELECT CAST(dim AS BIGINT) AS dim,
      CAST(COUNT(*) AS BIGINT) AS n_values,
      CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
      CAST(MIN(v_micro) AS BIGINT) AS min_micro,
      CAST(MAX(v_micro) AS BIGINT) AS max_micro,
      CAST(SUM(v_micro) AS DOUBLE) / COUNT(*) AS mean_micro,
      (CAST(SUM(v_micro * v_micro) AS DOUBLE)
        - CAST(SUM(v_micro) AS DOUBLE) * CAST(SUM(v_micro) AS DOUBLE) / COUNT(*))
        / COUNT(*) AS var_micro2
    FROM m
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension count/sum/min/max/mean/variance over the vector column.

    Plan: posexplode (64 rows per vector) -> groupBy(dim) with map-side
    partial aggregation into 64 groups — the shuffle after partial agg is
    (n_partitions x 64) pre-combined rows regardless of table size, so the
    query is scan-bound at any scale. At 100 TB the BIGINT accumulators
    need headroom: micro-units square to ~1e13 per value, so the sum-of-
    squares column overflows past ~1e6 rows per (partition, dim) group —
    the production swap is DECIMAL(38,0) accumulators (same plan, exact
    arithmetic, ~2x agg cost); counts/min/max are unaffected.

    Determinism: fixed-point micro conversion is floor over an exact
    dyadic double (float->double widening is value-preserving, *1e6 and
    floor are correctly-rounded IEEE ops), so both engines aggregate
    identical integers; the mean/var doubles are then single-expression
    IEEE arithmetic over integers < 2^63, which both engines round
    identically.
    """
    u = load(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "v")
    )
    m = u.selectExpr(
        "CAST(pos + 1 AS BIGINT) AS dim",
        "CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS v_micro",
    )
    return m.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("v_micro").alias("sum_micro"),
        F.min("v_micro").alias("min_micro"),
        F.max("v_micro").alias("max_micro"),
        F.expr("CAST(SUM(v_micro) AS DOUBLE) / COUNT(*)").alias("mean_micro"),
        F.expr(
            "(CAST(SUM(v_micro * v_micro) AS DOUBLE)"
            " - CAST(SUM(v_micro) AS DOUBLE) * CAST(SUM(v_micro) AS DOUBLE) / COUNT(*))"
            " / COUNT(*)"
        ).alias("var_micro2"),
    )


# ---------------------------------------------------------------------------
# embedding_quantile_normalize — rank-based per-dimension normalization
# (the quantile transform): each value is replaced by its midpoint-rank
# quantile within its dimension, making every dimension uniformly
# distributed — the robust preprocessing step before distance-based
# indexing when dimensions have wildly different scales. Integer-exact:
# ranks over micro-unit values with vec_id tie-breaks, quantiles as
# floor-ppm of (2*rank - 1) / (2*n).
# ---------------------------------------------------------------------------


@register(
    "embedding_quantile_normalize",
    oracle="""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        unnest(embedding) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS v_micro
      FROM u
    ),
    r AS (
      SELECT vec_id, dim, v_micro,
        CAST(row_number() OVER (
          PARTITION BY dim ORDER BY v_micro ASC, vec_id ASC
        ) AS BIGINT) AS rnk,
        CAST(COUNT(*) OVER (PARTITION BY dim) AS BIGINT) AS n
      FROM m
    )
    SELECT vec_id, dim, v_micro, rnk,
      ((2 * rnk - 1) * 1000000) // (2 * n) AS quantile_ppm
    FROM r
    """,
)
def embedding_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of every embedding dimension.

    Plan: posexplode -> ONE dim-partitioned window serving both the
    row_number and the partition count (same sort, one exchange). With 64
    dimensions the shuffle has 64 keys — at 100 TB each dimension's
    partition is corpus-sized, so the production variant range-partitions
    WITHIN dimension ((dim, value-range) composite keys from an
    approx-quantile pre-pass, then offsets per range by the preceding
    ranges' counts — the classic distributed-sort rank); the output
    contract is unchanged. Ranks are total-ordered (v_micro, vec_id), so
    the quantile assignment is engine-exact; ppm is integer floor-div.
    """
    u = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    )
    m = u.selectExpr(
        "vec_id",
        "CAST(pos + 1 AS BIGINT) AS dim",
        "CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS v_micro",
    )
    from pyspark.sql import Window  # noqa: PLC0415

    wd = Window.partitionBy("dim")
    w = wd.orderBy(F.asc("v_micro"), F.asc("vec_id"))
    return (
        m.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wd).cast("bigint"))
        .selectExpr(
            "vec_id",
            "dim",
            "v_micro",
            "rnk",
            "((2 * rnk - 1) * 1000000) DIV (2 * n) AS quantile_ppm",
        )
    )


# ---------------------------------------------------------------------------
# embedding_norm_outliers — per-vector L2 norm (micro-units) flagged
# against the corpus norm distribution: vectors whose norm sits more than
# 2 sigma from the mean are suspect (truncated inputs, encoder version
# drift, zero vectors) and every vector pipeline quarantines them before
# indexing. The in-row sum of squares is over exact micro-unit integers
# (order-free), the global mean/sigma over exact integer sums, so the flag
# is engine-deterministic.
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_outliers",
    oracle="""
    WITH n AS (
      SELECT vec_id,
        CAST(floor(sqrt(CAST(list_aggregate(
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                 * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
          'sum') AS DOUBLE))) AS BIGINT) AS norm_micro
      FROM embeddings
    ),
    s AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(SUM(norm_micro) AS BIGINT) AS sum_norm,
        CAST(SUM(norm_micro * norm_micro) AS BIGINT) AS sum_norm2
      FROM n
    )
    SELECT n.vec_id, n.norm_micro,
      CAST(s.sum_norm AS DOUBLE) / s.n_vecs AS mean_norm_micro,
      sqrt((CAST(s.sum_norm2 AS DOUBLE)
        - CAST(s.sum_norm AS DOUBLE) * CAST(s.sum_norm AS DOUBLE) / s.n_vecs)
        / s.n_vecs) AS sd_norm_micro,
      abs(CAST(n.norm_micro AS DOUBLE) - CAST(s.sum_norm AS DOUBLE) / s.n_vecs)
        > CAST(2 AS DOUBLE) * sqrt((CAST(s.sum_norm2 AS DOUBLE)
          - CAST(s.sum_norm AS DOUBLE) * CAST(s.sum_norm AS DOUBLE) / s.n_vecs)
          / s.n_vecs) AS is_outlier
    FROM n CROSS JOIN s
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + 2-sigma outlier flag against the corpus.

    Plan: the norm is a zero-shuffle in-row fold (exact integers, so fold
    order is irrelevant); the corpus stats are ONE map-side-combined
    aggregate producing a single row that broadcast-joins back onto the
    vector stream — two scans of a columnar single-column projection, no
    big shuffle anywhere. At 100 TB the stats row is still one row; the
    only growing cost is the scans. BIGINT headroom: sum of norm_micro^2
    is ~6.4e13 per vector — the DECIMAL(38,0) accumulator swap applies
    past ~1e5 vectors per partition group (documented in
    embedding_dim_stats).
    """
    n = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "CAST(floor(sqrt(CAST(aggregate("
        " transform(embedding,"
        "  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
        "       * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, y) -> acc + y) AS DOUBLE))) AS BIGINT)"
        " AS norm_micro",
    )
    s = n.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("norm_micro").alias("sum_norm"),
        F.expr("CAST(SUM(norm_micro * norm_micro) AS BIGINT)").alias("sum_norm2"),
    )
    mean = "CAST(sum_norm AS DOUBLE) / n_vecs"
    sd = (
        "sqrt((CAST(sum_norm2 AS DOUBLE)"
        " - CAST(sum_norm AS DOUBLE) * CAST(sum_norm AS DOUBLE) / n_vecs)"
        " / n_vecs)"
    )
    return n.crossJoin(F.broadcast(s)).selectExpr(
        "vec_id",
        "norm_micro",
        f"{mean} AS mean_norm_micro",
        f"{sd} AS sd_norm_micro",
        f"abs(CAST(norm_micro AS DOUBLE) - {mean})"
        f" > CAST(2 AS DOUBLE) * {sd} AS is_outlier",
    )


# ---------------------------------------------------------------------------
# embedding_power_iteration — the top principal direction of the embedding
# cloud via distributed power iteration: v_{k+1} ∝ Σ_i x_i (x_i · v_k),
# i.e. repeated application of the Gram matrix WITHOUT materializing it
# (X^T X is d², but X^T(Xv) is two linear passes). This is the PCA/
# spectral building block a vector pipeline runs for drift detection and
# whitening; three fixed iterations demonstrate the convergent structure
# (the kmeans_iterate / bpe_train_merges recursion-as-CTEs model).
#
# Engine-exact fixed-point schedule (no float accumulation anywhere):
#   x, v in integer micro-units; per-vector dots are exact BIGINT sums;
#   dots rescale by floor(double/1e9) (explicit floor — Spark DIV and
#   DuckDB // both truncate, so neither is used on signed values);
#   per-dim re-projections are exact BIGINT sums; the norm squares in
#   DECIMAL(38,0) (w² overflows BIGINT) and the only doubles are
#   single-expression IEEE chains over exact integers, identical in both
#   engines.
# ---------------------------------------------------------------------------

_PI_ITERS = 3
_PI_DOT_SCALE = 1_000_000_000
_PI_DIMS = 64


def _pi_oracle() -> str:
    ctes = [
        """x AS (
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
        CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x_micro
      FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
          unnest(embedding) AS v
        FROM embeddings
      )
    )""",
        f"""v0 AS (
      SELECT CAST(d AS BIGINT) AS dim, CAST(125000 AS BIGINT) AS v_micro
      FROM generate_series(1, {_PI_DIMS}) t(d)
    )""",
    ]
    for k in range(1, _PI_ITERS + 1):
        ctes.append(f"""dots{k} AS (
      SELECT x.vec_id,
        CAST(floor(CAST(SUM(x.x_micro * v.v_micro) AS DOUBLE)
             / {_PI_DOT_SCALE}) AS BIGINT) AS dot_s
      FROM x JOIN v{k - 1} v ON x.dim = v.dim
      GROUP BY x.vec_id
    )""")
        ctes.append(f"""w{k} AS (
      SELECT x.dim, CAST(SUM(x.x_micro * d.dot_s) AS BIGINT) AS w
      FROM x JOIN dots{k} d ON x.vec_id = d.vec_id
      GROUP BY x.dim
    )""")
        ctes.append(f"""n{k} AS (
      SELECT CAST(floor(sqrt(CAST(SUM(CAST(w AS DECIMAL(38,0))
             * CAST(w AS DECIMAL(38,0))) AS DOUBLE))) AS BIGINT) AS nrm
      FROM w{k}
    )""")
        ctes.append(f"""v{k} AS (
      SELECT dim,
        CAST(floor(CAST(w AS DOUBLE) * 1000000 / CAST(nrm AS DOUBLE))
          AS BIGINT) AS v_micro
      FROM w{k} CROSS JOIN n{k}
    )""")
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iteration, dim, v_micro FROM v{k}"
        for k in range(1, _PI_ITERS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@register("embedding_power_iteration", oracle=_pi_oracle())
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power-iteration steps toward the top principal direction.

    Plan per iteration: dot pass = broadcast the 64-row direction onto the
    exploded (vec_id, dim, x_micro) stream (scoped-persisted once, reused
    by all iterations), groupBy(vec_id) with map-side combine; projection
    pass = vec_id-keyed join to the per-vector dots, groupBy(dim) into 64
    combined groups; norm = a one-row aggregate broadcast back. At 100 TB
    each iteration is two linear shuffles (vector-keyed, then dim-keyed,
    the second pre-combined to 64 x partitions rows) — the Gram matrix
    never exists, which is the entire point of the X^T(Xv) factoring.
    Every iteration's direction is persisted to cut the growing lineage
    (the kmeans_iterate precedent). Zero-norm input (all-zero corpus)
    would divide by zero; real corpora cannot produce it from the uniform
    start, and the operator documents rather than masks that edge.
    """
    from ..functions.cache import release_persisted, scoped_persist  # noqa: PLC0415

    release_persisted()  # drop any prior invocation's cached intermediates

    # NOTE (r14): a repartition("vec_id") before this persist — intended to
    # let all three iterations reuse one exchange (guide §2.4) — was tried
    # and REVERTED: the extra shuffle + caching the post-shuffle layout
    # measured 2.1s -> 5.7s steady / 1.4s -> 13.5s stage-CPU at sf0.1
    # (tools/opt_measure.py A/B, OPTIMIZATION_r14.md §2.4-details).
    x = scoped_persist(
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .selectExpr(
            "vec_id",
            "CAST(pos + 1 AS BIGINT) AS dim",
            "CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS x_micro",
        )
    )
    v = spark.range(1, _PI_DIMS + 1).selectExpr(
        "id AS dim", "CAST(125000 AS BIGINT) AS v_micro"
    )
    outs = []
    for k in range(1, _PI_ITERS + 1):
        dots = (
            x.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.expr("SUM(x_micro * v_micro)").alias("dot"))
            .selectExpr(
                "vec_id",
                f"CAST(floor(CAST(dot AS DOUBLE) / {_PI_DOT_SCALE}) AS BIGINT)"
                " AS dot_s",
            )
        )
        w = (
            x.join(dots, "vec_id")
            .groupBy("dim")
            .agg(F.expr("CAST(SUM(x_micro * dot_s) AS BIGINT)").alias("w"))
        )
        norm = w.agg(
            F.expr(
                "CAST(floor(sqrt(CAST(SUM(CAST(w AS DECIMAL(38,0))"
                " * CAST(w AS DECIMAL(38,0))) AS DOUBLE))) AS BIGINT)"
            ).alias("nrm")
        )
        v = scoped_persist(
            w.crossJoin(F.broadcast(norm)).selectExpr(
                "dim",
                "CAST(floor(CAST(w AS DOUBLE) * 1000000 / CAST(nrm AS DOUBLE))"
                " AS BIGINT) AS v_micro",
            )
        )
        outs.append(
            v.selectExpr(f"CAST({k} AS BIGINT) AS iteration", "dim", "v_micro")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# winsorized_group_stats — robust per-group pricing stats: clip
# l_extendedprice to its group's [p05, p95] before averaging, reporting
# how much was clipped on each side. The outlier-resistant mean every
# metrics pipeline publishes next to the raw mean when a few extreme rows
# (bad feeds, fat-finger prices) would otherwise move it. Exactness:
# prices become integer cents, percentile bounds floor to integer cents
# (any deterministic rule works; floor is pinned), clipping and summation
# stay in exact BIGINT, and only the final means are doubles over exact
# integer sums.
# ---------------------------------------------------------------------------


@register(
    "winsorized_group_stats",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(cents) AS BIGINT) AS sum_cents,
        CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS p05_cents,
        CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS p95_cents
      FROM c GROUP BY l_returnflag
    ),
    w AS (
      SELECT c.l_returnflag,
        CAST(SUM(LEAST(GREATEST(c.cents, b.p05_cents), b.p95_cents)) AS BIGINT)
          AS wsum_cents,
        CAST(COUNT(*) FILTER (WHERE c.cents < b.p05_cents) AS BIGINT)
          AS n_clipped_low,
        CAST(COUNT(*) FILTER (WHERE c.cents > b.p95_cents) AS BIGINT)
          AS n_clipped_high
      FROM c JOIN b ON c.l_returnflag = b.l_returnflag
      GROUP BY c.l_returnflag
    )
    SELECT b.l_returnflag, b.n_rows, b.p05_cents, b.p95_cents,
      w.n_clipped_low, w.n_clipped_high,
      CAST(b.sum_cents AS DOUBLE) / b.n_rows AS raw_mean_cents,
      CAST(w.wsum_cents AS DOUBLE) / b.n_rows AS winsorized_mean_cents
    FROM b JOIN w ON b.l_returnflag = w.l_returnflag
    """,
)
def winsorized_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) mean price per return flag.

    Plan: pass 1 computes per-group exact percentiles + raw sums (one
    groupBy over integer cents; `percentile` is bit-matched to DuckDB's
    quantile_cont — table_profile's verified property — and at 100 TB
    swaps to approx_percentile with the same contract); the 3-row bounds
    table broadcasts back onto the fact stream for the clipped re-sum.
    Two scans, one tiny broadcast, exact integer arithmetic everywhere
    but the final double divisions.
    """
    c = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag", "CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents"
    )
    b = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.expr("CAST(floor(percentile(cents, 0.05)) AS BIGINT)").alias("p05_cents"),
        F.expr("CAST(floor(percentile(cents, 0.95)) AS BIGINT)").alias("p95_cents"),
    )
    w = (
        c.join(F.broadcast(b.select("l_returnflag", "p05_cents", "p95_cents")),
               "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "CAST(SUM(LEAST(GREATEST(cents, p05_cents), p95_cents)) AS BIGINT)"
            ).alias("wsum_cents"),
            F.expr("CAST(COUNT(IF(cents < p05_cents, 1, NULL)) AS BIGINT)").alias(
                "n_clipped_low"
            ),
            F.expr("CAST(COUNT(IF(cents > p95_cents, 1, NULL)) AS BIGINT)").alias(
                "n_clipped_high"
            ),
        )
    )
    return b.join(w, "l_returnflag").selectExpr(
        "l_returnflag",
        "n_rows",
        "p05_cents",
        "p95_cents",
        "n_clipped_low",
        "n_clipped_high",
        "CAST(sum_cents AS DOUBLE) / n_rows AS raw_mean_cents",
        "CAST(wsum_cents AS DOUBLE) / n_rows AS winsorized_mean_cents",
    )
