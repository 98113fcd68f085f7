"""Benchmark decontamination: flag training documents that share n-gram
shingles with a held-out evaluation set.

Test-set contamination silently inflates benchmark scores, so removing (or
at least flagging) training docs that overlap the eval set is a standard
step in a pretraining-data pipeline. The overlap test here is exact
3-token-shingle overlap — the same shingle definition the MinHash dedup
family uses (operators/dedup.py), so one shingling pass can feed both at
scale.

Fixture protocol: the "benchmark" is the deterministic slice
`doc_id % 50 == 0` of `documents` (~2% of the corpus), standing in for an
external eval table with the same schema.

100 TB design: the eval side is benchmark-sized (thousands of docs, not
billions) — its distinct shingle set broadcasts, so the training corpus is
ONE scan + broadcast-hash semi-style join on the shingle, no shuffle of the
big side. The per-doc rollup then groups only surviving (contaminated)
rows. Never join train-to-train; contamination is train x eval only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import fan_out, load
from ..functions.text import _SHINGLES_FROM_TOKS, _SQL_SHINGLES, SQL_TOKENS, TOKENS
from ..registry import register

_EVAL_MOD = 50


@register(
    "benchmark_decontam",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    eval_sh AS (
      SELECT doc_id AS eval_id, shingle FROM x WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train_sh AS (
      SELECT doc_id, shingle FROM x WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    totals AS (
      SELECT doc_id, len(shingles) AS n_shingles FROM sh
      WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    hits AS (
      SELECT t.doc_id,
        COUNT(DISTINCT t.shingle) AS n_shared_shingles,
        COUNT(DISTINCT e.eval_id) AS n_eval_docs
      FROM train_sh t JOIN eval_sh e ON t.shingle = e.shingle
      GROUP BY t.doc_id
    )
    SELECT h.doc_id, totals.n_shingles, h.n_shared_shingles, h.n_eval_docs,
      CAST(h.n_shared_shingles AS DOUBLE) / totals.n_shingles AS shared_fraction
    FROM hits h JOIN totals ON h.doc_id = totals.doc_id
    """,
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc contamination report against the eval slice:
    distinct shared shingles, distinct eval docs hit, and the shared
    fraction of the doc's own shingle set."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    sh = (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    # shingle arrays are already distinct per doc (array_distinct in the
    # shingler), so exploded rows are distinct (doc, shingle) pairs
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    eval_sh = exploded.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    train_sh = exploded.filter(~is_eval)
    totals = sh.filter(~is_eval).select("doc_id", F.size("shingles").alias("n_shingles"))
    hits = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_shared_shingles",
        "n_eval_docs",
        (F.col("n_shared_shingles").cast("double") / F.col("n_shingles")).alias(
            "shared_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# bloom_decontam — the SAME contamination test routed through a Bloom
# filter: the broadcast side becomes a fixed m-bit position set instead of
# the raw eval shingle set, so its size is bounded by m (2^20 here) no
# matter how many eval benchmarks are loaded. k=3 md5-derived hash
# functions, identical literal expressions in both engines, so the filter
# (and its false positives) are bit-deterministic and oracle-checkable.
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 20
# Deliberately tiny second filter: at m=2^20 the fixture's eval set fills
# ~0.3% of the bit space and produces ZERO false positives, so the FP
# census would never execute its interesting branch. m=2048 pushes the
# fill ratio to ~50%+, so the registered small-m variant keeps the
# false-positive arithmetic itself under the driver's hash check.
_BLOOM_M_SMALL = 2048
_BLOOM_K = 3


def _bloom_pos_spark(i: int, m: int) -> str:
    return (
        f"pmod(cast(conv(substr(md5(concat('b{i}:', shingle)), 1, 8), 16, 10)"
        f" as bigint), {m})"
    )


def _bloom_pos_duck(i: int, m: int) -> str:
    return f"(('0x' || substr(md5('b{i}:' || shingle), 1, 8))::BIGINT % {m})"


def _bloom_oracle(m: int) -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    eval_x AS (
      SELECT DISTINCT shingle FROM x WHERE doc_id % {_EVAL_MOD} = 0
    ),
    eval_pos AS (
      SELECT DISTINCT p FROM (
        SELECT unnest([{_bloom_pos_duck(0, m)}, {_bloom_pos_duck(1, m)},
                       {_bloom_pos_duck(2, m)}]) AS p
        FROM eval_x
      )
    ),
    tr_pos AS (
      SELECT doc_id, shingle,
        unnest([{_bloom_pos_duck(0, m)}, {_bloom_pos_duck(1, m)},
                {_bloom_pos_duck(2, m)}]) AS p
      FROM x WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    matched AS (
      SELECT t.doc_id, t.shingle, COUNT(*) AS k_hit
      FROM tr_pos t JOIN eval_pos e ON e.p = t.p
      GROUP BY t.doc_id, t.shingle
    ),
    per_sh AS (
      SELECT m.doc_id,
        CASE WHEN m.k_hit = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit,
        CASE WHEN ex.shingle IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
      FROM matched m LEFT JOIN eval_x ex ON ex.shingle = m.shingle
    ),
    tot AS (
      SELECT doc_id, len(shingles) AS n_shingles FROM sh
      WHERE doc_id % {_EVAL_MOD} <> 0
    )
    SELECT p.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
      CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
      CAST(SUM(exact_hit) AS BIGINT) AS n_exact_hits,
      CAST(SUM(bloom_hit) - SUM(exact_hit) AS BIGINT) AS n_false_positives
    FROM per_sh p JOIN tot t ON t.doc_id = p.doc_id
    GROUP BY p.doc_id, t.n_shingles
    HAVING SUM(bloom_hit) > 0
    """


@register("bloom_decontam", oracle=_bloom_oracle(_BLOOM_M))
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination with a built-in
    false-positive census.

    Why this exists next to `benchmark_decontam`: the exact test
    broadcasts the eval SHINGLE SET, which grows with the number of
    benchmarks; the Bloom route broadcasts at most m={2**20} distinct bit
    positions regardless of eval volume — the shape that still broadcasts
    when dozens of eval suites are loaded. A training shingle is flagged
    iff all k={3} of its md5-derived positions are set. Every hash is an
    identical literal expression in both engines (the repo's established
    `md5 -> first-8-hex-digits -> int` idiom from operators/sampling.py),
    so the filter's exact false-positive behavior is hash-checked, not
    just its happy path.

    The n_exact_hits / n_false_positives columns are the measurement
    harness (they re-use the exact broadcast): at 100 TB you would ship
    only the Bloom probe and sample the FP census offline. Output is
    bounded to flagged docs; exact hits are a subset of Bloom hits by
    construction, so the census join only touches matched shingles."""
    return _bloom_decontam(spark, sf_dir, _BLOOM_M)


@register("bloom_decontam_smallm", oracle=_bloom_oracle(_BLOOM_M_SMALL))
def bloom_decontam_smallm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Bloom probe with a deliberately saturated m={2048}-bit
    space: the fixture then actually produces false positives, so the FP
    census arithmetic (bloom-hit minus exact-hit per doc) is exercised
    and hash-checked by the driver — not just the zero-FP happy path the
    realistic m never leaves."""
    return _bloom_decontam(spark, sf_dir, _BLOOM_M_SMALL)


def _bloom_decontam(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    from ..functions.cache import release_persisted, scoped_persist

    release_persisted()  # drop any prior invocation's cached intermediates
    docs = fan_out(load(spark, sf_dir, "documents"))
    # the tokenize+shingle scan feeds FOUR consumers (eval set, eval
    # positions, train side, per-doc totals); scoped-persist it so the
    # corpus is shingled once, not once per subtree
    sh = scoped_persist(
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    eval_x = exploded.filter(is_eval).select("shingle").distinct()
    pos_arr = (
        "array(" + ", ".join(_bloom_pos_spark(i, m) for i in range(_BLOOM_K)) + ")"
    )
    eval_pos = eval_x.select(F.explode(F.expr(pos_arr)).alias("p")).distinct()
    tr_sh = exploded.filter(~is_eval)
    # bloom/exact flags are functions of the SHINGLE alone, so they are
    # computed once per distinct vocabulary entry — not once per
    # (doc, shingle) occurrence: the md5 probes and the 3x position
    # explosion run over the vocabulary (sublinear in the corpus), and the
    # occurrence-scale side only pays a shingle-keyed equi-join against
    # the matched-vocabulary flag table (first cut probed per occurrence:
    # 8.5s steady at sf0.1; this shape ~1s)
    sh_pos = (
        tr_sh.select("shingle").distinct()
        .select("shingle", F.explode(F.expr(pos_arr)).alias("p"))
    )
    flags = (
        sh_pos.join(F.broadcast(eval_pos), "p")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .join(F.broadcast(eval_x.withColumn("exact", F.lit(1))), "shingle", "left")
        .select(
            "shingle",
            F.when(F.col("k_hit") == _BLOOM_K, 1).otherwise(0).alias("bloom_hit"),
            F.coalesce(F.col("exact"), F.lit(0)).alias("exact_hit"),
        )
    )
    per_sh = tr_sh.join(flags, "shingle").select("doc_id", "bloom_hit", "exact_hit")
    tot = sh.filter(~is_eval).select(
        "doc_id", F.size("shingles").cast("bigint").alias("n_shingles")
    )
    return (
        per_sh.groupBy("doc_id")
        .agg(
            F.sum("bloom_hit").alias("n_bloom_hits"),
            F.sum("exact_hit").alias("n_exact_hits"),
        )
        .filter(F.col("n_bloom_hits") > 0)
        .join(tot, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_positives"),
        )
    )


# ---------------------------------------------------------------------------
# decontam_ngram_sweep — contamination rate as a function of shingle
# length: the calibration sweep behind every decontamination threshold
# choice (GPT-3's appendix picked 13-gram exact overlap after exactly this
# curve; short n-grams flag everything, long n-grams flag nothing). One
# row per n in {2, 3, 5}: how many train docs share at least one n-token
# shingle with the eval slice, against the population of train docs long
# enough to carry such a shingle.
# ---------------------------------------------------------------------------

_SWEEP_NS = (2, 3, 5)


def _sweep_shingle_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"t[i + {k + 1}]" for k in range(n))
    return (
        f"SELECT doc_id, {n} AS ngram_n,"
        f" unnest(list_distinct(list_transform(range(len(t) - {n - 1}),"
        f" i -> {gram}))) AS shingle"
        f" FROM toks WHERE len(t) >= {n}"
    )


def _sweep_shingle_spark(n: int) -> str:
    return (
        f"explode(array_distinct(transform(sequence(0, size(t) - {n}),"
        f" i -> concat_ws(' ', slice(t, i + 1, {n}))))) AS shingle"
    )


@register(
    "decontam_ngram_sweep",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    sh AS (
      {" UNION ALL ".join(_sweep_shingle_sql(n) for n in _SWEEP_NS)}
    ),
    eval_sh AS (
      SELECT DISTINCT ngram_n, shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0
    ),
    contam AS (
      SELECT t.ngram_n, t.doc_id
      FROM sh t JOIN eval_sh e
        ON t.ngram_n = e.ngram_n AND t.shingle = e.shingle
      WHERE t.doc_id % {_EVAL_MOD} <> 0
      GROUP BY t.ngram_n, t.doc_id
    ),
    pop AS (
      SELECT n.n AS ngram_n,
        CAST(COUNT(*) FILTER (WHERE doc_id % {_EVAL_MOD} <> 0) AS BIGINT)
          AS n_train_docs,
        CAST(COUNT(*) FILTER (WHERE doc_id % {_EVAL_MOD} = 0) AS BIGINT)
          AS n_eval_docs
      FROM toks CROSS JOIN (SELECT unnest([{", ".join(map(str, _SWEEP_NS))}]) AS n) n
      WHERE len(t) >= n.n
      GROUP BY n.n
    ),
    ev AS (
      SELECT ngram_n, CAST(COUNT(*) AS BIGINT) AS n_eval_shingles
      FROM eval_sh GROUP BY ngram_n
    ),
    ct AS (
      SELECT ngram_n, CAST(COUNT(*) AS BIGINT) AS n_contaminated
      FROM contam GROUP BY ngram_n
    )
    SELECT CAST(p.ngram_n AS BIGINT) AS ngram_n,
      p.n_train_docs, p.n_eval_docs,
      COALESCE(e.n_eval_shingles, 0) AS n_eval_shingles,
      COALESCE(c.n_contaminated, 0) AS n_contaminated,
      (COALESCE(c.n_contaminated, 0) * 1000000) // p.n_train_docs AS contam_ppm
    FROM pop p
    LEFT JOIN ev e ON p.ngram_n = e.ngram_n
    LEFT JOIN ct c ON p.ngram_n = c.ngram_n
    """,
)
def decontam_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-rate curve over shingle lengths 2/3/5.

    Plan: ONE tokenization pass feeds three unioned distinct-shingle
    streams tagged with their n (Catalyst runs them as one scan per
    branch over cached file listings; the distinct is in-row, so no
    pre-join shuffle); the eval side stays benchmark-sized at every n and
    broadcasts, so the train side is never shuffled — the
    benchmark_decontam scale argument, swept. Census joins are over a
    3-row dimension. Integer-exact throughout.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.selectExpr("doc_id", f"{TOKENS} AS t")
    sh = None
    for n in _SWEEP_NS:
        s = toks.filter(F.expr(f"size(t) >= {n}")).selectExpr(
            "doc_id", f"{n} AS ngram_n", _sweep_shingle_spark(n)
        )
        sh = s if sh is None else sh.unionAll(s)
    eval_sh = (
        sh.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("ngram_n", "shingle")
        .distinct()
    )
    contam = (
        sh.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(F.broadcast(eval_sh), ["ngram_n", "shingle"])
        .select("ngram_n", "doc_id")
        .distinct()
    )
    ns = ", ".join(map(str, _SWEEP_NS))
    pop = (
        toks.selectExpr("doc_id", "size(t) AS sz")
        .selectExpr("doc_id", "sz", f"explode(array({ns})) AS ngram_n")
        .filter("sz >= ngram_n")
        .groupBy("ngram_n")
        .agg(
            F.expr(f"CAST(COUNT(IF(doc_id % {_EVAL_MOD} <> 0, 1, NULL)) AS BIGINT)").alias(
                "n_train_docs"
            ),
            F.expr(f"CAST(COUNT(IF(doc_id % {_EVAL_MOD} = 0, 1, NULL)) AS BIGINT)").alias(
                "n_eval_docs"
            ),
        )
    )
    ev = eval_sh.groupBy("ngram_n").agg(F.count(F.lit(1)).alias("n_eval_shingles"))
    ct = contam.groupBy("ngram_n").agg(F.count(F.lit(1)).alias("n_contaminated"))
    return (
        pop.join(ev, "ngram_n", "left")
        .join(ct, "ngram_n", "left")
        .selectExpr(
            "CAST(ngram_n AS BIGINT) AS ngram_n",
            "n_train_docs",
            "n_eval_docs",
            "COALESCE(n_eval_shingles, CAST(0 AS BIGINT)) AS n_eval_shingles",
            "COALESCE(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated",
            "(COALESCE(n_contaminated, CAST(0 AS BIGINT)) * 1000000) DIV n_train_docs"
            " AS contam_ppm",
        )
    )


# ---------------------------------------------------------------------------
# bloom_m_sweep — the Bloom-filter sizing curve: measured false-positive
# rate of the 3-hash eval-set filter as the bit-array width m sweeps
# 1024 -> 65536. This is the calibration every Bloom deployment does
# before fixing m (the two registered decontam filters sit at the curve's
# ends: m=2048 "small" saturates, m=2^20 never false-fires on this eval
# set); measuring instead of trusting (1-e^{-kn/m})^k catches the
# double-hashing and fill-ratio effects the formula idealizes away.
# One md5 per (shingle, hash-slot) TOTAL: positions for every m derive
# from the same 32-bit base hash by modulo, so the sweep adds no hashing.
# ---------------------------------------------------------------------------

_SWEEP_MS = (1024, 4096, 16384, 65536)


@register(
    "bloom_m_sweep",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    eval_sh AS (
      SELECT DISTINCT shingle FROM x WHERE doc_id % {_EVAL_MOD} = 0
    ),
    train_sh AS (
      SELECT DISTINCT shingle FROM x WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    eb AS (
      SELECT shingle,
        ('0x' || substr(md5('b0:' || shingle), 1, 8))::BIGINT AS b0,
        ('0x' || substr(md5('b1:' || shingle), 1, 8))::BIGINT AS b1,
        ('0x' || substr(md5('b2:' || shingle), 1, 8))::BIGINT AS b2
      FROM eval_sh
    ),
    tb AS (
      SELECT shingle,
        ('0x' || substr(md5('b0:' || shingle), 1, 8))::BIGINT AS b0,
        ('0x' || substr(md5('b1:' || shingle), 1, 8))::BIGINT AS b1,
        ('0x' || substr(md5('b2:' || shingle), 1, 8))::BIGINT AS b2
      FROM train_sh
    ),
    ms AS (SELECT unnest([{", ".join(map(str, _SWEEP_MS))}]) AS m),
    slots AS (SELECT unnest([0, 1, 2]) AS i),
    eval_pos AS (
      SELECT DISTINCT m.m,
        (CASE s.i WHEN 0 THEN e.b0 WHEN 1 THEN e.b1 ELSE e.b2 END) % m.m AS p
      FROM eb e CROSS JOIN ms m CROSS JOIN slots s
    ),
    probe AS (
      SELECT m.m, t.shingle, s.i,
        (CASE s.i WHEN 0 THEN t.b0 WHEN 1 THEN t.b1 ELSE t.b2 END) % m.m AS p
      FROM tb t CROSS JOIN ms m CROSS JOIN slots s
    ),
    matched AS (
      SELECT pr.m, pr.shingle, COUNT(*) AS k_hit
      FROM probe pr JOIN eval_pos e ON e.m = pr.m AND e.p = pr.p
      GROUP BY pr.m, pr.shingle
    ),
    flags AS (
      SELECT m.m, t.shingle,
        COALESCE(mt.k_hit, 0) = {_BLOOM_K} AS bloom_pos,
        ev.shingle IS NOT NULL AS truth
      FROM train_sh t
      CROSS JOIN ms m
      LEFT JOIN matched mt ON mt.m = m.m AND mt.shingle = t.shingle
      LEFT JOIN eval_sh ev ON ev.shingle = t.shingle
    ),
    fill AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS n_set_bits FROM eval_pos GROUP BY m
    ),
    agg AS (
      SELECT m,
        CAST(COUNT(*) AS BIGINT) AS n_train_shingles,
        CAST(COUNT(*) FILTER (WHERE bloom_pos) AS BIGINT) AS n_bloom_positive,
        CAST(COUNT(*) FILTER (WHERE truth) AS BIGINT) AS n_true_members,
        CAST(COUNT(*) FILTER (WHERE bloom_pos AND NOT truth) AS BIGINT)
          AS n_false_positives
      FROM flags GROUP BY m
    )
    SELECT CAST(a.m AS BIGINT) AS m,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM eval_sh) AS n_eval_shingles,
      f.n_set_bits,
      (f.n_set_bits * 1000000) // a.m AS fill_ppm,
      a.n_train_shingles, a.n_bloom_positive, a.n_true_members,
      a.n_false_positives,
      (a.n_false_positives * 1000000)
        // (a.n_train_shingles - a.n_true_members) AS fp_ppm
    FROM agg a JOIN fill f ON a.m = f.m
    """,
)
def bloom_m_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Bloom false-positive curve over m in {1k, 4k, 16k, 64k}.

    Plan: distinct eval and train shingle sets are hashed ONCE into three
    32-bit base values (in-row md5, no shuffle); every m's positions are
    base % m, so the 4-config sweep is a literal cross join, not extra
    hash passes. The eval position set stays tiny at every m (<= 3 x eval
    shingles) and broadcasts to the train probes; censuses group by m
    with map-side combine. At 100 TB the train side is one scan + one
    broadcast-join + a 4-group aggregate — the bloom_decontam scale
    argument, swept. Integer-exact floor-ppm outputs.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    x = (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"explode({_SHINGLES_FROM_TOKS}) AS shingle")
    )
    base = (
        "cast(conv(substr(md5(concat('b{i}:', shingle)), 1, 8), 16, 10) as bigint)"
    )
    def bases(df):
        return df.selectExpr(
            "shingle",
            f"{base.format(i=0)} AS b0",
            f"{base.format(i=1)} AS b1",
            f"{base.format(i=2)} AS b2",
        )

    eval_sh = x.filter(F.col("doc_id") % _EVAL_MOD == 0).select("shingle").distinct()
    train_sh = x.filter(F.col("doc_id") % _EVAL_MOD != 0).select("shingle").distinct()
    ms = ", ".join(map(str, _SWEEP_MS))
    eval_pos = (
        bases(eval_sh)
        .selectExpr(f"explode(array({ms})) AS m", "b0", "b1", "b2")
        .selectExpr("m", "explode(array(b0, b1, b2)) AS b")
        .selectExpr("m", "pmod(b, m) AS p")
        .distinct()
    )
    probe = (
        bases(train_sh)
        .selectExpr("shingle", f"explode(array({ms})) AS m", "b0", "b1", "b2")
        .selectExpr("shingle", "m", "explode(array(b0, b1, b2)) AS b")
        .selectExpr("shingle", "m", "pmod(b, m) AS p")
    )
    matched = (
        probe.join(F.broadcast(eval_pos), ["m", "p"])
        .groupBy("m", "shingle")
        .agg(F.count(F.lit(1)).alias("k_hit"))
    )
    flags = (
        train_sh.selectExpr("shingle", f"explode(array({ms})) AS m")
        .join(matched, ["m", "shingle"], "left")
        .join(
            F.broadcast(eval_sh.withColumn("truth", F.lit(True))), "shingle", "left"
        )
        .select(
            "m",
            (F.coalesce(F.col("k_hit"), F.lit(0)) == _BLOOM_K).alias("bloom_pos"),
            F.col("truth").isNotNull().alias("truth"),
        )
    )
    fill = eval_pos.groupBy("m").agg(F.count(F.lit(1)).alias("n_set_bits"))
    agg = flags.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_train_shingles"),
        F.expr("CAST(COUNT(IF(bloom_pos, 1, NULL)) AS BIGINT)").alias(
            "n_bloom_positive"
        ),
        F.expr("CAST(COUNT(IF(truth, 1, NULL)) AS BIGINT)").alias("n_true_members"),
        F.expr(
            "CAST(COUNT(IF(bloom_pos AND NOT truth, 1, NULL)) AS BIGINT)"
        ).alias("n_false_positives"),
    )
    n_eval = eval_sh.agg(F.count(F.lit(1)).alias("n_eval_shingles"))
    return (
        agg.join(fill, "m")
        .crossJoin(F.broadcast(n_eval))
        .selectExpr(
            "CAST(m AS BIGINT) AS m",
            "n_eval_shingles",
            "n_set_bits",
            "(n_set_bits * 1000000) DIV m AS fill_ppm",
            "n_train_shingles",
            "n_bloom_positive",
            "n_true_members",
            "n_false_positives",
            "(n_false_positives * 1000000) DIV (n_train_shingles - n_true_members)"
            " AS fp_ppm",
        )
    )
