"""Deduplication operators for training-data pipelines over `documents` /
`embeddings`: exact (hash groupBy), MinHash signatures + LSH banding,
SimHash, character-n-gram Jaccard, and embedding-cosine near-dup.

Beyond-reference operators (BASELINE.json north-star). Design notes per
operator are inline; the common theme for 100 TB scale:

* per-document work (shingling, hashing, signatures) is JVM higher-order
  array functions — no shuffle, no Python, runs at scan speed;
* candidate generation never does an all-pairs join: MinHash-LSH buckets by
  band key, n-gram Jaccard buckets by (lang, length band), cosine near-dup
  buckets by label — each is an equi-join whose key bounds the blow-up;
* verification (exact Jaccard / cosine) runs only on bucket-local pairs.

Determinism contract: MinHash uses lexicographic min over md5 hex strings
(equivalent to numeric min over uniform 128-bit hashes, and identical across
engines); Jaccard ratios are int/int double divisions; cosine is the
bit-exact double fold from functions/vectors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cache import memo_get, memo_put, release_persisted, scoped_persist
from ..functions.io import fan_out, load
from ..functions.text import _SHINGLES_FROM_TOKS, _SQL_SHINGLES, SQL_TOKENS, TOKENS
from ..functions.vectors import cosine_from_norms_unrolled_expr, norm_expr
from ..registry import register
from ..session import iter_checkpoint

_N_SIGS = 8

# normalized-text exact-dup hash (shared with similarity.hard_negative_mining;
# defined up top so cross-module oracle construction never sees a partially
# initialized module)
_NORM_HASH_SPARK = "md5(trim(regexp_replace(lower(text), '\\\\s+', ' ')))"
_NORM_HASH_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

# MinHash via Kirsch-Mitzenmacher double hashing: ONE md5 per shingle split
# into two 32-bit halves (h1, h2); the j-th hash function is h1 + j*h2
# (classic result: a pairwise combination of two hashes preserves the
# min-wise estimator quality). This replaces 8 md5 evaluations per shingle
# with 1 md5 + 2 hex-parses — the signature stage is the hot loop of the
# dedup pipeline at scale. Values stay < 2^35, well inside BIGINT.
_HASH_PAIRS_SPARK = (
    "transform(shingles, s -> array("
    " cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint),"
    " cast(conv(substr(md5(s), 9, 8), 16, 10) as bigint)))"
)
_HASH_PAIRS_SQL = (
    "list_transform(shingles, s -> ["
    " ('0x' || substr(md5(s), 1, 8))::BIGINT,"
    " ('0x' || substr(md5(s), 9, 8))::BIGINT])"
)


def _sig_exprs_spark() -> list[str]:
    # over a precomputed `hp` column (array of [h1, h2] pairs; 0-based index)
    return [
        f"array_min(transform(hp, h -> h[0] + {j} * h[1])) AS sig_{j}"
        for j in range(_N_SIGS)
    ]


def _sig_exprs_sql() -> str:
    # over a precomputed `hp` column (1-based list index)
    return ",\n        ".join(
        f"list_aggregate(list_transform(hp, h -> h[1] + {j} * h[2]), 'min') AS sig_{j}"
        for j in range(_N_SIGS)
    )


# ---------------------------------------------------------------------------
# exact_dedup — hash-groupBy duplicate detection: one row per distinct
# normalized text, canonical doc = min(doc_id). Map-side partial agg means
# the shuffle carries one row per distinct hash.
# ---------------------------------------------------------------------------


@register(
    "exact_dedup",
    bench=True,
    oracle="""
    SELECT
      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
      MIN(doc_id) AS canonical_doc_id,
      COUNT(*) AS n_copies,
      MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    return docs.groupBy(F.expr(_NORM_HASH_SPARK).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# minhash_signatures — word-3-gram shingles -> 8 MinHash values per doc.
# min over md5('<seed>|' || shingle) hex strings == min over uniform 128-bit
# integers (fixed-width hex is order-isomorphic), so P[sig_a == sig_b] ≈
# Jaccard(a, b) exactly as in classic MinHash.
# ---------------------------------------------------------------------------


@register(
    "minhash_signatures",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    hp AS (
      SELECT doc_id, len(shingles) AS n_shingles, {_HASH_PAIRS_SQL} AS hp
      FROM sh
    )
    SELECT doc_id, n_shingles,
        {_sig_exprs_sql()}
    FROM hp
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load(spark, sf_dir, "documents"))
    return (
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
        .selectExpr(
            "doc_id", "size(shingles) AS n_shingles", f"{_HASH_PAIRS_SPARK} AS hp"
        )
        .selectExpr("doc_id", "n_shingles", *_sig_exprs_spark())
    )


# ---------------------------------------------------------------------------
# minhash_lsh_pairs — banding: 4 bands × 2 rows over the 8 signatures; a
# candidate pair is any two docs sharing a band key; candidates are verified
# with exact shingle-set Jaccard >= 0.5. The band-key groupBy/join is the
# only shuffle; at scale, bucket skew is bounded because identical band keys
# imply high similarity.
# ---------------------------------------------------------------------------

_JACCARD_T = 0.5

# CTE chain producing the oracle's (doc_a, doc_b, jaccard) near-dup pairs —
# shared by the minhash_lsh_pairs oracle and the neardup_components oracle
# (which computes connected components over the same pair set).
_PAIRS_SQL_CTES = f"""
    sh AS MATERIALIZED (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    hp AS MATERIALIZED (
      SELECT doc_id, shingles, {_HASH_PAIRS_SQL} AS hp FROM sh
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, shingles,
        {_sig_exprs_sql()}
      FROM hp
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '|' || CAST(sig_1 AS VARCHAR) AS band_key FROM sigs
      UNION ALL SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '|' || CAST(sig_3 AS VARCHAR) FROM sigs
      UNION ALL SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '|' || CAST(sig_5 AS VARCHAR) FROM sigs
      UNION ALL SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '|' || CAST(sig_7 AS VARCHAR) FROM sigs
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    scored AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
        len(list_intersect(sa.shingles, sb.shingles)) AS i,
        len(sa.shingles) + len(sb.shingles) AS ab
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ab - i) AS jaccard
      FROM scored
      WHERE CAST(i AS DOUBLE) / (ab - i) >= {_JACCARD_T}
    )
"""


@register(
    "minhash_lsh_pairs",
    bench=True,
    oracle=f"""
    WITH {_PAIRS_SQL_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_persisted()  # drop any prior invocation's cached intermediates
    sh, buckets = _shingle_buckets(spark, sf_dir)
    # Pair generation via ONE groupBy shuffle (band_key -> sorted doc list ->
    # in-bucket pair explosion) instead of a two-sided self-join: half the
    # shuffle volume, and `ids` is sorted so doc_a < doc_b by construction.
    # Bucket size is bounded by cluster size of true near-dups (identical
    # band key implies high similarity), so the per-bucket quadratic is the
    # same blow-up the self-join had — no worse at scale, fewer stages.
    cand = (
        buckets.selectExpr(
            "explode(flatten(transform(ids, (a, i) ->"
            " transform(slice(ids, i + 2, size(ids)),"
            " b -> struct(a AS doc_a, b AS doc_b))))) AS p"
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _verify_pairs(cand, sh)


def _shingle_buckets(spark: SparkSession, sf_dir: str):
    """Persisted shingle table + LSH band buckets (band_key -> sorted doc
    ids), shared by the exact and capped pair generators.

    The shingle arrays feed three downstream consumers (signatures + both
    sides of the verification join) and the signature computation is 8 md5
    evaluations per shingle — persist so each is computed once per
    partition, not once per consumer. MEMORY_AND_DISK (persist default)
    spills rather than OOMs at scale; scoped so callers/tests can release.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    sh = scoped_persist(
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
    )
    buckets = (
        _band_stream(sh)
        .groupBy("band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return sh, buckets


def _band_stream(sh: DataFrame) -> DataFrame:
    """(doc_id, band_key) stream from the shingle table.

    All 8 signatures as ONE array expression (not 8 projected columns):
    the generated code is an order of magnitude smaller, which matters
    because codegen compile time is paid per fresh plan. Band keys embed
    the band index, so one explode yields the (doc, band_key) stream.
    Shared by the corpus-internal bucket builder and the incremental
    (new-batch vs existing-corpus) dedup join."""
    sigs_expr = (
        f"transform(sequence(0, {_N_SIGS - 1}),"
        " j -> array_min(transform(hp, h -> h[0] + j * h[1])))"
    )
    return (
        sh.selectExpr("doc_id", f"{_HASH_PAIRS_SPARK} AS hp")
        .selectExpr("doc_id", f"{sigs_expr} AS sigs")
        .selectExpr(
            "doc_id",
            f"explode(transform(sequence(0, {_N_SIGS // 2 - 1}),"
            " b -> concat(b, ':', sigs[2 * b], '|', sigs[2 * b + 1]))) AS band_key",
        )
    )


def _verify_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float = _JACCARD_T
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (doc_a, doc_b) pairs.

    |A ∪ B| = |A| + |B| - |A ∩ B| (shingle arrays are distinct): one
    set-intersection per pair instead of intersect + materialized union.
    `threshold` defaults to the word-shingle family's; the char-gram
    family verifies at its own looser cut (_NGRAM_T).
    """
    return (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))).alias("i"),
            (F.size("sa.shingles") + F.size("sb.shingles")).alias("ab"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / (F.col("ab") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# Buckets larger than this cap switch from clique pair emission (O(k²)) to
# star edges against the bucket representative (O(k)). 64² = 4096 pair
# structs is a trivial explode; past that, a 10⁹-doc boilerplate bucket's
# clique would be ~10¹⁷ pairs no engine can materialize.
_BUCKET_CAP = 64


def _capped_pairs_expr(cap: int) -> str:
    """Candidate (doc_a, doc_b) pairs from a sorted bucket `ids` array as
    ONE conditional explode: clique emission for buckets <= cap members,
    star emission (representative = ids[0] vs the rest) past it.

    A single projection over the buckets aggregate — the previous
    clique.union(star) form re-ran the whole band/bucket subtree once per
    union branch (Spark does no cross-branch common-subtree elimination),
    doubling the heaviest pre-verify stage (r15, guide §2.4). Row set is
    identical: the two branches' filters were disjoint (size <= cap vs
    > cap), so their union equals this per-bucket CASE."""
    return (
        f"explode(CASE WHEN size(ids) <= {cap} THEN"
        " flatten(transform(ids, (a, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " b -> struct(a AS doc_a, b AS doc_b))))"
        " ELSE transform(slice(ids, 2, size(ids)),"
        " b -> struct(ids[0] AS doc_a, b AS doc_b)) END) AS p"
    )


def lsh_pairs_capped(
    spark: SparkSession, sf_dir: str, bucket_cap: int = _BUCKET_CAP
) -> DataFrame:
    """The 100 TB pair generator (ARTIFACTS/r04_skew_probe.md): cliques for
    normal buckets, star topology (every member verified against the
    bucket's min doc_id) for oversized ones. Star edges are a subset of the
    clique's, so downstream components can only split, never wrongly merge;
    for true-duplicate buckets (the only way a bucket gets huge) the
    components are identical. Recall tradeoff: a borderline member that
    fails verification against the representative but would have passed
    against some other member is dropped — the price of O(k) edges."""
    release_persisted()
    sh, buckets = _shingle_buckets(spark, sf_dir)
    cand = (
        buckets.selectExpr(_capped_pairs_expr(bucket_cap))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _verify_pairs(cand, sh)


# ---------------------------------------------------------------------------
# simhash — 32-bit SimHash over whitespace tokens (with multiplicity): each
# token contributes ±1 per bit from its md5; the fingerprint takes the sign
# of each bit-sum. Spark computes the whole fingerprint per row with a
# zip_with fold over a 32-int accumulator (no shuffle); the oracle replays
# it relationally (unnest tokens × bit positions, group-sum).
# ---------------------------------------------------------------------------

# Per-token 32-bit weight vector: bits of the first 8 md5 hex digits.
_TOKEN_BITS = (
    "transform(sequence(0, 31), k ->"
    " 2 * ((instr('0123456789abcdef', substr(md5(t), k div 4 + 1, 1)) - 1)"
    " div shiftleft(1, 3 - k % 4) % 2) - 1)"
)
_SIMHASH_SUMS = (
    f"aggregate({TOKENS}, array_repeat(cast(0 as bigint), 32),"
    f" (acc, t) -> zip_with(acc, {_TOKEN_BITS}, (x, y) -> x + y))"
)


# CTE chain ending in `ints` (doc_id, simhash_int) — shared by the simhash
# oracle and the simhash_hamming_pairs oracle so candidate generation and
# verification run over EXACTLY the rendered fingerprints.
_SIMHASH_INT_CTES = """
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents
    ),
    bits AS MATERIALIZED (
      SELECT doc_id, (j.j * 4 + k.k) AS bit_index,
        2 * (((strpos('0123456789abcdef', substr(md5(t), j.j + 1, 1)) - 1)
              // (1 << (3 - k.k))) % 2) - 1 AS w
      FROM tok, range(8) j(j), range(4) k(k)
    ),
    sums AS MATERIALIZED (SELECT doc_id, bit_index, SUM(w) AS s FROM bits GROUP BY doc_id, bit_index),
    bitvals AS MATERIALIZED (SELECT doc_id, bit_index, CASE WHEN s > 0 THEN 1 ELSE 0 END AS b FROM sums),
    ints AS MATERIALIZED (
      SELECT doc_id, SUM(CAST(b AS BIGINT) << (31 - bit_index)) AS simhash_int
      FROM bitvals GROUP BY doc_id
    )
"""


@register(
    "simhash",
    oracle=f"""
    WITH {_SIMHASH_INT_CTES},
    digits AS (
      SELECT doc_id, bit_index // 4 AS j, SUM(b * (1 << (3 - bit_index % 4))) AS d
      FROM bitvals GROUP BY doc_id, bit_index // 4
    ),
    hexes AS (
      SELECT doc_id,
        string_agg(substr('0123456789abcdef', CAST(d AS INT) + 1, 1), '' ORDER BY j) AS simhash_hex
      FROM digits GROUP BY doc_id
    )
    SELECT i.doc_id, CAST(i.simhash_int AS BIGINT) AS simhash_int, h.simhash_hex
    FROM ints i JOIN hexes h ON i.doc_id = h.doc_id
    """,
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints via the in-row expression fold.

    r9 HOF-audit verdict (ARTIFACTS/r09_hof_lambda_audit.md): the fold IS
    interpreted (HOF lambda), but its per-element cost — one md5 plus
    integer bit arithmetic per token — is small enough that the measured
    A/B put an Arrow-batched mapInPandas twin SLOWER at this corpus shape
    (0.36s fold vs 0.55s at sf0.1: Arrow text serialization + Python
    worker round-trip exceeds the interpretation tax); the gate's Bloom
    probe (3 positions x substr per shingle) was ~10x the per-element cost
    and DID flip it — that is the audit's dividing line. The twin is
    deleted: no query called it, and its Python `\\s+` split also broke
    on Unicode spaces that Spark's tokenizer keeps inside a token
    (functions/text.py), so it was not the equal it was pinned as. The
    folds are checked against a pure-Python reference with Java's
    whitespace set instead (tests/test_operators_unit.py)."""
    return _simhash_expr(fan_out(load(spark, sf_dir, "documents")))


def _simhash_expr(docs: DataFrame) -> DataFrame:
    """Expression-fold 32-bit fingerprint (doc_id, simhash_int, simhash_hex)."""
    return docs.selectExpr(
        "doc_id",
        f"{_SIMHASH_SUMS} AS bit_sums",
    ).selectExpr(
        "doc_id",
        # sign of each bit-sum -> packed 32-bit integer
        "aggregate(zip_with(bit_sums, sequence(0, 31),"
        " (s, k) -> if(s > 0, shiftleft(cast(1 as bigint), 31 - k), cast(0 as bigint))),"
        " cast(0 as bigint), (acc, v) -> acc + v) AS simhash_int",
        # hex rendering of the same 32 bits
        "aggregate(transform(sequence(0, 7), j ->"
        "   if(bit_sums[j * 4] > 0, 8, 0) + if(bit_sums[j * 4 + 1] > 0, 4, 0)"
        " + if(bit_sums[j * 4 + 2] > 0, 2, 0) + if(bit_sums[j * 4 + 3] > 0, 1, 0)),"
        " '', (acc, d) -> concat(acc, substr('0123456789abcdef', d + 1, 1))) AS simhash_hex",
    )


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs — character-3-gram Jaccard near-dup within
# (lang, length-band) candidate buckets. The bucket key turns the quadratic
# all-pairs problem into bounded per-bucket joins; docs whose length bands
# differ are (by design) never compared — that's the documented pruning.
#
# DEMOTED (r10): formally a <=sf0.1 ground-truth harness (max_sf=0.1, the
# table_profile_approx precedent). Char-3-gram Jaccard at the 0.4 cut is
# DENSE — same-language prose shares most common 3-grams, so the TRUE pair
# set is itself quadratic in the corpus (~18 partners/doc measured at
# sf0.1, growing with corpus size). No exact generator — prefix-filtered
# or otherwise — can emit a quadratic-sized answer in linear time, and the
# DuckDB oracle pays the same quadratic verify, so the query was excluded
# from the sf1 sweep (>35 min per engine, ARTIFACTS/r09_oracle_sweep_sf1.md).
# Its production twin is chargram_minhash_pairs (below): corpus-linear
# banded MinHash-LSH with exact verify, sf1-green in 66s. This exact
# variant remains registered as the precision/recall ground truth that the
# twin's tests pin against, at the scales where ground truth is computable.
# ---------------------------------------------------------------------------

_CHAR_GRAMS = (
    "array_distinct(transform(sequence(0, length(txt) - 3), i -> substr(txt, i + 1, 3)))"
)
_SQL_CHAR_GRAMS = "list_distinct(list_transform(range(length(txt) - 2), i -> substr(txt, i + 1, 3)))"
_NGRAM_T = 0.4


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars // 100 AS len_band,
        {_SQL_CHAR_GRAMS} AS grams
      FROM (SELECT doc_id, lang, n_chars, lower(text) AS txt FROM documents)
      WHERE length(txt) >= 3
    )
    , scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
        len(list_intersect(a.grams, b.grams)) AS i,
        len(a.grams) + len(b.grams) AS ab
      FROM t a
      JOIN t b ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, lang, CAST(i AS DOUBLE) / (ab - i) AS jaccard
    FROM scored
    WHERE CAST(i AS DOUBLE) / (ab - i) >= {_NGRAM_T}
    """,
    max_sf=0.1,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_persisted()  # drop any prior invocation's cached intermediates
    docs = fan_out(load(spark, sf_dir, "documents")).withColumn("txt", F.lower(F.col("text")))
    # gram arrays are consumed by both sides of the self-join: persist so the
    # per-doc gram extraction runs once, not twice (scoped for release).
    t = scoped_persist(
        docs.filter(F.length("txt") >= 3).select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
            F.expr(_CHAR_GRAMS).alias("grams"),
        )
    )
    # |A ∪ B| from sizes (gram arrays are distinct): one set-intersection per
    # candidate pair instead of intersect + materialized union.
    return (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_band") == F.col("b.len_band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))).alias("i"),
            (F.size("a.grams") + F.size("b.grams")).alias("ab"),
        )
        .select(
            "doc_a",
            "doc_b",
            "lang",
            (F.col("i").cast("double") / (F.col("ab") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _NGRAM_T)
    )


# ---------------------------------------------------------------------------
# chargram_minhash_pairs — the LINEAR scale path for character-gram Jaccard
# (r9, closing the sf1 sweep's one exclusion): ngram_jaccard_pairs' exact
# all-pairs join keys on (lang, length-band) — corpus-DENSITY buckets whose
# membership grows with the corpus, so candidate volume is quadratic (10x
# docs -> 100x pairs; >35 min/engine at the sf1 sweep). The scale path is
# the same banded MinHash machinery the word-shingle family uses, just
# over char-3-grams: band buckets key on SIGNATURE VALUES (collision prob
# = jaccard^rows per band), with the star cap bounding bucket blow-up.
# Honesty note: char-gram Jaccard at the 0.4 cut is DENSE — typical
# same-language prose shares most common 3-grams, the exact variant finds
# ~18 partners/doc on the fixture — so the TRUE pair set is itself
# quadratic and no generator can emit it linearly. The capped star
# generator's contract is therefore bounded output with exact PRECISION
# (every emitted pair passes the same verify as ngram_jaccard_pairs) and
# NODE coverage (strong-pair docs surface in >= 1 pair; components
# recoverable downstream) — edge recall is the documented trade, pinned
# in tests/test_operators_unit.py.
# ---------------------------------------------------------------------------


@register(
    "chargram_minhash_pairs",
    oracle=f"""
    WITH sh_cg AS MATERIALIZED (
      SELECT doc_id, {_SQL_CHAR_GRAMS} AS shingles
      FROM (SELECT doc_id, lower(text) AS txt FROM documents)
      WHERE length(txt) >= 3
    ),
    hp_cg AS MATERIALIZED (
      SELECT doc_id, shingles,
        list_transform(shingles, s -> [ ('0x' || substr(md5(s), 1, 8))::BIGINT,
                                        ('0x' || substr(md5(s), 9, 8))::BIGINT]) AS hp
      FROM sh_cg
    ),
    sigs_cg AS MATERIALIZED (
      SELECT doc_id, shingles,
        {_sig_exprs_sql()}
      FROM hp_cg
    ),
    bands_cg AS MATERIALIZED (
      SELECT doc_id, 0 AS band, CAST(sig_0 AS VARCHAR) || '|' || CAST(sig_1 AS VARCHAR) AS band_key FROM sigs_cg
      UNION ALL SELECT doc_id, 1, CAST(sig_2 AS VARCHAR) || '|' || CAST(sig_3 AS VARCHAR) FROM sigs_cg
      UNION ALL SELECT doc_id, 2, CAST(sig_4 AS VARCHAR) || '|' || CAST(sig_5 AS VARCHAR) FROM sigs_cg
      UNION ALL SELECT doc_id, 3, CAST(sig_6 AS VARCHAR) || '|' || CAST(sig_7 AS VARCHAR) FROM sigs_cg
    ),
    buckets_cg AS MATERIALIZED (
      SELECT band, band_key, list_sort(list(DISTINCT doc_id)) AS ids
      FROM bands_cg GROUP BY band, band_key
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    small_cg AS MATERIALIZED (
      SELECT band, band_key, unnest(ids) AS d
      FROM buckets_cg WHERE len(ids) <= {_BUCKET_CAP}
    ),
    clique_cg AS MATERIALIZED (
      SELECT x.d AS doc_a, y.d AS doc_b
      FROM small_cg x JOIN small_cg y
        ON x.band = y.band AND x.band_key = y.band_key AND x.d < y.d
    ),
    star_cg AS MATERIALIZED (
      SELECT ids[1] AS doc_a, unnest(ids[2:]) AS doc_b
      FROM buckets_cg WHERE len(ids) > {_BUCKET_CAP}
    ),
    cand_cg AS MATERIALIZED (
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM clique_cg UNION ALL SELECT * FROM star_cg)
    ),
    scored_cg AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
        len(list_intersect(sa.shingles, sb.shingles)) AS i,
        len(sa.shingles) + len(sb.shingles) AS ab
      FROM cand_cg c
      JOIN sh_cg sa ON sa.doc_id = c.doc_a
      JOIN sh_cg sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ab - i) AS jaccard
    FROM scored_cg
    WHERE CAST(i AS DOUBLE) / (ab - i) >= {_NGRAM_T}
    """,
)
def chargram_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram near-dup pairs via banded MinHash-LSH + exact verify
    (module note above) — the corpus-linear twin of ngram_jaccard_pairs.

    Plan: identical to minhash_lsh_pairs (in-row gram/signature exprs,
    ONE band-keyed groupBy with sorted-bucket clique emission capped at
    {_BUCKET_CAP} members -> star topology, doc-keyed verify join over
    the scoped-persisted gram table) — only the lexical unit changes.
    The oracle replays the capped candidate semantics exactly, star
    branch included, and verifies at the exact variant's {_NGRAM_T} cut.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    docs = fan_out(load(spark, sf_dir, "documents")).withColumn(
        "txt", F.lower(F.col("text"))
    )
    sh = scoped_persist(
        docs.filter(F.length("txt") >= 3).select(
            "doc_id", F.expr(_CHAR_GRAMS).alias("shingles")
        )
    )
    buckets = (
        _band_stream(sh)
        .groupBy("band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.selectExpr(_capped_pairs_expr(_BUCKET_CAP))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _verify_pairs(cand, sh, threshold=_NGRAM_T)


# ---------------------------------------------------------------------------
# embedding_cosine_neardup — near-duplicate embedding pairs within label
# buckets, cosine >= 0.3. At scale the label bucket becomes an IVF/LSH
# bucket (see operators/similarity.py); the join stays an equi-join.
# ---------------------------------------------------------------------------

_COS_T = 0.3


@register(
    "embedding_cosine_neardup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {_COS_T}
    """,
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # norm precomputed once per row so the pairwise stage is one fold per pair
    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding", F.expr(norm_expr("embedding")).alias("norm")
    )
    cos = F.expr(cosine_from_norms_unrolled_expr("a.embedding", "b.embedding", "a.norm", "b.norm"))
    return (
        emb.alias("a")
        .join(
            emb.alias("b"),
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _COS_T)
    )


# ---------------------------------------------------------------------------
# embedding_lsh_neardup — the scale path embedding_cosine_neardup's module
# note promises: candidate generation bucketed by random-hyperplane LSH
# signature instead of `label`. A label is not a similarity bucket — one hot
# label degrades the label-bucketed join to near all-pairs — whereas LSH
# bucket population is governed by the plane count (buckets only grow with
# genuinely co-located vectors). 4 planes -> 16 buckets: coarse enough for
# in-bucket recall at cosine >= 0.3, fine enough that the in-bucket
# quadratic is bounded. The join stays a pure equi-join on the bucket key.
# ---------------------------------------------------------------------------

_NEARDUP_PLANES = 4


def _neardup_oracle() -> str:
    from .similarity import lsh_bucket_sql

    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
        {lsh_bucket_sql('embedding', _NEARDUP_PLANES)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, a.bucket AS bucket,
      list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine
    FROM b a
    JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) >= {_COS_T}
    """


# ---------------------------------------------------------------------------
# neardup_components — connected components over the MinHash-LSH near-dup
# pairs: the step a real dedup pipeline runs after pair generation, turning
# pairwise matches into clusters so exactly one canonical doc per cluster
# survives. (A doc can match B and B match C without A matching C directly —
# pair-level dedup alone either over- or under-deletes.)
#
# Spark path: iterative min-label propagation over the pair edge list. The
# edge list is tiny relative to the corpus (only near-dup pairs), every
# frontier is localCheckpoint-ed (same iteration discipline as
# operators/graph.py BFS — no exponential lineage), and the iteration count
# is bounded by the cluster diameter (label propagation halves distances,
# so ~log2(diameter) rounds). Oracle: recursive-CTE reachability closure
# over the identical pair set, min reachable id per node.
# ---------------------------------------------------------------------------

_MAX_CC_ITERS = 20


class ComponentsNotConverged(RuntimeError):
    """Min-label propagation hit `_MAX_CC_ITERS` rounds with labels still
    moving: the labels would be wrong for any component whose diameter
    exceeds the rounds run, so none are returned."""


@register(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL_CTES},
    e AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    )
    SELECT doc_id, component_id,
      COUNT(*) OVER (PARTITION BY component_id) AS component_size,
      doc_id = component_id AS is_canonical
    FROM comp
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster near-dup pairs into components; canonical = min doc_id.

    The component table is memoized per (applicationId, sf_dir) for the
    lifetime of the current scoped-persist scope: `neardup_canonical_pick`
    consumes the same subgraph, and without the memo a suite run executes
    the whole MinHash -> bands -> verify -> label-prop pipeline twice
    (round-5 verdict: the duplicated `_shingle_buckets` was the entire
    cost of the slowest mining-suite entry). `release_persisted()` drops
    the memo, so steady-state bench runs still price the full pipeline.
    """
    return _with_component_size(_neardup_labels(spark, sf_dir))


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, label) table from min-label propagation over the
    LSH near-dup pairs — the shared subgraph. The memo stores the RAW
    labels, not the size-joined table: `neardup_canonical_pick` only needs
    (doc_id, component_id) and computes its own component rollup, so the
    size join would be a wasted shuffle+join in its plan (r7 verdict
    residue)."""
    key = ("neardup_labels", spark.sparkContext.applicationId, sf_dir)
    cached = memo_get(key)
    if cached is None:
        pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
        cached = memo_put(key, _min_label_components(pairs))
    return cached


def _with_component_size(labels: DataFrame) -> DataFrame:
    """Attach component_size / is_canonical to a (doc_id, label) table —
    the full neardup_components output contract."""
    comp_size = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return labels.join(comp_size, "label").select(
        "doc_id",
        F.col("label").alias("component_id"),
        "component_size",
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


def _capped_components_oracle(cap: int) -> str:
    """DuckDB replay of the CAPPED pair generator + component closure.

    The capped operator's semantics are deterministic and fully
    SQL-expressible — buckets (band_key -> sorted distinct ids), clique
    emission for buckets <= cap, star emission (min id vs the rest) above
    it, Jaccard verification, recursive reachability closure — so the
    capped path gets a real hash-checked oracle on ARBITRARY inputs, not
    just the clique-pure slice where star == clique. (The honest caveat
    stands: capped components may SPLIT borderline clusters relative to
    `neardup_components`; this oracle checks the capped semantics against
    themselves, not against the exact operator.)
    """
    return f"""
    WITH RECURSIVE {_PAIRS_SQL_CTES},
    buckets AS (
      SELECT band, band_key, list_sort(list(DISTINCT doc_id)) AS ids
      FROM bands GROUP BY band, band_key
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    small AS (
      SELECT band, band_key, unnest(ids) AS d FROM buckets WHERE len(ids) <= {cap}
    ),
    clique_c AS (
      SELECT x.d AS doc_a, y.d AS doc_b
      FROM small x JOIN small y
        ON x.band = y.band AND x.band_key = y.band_key AND x.d < y.d
    ),
    star_c AS (
      SELECT ids[1] AS doc_a, unnest(ids[2:]) AS doc_b
      FROM buckets WHERE len(ids) > {cap}
    ),
    cand_c AS (
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM clique_c UNION ALL SELECT * FROM star_c)
    ),
    scored_c AS (
      SELECT c.doc_a, c.doc_b,
        len(list_intersect(sa.shingles, sb.shingles)) AS i,
        len(sa.shingles) + len(sb.shingles) AS ab
      FROM cand_c c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    pairs_c AS (
      SELECT doc_a, doc_b FROM scored_c
      WHERE CAST(i AS DOUBLE) / (ab - i) >= {_JACCARD_T}
    ),
    e AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs_c
      UNION
      SELECT doc_b, doc_a FROM pairs_c
    ),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    )
    SELECT doc_id, component_id,
      COUNT(*) OVER (PARTITION BY component_id) AS component_size,
      doc_id = component_id AS is_canonical
    FROM comp
    """


@register("neardup_components_capped", oracle=_capped_components_oracle(_BUCKET_CAP))
def neardup_components_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB components path: same min-label propagation, but over
    `lsh_pairs_capped` edges — oversized LSH buckets contribute O(k) star
    edges instead of an O(k²) clique (see ARTIFACTS/r04_skew_probe.md).
    Hash-checked against a DuckDB replay of the SAME capped semantics
    (_capped_components_oracle); capped components may still split
    borderline clusters relative to the exact `neardup_components` —
    tests/test_decontam_components.py pins equality on true-duplicate
    clusters, where star and clique produce identical components."""
    pairs = lsh_pairs_capped(spark, sf_dir).select("doc_a", "doc_b")
    return _with_component_size(_min_label_components(pairs))


@register("neardup_components_star", oracle=_capped_components_oracle(2))
def neardup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-branch exerciser: the capped path with bucket_cap=2, so every
    LSH bucket of 3+ docs takes the O(k) star route even at fixture scale
    (the default cap of {_BUCKET_CAP} never triggers on test data). The
    oracle replays the identical cap-2 semantics, making the star topology
    itself hash-checked by the driver rather than only pytest-pinned."""
    pairs = lsh_pairs_capped(spark, sf_dir, bucket_cap=2).select("doc_a", "doc_b")
    return _with_component_size(_min_label_components(pairs))


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over an undirected pair list.

    Raises ComponentsNotConverged when a label still moves in the last of
    `_MAX_CC_ITERS` rounds: each round carries a label one hop, so a path
    of more than `_MAX_CC_ITERS` + 1 nodes needs more rounds than run."""
    # undirected edge list, materialized once (it is consumed every round).
    # Both orientations come from ONE pass over the pair subtree — the
    # previous pairs.union(pairs.swapped) form evaluated the entire
    # upstream pipeline (MinHash bands -> buckets -> verify join) once per
    # union branch, because Spark does no cross-branch common-subtree
    # elimination (r15 opt_measure: two ~10s-CPU stages with identical
    # input/shuffle shapes inside neardup_canonical_pick; guide §2.4)
    edges = iter_checkpoint(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    # hop 0 folds the identity labeling in: with symmetric edges every node
    # appears as dst, so "adopt min(own id, neighbors' ids)" is ONE
    # aggregation — no distinct-nodes shuffle, no labels join, one fewer
    # checkpoint barrier than seeding labels=identity and looping
    labels = iter_checkpoint(
        edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("src").alias("nbr_label"))
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.col("nbr_label")).alias("label"),
        )
    )
    for _ in range(_MAX_CC_ITERS):
        # each node adopts the min of its own label and its neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the convergence flag rides ALONG with the label update (lowered =
        # a neighbor strictly improved this node), so detecting a fixed
        # point is a narrow count over the just-checkpointed hop output —
        # the previous join-the-old-labels formulation paid a second
        # shuffle join per hop just to answer "did anything move?"
        # (A pointer-jumping two-hop variant was measured in r7 and
        # REJECTED: LSH near-dup components are clique-shaped, so hop-0
        # already converges and the loop runs exactly one verification
        # round — the jump join was pure overhead on every SF probed.)
        # lazy cut: the convergence count below is the first action over the
        # checkpointed hop output, so materialization and the "did anything
        # move?" probe share one job instead of two driver round trips
        flagged = iter_checkpoint(
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.coalesce(
                    F.col("nbr_label") < F.col("label"), F.lit(False)
                ).alias("lowered"),
            ),
            eager=False,
        )
        changed = flagged.where("lowered").count()
        labels = flagged.select("doc_id", "label")
        if changed == 0:
            return labels
    raise ComponentsNotConverged(
        f"min-label propagation still lowered {changed} labels in round "
        f"{_MAX_CC_ITERS}: a component is wider than the round cap allows"
    )


@register("embedding_lsh_neardup", oracle=_neardup_oracle())
def embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import lsh_bucket_spark

    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        F.expr(lsh_bucket_spark("embedding", _NEARDUP_PLANES)).alias("bucket"),
        F.expr(norm_expr("embedding")).alias("norm"),
    )
    cos = F.expr(cosine_from_norms_unrolled_expr("a.embedding", "b.embedding", "a.norm", "b.norm"))
    return (
        emb.alias("a")
        .join(
            emb.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _COS_T)
    )


@register(
    "neardup_canonical_pick",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL_CTES},
    e AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    ),
    members AS (
      SELECT c.component_id, c.doc_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY component_id
                                   ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM members
    )
    SELECT m.component_id,
      CAST(COUNT(*) AS BIGINT) AS component_size,
      CAST(SUM(m.n_chars) AS BIGINT) AS total_chars,
      MAX(CASE WHEN r.rn = 1 THEN r.doc_id END) AS canonical_doc,
      CAST(MAX(CASE WHEN r.rn = 1 THEN r.n_chars END) AS BIGINT) AS canonical_chars
    FROM members m JOIN ranked r
      ON r.component_id = m.component_id AND r.doc_id = m.doc_id
    GROUP BY m.component_id
    """,
)
def neardup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after clustering in a real dedup pipeline: from each
    near-dup component, keep the best representative — here the LONGEST
    member (ties to the smallest doc_id), which is the usual content-rich
    canonical rule, rather than `neardup_components`' positional min-id
    canonical.

    Spark shape (fused r7 per the r6 verdict — this was the slowest mining
    entry): the component table (pairs-scale, tiny vs the corpus) is
    BROADCAST into the documents scan, so pulling the quality column is a
    map-side probe of the corpus with zero doc-table shuffle, and the
    winner selection is folded into the single component-keyed rollup via
    a lexicographic struct MAX — max(struct(n_chars, -doc_id)) IS
    "longest, ties to smallest doc_id" — instead of the previous
    row_number window pass (one whole extra sort+shuffle stage). At 100 TB
    the broadcast probe is the only corpus-touching stage and the
    aggregate is map-side-combinable with constant per-component state."""
    comps = _neardup_labels(spark, sf_dir).select(
        "doc_id", F.col("label").alias("component_id")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = docs.join(F.broadcast(comps), "doc_id")
    return (
        members.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("component_size"),
            F.sum("n_chars").alias("total_chars"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_doc"))
            ).alias("best"),
        )
        .select(
            "component_id",
            "component_size",
            "total_chars",
            (-F.col("best.neg_doc")).alias("canonical_doc"),
            F.col("best.n_chars").alias("canonical_chars"),
        )
    )


# ---------------------------------------------------------------------------
# incremental_corpus_dedup — dedup a NEW batch against the EXISTING corpus:
# the step an ongoing ingestion pipeline runs on every crawl delta, where
# re-running whole-corpus dedup would rescan 100 TB for a 100 GB batch.
# ---------------------------------------------------------------------------

_INC_MOD = 5  # doc_id % 5 == 0 -> incoming batch (~20%); rest = corpus



@register(
    "incremental_corpus_dedup",
    oracle=f"""
    WITH {_PAIRS_SQL_CTES},
    inc AS (
      SELECT doc_id, {_NORM_HASH_SQL} AS h FROM documents
      WHERE doc_id % {_INC_MOD} = 0
    ),
    ex AS (
      SELECT doc_id, {_NORM_HASH_SQL} AS h FROM documents
      WHERE doc_id % {_INC_MOD} <> 0
    ),
    exact_m AS (
      SELECT i.doc_id, CAST(COUNT(e.doc_id) AS BIGINT) AS n_exact_dups
      FROM inc i LEFT JOIN ex e ON e.h = i.h
      GROUP BY i.doc_id
    ),
    cand2 AS (
      SELECT DISTINCT a.doc_id AS d_in, b.doc_id AS d_ex
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} <> 0
    ),
    near_m AS (
      SELECT c.d_in AS doc_id,
        CAST(COUNT(*) FILTER (
          WHERE CAST(len(list_intersect(si.shingles, se.shingles)) AS DOUBLE)
                / (len(si.shingles) + len(se.shingles)
                   - len(list_intersect(si.shingles, se.shingles)))
                >= {_JACCARD_T}) AS BIGINT) AS n_near_dups
      FROM cand2 c
      JOIN sh si ON si.doc_id = c.d_in
      JOIN sh se ON se.doc_id = c.d_ex
      GROUP BY c.d_in
    )
    SELECT i.doc_id,
      COALESCE(x.n_exact_dups, 0) AS n_exact_dups,
      COALESCE(n.n_near_dups, 0) AS n_near_dups,
      COALESCE(x.n_exact_dups, 0) = 0 AND COALESCE(n.n_near_dups, 0) = 0 AS is_new
    FROM inc i
    LEFT JOIN exact_m x ON x.doc_id = i.doc_id
    LEFT JOIN near_m n ON n.doc_id = i.doc_id
    """,
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: every incoming doc is checked for (a) exact
    duplicates in the existing corpus via the normalized-text hash and
    (b) near-duplicates via the SAME MinHash band keys the corpus-internal
    LSH uses, verified with exact shingle Jaccard. Output is the admission
    record: matches found, and `is_new` (admit iff no match of either kind).

    The 100 TB shape this models: the existing corpus's (band_key ->
    doc_ids) index and hash set are ALREADY materialized from prior runs,
    so the incremental join is batch-sized on one side and index-probe-
    sized on the other — the corpus is never rescanned per delta, and
    admitted docs append to both indexes for the next batch. Here both
    sides derive from the one fixture table (split by id) so the whole
    admission decision is oracle-checkable end-to-end."""
    release_persisted()
    docs = fan_out(load(spark, sf_dir, "documents"))
    hashes = docs.selectExpr("doc_id", f"{_NORM_HASH_SPARK} AS h")
    is_inc = F.pmod(F.col("doc_id"), F.lit(_INC_MOD)) == 0
    inc_h = hashes.filter(is_inc)
    ex_h = hashes.filter(~is_inc).select("h", F.col("doc_id").alias("ex_id"))
    exact_m = (
        inc_h.join(ex_h, "h", "left")
        .groupBy("doc_id")
        .agg(F.count("ex_id").alias("n_exact_dups"))
    )
    sh, _ = _shingle_buckets(spark, sf_dir)
    bands = _band_stream(sh)
    cand = (
        bands.filter(is_inc)
        .select(F.col("doc_id").alias("doc_a"), "band_key")
        .join(
            bands.filter(~is_inc).select(F.col("doc_id").alias("doc_b"), "band_key"),
            "band_key",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    near_m = (
        _verify_pairs(cand, sh)
        .groupBy("doc_a")
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
        .withColumnRenamed("doc_a", "doc_id")
    )
    out = (
        inc_h.select("doc_id")
        .join(exact_m, "doc_id", "left")
        .join(near_m, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_exact_dups", F.lit(0)).alias("n_exact_dups"),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            (
                (F.coalesce("n_exact_dups", F.lit(0)) == 0)
                & (F.coalesce("n_near_dups", F.lit(0)) == 0)
            ).alias("is_new"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# duplicate_substring_spans — cross-document repeated-substring detection:
# the exact-SUBSTRING dedup family (Lee et al., "Deduplicating Training Data
# Makes Language Models Better", ACL'22 — suffix-array substring dedup),
# approximated the way a distributed engine has to: fixed-width character
# windows sampled on a stride, grouped corpus-wide. A window of W chars at
# stride S catches every repeated run of length >= W + S - 1 (some window is
# then fully inside the run in both copies), so the pass finds boilerplate /
# licence blocks / template headers shared across documents without ever
# building a global suffix array.
#
# 100 TB design: per-doc window count is len/S (a constant factor of corpus
# bytes, tunable by S). The heavy shuffle is keyed by the 8-byte
# xxhash64(window_text), NOT the W-char string: pass 1 projects each window
# to (hash, doc_id) — 16 bytes crossing the wire instead of W+ — and keeps
# the hashes seen in >= 2 distinct docs (a SUPERSET of the true duplicate
# windows: equal text implies equal hash, so no true duplicate can escape;
# hash collisions only ADD candidates). Pass 2 re-windows the corpus
# (map-local second scan — scans are cheap, shuffles are the cost), keeps
# only candidate-hash windows via a size-gated broadcast/equi semi-join,
# and re-verifies by grouping on the ACTUAL window text with exact
# per-text counts — so a 64-bit collision can never merge two different
# windows' counts. Only the duplicated tail's text is ever shuffled.
# ---------------------------------------------------------------------------

_SPAN_W = 32  # window width (chars)
_SPAN_S = 8  # stride: detects any repeated run >= W + S - 1 = 39 chars


def _span_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, s, window_text) for every stride-S W-char window. Docs
    shorter than W are filtered before the explode (Spark's `sequence`
    raises on an empty descending range; DuckDB's generate_series returns
    empty — the filter makes both engines skip them identically)."""
    return (
        docs.select("doc_id", "text")
        .filter(F.length("text") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length("text") - F.lit(_SPAN_W - 1),
                    F.lit(_SPAN_S),
                )
            ).alias("s"),
            "text",
        )
        .select(
            "doc_id",
            "s",
            F.expr(f"substring(text, s, {_SPAN_W})").alias("window_text"),
        )
    )


# candidate hashes below this row count ride a broadcast hash join (8 bytes
# a row -> 32 MB at the cap); above it, a shuffled semi-join on the 8-byte
# key — still never the window text
_SPAN_CAND_BROADCAST_ROWS = 4_000_000



@register(
    "duplicate_substring_spans",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
        unnest(generate_series(1, length(text) - {_SPAN_W - 1}, {_SPAN_S})) AS s,
        text
      FROM documents WHERE length(text) >= {_SPAN_W}
    ), win AS (
      SELECT doc_id, substring(text, s, {_SPAN_W}) AS window_text FROM w
    )
    SELECT md5(window_text) AS fingerprint,
      window_text,
      COUNT(DISTINCT doc_id) AS n_docs,
      COUNT(*) AS n_occ,
      MIN(doc_id) AS min_doc_id,
      MAX(doc_id) AS max_doc_id
    FROM win
    GROUP BY window_text
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def duplicate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated W-char windows (module note above), found with
    the 8-byte-key two-pass plan: explode each doc into stride-S windows;
    pass 1 shuffles only xxhash64(window_text) with map-side partial
    COUNT to find candidate hashes occurring >= 2 times (a verified-later
    superset of the >=2-docs windows); pass 2 re-windows (map-local
    scan), semi-joins the candidate
    set (broadcast when its measured row count fits, shuffled on the
    8-byte key otherwise), and groups by the ACTUAL window text — exact
    counts, so hash collisions are re-verified away bucket-locally and
    the output is identical to grouping by text directly. All expressions
    are codegen'd JVM (no Python); shuffle bytes are ~16/window for the
    heavy pass instead of the W+8 of a text-keyed groupBy — and
    post-compression the advantage is fixture-dependent, since text
    compresses and hashes do not (measured honestly in
    ARTIFACTS/r08_scaling_probe_extras.md)."""
    release_persisted()
    docs = fan_out(load(spark, sf_dir, "documents"))
    cand = scoped_persist(
        _span_windows(docs)
        .select(F.xxhash64("window_text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    cand_small = cand.count() <= _SPAN_CAND_BROADCAST_ROWS
    win = _span_windows(docs).withColumn("h", F.xxhash64("window_text"))
    survivors = win.join(
        F.broadcast(cand) if cand_small else cand, "h", "left_semi"
    )
    return (
        survivors.groupBy("window_text")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5("window_text").alias("fingerprint"),
            "window_text",
            "n_docs",
            "n_occ",
            "min_doc_id",
            "max_doc_id",
        )
    )


# ---------------------------------------------------------------------------
# duplicate_span_merge — the completion of the exact-substring family: Lee
# et al. (ACL'22) remove duplicated SPANS, not windows, so the per-doc
# duplicated windows must be coalesced into maximal character spans before
# anything is cut. Stride-S windows covering one contiguous duplicated run
# sit at consecutive sampled positions (gap exactly S), so the classic
# gaps-and-islands trick applies in index space: ((s-1) DIV S) -
# row_number() is constant within an island, and each island's span is
# [min(s), max(s) + W - 1].
# ---------------------------------------------------------------------------


@register(
    "duplicate_span_merge",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
        unnest(generate_series(1, length(text) - {_SPAN_W - 1}, {_SPAN_S})) AS s,
        text
      FROM documents WHERE length(text) >= {_SPAN_W}
    ), win AS (
      SELECT doc_id, s, substring(text, s, {_SPAN_W}) AS window_text FROM w
    ), dup AS (
      SELECT window_text FROM win
      GROUP BY window_text HAVING COUNT(DISTINCT doc_id) >= 2
    ), dw AS (
      SELECT doc_id, s FROM win
      WHERE window_text IN (SELECT window_text FROM dup)
    ), isl AS (
      SELECT doc_id, s,
        ((s - 1) // {_SPAN_S})
          - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS g
      FROM dw
    )
    SELECT doc_id,
      CAST(MIN(s) AS BIGINT) AS span_start,
      CAST(MAX(s) + {_SPAN_W - 1} AS BIGINT) AS span_end,
      CAST(MAX(s) + {_SPAN_W - 1} - MIN(s) + 1 AS BIGINT) AS span_len,
      CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, g
    """,
)
def duplicate_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated character spans per document: the windows
    `duplicate_substring_spans` flags (text shared by >= 2 distinct docs),
    coalesced per doc into contiguous spans via gaps-and-islands — the
    unit a span-removal rewrite actually cuts.

    Plan: same two-pass 8-byte-key candidate scheme as the window query
    (bare-hash heavy shuffle, text re-verified on the small survivor set),
    then the per-doc islands pass runs ONLY over duplicated windows — the
    window function partitions by doc_id over the duplicated tail, never
    the full corpus. Island key is ((s-1) DIV S) - row_number(): stride
    indices are dense within a contiguous run, so the difference is
    constant per island; span_end adds W-1 to cover the final window."""
    release_persisted()
    docs = fan_out(load(spark, sf_dir, "documents"))
    cand = scoped_persist(
        _span_windows(docs)
        .select(F.xxhash64("window_text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )

    cand_small = cand.count() <= _SPAN_CAND_BROADCAST_ROWS
    win = _span_windows(docs).withColumn("h", F.xxhash64("window_text"))
    surv = scoped_persist(
        win.join(F.broadcast(cand) if cand_small else cand, "h", "left_semi")
    )
    dup_texts = (
        surv.groupBy("window_text")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("window_text")
    )
    dw = surv.join(
        F.broadcast(dup_texts) if cand_small else dup_texts,
        "window_text",
        "left_semi",
    ).select("doc_id", "s")
    isl = dw.withColumn(
        "g",
        F.expr(f"(s - 1) DIV {_SPAN_S}")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("s")),
    )
    return isl.groupBy("doc_id", "g").agg(
        F.min("s").cast("long").alias("span_start"),
        (F.max("s") + F.lit(_SPAN_W - 1)).cast("long").alias("span_end"),
        (F.max("s") + F.lit(_SPAN_W - 1) - F.min("s") + F.lit(1))
        .cast("long")
        .alias("span_len"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("g")


# ---------------------------------------------------------------------------
# minhash_estimate_error — estimator-quality evaluation (r8): for every
# VERIFIED near-dup pair, compare the MinHash similarity estimate (matching
# signature fraction) against the exact shingle Jaccard the verification
# already computed. The eval a pipeline runs before trusting signature
# agreement as a similarity proxy (e.g. when skipping verification at some
# band threshold): with _N_SIGS=8 the estimate moves in 1/8 steps, and this
# table quantifies exactly how coarse that is on real pairs.
# ---------------------------------------------------------------------------

_SIG_STEP_PPM = 1_000_000 // _N_SIGS


def _sig_match_sql(a: str, b: str) -> str:
    return " + ".join(
        f"(CASE WHEN {a}.sig_{j} = {b}.sig_{j} THEN 1 ELSE 0 END)"
        for j in range(_N_SIGS)
    )


@register(
    "minhash_estimate_error",
    oracle=f"""
    WITH {_PAIRS_SQL_CTES}
    SELECT p.doc_a, p.doc_b,
      CAST({_sig_match_sql('sa', 'sb')} AS BIGINT) AS n_sig_match,
      CAST(({_sig_match_sql('sa', 'sb')}) * {_SIG_STEP_PPM} AS BIGINT)
        AS est_ppm,
      CAST(floor(p.jaccard * 1000000) AS BIGINT) AS exact_ppm,
      CAST(abs(({_sig_match_sql('sa', 'sb')}) * {_SIG_STEP_PPM}
               - floor(p.jaccard * 1000000)) AS BIGINT) AS abs_err_ppm
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per verified near-dup pair: MinHash estimate (n matching sigs / 8,
    in ppm) vs exact Jaccard (ppm, floored from the same int/int double
    both engines compute identically), and the absolute error.

    Plan: the pair table is the already-verified LSH output (tiny vs the
    corpus) joined twice against the doc-cardinality signature table on
    doc_id — two equi-joins where the pair side is small (AQE broadcasts
    it); the signature columns ride the same pipeline minhash_signatures
    registers, so no new corpus-scan shape. All comparison arithmetic is
    integer; the only double is the Jaccard itself, an int/int division
    identical across engines."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sigs = minhash_signatures(spark, sf_dir).drop("n_shingles")
    match = F.expr(_sig_match_sql("sa", "sb"))
    return (
        pairs.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            match.cast("long").alias("n_sig_match"),
            (match * F.lit(_SIG_STEP_PPM)).cast("long").alias("est_ppm"),
            F.expr("CAST(floor(jaccard * 1000000) AS BIGINT)").alias("exact_ppm"),
            F.expr(
                f"CAST(abs(({_sig_match_sql('sa', 'sb')}) * {_SIG_STEP_PPM}"
                " - floor(jaccard * 1000000)) AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# chunk_dedup_reconstruct — C4-style corpus-global span dedup WITH document
# reconstruction (Raffel et al. 2020 drop any repeated three-sentence span;
# RefinedWeb/Gopher do the same at paragraph/line granularity). The corpus
# here has no sentence boundaries, so the dedup unit is a fixed
# non-overlapping 10-token block; each block survives only at its globally
# FIRST occurrence (ordered by doc_id, then position), and every document
# is re-assembled from its surviving blocks in order.
# ---------------------------------------------------------------------------

_CDR_B = 10  # tokens per dedup block


@register(
    "chunk_dedup_reconstruct",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, unnest(generate_series(0, (len(t) - 1) // {_CDR_B})) AS blk, t
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, blk,
        array_to_string(
          list_slice(t, blk * {_CDR_B} + 1, blk * {_CDR_B} + {_CDR_B}), ' '
        ) AS chunk_txt
      FROM blocks
    ),
    flagged AS (
      SELECT doc_id, blk, chunk_txt,
        row_number() OVER (
          PARTITION BY chunk_txt ORDER BY doc_id ASC, blk ASC
        ) = 1 AS kept
      FROM chunks
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
      CAST(coalesce(
        length(string_agg(chunk_txt, ' ' ORDER BY blk) FILTER (WHERE kept)), 0
      ) AS BIGINT) AS dedup_len,
      md5(coalesce(
        string_agg(chunk_txt, ' ' ORDER BY blk) FILTER (WHERE kept), ''
      )) AS dedup_hash
    FROM flagged
    GROUP BY doc_id
    """,
)
def chunk_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global span dedup + reconstruction over 10-token blocks.

    Plan: one explode to (doc_id, blk, chunk_txt); ONE chunk-keyed window
    (row_number over the chunk text) marks the global first occurrence;
    ONE doc-keyed groupBy re-assembles surviving blocks in position order
    and emits narrow columns (counts + md5 of the rebuilt text, the
    chunking.py contract). Two shuffles total, both linear in block count.

    At 100 TB: the window key should be xxhash64(chunk_txt) with bucket-
    local text re-verification (the duplicate_substring_spans two-pass
    pattern, dedup.py above) so the first shuffle moves 8-byte keys rather
    than text; the reassembly groupBy is the unavoidable cost of emitting
    deduped documents rather than a drop-list. Hot boilerplate chunks skew
    the window key — AQE skew-split handles the count side, and the
    row_number partition for a pathological chunk is bounded by its
    occurrence count (the C4 paper reports ~0.05% of spans repeated).
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    chunks = (
        docs.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr(
            "doc_id", f"explode(sequence(0, (size(t) - 1) div {_CDR_B})) AS blk", "t"
        )
        .selectExpr(
            "doc_id",
            "blk",
            f"concat_ws(' ', slice(t, blk * {_CDR_B} + 1, {_CDR_B})) AS chunk_txt",
        )
    )
    w = Window.partitionBy("chunk_txt").orderBy(F.asc("doc_id"), F.asc("blk"))
    flagged = chunks.withColumn("kept", F.row_number().over(w) == 1)
    rebuilt = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
        F.expr("array_sort(collect_list(struct(blk, kept, chunk_txt)))").alias("arr"),
    )
    kept_txt = "concat_ws(' ', transform(filter(arr, x -> x.kept), x -> x.chunk_txt))"
    return rebuilt.selectExpr(
        "doc_id",
        "n_chunks",
        "n_kept",
        f"CAST(length({kept_txt}) AS BIGINT) AS dedup_len",
        f"md5({kept_txt}) AS dedup_hash",
    )


# ---------------------------------------------------------------------------
# source_priority_dedup — exact dedup that keeps the copy from the BEST
# source rather than the lowest doc_id: every curation stack ranks its
# sources (curated > crawl-A > crawl-B ...) and, when the same text appears
# in several, keeps the highest-priority copy. Priority here is the
# source's numeric suffix (src0 beats src19), tie-broken by doc_id.
# ---------------------------------------------------------------------------

# (priority, doc_id) packed into one BIGINT so the argmin is a plain MIN
# with map-side partial aggregation — no window, no min_by struct (whose
# comparison semantics differ across engines).
_PRIO_PACK = 1_000_000_000_000


@register(
    "source_priority_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
        CAST(substr(source, 4) AS BIGINT) AS priority,
        source
      FROM documents
    )
    SELECT text_hash,
      CAST(COUNT(*) AS BIGINT) AS n_copies,
      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      CAST(MIN(priority * {_PRIO_PACK} + doc_id) % {_PRIO_PACK} AS BIGINT)
        AS kept_doc_id,
      CAST(MIN(priority * {_PRIO_PACK} + doc_id) // {_PRIO_PACK} AS BIGINT)
        AS kept_priority,
      substr(MIN(lpad(CAST(priority AS VARCHAR), 13, '0')
                 || lpad(CAST(doc_id AS VARCHAR), 13, '0') || source), 27)
        AS kept_source
    FROM d
    GROUP BY text_hash
    """,
)
def source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the best-source copy (argmin by packed key).

    Plan: one hash-keyed groupBy; the (priority, doc_id) argmin rides a
    single packed-BIGINT MIN, so every aggregate in the query has map-side
    partial aggregation — at 100 TB the shuffle carries one pre-combined
    row per (partition, distinct text hash), the same profile as
    exact_dedup. COUNT(DISTINCT source) rewrites to a two-level expand on
    the same key; source cardinality is tiny so the expansion factor is
    bounded.

    kept_source carries the winning row's ACTUAL source string (r9,
    per-advice): a lexicographic MIN over a fixed-width zero-padded
    '<priority><doc_id><source>' pack — the same total order as the
    packed-BIGINT argmin (ASCII digit comparison == numeric on equal
    width), still a plain map-side-combinable MIN, but immune to source-
    format drift ('src03' reconstructing as 'src3' under the old
    'src' || priority rebuild).
    """
    docs = fan_out(load(spark, sf_dir, "documents"))
    packed = F.expr(f"CAST(substr(source, 4) AS BIGINT) * {_PRIO_PACK} + doc_id")
    packed_src = F.expr(
        "concat(lpad(CAST(CAST(substr(source, 4) AS BIGINT) AS STRING), 13, '0'),"
        " lpad(CAST(doc_id AS STRING), 13, '0'), source)"
    )
    return (
        docs.select(
            F.expr(_NORM_HASH_SPARK).alias("text_hash"),
            "source",
            packed.alias("packed"),
            packed_src.alias("packed_src"),
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
            F.expr(f"CAST(MIN(packed) % {_PRIO_PACK} AS BIGINT)").alias("kept_doc_id"),
            F.expr(f"CAST(MIN(packed) DIV {_PRIO_PACK} AS BIGINT)").alias(
                "kept_priority"
            ),
            F.expr("substr(MIN(packed_src), 27)").alias("kept_source"),
        )
    )


# ---------------------------------------------------------------------------
# minhash_band_sweep — the LSH operating-point sweep every MinHash
# deployment runs before fixing (bands, rows): with 8 signatures, the four
# band shapes b8r1 / b4r2 / b2r4 / b1r8 trade recall (many short bands
# fire on weak similarity) against precision (few long bands fire only on
# strong similarity), tracing the classic S-curve P[candidate] =
# 1-(1-j^r)^b. Every candidate set is exactly verified, so the sweep
# reports measured precision/recall, not the formula. Recall's denominator
# is the b8r1 verified set: a pair agreeing on any r-row band necessarily
# agrees on each of its single-sig bands, so b8r1's candidates are a
# superset of every other config's.
# ---------------------------------------------------------------------------

_SWEEP_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))


def _sweep_struct_array_spark() -> str:
    entries = []
    for b, r in _SWEEP_CONFIGS:
        cfg = f"b{b}r{r}"
        for j in range(b):
            key = ", ".join(f"CAST(sigs[{j * r + i}] AS STRING)" for i in range(r))
            entries.append(
                f"struct('{cfg}' AS cfg, {j} AS band, concat_ws('|', {key}) AS band_key)"
            )
    return "array(" + ", ".join(entries) + ")"


def _sweep_bands_sql() -> str:
    selects = []
    for b, r in _SWEEP_CONFIGS:
        cfg = f"b{b}r{r}"
        for j in range(b):
            key = " || '|' || ".join(
                f"CAST(sig_{j * r + i} AS VARCHAR)" for i in range(r)
            )
            selects.append(
                f"SELECT doc_id, '{cfg}' AS cfg, {j} AS band, {key} AS band_key FROM sigs"
            )
    return "\n      UNION ALL ".join(selects)


def _sweep_case(field_idx: int) -> str:
    whens = " ".join(
        f"WHEN 'b{b}r{r}' THEN {(b, r)[field_idx]}" for b, r in _SWEEP_CONFIGS
    )
    return f"CASE cfg {whens} END"


@register(
    "minhash_band_sweep",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    hp AS (
      SELECT doc_id, shingles, {_HASH_PAIRS_SQL} AS hp FROM sh
    ),
    sigs AS (
      SELECT doc_id, shingles,
        {_sig_exprs_sql()}
      FROM hp
    ),
    bands_all AS (
      {_sweep_bands_sql()}
    ),
    cand AS (
      SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_all a
      JOIN bands_all b
        ON a.cfg = b.cfg AND a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.cfg,
        len(list_intersect(sa.shingles, sb.shingles)) AS i,
        len(sa.shingles) + len(sb.shingles) AS ab
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    per_cfg AS (
      SELECT cfg,
        CAST(COUNT(*) AS BIGINT) AS n_candidates,
        CAST(COUNT(*) FILTER (
          WHERE CAST(i AS DOUBLE) / (ab - i) >= {_JACCARD_T}
        ) AS BIGINT) AS n_verified
      FROM scored GROUP BY cfg
    )
    SELECT p.cfg,
      CAST({_sweep_case(0).replace('cfg', 'p.cfg')} AS BIGINT) AS n_bands,
      CAST({_sweep_case(1).replace('cfg', 'p.cfg')} AS BIGINT) AS n_rows,
      p.n_candidates, p.n_verified,
      t.n_true,
      CASE WHEN p.n_candidates = 0 THEN CAST(NULL AS BIGINT)
        ELSE (p.n_verified * 1000000) // p.n_candidates END AS precision_ppm,
      CASE WHEN t.n_true = 0 THEN CAST(NULL AS BIGINT)
        ELSE (p.n_verified * 1000000) // t.n_true END AS recall_ppm
    FROM per_cfg p
    CROSS JOIN (
      SELECT n_verified AS n_true FROM per_cfg WHERE cfg = 'b8r1'
    ) t
    """,
)
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of four LSH band shapes over 8 signatures.

    Plan: ONE shingling + signature pass (scoped-persisted, the expensive
    md5 loop runs once); all 15 (config, band) keys leave that pass as a
    single in-row explode, so candidate generation for the whole sweep is
    ONE band-keyed groupBy shuffle (sorted-bucket clique emission, the
    minhash_lsh_pairs shape) keyed by (cfg, band, band_key) — the sweep
    costs one pair pipeline, not four. Verification joins each config's
    candidates back to the persisted shingles; the 4-row summary then
    broadcasts the b8r1 truth row. At 100 TB the oversized-bucket story is
    lsh_pairs_capped's star topology, applied per config; the b1r8 end
    needs no cap (8-sig agreement ~ exact dup), the b8r1 end inherits the
    single-sig collision skew the capped generator documents.

    Integer-exact throughout: counts and floor-ppm ratios; the only double
    is the verification Jaccard, the same int/int division the pairs
    family hashes.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    docs = fan_out(load(spark, sf_dir, "documents"))
    sh = scoped_persist(
        docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
    )
    sigs_expr = (
        f"transform(sequence(0, {_N_SIGS - 1}),"
        " j -> array_min(transform(hp, h -> h[0] + j * h[1])))"
    )
    bands = (
        sh.selectExpr("doc_id", f"{_HASH_PAIRS_SPARK} AS hp")
        .selectExpr("doc_id", f"{sigs_expr} AS sigs")
        .selectExpr("doc_id", f"explode({_sweep_struct_array_spark()}) AS bnd")
        .select("doc_id", "bnd.cfg", "bnd.band", "bnd.band_key")
    )
    buckets = (
        bands.groupBy("cfg", "band", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.selectExpr(
            "cfg",
            "explode(flatten(transform(ids, (a, i) ->"
            " transform(slice(ids, i + 2, size(ids)),"
            " b -> struct(a AS doc_a, b AS doc_b))))) AS p",
        )
        .select("cfg", "p.doc_a", "p.doc_b")
        .distinct()
    )
    scored = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "cfg",
            F.size(
                F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
            ).alias("i"),
            (F.size("sa.shingles") + F.size("sb.shingles")).alias("ab"),
        )
    )
    per_cfg = scored.groupBy("cfg").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.expr(
            f"CAST(COUNT(IF(CAST(i AS DOUBLE) / (ab - i) >= {_JACCARD_T},"
            " 1, NULL)) AS BIGINT)"
        ).alias("n_verified"),
    )
    true_row = per_cfg.filter(F.col("cfg") == "b8r1").select(
        F.col("n_verified").alias("n_true")
    )
    return per_cfg.crossJoin(F.broadcast(true_row)).selectExpr(
        "cfg",
        f"CAST({_sweep_case(0)} AS BIGINT) AS n_bands",
        f"CAST({_sweep_case(1)} AS BIGINT) AS n_rows",
        "n_candidates",
        "n_verified",
        "n_true",
        "CASE WHEN n_candidates = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE (n_verified * 1000000) DIV n_candidates END AS precision_ppm",
        "CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE (n_verified * 1000000) DIV n_true END AS recall_ppm",
    )


# ---------------------------------------------------------------------------
# simhash_hamming_pairs — Manku et al. (WWW'07) near-dup detection over the
# 32-bit SimHash: split each fingerprint into 4 byte blocks; any pair
# within Hamming distance <= 3 differs in at most 3 blocks, so it MUST
# agree exactly on at least one block at the same position — candidates
# are pairs sharing a (position, block byte), verification is exact
# bit_count(xor). The pigeonhole guarantee makes the candidate set a
# provable superset of every qualifying pair (no recall loss, unlike
# probabilistic LSH banding).
# ---------------------------------------------------------------------------

_HAM_T = 3  # max Hamming distance (<= 4 blocks - 1 by pigeonhole)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_INT_CTES},
    blocks AS (
      SELECT doc_id, j.j AS blk,
        (simhash_int >> (8 * j.j)) & 255 AS blk_val
      FROM ints, range(4) j(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.blk_val = b.blk_val
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
        CAST(bit_count(xor(ia.simhash_int, ib.simhash_int)) AS BIGINT)
          AS hamming_distance
      FROM cand c
      JOIN ints ia ON ia.doc_id = c.doc_a
      JOIN ints ib ON ib.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, hamming_distance
    FROM verified
    WHERE hamming_distance <= {_HAM_T}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: byte-block candidates + exact Hamming verify.

    Plan: the fingerprint projection (zero-shuffle in-row fold, see
    simhash) explodes to 4 (position, byte) keys per doc; candidate
    generation is the family's ONE band-keyed groupBy with sorted-bucket
    clique emission, verification a doc-keyed join back to the
    fingerprints and a bit_count(xor) filter. The fingerprint table is
    scoped-persisted: it feeds three consumers (block stream + both sides
    of the verify join) and the per-token md5 fold is the dominant compute
    — without the persist the 10x probe's wall clock was ~3x one
    fingerprint pass. At 100 TB the 8-bit block alphabet (256 values per
    position) makes bucket skew the dominant concern — real deployments
    use 64-bit fingerprints split into 6-7 blocks (~10-bit alphabets) plus
    the lsh_pairs_capped star topology for hot blocks
    (simhash_hamming_pairs_capped below); the plan shape is unchanged,
    only the block arithmetic widens. Integer-exact end to end.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    fp = scoped_persist(simhash(spark, sf_dir).select("doc_id", "simhash_int"))
    blocks = fp.selectExpr(
        "doc_id",
        "explode(transform(sequence(0, 3),"
        " j -> struct(j AS blk, shiftright(simhash_int, 8 * j) & 255 AS blk_val)))"
        " AS b",
    ).select("doc_id", "b.blk", "b.blk_val")
    cand = (
        blocks.groupBy("blk", "blk_val")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .selectExpr(
            "explode(flatten(transform(ids, (a, i) ->"
            " transform(slice(ids, i + 2, size(ids)),"
            " b -> struct(a AS doc_a, b AS doc_b))))) AS p"
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return (
        cand.join(fp.selectExpr("doc_id AS doc_a", "simhash_int AS ha"), "doc_a")
        .join(fp.selectExpr("doc_id AS doc_b", "simhash_int AS hb"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(ha ^ hb) AS BIGINT) AS hamming_distance",
        )
        .filter(F.col("hamming_distance") <= _HAM_T)
    )


# ---------------------------------------------------------------------------
# simhash_hamming_pairs_capped — the 100 TB shape of the SimHash pair
# generator. The 10x probe (ARTIFACTS/r08_scaling_probe_batch789.md)
# measured the exact variant's fixed-geometry quadratic: 17.6x shuffle and
# ~9 GB spill at 10x docs, because a 32-bit fingerprint's 8-bit blocks
# give a 256-value alphabet whose buckets grow linearly with the corpus
# and whose cliques grow quadratically. Production SimHash (Manku §4)
# widens the fingerprint; within any fingerprint width the bucket cap is
# the load-bounding device — oversized (position, byte) buckets emit O(k)
# star edges against the bucket's min doc instead of the O(k²) clique,
# exactly the lsh_pairs_capped topology. Star edges are a subset of the
# clique's, so near-dup recall can only drop for pairs whose ONLY shared
# block is an oversized one — and identical-fingerprint pairs (the bulk
# of Hamming<=3 mass) always share all four blocks.
# ---------------------------------------------------------------------------


@register(
    "simhash_hamming_pairs_capped",
    oracle=f"""
    WITH {_SIMHASH_INT_CTES},
    blocks AS (
      SELECT doc_id, j.j AS blk,
        (simhash_int >> (8 * j.j)) & 255 AS blk_val
      FROM ints, range(4) j(j)
    ),
    buckets AS (
      SELECT blk, blk_val, list_sort(list(DISTINCT doc_id)) AS ids
      FROM blocks GROUP BY blk, blk_val
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    small AS (
      SELECT blk, blk_val, unnest(ids) AS d
      FROM buckets WHERE len(ids) <= {_BUCKET_CAP}
    ),
    clique_c AS (
      SELECT x.d AS doc_a, y.d AS doc_b
      FROM small x JOIN small y
        ON x.blk = y.blk AND x.blk_val = y.blk_val AND x.d < y.d
    ),
    star_c AS (
      SELECT ids[1] AS doc_a, unnest(ids[2:]) AS doc_b
      FROM buckets WHERE len(ids) > {_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM clique_c UNION ALL SELECT * FROM star_c)
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
        CAST(bit_count(xor(ia.simhash_int, ib.simhash_int)) AS BIGINT)
          AS hamming_distance
      FROM cand c
      JOIN ints ia ON ia.doc_id = c.doc_a
      JOIN ints ib ON ib.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, hamming_distance
    FROM verified
    WHERE hamming_distance <= {_HAM_T}
    """,
)
def simhash_hamming_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped SimHash pairs: cliques for normal blocks, stars past the cap.

    Same fingerprints, same exact Hamming verification as
    simhash_hamming_pairs; only candidate emission changes for buckets
    past {cap} members. The oracle replays the identical capped semantics
    (the _capped_components_oracle model), so the star branch is
    hash-checked by the driver, not just pytest-pinned. At 100 TB this
    bounds every bucket's contribution to O(k) while the exact variant's
    measured quadratic pays O(k²) — pair volume becomes corpus-linear in
    the number of oversized buckets. Fingerprints scoped-persisted for the
    same three-consumer reason as the exact variant.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    fp = scoped_persist(simhash(spark, sf_dir).select("doc_id", "simhash_int"))
    blocks = fp.selectExpr(
        "doc_id",
        "explode(transform(sequence(0, 3),"
        " j -> struct(j AS blk, shiftright(simhash_int, 8 * j) & 255 AS blk_val)))"
        " AS b",
    ).select("doc_id", "b.blk", "b.blk_val")
    buckets = (
        blocks.groupBy("blk", "blk_val")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.selectExpr(_capped_pairs_expr(_BUCKET_CAP))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return (
        cand.join(fp.selectExpr("doc_id AS doc_a", "simhash_int AS ha"), "doc_a")
        .join(fp.selectExpr("doc_id AS doc_b", "simhash_int AS hb"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(ha ^ hb) AS BIGINT) AS hamming_distance",
        )
        .filter(F.col("hamming_distance") <= _HAM_T)
    )


# ---------------------------------------------------------------------------
# simhash64_hamming_pairs — the production-width SimHash (r9, closing the
# 32-bit variants' own docstring note): 64-bit fingerprints split into
# SIX blocks (11/11/10 + 11/11/10 bits), Hamming threshold 5 — a pair
# within distance <= 5 differs in at most 5 blocks, so by pigeonhole it
# agrees exactly on >= 1 of the 6 (same provable-superset guarantee as
# the 32-bit/4-block variant, Manku WWW'07 §3). The wider ~11-bit block
# alphabet (2048/1024 values per position vs 256) is what actually fixes
# the 100 TB skew problem: expected bucket occupancy drops 4-8x at equal
# corpus size, and the star cap bounds whatever skew remains.
#
# Engine exactness: a full 64-bit fingerprint in a signed BIGINT risks
# sign-dependent shift semantics (Spark shiftright sign-extends), so the
# fingerprint lives as TWO non-negative 32-bit halves (hi = md5 hex
# digits 0-7 — bit-identical to the 32-bit family's simhash_int — and
# lo = digits 8-15). Block values are plain >>/& on non-negative ints;
# Hamming = bit_count(hi_a^hi_b) + bit_count(lo_a^lo_b). Nothing signed,
# nothing float.
# ---------------------------------------------------------------------------

_HAM64_T = 5  # <= 6 blocks - 1 by pigeonhole

# 6 blocks over (hi, lo): three per half, widths 11/11/10
_BLK64_SQL = """CASE j.j
          WHEN 0 THEN (hi >> 21) & 2047
          WHEN 1 THEN (hi >> 10) & 2047
          WHEN 2 THEN hi & 1023
          WHEN 3 THEN (lo >> 21) & 2047
          WHEN 4 THEN (lo >> 10) & 2047
          ELSE lo & 1023
        END"""

_TOKEN_BITS64 = (
    "transform(sequence(0, 63), k ->"
    " 2 * ((instr('0123456789abcdef', substr(md5(t), k div 4 + 1, 1)) - 1)"
    " div shiftleft(1, 3 - k % 4) % 2) - 1)"
)
_SIMHASH64_SUMS = (
    f"aggregate({TOKENS}, array_repeat(cast(0 as bigint), 64),"
    f" (acc, t) -> zip_with(acc, {_TOKEN_BITS64}, (x, y) -> x + y))"
)

_SIMHASH64_INT_CTES = """
    tok64 AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
      FROM documents
    ),
    bits64 AS MATERIALIZED (
      SELECT doc_id, (j.j * 4 + k.k) AS bit_index,
        2 * (((strpos('0123456789abcdef', substr(md5(t), j.j + 1, 1)) - 1)
              // (1 << (3 - k.k))) % 2) - 1 AS w
      FROM tok64, range(16) j(j), range(4) k(k)
    ),
    sums64 AS MATERIALIZED (
      SELECT doc_id, bit_index, SUM(w) AS s FROM bits64
      GROUP BY doc_id, bit_index
    ),
    bitvals64 AS MATERIALIZED (
      SELECT doc_id, bit_index, CASE WHEN s > 0 THEN 1 ELSE 0 END AS b
      FROM sums64
    ),
    ints64 AS MATERIALIZED (
      SELECT doc_id,
        SUM(CASE WHEN bit_index < 32
                 THEN CAST(b AS BIGINT) << (31 - bit_index) ELSE 0 END) AS hi,
        SUM(CASE WHEN bit_index >= 32
                 THEN CAST(b AS BIGINT) << (63 - bit_index) ELSE 0 END) AS lo
      FROM bitvals64 GROUP BY doc_id
    )
"""


@register(
    "simhash64_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH64_INT_CTES},
    blocks64 AS (
      SELECT doc_id, j.j AS blk,
        {_BLK64_SQL} AS blk_val
      FROM ints64, range(6) j(j)
    ),
    buckets64 AS (
      SELECT blk, blk_val, list_sort(list(DISTINCT doc_id)) AS ids
      FROM blocks64 GROUP BY blk, blk_val
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    small64 AS (
      SELECT blk, blk_val, unnest(ids) AS d
      FROM buckets64 WHERE len(ids) <= {_BUCKET_CAP}
    ),
    clique64 AS (
      SELECT x.d AS doc_a, y.d AS doc_b
      FROM small64 x JOIN small64 y
        ON x.blk = y.blk AND x.blk_val = y.blk_val AND x.d < y.d
    ),
    star64 AS (
      SELECT ids[1] AS doc_a, unnest(ids[2:]) AS doc_b
      FROM buckets64 WHERE len(ids) > {_BUCKET_CAP}
    ),
    cand64 AS (
      SELECT DISTINCT doc_a, doc_b
      FROM (SELECT * FROM clique64 UNION ALL SELECT * FROM star64)
    ),
    verified64 AS (
      SELECT c.doc_a, c.doc_b,
        CAST(bit_count(xor(ia.hi, ib.hi)) + bit_count(xor(ia.lo, ib.lo))
             AS BIGINT) AS hamming_distance
      FROM cand64 c
      JOIN ints64 ia ON ia.doc_id = c.doc_a
      JOIN ints64 ib ON ib.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, hamming_distance
    FROM verified64
    WHERE hamming_distance <= {_HAM64_T}
    """,
)
def simhash64_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit/6-block SimHash near-dup pairs (Hamming <= {_HAM64_T}),
    capped star topology for hot buckets — the production-width variant
    the 32-bit family's docstring names as the real deployment shape.

    Plan: identical to simhash_hamming_pairs_capped — in-row fingerprint
    fold (zero shuffle), 6 (position, block) keys per doc into ONE
    band-keyed groupBy with sorted-bucket clique/star emission, doc-keyed
    verify join over the scoped-persisted fingerprints — but each block
    position now has a 2048/1024-value alphabet, so per-bucket occupancy
    (the quantity the 8-bit variant's 10x probe showed going quadratic)
    drops ~4-8x before the cap even engages. The oracle replays the
    capped semantics exactly, star branch included.
    """
    release_persisted()  # drop any prior invocation's cached intermediates
    stages = _simhash64_stages(spark, sf_dir)
    fp, cand = stages["fp"], stages["cand"]
    return (
        cand.join(fp.selectExpr("doc_id AS doc_a", "hi AS ha_hi", "lo AS ha_lo"), "doc_a")
        .join(fp.selectExpr("doc_id AS doc_b", "hi AS hb_hi", "lo AS hb_lo"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(bit_count(ha_hi ^ hb_hi) + bit_count(ha_lo ^ hb_lo)"
            " AS BIGINT) AS hamming_distance",
        )
        .filter(F.col("hamming_distance") <= _HAM64_T)
    )


def _simhash64_fp(docs: DataFrame) -> DataFrame:
    """Expression-fold 64-bit fingerprint (doc_id, hi, lo): the two
    unsigned 32-bit halves simhash64_hamming_pairs blocks on."""
    return docs.selectExpr("doc_id", f"{_SIMHASH64_SUMS} AS bs").selectExpr(
        "doc_id",
        "aggregate(zip_with(slice(bs, 1, 32), sequence(0, 31),"
        " (s, k) -> if(s > 0, shiftleft(cast(1 as bigint), 31 - k),"
        " cast(0 as bigint))), cast(0 as bigint), (a, v) -> a + v) AS hi",
        "aggregate(zip_with(slice(bs, 33, 32), sequence(32, 63),"
        " (s, k) -> if(s > 0, shiftleft(cast(1 as bigint), 63 - k),"
        " cast(0 as bigint))), cast(0 as bigint), (a, v) -> a + v) AS lo",
    )


def _simhash64_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Fingerprint/bucket/candidate stages of simhash64_hamming_pairs,
    exposed separately so the skew probe (tools/simhash_skew_probe.py) can
    measure bucket occupancy and candidate volume stage-by-stage."""
    fp = scoped_persist(_simhash64_fp(fan_out(load(spark, sf_dir, "documents"))))
    blk_exprs = ", ".join(
        f"struct({j} AS blk, {expr} AS blk_val)"
        for j, expr in enumerate(
            [
                "shiftright(hi, 21) & 2047",
                "shiftright(hi, 10) & 2047",
                "hi & 1023",
                "shiftright(lo, 21) & 2047",
                "shiftright(lo, 10) & 2047",
                "lo & 1023",
            ]
        )
    )
    blocks = fp.selectExpr(
        "doc_id", f"explode(array({blk_exprs})) AS b"
    ).select("doc_id", "b.blk", "b.blk_val")
    buckets = (
        blocks.groupBy("blk", "blk_val")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = (
        buckets.selectExpr(_capped_pairs_expr(_BUCKET_CAP))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return {"fp": fp, "buckets": buckets, "cand": cand}


# ---------------------------------------------------------------------------
# dedup_cluster_size_histogram — the duplication census a curation run
# publishes: how much of the corpus sits in near-dup clusters, and in what
# cluster sizes (log2 buckets). Bucket 0 is the singleton mass (docs in no
# near-dup pair — every component from the pair graph has size >= 2, so
# the buckets cannot collide); the share columns answer "what fraction of
# the corpus would dedup remove" directly.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL_CTES},
    e AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
      FROM reach GROUP BY a
    ),
    sizes AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM comp GROUP BY component_id
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS total_docs,
        CAST(COALESCE((SELECT SUM(c) FROM sizes), 0) AS BIGINT) AS in_docs
    ),
    hist AS (
      SELECT CAST(floor(log2(c)) AS BIGINT) AS log2_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_components,
        CAST(SUM(c) AS BIGINT) AS n_docs,
        CAST(MIN(c) AS BIGINT) AS min_size,
        CAST(MAX(c) AS BIGINT) AS max_size
      FROM sizes GROUP BY floor(log2(c))
      UNION ALL
      SELECT CAST(0 AS BIGINT), total_docs - in_docs, total_docs - in_docs,
        CAST(1 AS BIGINT), CAST(1 AS BIGINT)
      FROM tot
    )
    SELECT h.log2_bucket, h.n_components, h.n_docs, h.min_size, h.max_size,
      (h.n_docs * 1000000) // t.total_docs AS docs_share_ppm
    FROM hist h CROSS JOIN tot t
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 histogram of near-dup cluster sizes + singleton mass.

    Plan: rides the memoized (doc_id, label) component table (the
    neardup_components subgraph — computed once per session scope), so
    the histogram itself is a label-keyed count, a <=handful-of-buckets
    rollup with map-side combine, and two one-row censuses broadcast for
    the singleton row and the ppm shares. At 100 TB everything past the
    (already-priced) component pass is bounded by bucket count. The log2
    bucket uses the key_skew_histogram convention (floor(log2(exact
    integer)) — correctly-rounded in both engines, exact at powers of 2).
    """
    labels = _neardup_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    tot = (
        fan_out(load(spark, sf_dir, "documents"))
        .agg(F.count(F.lit(1)).alias("total_docs"))
        .crossJoin(F.broadcast(sizes.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("in_docs")
        )))
    )
    hist = sizes.groupBy(
        F.expr("CAST(floor(log2(c)) AS BIGINT)").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("c").alias("n_docs"),
        F.min("c").alias("min_size"),
        F.max("c").alias("max_size"),
    )
    singles = tot.selectExpr(
        "CAST(0 AS BIGINT) AS log2_bucket",
        "total_docs - in_docs AS n_components",
        "total_docs - in_docs AS n_docs",
        "CAST(1 AS BIGINT) AS min_size",
        "CAST(1 AS BIGINT) AS max_size",
    )
    return (
        hist.unionAll(singles)
        .crossJoin(F.broadcast(tot.select("total_docs")))
        .selectExpr(
            "log2_bucket",
            "n_components",
            "n_docs",
            "min_size",
            "max_size",
            "(n_docs * 1000000) DIV total_docs AS docs_share_ppm",
        )
    )
