"""Ingest-time streaming gates: stateless document filters that run inside
a Structured Streaming pipeline as data arrives, rather than as batch
passes after landing.

`streaming_decontam_gate` is the production shape of benchmark
decontamination at ingest: the eval set's Bloom bitmap is BUILT once
batch-side (m=2048 bits — 256 bytes — the whole point of a Bloom filter is
that this ships everywhere for free) and evaluated per incoming document as
a zero-state row-local expression; contaminated docs surface immediately,
no stateful operator, no watermark, no shuffle in the stream. availableNow
replay over the fixture reproduces the batch filter's census exactly, so
the SAME relational oracle hash-checks the streaming path (the
streaming_scd2_history model).

Reference parity: the reference has no streaming surface (SURVEY §2,
README "Streaming lineage ingestion" is listed as future); this extends
the engine's streaming family alongside sessions.py/joins.py/upsert.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.io import load, table_schema
from ..functions.text import _SHINGLES_FROM_TOKS, _SQL_SHINGLES, SQL_TOKENS, TOKENS
from ..operators.decontam import _BLOOM_K, _BLOOM_M_SMALL, _EVAL_MOD
from ..registry import register
from .sessions import run_to_memory


# Kirsch-Mitzenmacher double hashing for the gate's Bloom probes: ONE md5
# per shingle split into two 32-bit halves (h1, h2); probe i lands at
# (h1 + i*h2) mod m. Same trick (and same rationale) as the MinHash
# signature family (operators/dedup.py _HASH_PAIRS_SPARK): an interpreted
# higher-order-function lambda pays per-call md5 cost, so collapsing three
# prefixed md5s to one measured ~3x off the gate's per-document cost.
# Positions differ from bloom_decontam_*'s per-probe-prefix construction —
# the gate's oracle replays THIS formula, and the batch/stream equality
# test builds both sides from the shared _gate_frame.


def _km_pos_spark(col: str, i: int) -> str:
    return (
        f"pmod(cast(conv(substr(md5({col}), 1, 8), 16, 10) as bigint)"
        f" + {i} * cast(conv(substr(md5({col}), 9, 8), 16, 10) as bigint),"
        f" {_BLOOM_M_SMALL})"
    )


def _km_pos_duck(i: int) -> str:
    return (
        f"(('0x' || substr(md5(shingle), 1, 8))::BIGINT"
        f" + {i} * ('0x' || substr(md5(shingle), 9, 8))::BIGINT)"
        f" % {_BLOOM_M_SMALL}"
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture (schema pinned from the
    batch reader's memo; glob form for the file source's basePath
    derivation)."""
    schema = table_schema(spark, sf_dir, "documents")
    return spark.readStream.schema(schema).parquet(f"{sf_dir}/documents*.parquet")


def _bloom_bits(spark: SparkSession, sf_dir: str) -> str:
    """Batch-build the eval slice's m=2048 Bloom bitmap as a '0'/'1' string.

    This is the filter FIT step (bounded by m, not by the corpus): the
    positions are collected once and the bitmap is embedded in the
    streaming expression — the broadcast-tiny-state pattern a real ingest
    gate uses. Collect volume <= 3 x eval shingles, output exactly m chars.
    """
    docs = load(spark, sf_dir, "documents")
    pos_exprs = ", ".join(_km_pos_spark("shingle", i) for i in range(_BLOOM_K))
    rows = (
        docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .selectExpr(f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr(f"explode({_SHINGLES_FROM_TOKS}) AS shingle")
        .selectExpr(f"explode(array({pos_exprs})) AS p")
        .distinct()
        .collect()
    )
    bits = ["0"] * _BLOOM_M_SMALL
    for r in rows:
        bits[r.p] = "1"
    return "".join(bits)


@register(
    "streaming_decontam_gate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
      WHERE len({SQL_TOKENS}) >= 3
    ),
    x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    eval_pos AS (
      SELECT DISTINCT p FROM (
        SELECT unnest([{_km_pos_duck(0)},
                       {_km_pos_duck(1)},
                       {_km_pos_duck(2)}]) AS p
        FROM (SELECT DISTINCT shingle FROM x WHERE doc_id % {_EVAL_MOD} = 0)
      )
    ),
    tr_pos AS (
      SELECT doc_id, shingle,
        unnest([{_km_pos_duck(0)},
                {_km_pos_duck(1)},
                {_km_pos_duck(2)}]) AS p
      FROM x WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    matched AS (
      SELECT t.doc_id, t.shingle, COUNT(*) AS k_hit
      FROM tr_pos t JOIN eval_pos e ON e.p = t.p
      GROUP BY t.doc_id, t.shingle
    ),
    hits AS (
      SELECT doc_id,
        CAST(COUNT(*) FILTER (WHERE k_hit = {_BLOOM_K}) AS BIGINT)
          AS n_bloom_hits
      FROM matched GROUP BY doc_id
    )
    SELECT s.doc_id,
      CAST(len(s.shingles) AS BIGINT) AS n_shingles,
      h.n_bloom_hits
    FROM sh s JOIN hits h ON s.doc_id = h.doc_id
    WHERE s.doc_id % {_EVAL_MOD} <> 0 AND h.n_bloom_hits > 0
    """,
)
def streaming_decontam_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom decontamination as a stateless streaming ingest gate.

    Plan: the m=2048 eval bitmap is fitted batch-side and inlined into a
    row-local expression (ONE md5 per shingle via Kirsch-Mitzenmacher
    double hashing + 3 substr probes, all inside the stream's stateless
    projection; the per-probe-prefix variant measured ~3x slower in the
    interpreted lambda); the stream has NO stateful
    operators — append mode, no watermark, no shuffle — so at 100 TB/day
    ingest the gate adds zero state-store pressure and scales with source
    parallelism alone. Flagged docs emit (doc_id, n_shingles,
    n_bloom_hits); the availableNow replay over the fixture reproduces
    the batch evaluation of the SAME frame (test-pinned) and is
    hash-checked by a relational oracle replaying the KM probes.

    Measured cost note (the r8->r9 swap): the first shipped shape probed
    the bitmap inside a higher-order-function `filter(shingles, s -> ...)`
    lambda, which Spark interprets (no whole-stage codegen) — ~13-17s
    steady for 5000 docs x ~90 shingles at sf0.1 regardless of md5 count
    (KM vs per-probe prefixes measured within noise of each other). The
    probe now runs as a stateless Arrow-batched mapInPandas (numpy over
    the 256-byte bitmap; md5 via hashlib, positions/membership/per-doc
    rollup fully vectorized), which keeps the zero-state/zero-shuffle
    property — stateless mapInPandas is streaming-legal in append mode —
    and measured ~2.2s steady end-to-end at sf0.1 (~8x; the residue is
    the batch-side bitmap fit + stream setup, not the probe). The
    interpreted-expression variant is kept as `_gate_frame_hof` (zero-
    Python-worker alternative) and equality-pinned against the default
    in tests/test_streaming.py.
    """
    bits = _bloom_bits(spark, sf_dir)
    frame = _gate_frame(read_documents_stream(spark, sf_dir), bits)
    return run_to_memory(frame, "append")


def _gate_frame(docs: DataFrame, bits: str) -> DataFrame:
    """The gate's stateless probe, shared verbatim by the stream and the
    batch reference (tests/test_streaming.py equality).

    Shingling stays a codegen'd Spark projection (identical semantics to
    the oracle's); the Bloom probe is an Arrow-batched mapInPandas over
    the fitted m=2048-bit bitmap: one md5 per shingle (Kirsch-
    Mitzenmacher, h1/h2 = the digest's first two 32-bit words — byte-
    identical to the `conv(substr(md5(..)..))` expression the fit step
    and oracle use), then numpy position arithmetic, bitmap gather,
    all-k AND, and a bincount per-doc rollup. No state, no shuffle, no
    per-row Python.
    """

    def probe(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        bm = np.frombuffer(bits.encode("ascii"), dtype=np.uint8) == ord("1")
        for pdf in batches:
            if pdf.empty:
                continue
            counts = pdf["shingles"].map(len).to_numpy(dtype=np.int64)
            flat = [s for lst in pdf["shingles"] for s in lst]
            if flat:
                n = len(flat)
                dg = [hashlib.md5(s.encode("utf-8")).digest() for s in flat]
                h1 = np.fromiter(
                    (int.from_bytes(d[:4], "big") for d in dg),
                    dtype=np.int64, count=n,
                )
                h2 = np.fromiter(
                    (int.from_bytes(d[4:8], "big") for d in dg),
                    dtype=np.int64, count=n,
                )
                hit = np.ones(n, dtype=bool)
                for i in range(_BLOOM_K):
                    hit &= bm[(h1 + i * h2) % _BLOOM_M_SMALL]
                seg = np.repeat(np.arange(len(pdf)), counts)
                hits = np.bincount(
                    seg[hit], minlength=len(pdf)
                ).astype(np.int64)
            else:
                hits = np.zeros(len(pdf), dtype=np.int64)
            keep = hits > 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "n_shingles": counts[keep],
                    "n_bloom_hits": hits[keep],
                }
            )

    return _shingled(docs).mapInPandas(
        probe, "doc_id bigint, n_shingles bigint, n_bloom_hits bigint"
    )


def _shingled(docs: DataFrame) -> DataFrame:
    return (
        docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
    )


def _gate_frame_hof(docs: DataFrame, bits: str) -> DataFrame:
    """The pure-expression gate variant (no Python workers at all): the
    Bloom probe runs inside a higher-order-function lambda. Spark
    interprets HOF lambdas (no whole-stage codegen), so this measured
    ~12x slower than the vectorized default at sf0.1 — kept as the
    zero-dependency alternative and as the equality pin for the default."""
    hit = " AND ".join(
        f"substr('{{bits}}', {_km_pos_spark('s', i)} + 1, 1) = '1'"
        for i in range(_BLOOM_K)
    ).format(bits=bits)
    return (
        _shingled(docs)
        .selectExpr(
            "doc_id",
            "CAST(size(shingles) AS BIGINT) AS n_shingles",
            f"CAST(size(filter(shingles, s -> {hit})) AS BIGINT) AS n_bloom_hits",
        )
        .filter("n_bloom_hits > 0")
    )


# ---------------------------------------------------------------------------
# streaming_vocab_topk — the canonical streaming word count, done with the
# determinism the batch registry demands: complete-output-mode aggregation
# (the one output mode that permits sort+limit after a streaming agg) over
# the document stream, emitting the top-50 tokens by occurrence with a
# total-order tiebreak. Exercises the output-mode surface the other
# streaming ops don't touch (sessions/joins run append or update).
# ---------------------------------------------------------------------------

_VOCAB_TOP_K = 50


@register(
    "streaming_vocab_topk",
    oracle=f"""
    WITH x AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM x
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT {_VOCAB_TOP_K}
    """,
)
def streaming_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-{k} corpus tokens (complete mode + sort + limit).

    Plan: stateless explode inside the stream, ONE streaming aggregation
    keyed by token (state = one count per distinct token — vocabulary-
    bounded, the same Zipf-skew envelope the batch wordcount documents),
    then the complete-mode sort+limit that only this output mode allows.
    No COUNT(DISTINCT) (unsupported in streaming aggs — the batch twin
    corpus_vocabulary carries the per-token doc frequency instead).
    availableNow replay equals the batch answer, hash-checked by the
    same relational oracle with a (count DESC, token ASC) total order.
    """
    stream = (
        read_documents_stream(spark, sf_dir)
        .selectExpr(f"explode({TOKENS}) AS token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(_VOCAB_TOP_K)
    )
    return run_to_memory(stream, "complete")
