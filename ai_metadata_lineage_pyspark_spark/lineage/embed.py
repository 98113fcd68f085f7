"""Embedding + retrieval layer.

Spark-native re-expression of qa/embed_index.py + qa/ask.py retrieval:
the reference embeds docs one-by-one through Titan and stores FAISS
IndexFlatL2 sidecar files with positional ids (embed_index.py:23-46). Here:

* embeddings are a DataFrame column (`array<float>`), id lives in the row —
  no positional-id coupling;
* the embedding function is pluggable: production would call a model API
  from a batched `mapInPandas` (Arrow transfer, executor-side parallel —
  replacing the reference's sequential loop, SURVEY.md §4); tests use the
  deterministic hash-based embedder below (the "LLM never defines truth"
  rule keeps it out of deterministic artifacts);
* retrieval is exact brute-force top-k (operators/similarity.py pattern) —
  A36's `index.search(q, 25)` as one ordered limit over the scored rows,
  which Spark plans as a `TakeOrderedAndProject`: a top-k per partition,
  then a merge of those k-row lists (the REPOSE shape), so no exchange of
  the whole corpus and no global window. The rank is numbered afterwards,
  over the k rows kept.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_expr

DIM = 64
TOP_K = 25  # qa/ask.py:32


def hash_embed(text: str, dim: int = DIM) -> list[float]:
    """Deterministic bag-of-tokens hash embedding (test stand-in for Titan).

    Each token adds ±1 to a dim-bucket chosen by its md5; the vector is
    L2-normalized. Pure function of the text — stable across runs/engines.
    """
    vec = [0.0] * dim
    for tok in text.lower().split():
        h = hashlib.md5(tok.encode()).digest()
        bucket = int.from_bytes(h[:4], "big") % dim
        sign = 1.0 if h[4] % 2 == 0 else -1.0
        vec[bucket] += sign
    norm = math.sqrt(sum(v * v for v in vec))
    return [v / norm for v in vec] if norm > 0 else vec


def embed_documents(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> (id, embedding) via batched mapInPandas (Arrow)."""
    out_schema = f"{id_col} string, embedding array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "embedding": [hash_embed(t) for t in pdf[text_col]],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def _rank_order(id_col: str) -> list[Column]:
    """Highest score first; equal scores by ascending id."""
    return [F.col("score").desc(), F.col(id_col).asc()]


def top_k(
    embedded: DataFrame, query_vec: list[float], k: int = TOP_K, id_col: str = "doc_id"
) -> DataFrame:
    """The k rows of `embedded` closest to one query vector by cosine, every
    column kept plus `score`, ordered (score DESC, id ASC): one ordered limit.

    The query vector must have a nonzero norm: its cosine is undefined and,
    under ANSI mode, fails inside an executor task as DIVIDE_BY_ZERO."""
    if not any(query_vec):
        raise ValueError("query vector has zero norm: no cosine ranking exists")
    lit_vec = F.array(*[F.lit(float(v)) for v in query_vec])
    score = F.expr(cosine_expr("embedding", "query_vec"))
    return (
        embedded.withColumn("query_vec", lit_vec)
        .withColumn("score", score)
        .drop("query_vec")
        .orderBy(*_rank_order(id_col))
        .limit(k)
    )


def retrieve_top_k(
    embedded: DataFrame, query_vec: list[float], k: int = TOP_K, id_col: str = "doc_id"
) -> DataFrame:
    """Exact top-k docs by cosine against one query vector: (id, score, rank).
    The rank window numbers only the k rows the ordered limit keeps, in the
    limit's own order (score DESC, id ASC)."""
    w = Window.orderBy(*_rank_order(id_col))
    return top_k(embedded, query_vec, k, id_col).select(
        id_col, "score", F.row_number().over(w).alias("rank")
    )
