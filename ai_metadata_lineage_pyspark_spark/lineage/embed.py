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
* distributed retrieval is exact brute-force top-k (operators/similarity.py
  pattern) — A36's `index.search(q, 25)` as one ordered limit over the
  scored rows, which Spark plans as a `TakeOrderedAndProject`: a top-k per
  partition, then a merge of those k-row lists (the REPOSE shape), so no
  exchange of the whole corpus and no global window. The rank is numbered
  afterwards, over the k rows kept;
* interactive retrieval is a driver-resident exact flat index (`FlatIndex`),
  as the reference's FAISS index is: collected once per Q&A session, then
  searched in-process with no Spark job. Its scores are bit-identical to
  `cosine_expr`, so it ranks exactly as `top_k` does, ties included: the
  dot product and both squared norms are sequential double folds over the
  dimensions in index order, one IEEE multiply and one IEEE add per term,
  exactly the order of Spark's `aggregate(zip_with(...), 0D, acc + v)`
  (vectorised across docs, never a BLAS dot, which reassociates the sum),
  then `dot / (sqrt(na) * sqrt(nb))` with correctly rounded sqrt and
  division on both sides. The float embeddings widen to double exactly.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
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


class RetrievalIndexTooLarge(RuntimeError):
    """The corpus holds more than `MAX_INDEX_DOCS` docs: the session's flat
    index stops instead of running the driver out of memory."""


# A doc costs 8 * DIM = 512 B of float64 embedding plus its id (a 64-char
# sha256 hex), ref and text as Python strings, a few hundred bytes more, so
# 500,000 docs is 256 MB of embeddings and about 0.5 GB in all of the 8g
# default driver.
MAX_INDEX_DOCS = 500_000


def _fold(pairs: Iterator[tuple]) -> float | np.ndarray:
    """Sum of x * y over `pairs`, left to right from 0.0: `aggregate`'s
    sequential double fold, on floats or elementwise on arrays."""
    acc = 0.0
    for x, y in pairs:
        acc = acc + x * y
    return acc


@dataclass(frozen=True)
class FlatIndex:
    """Docs held on the driver for exact in-process cosine top-k (FAISS's
    IndexFlat role): row i is doc ids[i], with refs[i], texts[i], embedding
    `embeddings[i]` and `norms[i]` = sqrt of its sequential sum of squares.
    The embeddings are stored column-major, so each fold step reads one
    contiguous dimension across all docs."""

    ids: list[str]
    refs: list[str]
    texts: list[str]
    embeddings: np.ndarray
    norms: np.ndarray

    @classmethod
    def collect(cls, docs: DataFrame) -> "FlatIndex":
        """Collect (doc_id, ref, text, embedding) rows, at most
        MAX_INDEX_DOCS + 1 of them; raises RetrievalIndexTooLarge when the
        cap is exceeded and ValueError when a doc's embedding is zero (no
        cosine exists; `top_k` fails on it too, as DIVIDE_BY_ZERO)."""
        rows = docs.select("doc_id", "ref", "text", "embedding").limit(MAX_INDEX_DOCS + 1).collect()
        if len(rows) > MAX_INDEX_DOCS:
            raise RetrievalIndexTooLarge(
                f"retrieval index reached {len(rows)} docs, over the driver cap"
                f" MAX_INDEX_DOCS={MAX_INDEX_DOCS}"
            )
        emb = np.asfortranarray(
            np.array([r.embedding for r in rows], dtype=np.float64).reshape(len(rows), DIM)
        )
        cols = [emb[:, j] for j in range(DIM)]
        norms = np.sqrt(_fold(zip(cols, cols)))
        if not norms.all():
            zero = rows[int(np.argmin(norms))].doc_id
            raise ValueError(f"doc {zero} has a zero-norm embedding: no cosine ranking exists")
        return cls(
            ids=[r.doc_id for r in rows],
            refs=[r.ref for r in rows],
            texts=[r.text for r in rows],
            embeddings=emb,
            norms=norms,
        )

    def search(self, query_vec: list[float], k: int = TOP_K) -> list[tuple[int, float]]:
        """(row, score) of the k docs `top_k` would return for the query, in
        its order (score DESC, id ASC), with its scores to the bit."""
        if not any(query_vec):
            raise ValueError("query vector has zero norm: no cosine ranking exists")
        q = [float(v) for v in query_vec]
        dot = _fold(zip((self.embeddings[:, j] for j in range(DIM)), q))
        scores = dot / (self.norms * math.sqrt(_fold(zip(q, q))))
        n = len(self.ids)
        kept = np.arange(n)
        if 0 < k < n:
            kth = np.partition(scores, n - k)[n - k]
            kept = np.flatnonzero(scores >= kth)  # every doc tied with the k-th too
        ranked = sorted(kept.tolist(), key=lambda i: (-scores[i], self.ids[i]))
        return [(i, float(scores[i])) for i in ranked[:k]]
