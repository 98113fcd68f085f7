"""HOF-lambda audit probe (r9 verdict #8): measure what share of each
registered hot query's steady wall-clock is spent in interpreted
higher-order-function lambdas, by timing the query against a variant with
the HOF stage isolated (or a vectorized twin where one exists).

Emits one JSON line per measurement; assembled into
ARTIFACTS/r09_hof_lambda_audit.md by hand.

Usage: python tools/hof_audit.py [sf_dir]
NEVER run concurrently with bench/probe (host-variance contract).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from ai_metadata_lineage_pyspark_spark.functions.cache import (  # noqa: E402
    release_models,
    release_persisted,
)
from ai_metadata_lineage_pyspark_spark.functions.io import fan_out, load  # noqa: E402
from ai_metadata_lineage_pyspark_spark.registry import all_queries  # noqa: E402
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def median3(fn) -> float:
    """median-of-3 steady seconds (first run discarded as warmup)."""
    fn()
    release_persisted()
    ts = []
    for _ in range(3):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
        release_persisted()
    return round(sorted(ts)[1], 3)


def main() -> None:
    spark = get_spark("hof-audit")
    for t in ("documents", "embeddings"):
        load(spark, SF, t).count()
    docs = fan_out(load(spark, SF, "documents"))
    reg = all_queries()
    out = {}

    from ai_metadata_lineage_pyspark_spark.functions.text import (
        _SHINGLES_FROM_TOKS,
        TOKENS,
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        _HASH_PAIRS_SPARK,
        _sig_exprs_spark,
        _simhash_expr,
    )

    # --- simhash fingerprint: expression fold ---
    out["simhash_fp_expr"] = median3(lambda: _simhash_expr(docs).count())

    # --- minhash signature chain: the registered expression pipeline vs a
    # vectorized twin (md5 per DISTINCT shingle per batch, numpy mins) ---
    out["minhash_signatures_expr"] = median3(
        lambda: reg["minhash_signatures"].fn(spark, SF).count()
    )

    def _minhash_vectorized():
        import hashlib

        import numpy as np
        import pandas as pd

        n_sigs = 8

        def probe(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                vocab: dict[str, int] = {}
                for lst in pdf["shingles"]:
                    for s in lst:
                        if s not in vocab:
                            vocab[s] = len(vocab)
                h = np.empty((len(vocab), 2), dtype=np.int64)
                for s, i in vocab.items():
                    d = hashlib.md5(s.encode("utf-8")).digest()
                    h[i, 0] = int.from_bytes(d[:4], "big")
                    h[i, 1] = int.from_bytes(d[4:8], "big")
                rows = []
                for doc_id, lst, n in zip(
                    pdf["doc_id"], pdf["shingles"], pdf["n_shingles"]
                ):
                    idx = np.fromiter(
                        (vocab[s] for s in lst), dtype=np.int64, count=len(lst)
                    )
                    hp = h[idx]
                    sigs = [
                        int((hp[:, 0] + j * hp[:, 1]).min())
                        for j in range(n_sigs)
                    ]
                    rows.append([doc_id, n, *sigs])
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "n_shingles"]
                    + [f"sig_{j}" for j in range(n_sigs)],
                )

        schema = "doc_id bigint, n_shingles int, " + ", ".join(
            f"sig_{j} bigint" for j in range(8)
        )
        return (
            docs.selectExpr("doc_id", f"{TOKENS} AS toks")
            .filter("size(toks) >= 3")
            .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
            .selectExpr("doc_id", "size(shingles) AS n_shingles", "shingles")
            .mapInPandas(probe, schema)
        )

    out["minhash_signatures_vectorized"] = median3(
        lambda: _minhash_vectorized().count()
    )
    # sanity: identical signatures (integer mins, order-free)
    a = {tuple(r) for r in reg["minhash_signatures"].fn(spark, SF).collect()}
    b = {tuple(r) for r in _minhash_vectorized().collect()}
    out["minhash_vectorized_equal"] = a == b

    # --- shingle build alone (transform lambda, output-bound) ---
    out["shingle_build"] = median3(
        lambda: docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
        .selectExpr("doc_id", "size(shingles) AS n")
        .agg(F.sum("n"))
        .collect()
    )
    # hp stage on top of shingles (md5-per-occurrence transform lambda)
    out["shingle_plus_hp"] = median3(
        lambda: docs.selectExpr("doc_id", f"{TOKENS} AS toks")
        .filter("size(toks) >= 3")
        .selectExpr("doc_id", f"{_SHINGLES_FROM_TOKS} AS shingles")
        .selectExpr("doc_id", f"{_HASH_PAIRS_SPARK} AS hp")
        .selectExpr("doc_id", *_sig_exprs_spark())
        .agg(F.sum("sig_0"))
        .collect()
    )

    # --- cosine fold (order-pinned float; measured for the record) ---
    from ai_metadata_lineage_pyspark_spark.functions.vectors import norm_expr

    emb = fan_out(load(spark, SF, "embeddings"))
    out["cosine_norm_fold_corpus"] = median3(
        lambda: emb.selectExpr(f"{norm_expr('embedding')} AS n")
        .agg(F.sum("n"))
        .collect()
    )

    # --- registered query-level steadies for share computation ---
    for q in (
        "simhash_hamming_pairs_capped",
        "minhash_lsh_pairs",
        "text_quality_score",
        "cosine_topk",
    ):
        out[f"query:{q}"] = median3(lambda q=q: reg[q].fn(spark, SF).count())
    release_models()
    print(json.dumps({"sf_dir": SF, "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"), **out}))


if __name__ == "__main__":
    main()
