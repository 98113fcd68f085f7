"""Hot-token skew probe for the token-keyed join shapes added in round 5.

The scale risk of `lm_bigram_doc_score` and `lexical_search_topk` is a
stop-token: one join key holding a disproportionate share of the postings
(web-scale corpora have "the" in ~every doc). This probe builds an
adversarial variant of the sf0.1 documents where 10% of docs become
"spark"-spam (the token also appears in lexical query 0, and the bigram
"spark spark" dominates the bigram table), then times both operators on
control vs adversarial data, twice each (run 0 pays plan compile, run 1 is
steady — see ARTIFACTS/r05_bench_host_note.md).

Design claim being tested: runtime stays bounded by the OUTPUT/postings
the hot key actually produces (AQE splits the oversized partition); no
superlinear collapse, no spill.

Usage: python tools/token_skew_probe.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from ai_metadata_lineage_pyspark_spark.functions.io import load  # noqa: E402
from ai_metadata_lineage_pyspark_spark.registry import all_queries  # noqa: E402
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/token_skew_probe"

QUERIES = [
    "lm_bigram_doc_score",
    "lexical_search_topk",
    # r6: the fused ranker's lexical side selects each query's K RAREST
    # bigrams, so an adversarial near-100%-df stop-bigram should be
    # excluded from every query's probe set entirely — the strongest
    # possible skew story (the hot key never enters the join)
    "hybrid_search_rrf",
]
_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def build_adversarial(spark, src_dir: str, dst_dir: str, hot_frac_mod: int = 10) -> None:
    """10% of docs (doc_id % 10 == 0) become 120 repetitions of 'spark'
    plus a doc-unique tail (so exact dedup can't collapse them)."""
    from pyspark.sql import functions as F

    os.makedirs(dst_dir, exist_ok=True)
    for t in _TABLES:
        if t == "documents":
            continue
        dst = os.path.join(dst_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(src_dir, f"{t}.parquet"), dst)
    docs = load(spark, src_dir, "documents")
    spam = " ".join(["spark"] * 120)
    hot = F.concat(F.lit(spam + " tail"), F.col("doc_id").cast("string"))
    # two skew layers: 10% of docs become pure hot-token spam, AND every
    # remaining doc gets the hot token appended 3x — so "spark" reaches
    # 100% document frequency (a true stop-token: the worst postings key)
    adv = docs.withColumn(
        "text",
        F.when(F.pmod("doc_id", F.lit(hot_frac_mod)) == 0, hot).otherwise(
            F.concat(F.col("text"), F.lit(" spark spark spark"))
        ),
    ).withColumn("n_chars", F.length("text"))
    adv.coalesce(4).write.mode("overwrite").parquet(f"{dst_dir}/documents.parquet")


def main() -> int:
    spark = get_spark("token-skew-probe")
    build_adversarial(spark, SF_DIR, OUT)
    qs = all_queries()
    for label, d in (("control", SF_DIR), ("hot-token", OUT)):
        for name in QUERIES:
            for run in (0, 1):
                t0 = time.time()
                rows = qs[name].fn(spark, d).count()
                print(
                    json.dumps(
                        {
                            "query": name,
                            "data": label,
                            "run": run,
                            "sec": round(time.time() - t0, 2),
                            "rows": rows,
                        }
                    ),
                    flush=True,
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
