"""Hot-block skew probe for simhash64_hamming_pairs (r10, verdict #5 —
the adversarial measurement promised by the r8 task-5 done-criterion).

The scale risk of any SimHash blocking scheme is a SATURATED BLOCK VALUE:
a template-heavy corpus (boilerplate pages, license headers, spam) puts a
large fraction of all documents into the SAME (position, block_val) bucket,
and an uncapped clique emitter would turn that one bucket into
|bucket|^2/2 candidate pairs — the quadratic the star cap exists to bound.

This probe builds that corpus deliberately: 20% of documents become one
shared 120-token template plus a tiny doc-unique tail (the tail perturbs a
few fingerprint bits, so the modal block value still captures most of the
hot mass — measured, not assumed), at 1x and 10x the sf0.1 corpus. For
control and each adversarial fixture it records, stage by stage:

  * max/size-distribution of block buckets (is the hot block saturated?)
  * candidate-pair count (does the cap bound emission? linear in docs?)
  * verified output pairs and end-to-end wall (2 runs: compile + steady)

Design claim under test: candidates from a hot bucket are capped at
clique(<=64) + star(|bucket|-1) = LINEAR in bucket size, so 10x docs =>
~10x candidates and ~10x wall, never 100x; the verify join stays a
doc-keyed equi-join sized by candidates.

Only documents.parquet is materialized per fixture (the operator reads
nothing else). Usage: python tools/simhash_skew_probe.py [sf_dir] [out_root]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from ai_metadata_lineage_pyspark_spark.operators.dedup import (  # noqa: E402
    _BUCKET_CAP,
    _simhash64_stages,
)
from ai_metadata_lineage_pyspark_spark.functions.cache import (  # noqa: E402
    release_persisted,
)
from ai_metadata_lineage_pyspark_spark.functions.io import load  # noqa: E402
from ai_metadata_lineage_pyspark_spark.registry import all_queries  # noqa: E402
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/simhash_skew_probe"

_TEMPLATE = " ".join(
    f"boiler{w % 17} plate{w % 13} legal notice section {w}" for w in range(20)
)


def build(spark, src_dir: str, dst_dir: str, copies: int) -> None:
    """`copies` stacked corpus replicas; in each, doc_id % 5 == 0 docs are
    the shared template + a doc-unique tail. Replica doc_ids are strided
    by 10M (the build_replica_fixture convention)."""
    docs = load(spark, src_dir, "documents")
    parts = []
    for r in range(copies):
        hot = F.concat(
            F.lit(_TEMPLATE + " tail"),
            (F.col("doc_id") + F.lit(r * 10_000_000)).cast("string"),
        )
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * 10_000_000))
            .withColumn(
                "text",
                F.when(F.pmod("doc_id", F.lit(5)) == 0, hot).otherwise(
                    F.concat(F.col("text"), F.lit(f" replica{r}"))
                ),
            )
            .withColumn("n_chars", F.length("text"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    os.makedirs(dst_dir, exist_ok=True)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst_dir}/documents.parquet")


def probe(spark, label: str, sf_dir: str) -> None:
    release_persisted()
    stages = _simhash64_stages(spark, sf_dir)
    bstats = (
        stages["buckets"]
        .select(F.size("ids").alias("n"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.when(F.col("n") > _BUCKET_CAP, 1).otherwise(0)).alias("n_capped"),
            F.sum(F.when(F.col("n") > _BUCKET_CAP, F.col("n"))).alias("capped_mass"),
        )
        .first()
    )
    n_cand = stages["cand"].count()
    release_persisted()
    rec = {
        "fixture": label,
        "n_docs": load(spark, sf_dir, "documents").count(),
        "bucket_cap": _BUCKET_CAP,
        "n_buckets": bstats["n_buckets"],
        "max_bucket": bstats["max_bucket"],
        "n_capped_buckets": int(bstats["n_capped"] or 0),
        "capped_bucket_mass": int(bstats["capped_mass"] or 0),
        "n_candidates": n_cand,
    }
    q = all_queries()["simhash64_hamming_pairs"]
    for run in (0, 1):
        t0 = time.time()
        rec[f"out_pairs_run{run}"] = q.fn(spark, sf_dir).count()
        rec[f"sec_run{run}"] = round(time.time() - t0, 2)
    print(json.dumps(rec), flush=True)


def main() -> int:
    spark = get_spark("simhash-skew-probe")
    adv1, adv10 = os.path.join(OUT, "adv1x"), os.path.join(OUT, "adv10x")
    build(spark, SF_DIR, adv1, copies=1)
    build(spark, SF_DIR, adv10, copies=10)
    probe(spark, "control-1x", SF_DIR)
    probe(spark, "hot-template-1x", adv1)
    probe(spark, "hot-template-10x", adv10)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
