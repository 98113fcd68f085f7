"""Hot-domain skew probe for domain_doc_cap (r11, verdict #1).

The scale risk of any per-domain top-N is a HOT DOMAIN: at 100 TB one
crawl source (a CDN, a boilerplate mirror) can hold a double-digit share
of all documents, and a single-window `PARTITION BY source` plan would
route that whole domain through ONE task — the straggler/OOM collapse the
salted two-phase plan exists to avoid.

This probe builds that corpus deliberately: ~50% of documents are
reassigned to one synthetic `hotdomain` source, at 1x and 10x the sf0.1
corpus (replica doc_ids strided by 10M, the build_replica_fixture
convention). For the control and each adversarial fixture it records:

  * per-source doc counts (is the hot domain actually ~50%?);
  * the phase-1 survivor census — the plan's load-bearing bound: after the
    (source, doc_id % SALT) sub-window, NO source forwards more than
    CAP x SALT rows to the source-keyed exchange, hot domain included;
  * end-to-end wall (2 runs: compile + steady) — claim: wall tracks corpus
    size, not hot-domain size;
  * a full DuckDB value check of the salted plan against the single-window
    oracle ON the adversarial fixture (the oracle reads only `documents`,
    which each probe dir materializes) — hash equality proves the salted
    rewrite is exact under skew, not just at the registered fixtures.

Usage: python tools/domain_skew_probe.py [sf_dir] [out_root]
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from check_oracle import table_hash  # noqa: E402

from ai_metadata_lineage_pyspark_spark.operators.curation import (  # noqa: E402
    _DOMAIN_CAP,
    _DOMAIN_SALT,
    _domain_cap_stages,
)
from ai_metadata_lineage_pyspark_spark.functions.io import load  # noqa: E402
from ai_metadata_lineage_pyspark_spark.registry import all_queries  # noqa: E402
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/domain_skew_probe"


def build(spark, src_dir: str, dst_dir: str, copies: int) -> None:
    """`copies` stacked corpus replicas; in each, doc_id % 2 == 0 docs are
    reassigned to the shared `hotdomain` source (~50% of the corpus)."""
    docs = load(spark, src_dir, "documents")
    parts = []
    for r in range(copies):
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * 10_000_000))
            .withColumn(
                "source",
                F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("hotdomain")).otherwise(
                    F.col("source")
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    os.makedirs(dst_dir, exist_ok=True)
    out.coalesce(8).write.mode("overwrite").parquet(f"{dst_dir}/documents.parquet")


def oracle_check(q, sf_dir: str):
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    return dcols, drows


def probe(spark, label: str, sf_dir: str, value_check: bool) -> None:
    stages = _domain_cap_stages(spark, sf_dir)
    src_counts = (
        stages["scored"].groupBy("source").count().orderBy(F.desc("count")).limit(3).collect()
    )
    surv = (
        stages["survivors"]
        .groupBy("source")
        .count()
        .agg(F.max("count").alias("mx"), F.count("*").alias("n_sources"))
        .first()
    )
    q = all_queries()["domain_doc_cap"]
    rec = {
        "fixture": label,
        "n_docs": load(spark, sf_dir, "documents").count(),
        "cap_x_salt": _DOMAIN_CAP * _DOMAIN_SALT,
        "top_sources": {r["source"]: r["count"] for r in src_counts},
        "n_sources": surv["n_sources"],
        "max_phase1_survivors_per_source": surv["mx"],
        "bound_holds": bool(surv["mx"] <= _DOMAIN_CAP * _DOMAIN_SALT),
    }
    for run in (0, 1):
        t0 = time.time()
        rows = q.fn(spark, sf_dir).collect()
        rec[f"sec_run{run}"] = round(time.time() - t0, 2)
    rec["out_rows"] = len(rows)
    if value_check:
        sdf = q.fn(spark, sf_dir)
        dcols, drows = oracle_check(q, sf_dir)
        rec["oracle_rows"] = len(drows)
        rec["hash_match"] = table_hash(sdf.columns, [tuple(r) for r in rows]) == table_hash(
            dcols, drows
        )
    print(json.dumps(rec), flush=True)


def main() -> int:
    spark = get_spark("domain-skew-probe")
    adv1, adv10 = os.path.join(OUT, "adv1x_sf0.1"), os.path.join(OUT, "adv10x_sf1")
    build(spark, SF_DIR, adv1, copies=1)
    build(spark, SF_DIR, adv10, copies=10)
    probe(spark, "control-1x", SF_DIR, value_check=False)
    probe(spark, "hot-50pct-1x", adv1, value_check=True)
    probe(spark, "hot-50pct-10x", adv10, value_check=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
