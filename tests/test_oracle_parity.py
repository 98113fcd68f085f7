"""Driver-style oracle parity on a fast query subset at sf0.001.

Full-suite parity runs via `python tools/check_oracle.py`; this keeps a
representative slice inside pytest so `pytest tests/` alone catches a broken
operator or a drifted oracle. One query per operator family.
"""

from __future__ import annotations

import duckdb
import pytest

from ai_metadata_lineage_pyspark_spark.registry import all_queries

FAST_SUBSET = [
    "pricing_summary",        # aggregation family
    "latest_event_per_user",  # window dedup
    "web_sessionization",     # sessionization
    "orders_customer_join",   # join family
    "dim_part_sql_cte",       # SQL CTE surface
    "exact_dedup",            # dedup family
    "text_quality_score",     # text analysis
    "cosine_topk",            # similarity
    "lineage_edges",          # lineage engine
    "lineage_repo_stitch",    # stitching
    "streaming_session_window",  # structured streaming
    "streaming_click_attribution",  # stream-stream join
    "time_weighted_avg",      # time-series analytics
    "snapshot_diff_cdc",      # CDC reconciliation
    "frequent_pair_mining",   # pattern mining (round 5)
    "kmeans_iterate",         # iterative ML, integer-exact Lloyd round
    "incremental_corpus_dedup",  # batch-vs-corpus dedup
    "lexical_search_topk",    # sparse retrieval
    "bpe_train_merges",       # tokenizer fit, sequential
    "bpe_train_merges_incremental",  # tokenizer fit, 24 rounds
    "bpe_train_merges_batched",  # tokenizer fit, batched picks
    "bpe_apply_encode",       # fitted-tokenizer encode
]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_matches_oracle(spark, sf_dir, oracle_con, name):
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.check_oracle import table_hash

    q = all_queries()[name]
    sdf = q.fn(spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = oracle_con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert table_hash(scols, srows) == table_hash(dcols, drows)
