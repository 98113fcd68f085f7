"""Fixture-table schema memo (functions/io.py) and stream-result scope.

`load()` resolves each table path's schema once per process: the first read
infers it with a Spark job, every later read pins it and submits no job.
The memo holds driver-side StructTypes only, so it outlives
`release_persisted()`. Memory-sink views that streaming queries register
do not: `release_persisted()` drops them.
"""

from __future__ import annotations

import itertools
from datetime import datetime

from pyspark.sql import functions as F

from ai_metadata_lineage_pyspark_spark.functions import io
from ai_metadata_lineage_pyspark_spark.functions.cache import release_persisted
from ai_metadata_lineage_pyspark_spark.plans.inspect import plan_fingerprint

_GROUPS = itertools.count()


def _jobs_in(spark, fn):
    """Run `fn()` under a fresh job group; return its result and the ids of
    the Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"schema-memo-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write_orders(spark, sf_dir: str) -> None:
    spark.createDataFrame(
        [(i, i % 7, float(i) * 1.5) for i in range(40)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).coalesce(1).write.parquet(f"{sf_dir}/orders.parquet")


def _write_events(spark, sf_dir: str) -> None:
    spark.createDataFrame(
        [(i, datetime(2026, 1, 1, 10, i), i % 3, "view") for i in range(20)],
        "event_id long, ts timestamp, user_id long, event_type string",
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")


def _shape(df):
    return df.filter(F.col("o_custkey") > 2).groupBy("o_custkey").agg(F.sum("o_totalprice"))


def test_second_load_submits_no_job_and_keeps_the_plan(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_orders(spark, sf_dir)
    assert f"{sf_dir}/orders.parquet" not in io._SCHEMAS

    first, first_jobs = _jobs_in(spark, lambda: io.load(spark, sf_dir, "orders"))
    assert first_jobs, "the first read of a path infers its schema with a job"
    second, second_jobs = _jobs_in(spark, lambda: io.load(spark, sf_dir, "orders"))
    assert second_jobs == []

    # the memoized read is the read the old loader made, schema and plan
    inferred = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert first.schema == second.schema == inferred.schema
    assert (
        plan_fingerprint(_shape(first))
        == plan_fingerprint(_shape(second))
        == plan_fingerprint(_shape(inferred))
    )
    assert sorted(_shape(second).collect()) == sorted(_shape(inferred).collect())


def test_memo_survives_release_persisted(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_orders(spark, sf_dir)
    io.load(spark, sf_dir, "orders")
    entry = io._SCHEMAS[f"{sf_dir}/orders.parquet"]

    release_persisted()

    assert io._SCHEMAS[f"{sf_dir}/orders.parquet"] is entry
    df, jobs = _jobs_in(spark, lambda: io.load(spark, sf_dir, "orders"))
    assert jobs == []
    assert df.count() == 40


def test_events_stream_reuses_the_batch_entry(spark, tmp_path):
    from ai_metadata_lineage_pyspark_spark.streaming.sessions import read_events_stream

    sf_dir = str(tmp_path)
    _write_events(spark, sf_dir)
    batch = io.load_events(spark, sf_dir)
    entry = io._SCHEMAS[f"{sf_dir}/events.parquet"]

    stream, jobs = _jobs_in(spark, lambda: read_events_stream(spark, sf_dir))

    assert jobs == []
    assert io._SCHEMAS[f"{sf_dir}/events.parquet"] is entry
    assert stream.isStreaming
    # same normalized contract as the batch loader, bar the streaming
    # TIMESTAMP (watermarks reject NTZ)
    assert [f.name for f in stream.schema] == batch.columns
    assert dict(stream.dtypes)["ts_us"] == dict(batch.dtypes)["ts_us"] == "bigint"


def _stream_tables(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_result_")]


def test_no_stream_result_table_survives_release(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.streaming.sessions import (
        streaming_event_counts,
        streaming_session_window,
    )

    release_persisted()
    assert _stream_tables(spark) == []
    sessions = streaming_session_window(spark, sf_dir)
    counts = streaming_event_counts(spark, sf_dir)
    n_sessions, n_counts = sessions.count(), counts.count()
    assert len(_stream_tables(spark)) >= 2

    release_persisted()

    assert _stream_tables(spark) == []
    # a result the caller still holds stays readable: its plan was resolved
    # against the sink when the view existed
    assert sessions.count() == n_sessions
    assert counts.count() == n_counts
