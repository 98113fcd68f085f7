"""Fixture-contract smoke tests against the REAL /root/testdata parquet.

The events fixture's physical `ts` encoding has drifted once already
(TIMESTAMP(NANOS)-as-long in round 1 -> TIMESTAMP_MICROS in round 2), which
silently broke every events consumer. These tests read the actual driver
fixtures — not test-written ones — so the next encoding drift fails loudly
here before the correctness harness sees it.

Also property-tests the normalizer across synthetic MICROS / NANOS-as-long
parquet variants written to a tmpdir: identical `ts_us` regardless of the
physical encoding.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ai_metadata_lineage_pyspark_spark.functions.io import (
    ensure_engine_confs,
    load_events,
    normalize_events_ts,
)
from tests.conftest import SF_DIR


def test_load_events_analyzes_on_real_fixture(spark):
    df = load_events(spark, SF_DIR)
    dtypes = dict(df.dtypes)
    assert dtypes["ts_us"] == "bigint"
    assert dtypes["ts"] == "timestamp_ntz"
    assert df.limit(1).count() == 1


def test_ts_us_matches_duckdb_epoch_us_on_real_fixture(spark):
    """ts_us must equal DuckDB's epoch_us(CAST(ts AS TIMESTAMP)) row-for-row,
    whatever physical type the fixture currently has."""
    path = os.path.join(SF_DIR, "events.parquet")
    spark_rows = {
        r["event_id"]: r["ts_us"]
        for r in load_events(spark, SF_DIR)
        .orderBy("event_id")
        .limit(50)
        .select("event_id", "ts_us")
        .collect()
    }
    duck_rows = dict(
        duckdb.sql(
            "SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) FROM "
            f"read_parquet('{path}') ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert spark_rows == duck_rows


def test_read_events_stream_analyzes_on_real_fixture(spark):
    from ai_metadata_lineage_pyspark_spark.streaming.sessions import (
        read_events_stream,
    )

    stream = read_events_stream(spark, SF_DIR)
    dtypes = dict(stream.dtypes)
    assert dtypes["ts_us"] == "bigint"
    # streaming keeps TIMESTAMP (not NTZ) for watermark support
    assert dtypes["ts"] == "timestamp"
    assert stream.isStreaming


@pytest.mark.parametrize("encoding", ["micros_ntz", "micros_utc", "nanos_long"])
def test_normalizer_invariant_across_encodings(spark, tmp_path, encoding):
    """Write the same instants under each historical physical encoding and
    assert the normalizer derives identical ts_us from all of them."""
    # instants chosen to exercise sub-millisecond precision (floor behavior)
    micros = [0, 1, 999, 1_000_001, 1_700_000_000_123_456]
    expected = dict(enumerate(micros))
    path = str(tmp_path / f"events_{encoding}.parquet")

    if encoding == "nanos_long":
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "event_id": pa.array(range(len(micros)), pa.int64()),
                "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
            }
        )
        pq.write_table(table, path)
    else:
        tz = encoding == "micros_utc"
        df = spark.createDataFrame(
            [(i, m) for i, m in enumerate(micros)],
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("us", T.LongType()),
                ]
            ),
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us"))
            .cast("timestamp" if tz else "timestamp_ntz")
            .alias("ts"),
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)

    ensure_engine_confs(spark)
    out = normalize_events_ts(spark.read.parquet(path))
    got = {r["event_id"]: r["ts_us"] for r in out.select("event_id", "ts_us").collect()}
    assert got == expected


def test_normalizer_rejects_unknown_dtype(spark):
    df = spark.range(1).select(F.col("id").cast("string").alias("ts"))
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_events_ts(df)


def test_embedding_dimension_contract(spark, sf_dir):
    """Every embedding must have exactly EMB_DIM elements (r13 advice): the
    codegen-unrolled dot (functions/vectors.dot_unrolled_expr) reads
    element_at(1..EMB_DIM) — a SHORTER vector throws under ANSI (loud), but
    a LONGER one would silently truncate to the first EMB_DIM terms and
    diverge from the fold it is documented bit-identical to. Pin the
    contract on the real fixture so dimension drift fails here first."""
    from ai_metadata_lineage_pyspark_spark.functions.vectors import EMB_DIM

    bad = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(f"embedding IS NULL OR size(embedding) <> {EMB_DIM}")
        .limit(5)
        .collect()
    )
    assert not bad, (
        f"embedding dimension drift (expected {EMB_DIM}): "
        f"{[(r.vec_id, None if r.embedding is None else len(r.embedding)) for r in bad]}"
    )


def test_documents_source_format_contract(spark, sf_dir):
    """source_priority_dedup parses priority as CAST(substr(source, 4) AS
    BIGINT): the fixture contract is source = 'src<unpadded integer>'.
    A non-numeric or zero-padded suffix would NULL / misparse the
    priority silently — fail loudly on drift instead (r9 advice)."""
    bad = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(
            "source IS NULL OR source NOT RLIKE '^src(0|[1-9][0-9]*)$'"
        )
        .limit(5)
        .collect()
    )
    assert not bad, f"source format drift: {[r.source for r in bad]}"


def test_documents_text_is_ascii_without_vertical_tab(sf_dir):
    """The oracles split text with DuckDB's regexp_split_to_array, which
    equals Spark's split only on ASCII text without \\x0b (the divergences
    are listed in functions/text.py). Fail loudly if the fixture leaves
    that domain."""
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    assert texts
    bad = [t[:40] for t in texts if not t.isascii() or "\x0b" in t]
    assert not bad, f"documents.text outside the tokenizer contract: {bad[:5]}"
