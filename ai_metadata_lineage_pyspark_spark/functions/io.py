"""Shared load helpers that normalize fixture quirks.

The `events` parquet's physical `ts` encoding has changed between fixture
generations (TIMESTAMP(NANOS), which Spark reads as BIGINT nanos under
`spark.sql.legacy.parquet.nanosAsLong`; later TIMESTAMP_MICROS with
isAdjustedToUTC=0, which Spark reads natively as TIMESTAMP_NTZ). The loader
is therefore *type-adaptive*: it inspects the arrived dtype and derives the
same two-column contract either way — `ts_us` as epoch-microseconds BIGINT
and `ts` as TIMESTAMP_NTZ. Everything is pinned to UTC semantics so results
are independent of the host/session timezone and line up with the DuckDB
oracle's naive timestamps (`epoch_us(CAST(ts AS TIMESTAMP))`).

This module owns every read of a fixture table. `spark.read.parquet(path)`
runs a schema-inference Spark job on each call, although a fixture's schema
never changes within a process. So the first read of a path infers its
schema once and stores the `StructType` in `_SCHEMAS`, and every read pins
the stored schema with `spark.read.schema(s).parquet(path)`, which runs no
job.

* Key: the table path alone. `ensure_engine_confs` pins `nanosAsLong` right
  before every read, so that setting cannot differ between the read that
  inferred a schema and a later memoized one.
* Lifetime: the process. The memo holds one driver-side `StructType` per
  path read and no executor storage, so, like the fitted-model tier in
  functions/cache.py, `release_persisted()` leaves it alone.
* Contract: rewriting a fixture in place under the same path with a
  different schema is out of contract, as it already is for the cross-query
  `_MEMO` in functions/cache.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_SCHEMAS: dict[str, StructType] = {}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Runtime-settable confs every query needs (safe to call repeatedly)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def events_ts_us(ts_dtype: str) -> F.Column:
    """Epoch-microseconds expression for the events `ts` column, whatever
    physical type the fixture arrived as.

    * timestamp / timestamp_ntz (fixture stores TIMESTAMP_MICROS): cast NTZ to
      TIMESTAMP under the pinned UTC session zone (an identity re-tag, no
      instant shift) and take `unix_micros`.
    * bigint (fixture stores TIMESTAMP(NANOS), read via `nanosAsLong`):
      integer-divide nanos down to micros.

    Both match DuckDB's `epoch_us(CAST(ts AS TIMESTAMP))` exactly (floor to
    microseconds), so gap/session arithmetic is exact-integer in both engines.
    """
    if ts_dtype.startswith("timestamp"):
        return F.unix_micros(F.col("ts").cast("timestamp"))
    if ts_dtype == "bigint":
        return F.expr("ts div 1000")
    raise TypeError(f"events.ts arrived as unsupported dtype {ts_dtype!r}")


def normalize_events_ts(df: DataFrame, ntz: bool = True) -> DataFrame:
    """Apply the events two-column contract: `ts_us` BIGINT epoch-micros plus
    `ts` re-derived from it (TIMESTAMP_NTZ for batch/oracle comparison, or
    TIMESTAMP when `ntz=False` for streaming watermarks, which reject NTZ).

    Single normalization point shared by the batch loader and
    streaming.sessions.read_events_stream so an encoding drift in the fixture
    can only ever break (and be fixed in) one place.
    """
    out = df.withColumn("ts_us", events_ts_us(dict(df.dtypes)["ts"]))
    ts = F.timestamp_micros(F.col("ts_us"))
    if ntz:
        ts = ts.cast("timestamp_ntz")
    return out.withColumn("ts", ts)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Schema of fixture table `name`, inferred on the first call per path
    and served from `_SCHEMAS` after that (see the module docstring)."""
    ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _SCHEMAS.get(path)
    if schema is None:
        schema = _SCHEMAS[path] = spark.read.parquet(path).schema
    return schema


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    schema = table_schema(spark, sf_dir, name)
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as TIMESTAMP_NTZ and `ts_us` as epoch-microseconds."""
    return normalize_events_ts(_read_table(spark, sf_dir, "events"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_table(spark, sf_dir, name)


def _parse_bytes(conf_value: str) -> int:
    """Parse a Spark byte conf ('134217728b', '128MB', '1g', bare int)."""
    s = conf_value.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = s.removesuffix("b")
    if s and s[-1] in units:
        return int(s[:-1]) * units[s[-1]]
    return int(s)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition an under-partitioned input before CPU-heavy
    per-row work (shingling, hashing, signature folds).

    Parquet splitting is byte-based (`spark.sql.files.maxPartitionBytes`), so
    a small file lands in one partition and serializes expensive expressions
    onto one core no matter how many the cluster has. At real scale inputs
    arrive in many splits and this is a no-op, so the shuffle cost is paid
    exactly when it buys parallelism.

    Under-split detection uses the optimizer's size statistics (for a file
    scan: total input bytes, from the already-loaded file index) against
    maxPartitionBytes — Catalyst-side and job-free, unlike the previous
    `df.rdd.getNumPartitions()` probe, which forced a plan-to-RDD conversion
    on every call.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    max_bytes = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    try:
        # `_jdf` is a private seam: absent under Spark Connect and free to
        # move across PySpark versions. Treat it as an optimization probe
        # only — any failure degrades to the safe repartition below.
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est_bytes = None
    # enough bytes to fill `target` max-size splits -> the scan is already
    # parallel; repartitioning would only add a shuffle
    if est_bytes is not None and est_bytes >= target * max_bytes:
        return df
    return df.repartition(target)
