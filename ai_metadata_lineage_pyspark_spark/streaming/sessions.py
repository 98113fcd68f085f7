"""Structured Streaming operators over the events stream.

The reference lists "streaming lineage ingestion" only as a future
enhancement (README.md:279-283) and its one session-shaped computation is
batch (examples/script_06_web_sessionization.py:13-38). This module provides
the streaming path the reference lacks, Spark-first:

* file-source `readStream` over the events parquet (schema pinned from the
  batch reader's memo, nanos normalized exactly like functions/io.load_events);
* `session_window` gap-sessionization with a watermark — the streaming
  equivalent of the batch lag/cumsum pattern in operators/windows.py;
* tumbling-window counts with a watermark;
* a custom stateful operator via `applyInPandasWithState` (per-user running
  stats with explicit GroupState), the escape hatch for semantics the
  built-in window operators can't express.

Determinism: every query runs with `trigger(availableNow=True)` into a
memory sink in complete/update mode. The fixture is a single parquet file ->
a single micro-batch -> no cross-batch watermark races: results equal the
batch computation, which is exactly what the DuckDB oracles express. The
watermark is still declared (plumbing is real; in complete mode it bounds
state, not output).

At scale: session_window + watermark is incremental state whose size is
bounded by active sessions; the memory sink becomes a Delta/parquet sink;
availableNow becomes a continuous trigger. Nothing in the query bodies
changes.
"""

from __future__ import annotations

import itertools
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.cache import scoped_stream_view
from ..functions.io import normalize_events_ts, table_schema
from ..operators.behavior import _TRANSITION_ORACLE
from ..operators.merge import _SCD2_ORACLE
from ..registry import register

_SESSION_GAP_MIN = 30
_RUN_IDS = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the same type-adaptive
    ts normalization as the batch loader (functions/io.normalize_events_ts)."""
    schema = table_schema(spark, sf_dir, "events")
    # glob form: the file source derives basePath from the glob's parent dir
    # (a bare file path fails the "basePath must be a directory" check)
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/events*.parquet")
    # watermarks/session_window require TIMESTAMP (not NTZ); the session zone
    # is pinned to UTC so the arithmetic is identical — outputs are cast back
    # to TIMESTAMP_NTZ at the query boundary for cross-engine comparison.
    return normalize_events_ts(raw, ntz=False)


def run_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink and return the result table. The sink's view
    is scoped like a persist: the next `release_persisted()` drops it."""
    # counter + uuid: unique within the session AND across module reloads /
    # concurrent harness invocations sharing one session
    name = f"stream_result_{next(_RUN_IDS)}_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    scoped_stream_view(stream.sparkSession, name)
    return stream.sparkSession.table(name)


_SESSION_ORACLE = f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us,
        -- >= matches Spark session_window semantics: each event's window is
        -- [ts, ts+gap) and windows that merely TOUCH do not merge, so an
        -- event exactly gap after its predecessor starts a new session
        CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                  >= {_SESSION_GAP_MIN} * 60 * 1000000
               OR LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    numbered AS (
      SELECT user_id, ts_us,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS session_num
      FROM flagged
    )
    SELECT user_id,
      make_timestamp(MIN(ts_us)) AS session_start,
      make_timestamp(MAX(ts_us) + {_SESSION_GAP_MIN} * 60 * 1000000) AS session_end,
      COUNT(*) AS events
    FROM numbered
    GROUP BY user_id, session_num
"""


def _session_windows(events: DataFrame) -> DataFrame:
    """session_window gap aggregation — identical plan body for the batch
    and streaming variants (the operator works in both modes)."""
    return (
        events.groupBy(
            F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "events",
        )
    )


@register("streaming_session_window", bench=True, oracle=_SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a streaming `session_window` aggregation.

    Spark's session_window end = last event + gap; the oracle replays the
    identical semantics with the batch lag/cumsum pattern.
    """
    events = read_events_stream(spark, sf_dir)
    sessions = _session_windows(events.withWatermark("ts", f"{_SESSION_GAP_MIN} minutes"))
    return run_to_memory(sessions, "complete")


@register("batch_session_window", oracle=_SESSION_ORACLE)
def batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME session_window gap aggregation in batch mode — Spark's
    session_window is a batch operator too. Serves as the side-effect-free,
    driver-checkable shadow of streaming_session_window (an external harness
    may decline to run writeStream queries)."""
    from ..functions.io import load_events

    events = load_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )
    return _session_windows(events)


_TUMBLING_ORACLE = """
    SELECT
      make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000)
        AS window_start,
      event_type,
      COUNT(*) AS events,
      COUNT(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1, 2
"""


@register("streaming_event_counts", oracle=_TUMBLING_ORACLE)
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts with a watermark — the canonical
    streaming aggregation shape (readStream -> window agg -> sink)."""
    events = read_events_stream(spark, sf_dir)
    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "events",
            "approx_users",
        )
    )
    result = run_to_memory(counts, "complete")
    # approx_count_distinct is sketch-based (HLL++) and not comparable across
    # engines; re-derive the exact distinct per group batch-side for the
    # oracle check while keeping the streaming sketch in the pipeline.
    from ..functions.io import load_events

    exact = (
        load_events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("unique_users"))
    )
    return result.join(exact, ["window_start", "event_type"]).select(
        "window_start", "event_type", "events", "unique_users"
    )


@register("batch_tumbling_counts", oracle=_TUMBLING_ORACLE)
def batch_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts via the same F.window operator in batch mode
    (exact countDistinct, since batch needs no sketch) — the side-effect-free
    shadow of streaming_event_counts."""
    from ..functions.io import load_events

    events = load_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "events",
            "unique_users",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user running stats with explicit GroupState.
# ---------------------------------------------------------------------------

_USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("events", T.LongType()),
        T.StructField("first_ts_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("distinct_types", T.IntegerType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("events", T.LongType()),
        T.StructField("first_ts_us", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("types_csv", T.StringType()),
    ]
)


def _user_stats_fn(key, pdf_iter, state: GroupState):
    events = 0
    first_us = None
    last_us = None
    types: set[str] = set()
    if state.exists:
        events, first_us, last_us, types_csv = state.get
        types = set(types_csv.split("\x1f")) if types_csv else set()
    for pdf in pdf_iter:
        events += len(pdf)
        first_us = min(x for x in [first_us, int(pdf["ts_us"].min())] if x is not None)
        last_us = max(x for x in [last_us, int(pdf["ts_us"].max())] if x is not None)
        types.update(pdf["event_type"].unique().tolist())
    state.update((events, first_us, last_us, "\x1f".join(sorted(types))))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "events": [events],
            "first_ts_us": [first_us],
            "last_ts_us": [last_us],
            "distinct_types": [len(types)],
        }
    )


_USER_STATS_ORACLE = """
    SELECT user_id,
      COUNT(*) AS events,
      MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_ts_us,
      MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_ts_us,
      COUNT(DISTINCT event_type) AS distinct_types
    FROM events
    GROUP BY user_id
"""


@register("streaming_user_stats", oracle=_USER_STATS_ORACLE)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: per-user running stats kept in explicit
    GroupState — the pattern for stateful semantics the built-in streaming
    aggregations can't express (reference has no equivalent; SURVEY.md §2B
    notes streaming is absent there)."""
    events = read_events_stream(spark, sf_dir)
    stats = (
        events.select("user_id", "ts_us", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=_USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(stats, "update")
    # single micro-batch -> exactly one update row per user; cast to the
    # oracle's integer widths
    return out.select(
        "user_id",
        "events",
        "first_ts_us",
        "last_ts_us",
        F.col("distinct_types").cast("long").alias("distinct_types"),
    )


def _batch_user_stats_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "events": [len(pdf)],
            "first_ts_us": [int(pdf["ts_us"].min())],
            "last_ts_us": [int(pdf["ts_us"].max())],
            "distinct_types": [int(pdf["event_type"].nunique())],
        }
    )


@register("batch_user_stats", oracle=_USER_STATS_ORACLE)
def batch_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stats via applyInPandas (grouped-map Pandas UDF) — the batch
    analog of the applyInPandasWithState operator and the side-effect-free
    shadow of streaming_user_stats. One Arrow batch per user group; at scale
    the groupBy shuffles once on user_id and each group is bounded."""
    from ..functions.io import load_events

    events = load_events(spark, sf_dir).select("user_id", "ts_us", "event_type")
    out = events.groupBy("user_id").applyInPandas(
        _batch_user_stats_pdf, schema=_USER_STATS_SCHEMA
    )
    return out.select(
        "user_id",
        "events",
        "first_ts_us",
        "last_ts_us",
        F.col("distinct_types").cast("long").alias("distinct_types"),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator #2: per-user event-transition tracking. The
# streaming twin of operators/behavior.py::event_transition_matrix — state
# carries each user's last (ts, event_id, type) across micro-batches so
# transitions spanning a batch boundary are counted exactly once.
# ---------------------------------------------------------------------------

_TRANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("prev_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)

_TRANS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def _count_batch_transitions(
    rows: pd.DataFrame, tail: tuple[int, int, str] | None
) -> tuple[pd.DataFrame, tuple[int, int, str]]:
    """Shared core of both stateful-API transition operators: merge the
    stored tail into the batch BEFORE sorting — an event that arrives
    out-of-order (earlier than the saved (last_ts_us, last_event_id)) is
    then counted in true (ts_us, event_id) order, preceding the tail
    instead of being miscounted as following it, and the new tail is the
    global max, not blindly the batch's max. In-order delivery (the
    replay-stream/oracle path) is unchanged: the tail sorts first and
    seeds `prev` exactly as before. NOTE the guarantee is batch-local
    ordering plus a monotone tail, NOT cross-batch true-order counts: a
    late event whose true predecessor was already emitted as someone
    else's successor in a PRIOR batch cannot retract that pair in append
    mode (tests/test_mining.py encodes the exact divergence)."""
    if tail is not None:
        t_ts, t_id, t_type = tail
        rows = pd.concat(
            [
                pd.DataFrame(
                    {"ts_us": [t_ts], "event_id": [t_id], "event_type": [t_type]}
                ),
                rows[["ts_us", "event_id", "event_type"]],
            ],
            ignore_index=True,
        )
    rows = rows.sort_values(["ts_us", "event_id"])
    prev = None
    counts: dict[tuple[str, str], int] = {}
    for t in rows["event_type"]:
        if prev is not None:
            counts[(prev, t)] = counts.get((prev, t), 0) + 1
        prev = t
    last = rows.iloc[-1]
    new_tail = (int(last["ts_us"]), int(last["event_id"]), str(last["event_type"]))
    out = pd.DataFrame(
        {
            "prev_type": [a for a, _ in counts],
            "next_type": [b for _, b in counts],
            "n": list(counts.values()),
        }
    )
    return out, new_tail


def _transition_fn(key, pdf_iter, state: GroupState):
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    if rows.empty:
        yield pd.DataFrame({"prev_type": [], "next_type": [], "n": []})
        return
    out, new_tail = _count_batch_transitions(
        rows, state.get if state.exists else None
    )
    state.update(new_tail)
    yield out


def transition_pairs_stream(events: DataFrame) -> DataFrame:
    """The stateful per-batch half of the transition pipeline on an
    arbitrary (user_id, ts_us, event_id, event_type) streaming DF —
    shared by the registered query (memory sink, availableNow replay)
    and tests/test_streaming_recovery.py, which drives the SAME operator
    through a checkpointed file sink with a mid-replay stop/restart."""
    return events.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRANS_OUT_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rollup_transitions(out: DataFrame) -> DataFrame:
    """Batch rollup + ppm normalization of the emitted incremental pair
    counts (constant-cardinality input: bounded by |event_types|^2 rows
    per user per micro-batch)."""
    rolled = out.groupBy("prev_type", "next_type").agg(F.sum("n").alias("n"))
    return rolled.select(
        "prev_type",
        "next_type",
        "n",
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)"
        ).alias("prob_ppm"),
    )


@register("streaming_transition_counts", oracle=_TRANSITION_ORACLE)
def streaming_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-order Markov transition counting: GroupState holds
    each user's last event across micro-batches, so a (prev -> next) pair
    whose two events arrive in DIFFERENT batches is still counted exactly
    once — the property a per-batch window/lag cannot provide. Per batch
    each user emits its incremental pair counts (append mode, bounded by
    |event_types|² rows per user per batch); the driver-side rollup and
    ppm normalization then run over a constant-cardinality table, identical
    to the batch operator's final stage — and the result hash-matches the
    SAME oracle as `event_transition_matrix`."""
    events = read_events_stream(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    trans = transition_pairs_stream(events)
    out = run_to_memory(trans, "append")
    return rollup_transitions(out)


# ---------------------------------------------------------------------------
# transformWithStateInPandas twin (Spark 4's successor API to
# applyInPandasWithState: StatefulProcessor lifecycle + typed state handles
# instead of a GroupState blob). ENVIRONMENT-GATED: the
# TransformWithStateInPySpark driver worker hard-imports google.protobuf
# for its state-server protocol, which is not installed in this sandbox and
# installs are out of contract — the attempt and exact failure are recorded
# in ARTIFACTS/r07_tws_attempt.md (the Delta posture). The operator is
# therefore NOT in the registry (a registered query must run under the
# driver's correctness gate); tests/test_tws_parity.py auto-unskips and
# asserts hash-parity with streaming_transition_counts' oracle in any
# protobuf-enabled environment.
# ---------------------------------------------------------------------------

_TWS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _make_transition_processor():
    """Build the StatefulProcessor class lazily: importing
    pyspark.sql.streaming.stateful_processor is cheap and always works, but
    construction is deferred so module import never depends on the API."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TransitionProcessor(StatefulProcessor):
        """Same semantics as _transition_fn, expressed in the Spark-4 API:
        the (last_ts_us, last_event_id, last_type) tail lives in a typed
        ValueState handle instead of a GroupState tuple; counting is the
        shared _count_batch_transitions core, so the two APIs cannot
        drift."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tail = handle.getValueState(
                "tail", "last_ts_us long, last_event_id long, last_type string"
            )

        def handleInputRows(self, key, rows, timer_values):
            pdf = pd.concat(list(rows), ignore_index=True)
            if pdf.empty:
                return
            tail = self._tail.get()
            out, new_tail = _count_batch_transitions(
                pdf, tuple(tail) if tail is not None else None
            )
            self._tail.update(new_tail)
            yield out

        def close(self) -> None:
            pass

    return TransitionProcessor()


def streaming_transition_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_transition_counts re-expressed with Spark 4's
    `transformWithStateInPandas` (requires the RocksDB state store
    provider, set for the duration of the run and restored after). Output
    contract and oracle are identical to the applyInPandasWithState
    operator — see the gate note above for why this is test-only in this
    sandbox."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _TWS_PROVIDER)
    try:
        events = read_events_stream(spark, sf_dir).select(
            "user_id", "ts_us", "event_id", "event_type"
        )
        trans = events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_transition_processor(),
            outputStructType=_TRANS_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
        out = run_to_memory(trans, "append")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rolled = out.groupBy("prev_type", "next_type").agg(F.sum("n").alias("n"))
    return rolled.select(
        "prev_type",
        "next_type",
        "n",
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)"
        ).alias("prob_ppm"),
    )


# ---------------------------------------------------------------------------
# streaming_scd2_history — the stateful-streaming twin of the batch
# scd2_user_state_history (operators/merge.py, r8): SCD-2 episode tracking
# as an applyInPandasWithState operator. State = the OPEN episode per user
# (current state value, its start, its first event id); each micro-batch
# closes episodes whose state changed (emitting them with their validity
# interval) and carries the open episode forward. On the availableNow
# single-file replay this produces exactly the batch SCD-2 table, so the
# same DuckDB oracle hash-checks it; in a live multi-batch stream the open
# episode is re-emitted per update (update-mode semantics), with closed
# episodes emitted exactly once.
# ---------------------------------------------------------------------------

_SCD2_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("first_event_id", T.LongType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)

_SCD2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_state", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("first_event_id", T.LongType()),
    ]
)


def _scd2_fn(key, pdf_iter, state: GroupState):
    user_id = int(key[0])
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"])
    cur = vfrom = fid = None
    if state.exists:
        cur, vfrom, fid = state.get
    out: list[tuple] = []
    for r in rows.itertuples():
        ts, eid, st = int(r.ts_us), int(r.event_id), r.event_type
        if cur is None:
            cur, vfrom, fid = st, ts, eid
        elif st != cur:
            out.append((user_id, cur, fid, vfrom, ts, False))
            cur, vfrom, fid = st, ts, eid
    state.update((cur, vfrom, fid))
    # the open episode rides along as the update-mode current row
    out.append((user_id, cur, fid, vfrom, None, True))
    yield pd.DataFrame(
        out,
        columns=[
            "user_id",
            "state",
            "first_event_id",
            "valid_from_us",
            "valid_to_us",
            "is_current",
        ],
    )


@register("streaming_scd2_history", oracle=_SCD2_ORACLE)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 episode tracking in a stream (module note above): per-user
    GroupState holds only the open episode (3 scalars — state size is
    user-cardinality-bounded regardless of event volume); closed episodes
    stream out as their closing event arrives. Hash-checked against the
    SAME oracle as the batch builder."""
    events = read_events_stream(spark, sf_dir)
    eps = (
        events.select("user_id", "ts_us", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_fn,
            outputStructType=_SCD2_OUT_SCHEMA,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(eps, "update")
