"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.9); Spark's native
``session_window`` covers plain gap-based sessions
(``stream_exec.streaming_sessions_10m``). This module implements a
session rule the built-in operator *cannot* express: a session closes
on a 10-minute silence gap **or** as soon as it reaches 25 events
(an "emit early when the buffer is full" pattern every production
sessionizer needs to bound state size).

Semantics (deterministic, event-time order ``(ts, event_id)``):

- events for one user are folded in order; state carries the open
  session ``(start, last_ts, n, integer cents sum)``;
- arriving event with ``ts - last_ts > 10 min`` first closes the open
  session (``close_reason='gap'``), then starts a new one;
- when a session reaches exactly 25 events it is emitted immediately
  (``close_reason='cap'``) and the state resets;
- a user's trailing session stays *open* at the end of input and is
  not emitted — in a real stream it would still be accumulating.

Because the rule is order-driven, the same semantics are expressible
in ANSI SQL as gaps-and-islands (gap flag → cumulative session id)
plus a ``(row_number-1) / 25`` sub-session split — that SQL is the
DuckDB oracle, so this operator gets the full value-hash gate despite
being a custom stateful op.

Scale posture: state is one fixed-size tuple per user key (not a
buffer of events — the fold is incremental), keys are hash-partitioned
across executors by the groupBy, and Arrow moves rows to Python in
batches. The cap rule is exactly what bounds per-key state at 100 TB.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pac_spark.streaming.stream_exec import (
    run_to_memory,
    stream_events,
    stream_shuffle_parts,
)

__all__ = [
    "streaming_user_sessions_custom",
    "CUSTOM_SESSIONS_ORACLE",
    "streaming_user_lifetime_stats",
    "LIFETIME_ORACLE",
    "streaming_ivm_user_value",
    "STREAMING_IVM_ORACLE",
    "streaming_user_accounting",
    "streaming_growth_accounting",
    "streaming_ohlc_bars",
    "streaming_ewma_user_value",
    "streaming_bitmap_distinct_users",
    "streaming_kmv_distinct_users",
    "streaming_twa_user_value",
    "streaming_halflife_user_value",
    "STREAMING_KMV_SQL",
    "streaming_binned_quantiles",
    "BINNED_QUANTILES_SQL",
    "streaming_interarrival_stats",
    "streaming_langid_confusion",
]

GAP_SECONDS = 600
SESSION_CAP = 25

_TS6 = "%Y-%m-%d %H:%M:%S.%f"

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("session_end", StringType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("close_reason", StringType()),
    ]
)

# open-session state: (start_us, last_us, last_eid, n, cents) —
# last_eid exists ONLY for the cross-batch full-sort-key monotonicity
# assert (the lifetime fold's discipline; r8)
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)


def _ts_to_us(col: pd.Series) -> pd.Series:
    """Timestamps → integer epoch microseconds regardless of the
    pandas datetime resolution Arrow happened to pick. All four
    pandas resolutions are handled EXPLICITLY; an unrecognized dtype
    raises instead of being silently treated as micros (the pre-r8
    else-branch would have mis-scaled ms/s data by 10^3/10^6 —
    code-review r7)."""
    dtype = str(col.dtype)
    ints = col.astype("int64")
    if dtype.endswith("[ns]"):
        return ints // 1_000
    if dtype.endswith("[us]"):
        return ints
    if dtype.endswith("[ms]"):
        return ints * 1_000
    if dtype.endswith("[s]"):
        return ints * 1_000_000
    raise TypeError(f"unsupported timestamp dtype for _ts_to_us: {dtype}")


def _fmt_us(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime(_TS6)


def _cents(value: float) -> int:
    """Exact integer cents, rounded half AWAY FROM ZERO to match the
    oracle's ROUND and functions.exact — Python's round() banker's mode
    and plain int(v*100 + 0.5) (floors negatives) both diverge on
    exact-half and negative values."""
    return int(math.copysign(int(abs(value) * 100 + 0.5), value))


def _sessionize(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.assign(_us=_ts_to_us(batch["ts"])).sort_values(
        ["_us", "event_id"], kind="mergesort"
    )

    if state.exists:
        start_us, last_us, last_eid, n, cents = state.get
    else:
        start_us = last_us = last_eid = 0
        n = cents = 0

    # gap-or-cap sessionization is order-sensitive, and only
    # WITHIN-batch order is restored by the sort above; across batches
    # the source must deliver (event time, event_id) monotonically per
    # key. REFUSE out-of-order delivery rather than silently
    # mis-sessioning — the same discipline _lifetime_fold applies
    # (code-review r7: the sessionizer used to fold it silently).
    if state.exists and len(batch):
        head = (int(batch["_us"].iloc[0]), int(batch["event_id"].iloc[0]))
        if head <= (last_us, last_eid):
            raise RuntimeError(
                f"user {user_id}: cross-batch (ts, event_id) regression "
                f"({head} <= {(last_us, last_eid)}); the order-sensitive "
                "sessionizer cannot fold this batch correctly"
            )

    closed: list[tuple[int, str, str, int, float, str]] = []

    def close(reason: str) -> None:
        closed.append(
            (
                user_id,
                _fmt_us(start_us),
                _fmt_us(last_us),
                n,
                cents / 100.0,
                reason,
            )
        )

    for us, eid, value in zip(batch["_us"], batch["event_id"], batch["value"]):
        if n > 0 and us - last_us > GAP_SECONDS * 1_000_000:
            close("gap")
            n = cents = 0
        if n == 0:
            start_us = us
        last_us, last_eid = int(us), int(eid)
        n += 1
        cents += _cents(value)
        if n == SESSION_CAP:
            close("cap")
            n = cents = 0

    state.update((start_us, last_us, last_eid, n, cents))
    yield pd.DataFrame(closed, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def streaming_user_sessions_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-or-cap sessionization as a true stateful stream, drained
    with an ``availableNow`` trigger. Per-user ordering inside the
    fold is total (``ts, event_id``) so the result is deterministic
    and hash-comparable against the SQL oracle."""
    events = stream_events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # NO parts override here (measured r11): applyInPandasWithState
    # drains spend their time in the per-group pandas fold, so shuffle
    # partitions are Python-worker PARALLELISM, not state-store
    # overhead — the twa A/B with the override was 2.50 -> 2.86 s
    # (slower); the override is for SQL-stateful drains only.
    return run_to_memory(spark, out, "stream_custom_sessions", "append").orderBy(
        "user_id", "session_start"
    )


# The batch restatement of the same rule: gap flag → cumulative gap
# session id → row_number split every 25 events. A sub-session is
# emitted iff it was closed: it has a successor (not the user's last)
# or it hit the cap exactly.
CUSTOM_SESSIONS_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                     > {GAP_SECONDS} * 1000000
                THEN 1 ELSE 0 END AS new_gap
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gap_sessions AS (
    SELECT *,
           SUM(new_gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS gap_sess
    FROM ordered
),
subsessions AS (
    SELECT *,
           CAST((ROW_NUMBER() OVER (PARTITION BY user_id, gap_sess
                                    ORDER BY ts, event_id) - 1)
                / {SESSION_CAP} AS BIGINT) AS sub_sess
    FROM gap_sessions
),
agg AS (
    SELECT user_id, gap_sess, sub_sess,
           strftime(CAST(MIN(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')
               AS session_start,
           strftime(CAST(MAX(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')
               AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
                / 100.0 AS DOUBLE) AS sum_value
    FROM subsessions
    GROUP BY user_id, gap_sess, sub_sess
),
marked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY gap_sess DESC, sub_sess DESC) = 1
               AS is_open_tail
    FROM agg
)
SELECT user_id, session_start, session_end, n_events, sum_value,
       CASE WHEN n_events = {SESSION_CAP} THEN 'cap' ELSE 'gap' END
           AS close_reason
FROM marked
WHERE NOT is_open_tail OR n_events = {SESSION_CAP}
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# A second custom stateful shape: per-user LIFETIME aggregates with an
# order-sensitive anomaly rule. (Spark 4's transformWithStateInPandas —
# the named-ValueState successor to applyInPandasWithState — would be
# the natural home for this, but its driver worker needs google.protobuf,
# which this container does not ship; the port is mechanical: the
# GroupState tuple below becomes handle.getValueState("lifetime", ...).)

LIFETIME_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_anomalies", LongType()),
        StructField("first_ts", StringType()),
        StructField("last_ts", StringType()),
    ]
)

# running state: (n, cents, n_anom, first_us, last_us, last_eid);
# last_eid is the event_id of the (ts, event_id)-max event folded so
# far — the tie-breaker that makes the cross-batch order assert exact
_LIFETIME_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("n_anom", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
    ]
)


def _lifetime_fold(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold a batch of one user's events into the running lifetime
    state. An event is anomalous when its value exceeds 3x the user's
    PRIOR running mean — order-sensitive, held exact by the integer
    cross-multiplication ``cents * prior_n > 3 * prior_sum_cents``
    (no float mean anywhere, so the DuckDB window oracle reproduces
    the rule bit-for-bit). Emits the updated totals row each batch;
    totals are monotone in n_events, so the caller keeps the
    highest-count row per key — correct under ANY batch split."""
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.assign(_us=_ts_to_us(batch["ts"])).sort_values(
        ["_us", "event_id"], kind="mergesort"
    )
    if state.exists:
        n, cents, n_anom, first_us, last_us, last_eid = state.get
    else:
        n = cents = n_anom = 0
        first_us = last_us = last_eid = 0
    # the anomaly rule is order-sensitive, and only WITHIN-batch order
    # is restored by the sort above; across batches we rely on the
    # source delivering (event time, event_id) monotonically per key.
    # Assert that assumption on the FULL sort key instead of silently
    # diverging from the window oracle — timestamp-only checking
    # (ADVICE r4) let a same-timestamp run split across batches
    # reorder event_id ties undetected (VERDICT r5 wrong-#2: totals
    # stay exact either way, but n_anomalies could shift).
    if n > 0 and len(batch):
        head = (int(batch["_us"].iloc[0]), int(batch["event_id"].iloc[0]))
        if head <= (last_us, last_eid):
            raise RuntimeError(
                f"user {user_id}: cross-batch (ts, event_id) regression "
                f"({head} <= {(last_us, last_eid)}); the order-sensitive "
                "anomaly rule cannot fold this batch correctly"
            )
    for _us, eid, value in zip(batch["_us"], batch["event_id"], batch["value"]):
        c = _cents(value)
        if n > 0 and c * n > 3 * cents:
            n_anom += 1
        # plain assignments: rows arrive in (ts, event_id) order BY
        # CONSTRUCTION — the within-batch sort plus the cross-batch
        # regression guard above, which REFUSES (not tolerates)
        # out-of-order delivery. A min/max here would imply tolerance
        # the anomaly rule cannot actually extend (code-review r7).
        if n == 0:
            first_us = int(_us)
        last_us, last_eid = int(_us), int(eid)
        n += 1
        cents += c
    state.update((n, cents, n_anom, first_us, last_us, last_eid))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "n_anomalies": [n_anom],
            "first_ts": [_fmt_us(first_us)],
            "last_ts": [_fmt_us(last_us)],
        }
    )


def streaming_user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime stats (count, exact-cents total, anomaly
    count, first/last event time) as a true stateful stream.

    Update-mode drain emits one totals row per key per micro-batch;
    totals are monotone in ``n_events``, so the finalizer keeps each
    key's highest-count row — no single-batch assumption. Within-batch
    event-time ordering is restored by the per-key sort (same
    discipline as the sessionizer above); across batches the file
    stream's append order preserves it for this source.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _lifetime_fold,
        outputStructType=LIFETIME_SCHEMA,
        stateStructType=_LIFETIME_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # no parts override: applyInPandasWithState (see stream_custom_sessions)
    drained = run_to_memory(spark, out, "stream_user_lifetime", "update")
    last = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


LIFETIME_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events
),
w AS (
    SELECT user_id, ts,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_sum,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_n
    FROM e
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value,
       CAST(SUM(CASE WHEN prior_n > 0 AND cents * prior_n > 3 * prior_sum
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       strftime(MIN(ts), '{_TS6}') AS first_ts,
       strftime(MAX(ts), '{_TS6}') AS last_ts
FROM w GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Streaming incremental view maintenance (Registered in the r7 rotation;
# local oracle gate in tests/test_staged_specs.py): the batch IVM
# operator (operators/scd.maintain_sum_count) applied per micro-batch
# through foreachBatch — the nightly-changeset pattern compressed to
# stream cadence.


def streaming_ivm_user_value(spark, sf_dir: str):
    """Maintain a per-user (event count, exact-cents value sum) view
    incrementally: each micro-batch's rows are folded into the running
    view as pure INSERT deltas via the IVM delta algebra — the view is
    never recomputed from the table, only from the batch. foreachBatch
    is the documented home for custom incremental sinks; the running
    view lives in a driver-held DataFrame checkpointed per batch
    (bounded: one row per user).

    The oracle is the plain batch aggregate over the full table, so
    hash equality proves batch-at-a-time maintenance == full
    recompute, the same proof shape as ``ivm_nation_balance`` but
    against the real micro-batch engine.
    """
    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir).select("user_id", "value")

    def partial(batch_df):
        return batch_df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("user_id")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        )

    view = _run_ivm_fold(ev, partial, merge, parts=stream_shuffle_parts(spark, sf_dir))
    return view.select(
        "user_id",
        F.col("n").alias("n_events"),
        (F.col("cents") / 100.0).cast("double").alias("total_value"),
    ).orderBy("user_id")


STREAMING_IVM_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
            AS DOUBLE) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def _rotate_view(state: dict, merged) -> None:
    """Checkpoint ``merged`` as the new running view and free the
    superseded view's blocks immediately (shared by the foreachBatch
    IVM folds; see the lineage/residency notes in
    ``streaming_ivm_user_value``). The checkpoint + handle capture is
    ``cache.checkpoint_with_handles`` — the same id-diff idiom
    ``cache.checkpoint`` uses, defined once."""
    from pac_spark.cache import checkpoint_with_handles

    state["view"], fresh = checkpoint_with_handles(merged)
    for h in state["handles"]:
        h.unpersist()
    state["handles"] = fresh


def _run_ivm_fold(ev_stream, partial_fn, merge_fn, parts=None):
    """Drain ``ev_stream`` (availableNow) through foreachBatch,
    folding each micro-batch's partial aggregate into a running
    checkpointed view: ``merge_fn(view, partial_fn(batch))``. The
    incoming batch_df is only valid inside the callback and the view
    must not chain lineage across batches, so every fold rotates
    through ``_rotate_view``. The final view's checkpoint handles are
    parked in the cache registry so the normal between-query sweep
    frees them. Shared by every foreachBatch IVM operator — the
    drain/guard/parking logic exists ONCE."""
    from pac_spark import cache, session

    state = {"view": None, "handles": []}

    def fold(batch_df, _batch_id):
        delta = partial_fn(batch_df)
        view = state["view"]
        merged = delta if view is None else merge_fn(view, delta)
        _rotate_view(state, merged)

    # scoped shuffle-partition override (see stream_shuffle_parts):
    # every per-batch partial + merge here shuffles matrix-/key-sized
    # frames, and the count applies per micro-batch
    spark = ev_stream.sparkSession
    with session.scoped_conf(spark, session.SHUFFLE_PARTITIONS, parts):
        q = (
            ev_stream.writeStream.foreachBatch(fold)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if state["view"] is None:
        raise RuntimeError("stream delivered no batches")
    with cache._LOCK:
        cache._CKPT_CUR.extend(state["handles"])
    return state["view"]


def _ohlc_partial(batch_df):
    """Per-batch OHLC partial: open/close travel as (ts, event_id,
    cents) structs, so merging partials is pure min/max — the bar
    aggregate is a commutative monoid and the fold is ORDER-FREE
    (unlike the lifetime fold, no delivery-order assumption exists:
    late or out-of-order batches merge correctly by construction)."""
    from pyspark.sql import functions as F

    key = F.struct(
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        batch_df.select(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_ts"
            ),
            key.alias("k"),
        )
        .groupBy("event_type", "hour_ts")
        .agg(
            F.min("k").alias("o"),
            F.max("k").alias("cl"),
            F.max("k.cents").alias("h"),
            F.min("k.cents").alias("l"),
            F.count(F.lit(1)).alias("n"),
            F.sum("k.cents").alias("s"),
        )
    )


def _ohlc_merge(view, delta):
    from pyspark.sql import functions as F

    return (
        view.unionByName(delta)
        .groupBy("event_type", "hour_ts")
        .agg(
            F.min("o").alias("o"),
            F.max("cl").alias("cl"),
            F.max("h").alias("h"),
            F.min("l").alias("l"),
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
        )
    )


def streaming_ohlc_bars(spark, sf_dir: str):
    """OHLC candlestick bars maintained under Structured Streaming:
    each micro-batch's partial bars (open/close carried as
    (ts, event_id, cents) structs) merge into the running per-
    (event_type, hour) view via pure min/max/sum — a commutative
    monoid, so the result is independent of how the stream is split
    into batches or ordered across them (proven by the adversarial
    out-of-order multi-batch test). State is bounded by one row per
    bar. The oracle is the BATCH operator's oracle
    (``temporal.OHLC_SQL``), so hash equality proves streaming
    maintenance == the one-shot window computation.
    """
    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    view = _run_ivm_fold(ev, _ohlc_partial, _ohlc_merge, parts=stream_shuffle_parts(spark, sf_dir))
    dollars = lambda c: (c.cast("double") / 100.0)  # noqa: E731
    return view.select(
        "event_type",
        "hour_ts",
        dollars(F.col("o.cents")).alias("open_value"),
        dollars(F.col("h")).alias("high_value"),
        dollars(F.col("l")).alias("low_value"),
        dollars(F.col("cl.cents")).alias("close_value"),
        F.col("n").alias("n_events"),
        dollars(F.col("s")).alias("sum_value"),
    ).orderBy("event_type", "hour_ts")


def _day_activity_view(spark, sf_dir: str):
    """The distinct (user_id, day) IVM fold both growth twins read off
    (code-review r7: they carried copy-paste projections and closures
    differing only in the final read-off). distinct-union merge is
    idempotent, so late or replayed batches are harmless."""
    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )

    def partial(batch_df):
        return batch_df.distinct()

    def merge(view, delta):
        return view.unionByName(delta).distinct()

    return _run_ivm_fold(ev, partial, merge, parts=stream_shuffle_parts(spark, sf_dir))


def streaming_user_accounting(spark, sf_dir: str):
    """Maintain the growth-accounting state — the distinct
    (user_id, day) activity set — incrementally over the event stream,
    then read off daily active/new/cumulative users with the SAME
    read-off the batch operator uses
    (``operators.relational.user_day_accounting``).

    The folded state is exactly what a dashboard's state store keeps
    (one row per user-day, bounded by users × active days, NOT by
    event volume); each micro-batch contributes its distinct pairs and
    the merge is a distinct union — idempotent and order-free, so
    late or replayed batches cannot corrupt the view. The oracle is
    the batch construction over the full table: hash equality proves
    stream maintenance == batch recompute.
    """
    from pyspark.sql import functions as F

    from pac_spark.operators.relational import user_day_accounting

    return user_day_accounting(_day_activity_view(spark, sf_dir))


def streaming_growth_accounting(spark, sf_dir: str):
    """Four-state growth accounting maintained incrementally: the SAME
    distinct (user_id, day) IVM fold as
    :func:`streaming_user_accounting` (idempotent distinct-union merge
    — late or replayed batches harmless), read off through the SAME
    :func:`~pac_spark.operators.relational.user_growth_from_days` the
    batch operator uses, so stream and batch can only drift if the
    maintained state itself drifts. Oracle: the batch GROWTH_SQL over
    the full table."""
    from pac_spark.operators.relational import user_growth_from_days

    return user_growth_from_days(_day_activity_view(spark, sf_dir))


def _ewma_partial(batch_df):
    """Per-batch EWMA state partial: each user's top-``EWMA_SPAN``
    events by (ts, event_id) DESC as a sorted bounded array, plus the
    batch's row count. Top-k under a total order is a commutative
    monoid, so the fold is ORDER-FREE — late or out-of-order batches
    merge correctly by construction. The window rank runs BEFORE the
    collect so no aggregation buffer ever exceeds SPAN rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pac_spark.operators.stats import EWMA_SPAN

    k = F.struct(
        "ts", "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("k.ts").desc(), F.col("k.event_id").desc()
    )
    tops = (
        batch_df.select("user_id", k.alias("k"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= EWMA_SPAN)
        .groupBy("user_id")
        .agg(
            F.slice(
                F.reverse(F.array_sort(F.collect_list("k"))), 1, EWMA_SPAN
            ).alias("top")
        )
    )
    counts = batch_df.groupBy("user_id").agg(F.count("*").alias("n"))
    return counts.join(tops, "user_id")


def _ewma_merge(view, delta):
    """Merge two partials: counts add; the two ≤SPAN arrays flatten,
    re-sort descending, and truncate — per-user merge state is ≤
    2·SPAN structs."""
    from pyspark.sql import functions as F

    from pac_spark.operators.stats import EWMA_SPAN

    return (
        view.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n"),
            F.slice(
                F.reverse(F.array_sort(F.flatten(F.collect_list("top")))),
                1,
                EWMA_SPAN,
            ).alias("top"),
        )
    )


def streaming_ewma_user_value(spark, sf_dir: str):
    """The batch EWMA (``stats.ewma_user_value``) maintained under
    Structured Streaming: per-user state is the top-SPAN events under
    the (ts, event_id) total order plus a row count — bounded per
    user, merged as a commutative monoid across micro-batches, read
    off once at the end with the identical power-of-two weighting.
    The oracle is the BATCH operator's oracle (``stats.EWMA_SQL``), so
    hash equality proves streaming maintenance == the one-shot
    lag-chain window."""
    from pyspark.sql import functions as F

    from pac_spark.operators.stats import EWMA_SPAN

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    view = _run_ivm_fold(ev, _ewma_partial, _ewma_merge, parts=stream_shuffle_parts(spark, sf_dir))
    # weights 2^(SPAN-1-i) over the present prefix; mass = 2^SPAN - 2^(SPAN-m)
    num = F.expr(
        f"aggregate(transform(top, (x, i) -> x.cents * shiftleft(cast(1 as bigint),"
        f" {EWMA_SPAN} - 1 - i)), cast(0 as bigint), (a, b) -> a + b)"
    )
    den = F.expr(
        f"shiftleft(cast(1 as bigint), {EWMA_SPAN})"
        f" - shiftleft(cast(1 as bigint), {EWMA_SPAN} - size(top))"
    )
    return view.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.date_format(F.col("top")[0]["ts"], "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_ts"
        ),
        (F.col("top")[0]["cents"].cast("double") / 100.0).alias("last_value"),
        (num.cast("double") / den.cast("double") / 100.0).alias("ewma_value"),
    ).orderBy("user_id")


def streaming_bitmap_distinct_users(spark, sf_dir: str):
    """Exact distinct-users-per-day maintained under Structured
    Streaming via 64-bit bitmap words: each micro-batch contributes
    its (day, word) ``bit_or`` partial (``sketch.bitmap_day_words`` —
    the SAME rendering the batch tier scans with) and the merge is a
    per-(day, word) ``bit_or`` — a commutative AND idempotent monoid,
    so the fold is order-free and replay-safe: a re-delivered or
    duplicated batch cannot inflate the count, which a streamed
    ``count(distinct)`` accumulator cannot claim. State is one BIGINT
    per (day, touched word) — bounded by the id domain / 64 per day,
    not by event volume. The oracle is the batch tier's INDEPENDENT
    formulation (plain ``COUNT(DISTINCT)``,
    ``sketch.BITMAP_DISTINCT_SQL``), so hash equality proves streaming
    maintenance == distinct-count semantics end to end."""
    from pyspark.sql import functions as F

    from pac_spark.operators.sketch import bitmap_day_counts, bitmap_day_words

    ev = stream_events(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("day", "word")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )

    return bitmap_day_counts(_run_ivm_fold(ev, bitmap_day_words, merge, parts=stream_shuffle_parts(spark, sf_dir)))


def streaming_kmv_distinct_users(spark, sf_dir: str):
    """Per-event-type distinct-user ESTIMATES maintained under
    Structured Streaming from KMV/theta sketches: each micro-batch
    contributes its per-type k-minimum user-id hashes (built by the
    SAME ``sketch._kmv_sketches`` the batch overlap tier scans with)
    and the merge re-selects the k smallest of the union — min-k of a
    set is a commutative, idempotent monoid, so the fold is order-free
    and replay-safe, and state is bounded by k rows per event type no
    matter how many events stream through. Readout is the uniform
    theta estimate ``n·RANGE/theta`` (exact below k, (k-1)-th-order
    estimate above). The oracle rebuilds the identical sketch from the
    full table in SQL, so hash equality proves the incremental
    maintenance converges to the one-shot sketch."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pac_spark.operators.sketch import (
        KMV_K,
        _KMV_RANGE,
        _kmv_sketches,
        kmv_theta,
    )

    # NULL user_id excluded in both engines — see _streaming_kmv_sql
    ev = (
        stream_events(spark, sf_dir)
        .select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
    )

    def partial(batch_df):
        return _kmv_sketches(batch_df, "event_type", "user_id")

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .distinct()
            .withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("h")))
            .filter(F.col("rn") <= KMV_K)
            .drop("rn")
        )

    sk = _run_ivm_fold(ev, partial, merge, parts=stream_shuffle_parts(spark, sf_dir))
    theta = kmv_theta(sk)
    return (
        sk.join(F.broadcast(theta), "g")
        .filter(F.col("h") < F.col("theta"))
        .groupBy("g", "theta")
        .agg(F.count(F.lit(1)).alias("n_sample"))
        .select(
            F.col("g").alias("event_type"),
            "n_sample",
            (
                F.col("n_sample").cast("double")
                * F.lit(float(_KMV_RANGE))
                / F.col("theta").cast("double")
            ).alias("est_distinct_users"),
        )
        .orderBy("event_type")
    )


def _streaming_kmv_sql() -> str:
    from pac_spark.functions.hashing import md5_u60_sql
    from pac_spark.operators.sketch import KMV_K, _KMV_RANGE

    # NULL user_id is excluded in BOTH engines (a NULL member
    # contributes nothing to a distinct estimate, matching
    # COUNT(DISTINCT)); without the filter Spark's orderBy('h') puts
    # the NULL hash FIRST while DuckDB's ROW_NUMBER sorts it LAST —
    # an engine-divergent k-th hash (code-review r7)
    h = md5_u60_sql("'kmv1|' || CAST(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (SELECT DISTINCT event_type AS g, {h} AS h
                FROM events WHERE user_id IS NOT NULL),
sk AS (
    SELECT g, h FROM (
        SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM hashed
    ) WHERE rn <= {KMV_K}
),
theta AS (
    SELECT g,
           CASE WHEN COUNT(*) >= {KMV_K} THEN MAX(h)
                ELSE CAST({_KMV_RANGE} AS BIGINT) END AS theta
    FROM sk GROUP BY g
)
SELECT sk.g AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_sample,
       CAST(COUNT(*) AS DOUBLE) * {float(_KMV_RANGE)!r}
           / CAST(ANY_VALUE(t.theta) AS DOUBLE) AS est_distinct_users
FROM sk JOIN theta t ON sk.g = t.g
WHERE sk.h < t.theta
GROUP BY sk.g
ORDER BY event_type
"""


# STAGED for the r7/r8 rotation (gate: tests/test_staged_specs.py); a
# plain module string like sketch.KMV_SQL so QuerySpec registration
# cannot accidentally pass a callable (the BM25_SQL regression class).
STREAMING_KMV_SQL = _streaming_kmv_sql()


# ---------------------------------------------------------------------------
# Streaming time-weighted average (the temporal.time_weighted_value_by_user
# twin; STAGED for the r11 rotation — gate in tests/test_staged_specs.py)

TWA_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("span_micros", LongType()),
        StructField("twa_value", DoubleType()),
    ]
)

# running state: (n, first_us, last_us, last_eid, last_cents,
# last_cents_ok, num) — num is the exact integral Σ cents·dur_us,
# carried as a STRING because it exceeds BIGINT at cluster scale
# (cents×micros ≈ 10^17 per term — the corr_quality overflow lesson;
# Python ints are arbitrary-precision, the state column is just
# transport); last_cents_ok flags a NULL-value newest event (its step
# spans time but contributes no mass, exactly the batch SUM-skips-NULL
# semantics)
_TWA_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
        StructField("last_cents", LongType()),
        StructField("last_cents_ok", LongType()),
        StructField("num", StringType()),
    ]
)


def _twa_fold(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's micro-batch into the running step-function
    integral. The integral between CONSECUTIVE events is what a
    mergeable O(1) summary cannot express for arbitrary interleavings
    (the step between a state's last event and a batch's first event
    depends on global order), so this fold — like the lifetime fold —
    RELIES on per-key (ts, event_id)-monotone delivery across batches
    and REFUSES (raises) otherwise, rather than silently diverging
    from the batch oracle. Within-batch order is restored by the sort.

    Emits the running readout each batch; rows are monotone in
    n_events, so the finalizer keeps each key's highest-count row —
    correct under ANY batch split (proven by the crafted split test).
    """
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.assign(_us=_ts_to_us(batch["ts"])).sort_values(
        ["_us", "event_id"], kind="mergesort"
    )
    if state.exists:
        n, first_us, last_us, last_eid, last_cents, last_ok, num_s = state.get
        num = int(num_s)
    else:
        n = first_us = last_us = last_eid = last_cents = last_ok = 0
        num = 0
    if n > 0 and len(batch):
        head = (int(batch["_us"].iloc[0]), int(batch["event_id"].iloc[0]))
        if head <= (last_us, last_eid):
            raise RuntimeError(
                f"user {user_id}: cross-batch (ts, event_id) regression "
                f"({head} <= {(last_us, last_eid)}); the step-function "
                "integral cannot fold this batch correctly"
            )
    for _us, eid, value in zip(batch["_us"], batch["event_id"], batch["value"]):
        us = int(_us)
        if n > 0 and last_ok:
            num += last_cents * (us - last_us)
        if n == 0:
            first_us = us
        if pd.isna(value):
            last_cents, last_ok = 0, 0
        else:
            last_cents, last_ok = _cents(value), 1
        last_us, last_eid = us, int(eid)
        n += 1
    state.update((n, first_us, last_us, last_eid, last_cents, last_ok, str(num)))
    span = last_us - first_us
    # float(int) is correctly rounded — the same semantics as the
    # batch plan's decimal(38,0) -> double cast and the oracle's
    # CAST(... AS DOUBLE), so all three readouts are bit-identical
    twa = float(num) / float(span) / 100.0 if span > 0 else None
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "span_micros": [span],
            "twa_value": [twa],
        }
    )


def streaming_twa_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch time-weighted average
    (``temporal.time_weighted_value_by_user``) maintained under
    Structured Streaming: per-user state is (count, first/last event,
    newest value, exact integral) — O(1) per user, folded per
    micro-batch under the lifetime fold's refuse-out-of-order
    discipline. The oracle is the BATCH operator's oracle
    (``temporal.TWA_SQL``), so hash equality proves the incremental
    step-function integral equals the one-shot lead-window
    formulation: same exclusion of zero-span users, same NULL-value
    steps that span time but carry no mass, same single
    integer→double division."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _twa_fold,
        outputStructType=TWA_STREAM_SCHEMA,
        stateStructType=_TWA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # no parts override: applyInPandasWithState (see stream_custom_sessions)
    drained = run_to_memory(spark, out, "stream_twa_user_value", "update")
    last = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        drained.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .filter(F.col("span_micros") > 0)
        .orderBy("user_id")
    )


def streaming_halflife_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch half-life decay (``stats.halflife_decayed_user_value``)
    maintained under Structured Streaming. The decay week index is
    ``(anchor_day − day) // 7`` with anchor = the CORPUS max day — a
    difference-floor, so it does NOT decompose per event and cannot be
    folded into the state; what CAN be folded is the day-granular
    per-user cents sum (integer addition — a commutative monoid whose
    partials add, so the fold is order-free), with the decay applied
    once at READOUT against the maintained max day. State is one
    BIGINT per (user, active day) — calendar-bounded, not
    volume-bounded. The oracle is the BATCH operator's oracle
    (``stats.HALFLIFE_SQL``), so hash equality proves maintenance +
    readout == the one-shot formulation (same NULL exclusions, same
    cutoff, same single division)."""
    from pyspark.sql import functions as F

    from pac_spark.operators.stats import (
        HALFLIFE_CUTOFF,
        HALFLIFE_DAYS,
    )

    ev = stream_events(spark, sf_dir).select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).filter(F.col("cents").isNotNull() & F.col("d").isNotNull())

    def partial(batch_df):
        return batch_df.groupBy("user_id", "d").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("user_id", "d")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        )

    view = _run_ivm_fold(ev, partial, merge, parts=stream_shuffle_parts(spark, sf_dir))
    dec = "decimal(38,0)"
    anchor = view.agg(F.max("d").alias("anchor_day"))
    k = F.floor(F.datediff(F.col("anchor_day"), F.col("d")) / HALFLIFE_DAYS)
    return (
        view.crossJoin(F.broadcast(anchor))
        .withColumn("k", k)
        .filter(F.col("k") < HALFLIFE_CUTOFF)
        .select(
            "user_id",
            "n",
            (
                F.col("cents").cast(dec)
                * F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({HALFLIFE_CUTOFF} - k AS INT))"
                ).cast(dec)
            ).alias("term"),
        )
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"), F.sum("term").alias("num"))
        .select(
            "user_id",
            "n_events",
            (
                F.col("num").cast("double")
                / F.lit(float(1 << HALFLIFE_CUTOFF))
                / F.lit(100.0)
            ).alias("decayed_value"),
        )
        .orderBy("user_id")
    )


QUANTILE_BIN_CENTS = 500  # $5-wide value bins


def _binned_partial(batch_df):
    """Per-batch (type, bin) counts — module-level so the monoid is
    testable against the grain (reverse-order merge)."""
    from pyspark.sql import functions as F

    from pac_spark.functions.exact import int_div

    return (
        batch_df.select(
            "event_type",
            int_div(F.col("cents"), F.lit(QUANTILE_BIN_CENTS)).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _binned_merge(view, delta):
    """Per-key count sum: commutative (order-free fold) but NOT
    idempotent — a replayed batch inflates counts, the same contract
    as the cents-sum folds (unlike bit_or/min-k). Exactly-once
    delivery comes from the checkpointed foreachBatch drain."""
    from pyspark.sql import functions as F

    return (
        view.unionByName(delta)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def streaming_binned_quantiles(spark, sf_dir: str):
    """Per-event-type streamed value quantiles over a FIXED-BIN
    histogram: each micro-batch contributes its (type, bin) counts
    (bin = cents div ``QUANTILE_BIN_CENTS``) and the merge is a
    per-key count sum — a commutative monoid, so the fold is
    order-free; state is bounded by the value DOMAIN (types × bins),
    not by event volume — the property that makes streamed quantiles
    possible at all (exact streamed percentiles would hold every
    value). Readout is the shared histogram read-off
    (``cum·100 ≥ p·n``) reporting each percentile's bin LOWER BOUND
    in cents — quantization is the STATED semantics, identical in the
    batch oracle, so hash equality proves the incremental fold equals
    the one-shot binned computation. NULL values carry no mass in
    either engine.

    The KLL/t-digest family trades this fixed-domain bound for
    adaptive resolution; the fixed-bin monoid is the exact-arithmetic
    member of that family and what a declarative engine can fold with
    ONE groupBy per batch.
    """
    from pyspark.sql import functions as F

    from pac_spark.functions.exact import int_div
    from pac_spark.operators.stats import group_percentiles_disc

    ev = stream_events(spark, sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).filter(F.col("cents").isNotNull())
    hist = _run_ivm_fold(ev, _binned_partial, _binned_merge, parts=stream_shuffle_parts(spark, sf_dir))
    pct = group_percentiles_disc(
        hist, ["event_type"], "bin", pcts=(50, 90, 99), weight=F.col("cnt")
    )
    return pct.select(
        "event_type",
        F.col("n_values").cast("long").alias("n_events"),
        (F.col("p50") * QUANTILE_BIN_CENTS).cast("long").alias("p50_lo_cents"),
        (F.col("p90") * QUANTILE_BIN_CENTS).cast("long").alias("p90_lo_cents"),
        (F.col("p99") * QUANTILE_BIN_CENTS).cast("long").alias("p99_lo_cents"),
    ).orderBy("event_type")


BINNED_QUANTILES_SQL = f"""
WITH ev AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
),
h AS (
    SELECT event_type, cents // {QUANTILE_BIN_CENTS} AS bin, COUNT(*) AS c
    FROM ev GROUP BY 1, 2
),
w AS (
    SELECT event_type, bin,
           SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS nn
    FROM h
)
SELECT event_type,
       CAST(MAX(nn) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN cum * 100 >= 50 * nn THEN bin END)
            * {QUANTILE_BIN_CENTS} AS BIGINT) AS p50_lo_cents,
       CAST(MIN(CASE WHEN cum * 100 >= 90 * nn THEN bin END)
            * {QUANTILE_BIN_CENTS} AS BIGINT) AS p90_lo_cents,
       CAST(MIN(CASE WHEN cum * 100 >= 99 * nn THEN bin END)
            * {QUANTILE_BIN_CENTS} AS BIGINT) AS p99_lo_cents
FROM w GROUP BY event_type ORDER BY event_type
"""


_GAP_STATE = StructType(
    [
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
    ]
)

_GAP_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("gap_us", LongType()),
    ]
)


def _gap_fold(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental gap extraction per (user, type): state is ONE
    (last_us, last_eid) pair — each arriving event emits exactly one
    gap row against its predecessor (cross-batch via the state), so
    the drained output IS the batch operator's lag-window gap set.
    Order discipline is the lifetime fold's: within-batch total-order
    sort, cross-batch regression REFUSED."""
    user_id, event_type = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.assign(_us=_ts_to_us(batch["ts"])).sort_values(
        ["_us", "event_id"], kind="mergesort"
    )
    if state.exists:
        last_us, last_eid = state.get
        has_prev = True
    else:
        last_us = last_eid = 0
        has_prev = False
    if has_prev and len(batch):
        head = (int(batch["_us"].iloc[0]), int(batch["event_id"].iloc[0]))
        if head <= (last_us, last_eid):
            raise RuntimeError(
                f"({user_id}, {event_type}): cross-batch (ts, event_id) "
                f"regression ({head} <= {(last_us, last_eid)}); gap "
                "extraction cannot fold this batch correctly"
            )
    gaps: list[int] = []
    for us, eid in zip(batch["_us"], batch["event_id"]):
        if has_prev:
            gaps.append(int(us) - last_us)
        last_us, last_eid, has_prev = int(us), int(eid), True
    state.update((last_us, last_eid))
    yield pd.DataFrame({"event_type": [event_type] * len(gaps), "gap_us": gaps})


def streaming_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inter-arrival profile maintained under Structured
    Streaming: per-(user, type) state is a single (last_us, last_eid)
    pair — O(1) regardless of volume — and each event emits its gap
    row exactly once, so the drained gap set equals the batch
    operator's lag window output row-for-row. The readout is the
    SHARED ``temporal.interarrival_readout`` (one definition, the
    cms_top_report precedent), and the oracle is deliberately the
    BATCH formulation (``temporal.INTERARRIVAL_SQL``): hash equality
    proves incremental gap extraction == the one-shot window."""
    from pyspark.sql import functions as F

    from pac_spark.operators.temporal import interarrival_readout

    ev = (
        stream_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "event_id", "ts")
    )
    out = ev.groupBy("user_id", "event_type").applyInPandasWithState(
        _gap_fold,
        outputStructType=_GAP_SCHEMA,
        stateStructType=_GAP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # no parts override: applyInPandasWithState (see stream_custom_sessions)
    drained = run_to_memory(spark, out, "stream_interarrival", "update")
    # the readout joins two aggregations of this one frame; over the
    # raw memory-sink SubqueryAlias that self-join trips Spark's
    # conflicting-reference resolution (INTERNAL_ERROR) — the
    # registered checkpoint cuts the memory-table lineage first, the
    # same move every IVM fold makes per round
    from pac_spark.cache import checkpoint

    return interarrival_readout(checkpoint(drained))


def streaming_langid_confusion(spark, sf_dir: str):
    """The language-ID confusion matrix maintained under Structured
    Streaming: each micro-batch of documents is scored by the SAME
    frame-level classifier the batch tier uses
    (``text._langid_scored`` — the neardup-admission shared-logic
    rule, so the stream cannot drift from the registered classifier),
    its (true, predicted) counts fold into a running view by
    per-cell SUM — counts form a commutative monoid, so the fold is
    order-free across batches — and the row-share read-off runs once
    at the end over the (langs+1)²-row view. State is matrix-sized,
    never document-sized. The oracle is the BATCH tier's composed
    language_id oracle (``LANGID_CONFUSION_SQL``), so hash equality
    proves incremental maintenance == the one-shot matrix."""
    import os

    from pyspark.sql import functions as F

    from pac_spark.operators.text import _langid_scored

    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def partial(batch_df):
        return (
            _langid_scored(batch_df.select("doc_id", "lang", "text"))
            .groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("lang", "lang_guess")
            .agg(F.sum("n_docs").alias("n_docs"))
        )

    view = _run_ivm_fold(
        stream, partial, merge,
        parts=stream_shuffle_parts(spark, sf_dir, table="documents"),
    )
    return view.select(
        "lang",
        "lang_guess",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr(
            "CAST((n_docs * 1000)"
            " div (SUM(n_docs) OVER (PARTITION BY lang)) AS BIGINT)"
        ).alias("row_share_milli"),
    ).orderBy("lang", "lang_guess")
