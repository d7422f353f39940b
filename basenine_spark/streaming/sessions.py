"""Custom stateful streaming operator: gap-based sessionization.

The reference has no event-time or stateful semantics at all
(SURVEY §2.9 T4 — NOT IMPLEMENTED); this is the extension-surface
example of a custom stateful operator done Spark-natively with
``applyInPandasWithState``: per-user session state (start, last event,
count) maintained across micro-batches; a session closes when a newer
event arrives more than ``gap`` after the last one, or when the
processing-time timeout fires with no new data.

The exact batch twin (same session boundaries) is
:func:`basenine_spark.ops.relational.sessionize`, which the driver
verifies against a DuckDB oracle — this module adds the *streaming*
execution of the same semantics.

Scale notes: state is partitioned by user_id (the shuffle key); each
micro-batch touches only users with new events; Arrow batches carry the
per-user groups. State size is O(active users), not O(events).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.db import BasenineDB

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_ms", T.LongType()),
        T.StructField("session_end_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_fn(gap_ms: int, idle_timeout_ms: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((key[0], start, last, n))
                state.remove()
        else:
            ts = sorted(
                int(t)
                for pdf in pdfs
                for t in pdf["ts_ms"].tolist()
                if t is not None
            )
            if ts:
                if state.exists:
                    start, last, n = state.get
                else:
                    start, last, n = ts[0], ts[0], 0
                    ts = ts[1:]
                    n = 1
                for t in ts:
                    if t - last > gap_ms:
                        closed.append((key[0], start, last, n))
                        start, n = t, 0
                    last = t
                    n += 1
                state.update((start, last, n))
                state.setTimeoutDuration(idle_timeout_ms)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
            )

    return fn


def session_stream(
    db: BasenineDB,
    gap_minutes: int = 30,
    idle_timeout_seconds: int = 5,
    query_name: str = "sessions",
    checkpoint: str | None = None,
):
    """Start the stateful sessionization stream over a durable
    BasenineDB's log; closed sessions land in the in-memory table
    ``query_name``. ``checkpoint`` defaults to a STABLE path derived from the log
    path and query name, so restarting the same query resumes its
    state instead of replaying the log (and no per-start ckpt dirs
    leak); pass a throwaway path for a deliberate from-scratch
    replay. NOTE: the default in-memory table sink is NOT recoverable
    across JVM restarts — a same-name restart resumes *offsets and
    state* but the memory table restarts empty, so pre-restart output
    rows never reappear; pair the stable checkpoint with a durable
    sink when replay-safe output matters. Returns the StreamingQuery.

    Bounded replays (sessions_replay / funnel_replay) run this with
    the default continuous trigger and wait via
    ``replay._drain_stateful`` — ``processAllAvailable`` never
    returns because the ProcessingTimeTimeout registrations keep the
    engine in a no-data "cleaning up state" batch loop, and observed
    live an Available-Now trigger does not bound that loop either
    (see ``replay._drain_stateful``'s docstring), so input-row
    accounting is the supported bounded-replay mechanism."""
    if db._log is None:
        raise ValueError("session_stream requires a log-backed db, not a mount")
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    # single from_json parse (was 2 get_json_object re-parses per row);
    # string fields + the same casts keep values byte-identical
    events = (
        stream.select(
            F.from_json("value", "user_id string, ts_ms string").alias("d")
        )
        .select(
            F.col("d.user_id").cast("long").alias("user_id"),
            F.col("d.ts_ms").cast("long").alias("ts_ms"),
        )
        .filter(F.col("user_id").isNotNull() & F.col("ts_ms").isNotNull())
    )
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60_000, idle_timeout_seconds * 1000),
        SESSION_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    writer = (
        sessions.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_sessions_ckpt_{query_name}",
        )
    )
    return writer.start()
