"""Streaming ordered-funnel progression — the online twin of
:func:`basenine_spark.ops.timeseries.event_funnel`, ORDER-TOLERANT.

State per user (``applyInPandasWithState`` keyed on user_id) is the
array of step times filled so far plus a bounded buffer of PENDING
events — arrivals are not folded immediately, they are folded in
EVENT-TIME order once they age past a per-user reorder horizon
(``max event time seen for this user − order_tolerance_ms``), and a
processing-time quiescence timeout (``flush_after_ms`` with no new
data for the user) flushes whatever is still buffered. So events that
arrive out of order — a multi-file log append straddling trigger
boundaries in arbitrary file order (task-commit visibility), a
producer emitting per-entity shards — fold exactly as the batch
operator would, as long as the stray arrives within the tolerance
window or before quiescence.

Equivalence contract (strictly wider than the r8 ordered-arrival
precondition): the emitted step times equal the batch operator's
whenever every event arrives either (a) within ``order_tolerance_ms``
of event time of any later-timestamped event that precedes it in
arrival order, or (b) before the user's ``flush_after_ms`` quiescence
flush. After a fold, history is append-only: an event arriving LATER
than both windows with an earlier timestamp than an already-filled
step cannot rewrite it — the same online/offline divergence contract
as the streaming dedup/SemDeDup admission twins.

Scale shape: the pending buffer holds only step-typed events younger
than the reorder horizon — bounded by per-user arrival rate ×
tolerance, not by stream length; the filled-steps array is at most
``len(steps)`` longs. ``order_tolerance_ms=0`` recovers the r8
immediate-greedy behavior (fold on arrival, within-batch sorted).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.db import BasenineDB

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("times", T.ArrayType(T.LongType())),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_et", T.ArrayType(T.StringType())),
        T.StructField("max_ts", T.LongType()),
    ]
)


def _funnel_fn(
    steps: tuple,
    tolerance_ms: int,
    flush_after_ms: int,
    max_pending: int = 4096,
):
    n = len(steps)

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            times, pend_ts, pend_et, max_ts = state.get
            times = list(times)
            pending = list(zip(pend_ts, pend_et))
        else:
            times, pending, max_ts = [], [], None
        new = []
        for pdf in pdfs:
            for ts, et in zip(pdf["ts_ms"], pdf["event_type"]):
                # null longs arrive as NaN through Arrow — pd.notna
                # catches both None and NaN shapes
                if pd.notna(ts) and et is not None:
                    new.append((int(ts), str(et)))
        if new:
            pending.extend(new)
            mx = max(ts for ts, _ in new)
            if max_ts is None or mx > max_ts:
                max_ts = mx
        # Fold everything older than the reorder horizon in event-time
        # order; on a quiescence timeout, flush the whole buffer (no
        # newer event is coming to re-order against).
        if state.hasTimedOut:
            ready, rest = sorted(pending), []
        else:
            horizon = None if max_ts is None else max_ts - tolerance_ms
            ready = sorted(e for e in pending if e[0] <= horizon)
            rest = sorted(e for e in pending if e[0] > horizon)
            # Hard cap (ADVICE r9): a user whose event times all stay
            # within tolerance_ms of max_ts never crosses the horizon,
            # and continuous traffic re-arms the quiescence timeout —
            # without a cap the buffer grows with stream length. On
            # overflow, fold the OLDEST events now (they are the next
            # to cross the horizon anyway); appending them to `ready`
            # keeps the fold in event-time order since every ready
            # event is <= horizon < every rest event.
            if len(rest) > max_pending:
                spill = len(rest) - max_pending
                ready.extend(rest[:spill])
                rest = rest[spill:]
        emitted = []
        for ts, et in ready:
            if len(times) >= n:
                break
            if et == steps[len(times)] and (not times or ts > times[-1]):
                times.append(ts)
                emitted.append((key[0], len(times) - 1, ts))
        state.update(
            (times, [t for t, _ in rest], [e for _, e in rest], max_ts)
        )
        if rest:
            # re-arm on every invocation: Spark clears the timeout each
            # time the function is called for a key
            state.setTimeoutDuration(flush_after_ms)
        if emitted:
            yield pd.DataFrame(
                emitted, columns=["user_id", "step_idx", "ts_ms"]
            )

    return fn


def funnel_stream(
    db: BasenineDB,
    steps: tuple = ("view", "click", "purchase"),
    query_name: str = "funnel_steps",
    checkpoint: str | None = None,
    order_tolerance_ms: int = 60_000,
    flush_after_ms: int = 2_000,
    max_pending: int = 4096,
):
    """Start the online funnel over a durable BasenineDB's log whose
    documents carry ``{"user_id": …, "ts_ms": …, "event_type": …}``;
    step transitions land in the in-memory table ``query_name`` as
    (user_id, step_idx, ts_ms). Arrival order is tolerated up to
    ``order_tolerance_ms`` of event-time disorder per user (events are
    buffered in state and folded in event-time order once past the
    reorder horizon); a user quiet for ``flush_after_ms`` of
    processing time has the remaining buffer flushed, so output is
    eventual without requiring further traffic. ``checkpoint``
    defaults to a STABLE path derived from the log path and query
    name, so restarting the same query resumes its state instead of
    replaying the log (and no per-start ckpt dirs leak); pass a
    throwaway path for a deliberate from-scratch replay. NOTE: the
    default in-memory table sink is NOT recoverable across JVM
    restarts — a same-name restart resumes *offsets and state* but the
    memory table restarts empty, so pre-restart output rows never
    reappear; pair the stable checkpoint with a durable sink when
    replay-safe output matters. ``max_pending`` hard-caps the per-user
    reorder buffer — a user whose event times never age past the
    horizon (all within tolerance of max_ts) with continuous traffic
    would otherwise grow state without bound; on overflow the oldest
    buffered events are folded immediately.

    STATE-SCHEMA NOTE: the r9 order-tolerant rewrite grew the state
    row from 1 field (times) to 4 (times, pend_ts, pend_et, max_ts),
    which is incompatible with checkpoints written by the pre-r9
    single-field worker. The default checkpoint path is therefore
    versioned (``…_v2``): an upgraded deployment starts fresh instead
    of failing Spark's state-compat check against the old state; pass
    the old path explicitly only if the query never ran pre-r9.

    Returns the StreamingQuery."""
    if db._log is None:
        raise ValueError("funnel_stream requires a log-backed db, not a mount")
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    ev = (
        stream.select(
            F.from_json(
                F.col("value"),
                "user_id long, ts_ms long, event_type string",
            ).alias("d")
        )
        .select("d.user_id", "d.ts_ms", "d.event_type")
        # ts_ms null-filtered upstream too: a null long crosses Arrow
        # as NaN, passes `is not None`, and int(NaN) would terminate
        # the streaming query on one malformed record.
        # Only step-typed events are buffered (the greedy fold skips
        # every other type anyway) — this bounds the pending state.
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts_ms").isNotNull()
            & F.col("event_type").isin(*steps)
        )
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn(
            tuple(steps), order_tolerance_ms, flush_after_ms, max_pending
        ),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            # _v2: 4-field state schema since the r9 order-tolerant
            # rewrite — see the STATE-SCHEMA NOTE in the docstring
            checkpoint or f"{db._log.path}_funnel_ckpt_{query_name}_v2",
        )
        .start()
    )
