"""Streaming k-anonymity gate — the online admission twin of
:func:`basenine_spark.ops.privacy.k_anonymize_events`.

The batch ladder needs global group sizes, which an ingest stream
cannot know; the online form HOLDS each row until its level-1
quasi-identifier group (event type x hour-of-day x width-10 value
band) has accumulated at least ``k`` rows, then releases the whole
buffer and passes subsequent group members straight through.  A group
that never reaches ``k`` never emits — its rows stay suppressed, the
conservative direction for a privacy gate (nothing re-identifiable is
ever visible downstream).  The batch job is the periodic re-balancer
when generalized (level-2/3) release of the long tail is wanted post
hoc — the same batch/stream contract as the domain cap
(:mod:`.source_cap`).

State design (``applyInPandasWithState`` keyed by the QI triple): the
group's row count plus the buffered event ids — the buffer is bounded
by ``k - 1`` PER GROUP by construction (the moment it would reach
``k`` it flushes).  Honest bound (ADVICE r10): that bounds state per
GROUP, not the NUMBER of groups — ``b10 = floor(value / 10)`` has
unbounded range, so a long-running stream with a drifting value
distribution accumulates under-``k`` groups indefinitely under the
default ``NoTimeout``.  Pass ``state_ttl_minutes`` to evict groups
that stay under ``k`` and idle past the TTL: their buffered rows are
dropped (they were never released — the conservative direction for a
privacy gate; a late revival starts the count from zero, so the ``k``
standard is never weakened, only the flush of a slow group delayed).
The stream shuffles only on the QI key.  Reference cited for the
streaming-mode shape: basenine follow-mode streaming
(``server/server.go:150-209`` dispatch), re-expressed as Structured
Streaming stateful admission.
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
        T.StructField("event_id", T.LongType()),
        T.StructField("qi_type", T.StringType()),
        T.StructField("qi_hour", T.LongType()),
        T.StructField("qi_band", T.LongType()),
        T.StructField("released_at_n", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("pending", T.ArrayType(T.LongType())),
    ]
)


def _kanon_fn(k: int, state_ttl_minutes: int | None = None):
    ttl_ms = (
        state_ttl_minutes * 60_000 if state_ttl_minutes is not None else None
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle under-k group past TTL: evict — buffered rows stay
            # suppressed (nothing was released; conservative direction)
            state.remove()
            return
        ids = []
        for pdf in pdfs:
            ids.extend(int(i) for i in pdf["event_id"] if i is not None)
        if not ids:
            return
        ids.sort()  # deterministic release order inside the batch
        n_seen, pending = (
            state.get if state.exists else (0, [])
        )
        pending = list(pending or [])
        n_seen += len(ids)
        if n_seen >= k:
            out = sorted(pending) + ids
            state.update((n_seen, []))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            et, hr, b10 = key
            yield pd.DataFrame(
                {
                    "event_id": out,
                    "qi_type": [et] * len(out),
                    "qi_hour": [hr] * len(out),
                    "qi_band": [b10] * len(out),
                    "released_at_n": [n_seen] * len(out),
                }
            )
        else:
            state.update((n_seen, pending + ids))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return fn


def k_anonymity_stream(
    db: BasenineDB,
    k: int = 20,
    query_name: str = "kanon_released",
    checkpoint: str | None = None,
    sink_path: str | None = None,
    state_ttl_minutes: int | None = None,
):
    """Start the online k-anonymity gate over a durable BasenineDB's
    log whose documents carry ``{"event_id": …, "event_type": …,
    "ts_ms": …, "value": …}``; released rows land in the in-memory
    table ``query_name`` with the QI they were released under and the
    group size at release time.  Same checkpoint/restart semantics as
    the other streaming gates: the default checkpoint path is STABLE
    (derived from the log path and query name) so a same-name restart
    resumes offsets and per-group state — but the memory-table sink
    restarts empty, so pair a durable sink when replay-safe output
    matters.  NULL quasi-identifier components take the same sentinel
    values as the batch ladder (``'(null)'`` / ``-1``), so a burst of
    NULL-heavy rows is gated like any other group rather than leaking.

    Pass a fixed ``checkpoint`` AND a ``sink_path`` for the RESUMABLE
    mode (append-only Parquet instead of the non-fault-tolerant memory
    table): on restart the per-group counts and buffered ids are
    restored from state, so rows buffered below ``k`` before a crash
    still flush the moment the group completes after it — no held row
    is ever lost or double-released (pinned in pytest).  Returns the
    StreamingQuery."""
    if db._log is None:
        raise ValueError(
            "k_anonymity_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    ev = (
        stream.select(
            F.from_json(
                F.col("value"),
                "event_id long, event_type string, ts_ms long, value double",
            ).alias("e")
        )
        .select(
            F.col("e.event_id").alias("event_id"),
            F.coalesce(F.col("e.event_type"), F.lit("(null)")).alias("et"),
            F.coalesce(
                F.floor(F.col("e.ts_ms") / F.lit(3600000.0)).cast("bigint")
                % 24,
                F.lit(-1),
            ).alias("hr"),
            F.coalesce(
                F.floor(F.col("e.value") / F.lit(10.0)).cast("bigint"),
                F.lit(-1),
            ).alias("b10"),
        )
        .filter(F.col("event_id").isNotNull())
    )
    released = ev.groupBy("et", "hr", "b10").applyInPandasWithState(
        _kanon_fn(k, state_ttl_minutes),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes is not None
        else GroupStateTimeout.NoTimeout,
    )
    ckpt = checkpoint or f"{db._log.path}_kanon_ckpt_{query_name}"
    if sink_path is not None:
        return (
            released.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink_path)
            .option("checkpointLocation", ckpt)
            .start()
        )
    return (
        released.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
