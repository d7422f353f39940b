"""Streaming anomaly detection — the online twin of
:func:`basenine_spark.ops.timeseries.rolling_outliers`.

Per-key state (``applyInPandasWithState`` keyed on event_type) is the
Welford running-moment triple (n, mean, M2) — three numbers per key,
constant-size forever, numerically stable (no sum-of-squares
catastrophic cancellation). Each event is scored against the moments
of all PRIOR events (leak-free: the score is computed before the event
updates the state, the same contract as the batch operator's
previous-row frame), and events past the warm-up whose |z| exceeds the
threshold are emitted.

Divergence contract vs the batch twin: batch scores against a bounded
trailing WINDOW (adapts to regime change, forgets), the stream scores
against ALL history (cheapest constant state). An EWMA variant is the
knob between them — swap the Welford update for exponential decay to
get bounded-memory adaptivity; the state shape doesn't change.
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
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m2", T.DoubleType()),
    ]
)


def _detect_fn(z_threshold: float, min_n: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in pdfs:
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                # Arrow renders null long/double as NaN, which passes an
                # `is not None` check — pd.notna catches both shapes.
                if pd.notna(eid) and pd.notna(val):
                    rows.append((int(eid), float(val)))
        if not rows:
            return
        rows.sort()  # deterministic order inside the batch
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out = []
        for eid, val in rows:
            if n >= min_n:
                var = m2 / (n - 1) if n > 1 else 0.0
                if var > 0:
                    z = (val - mean) / var**0.5
                    if abs(z) >= z_threshold:
                        out.append((eid, key[0], val, round(z, 4)))
            # Welford update AFTER scoring — leak-free
            n += 1
            d = val - mean
            mean += d / n
            m2 += d * (val - mean)
        state.update((n, mean, m2))
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "event_type", "value", "zscore"]
            )

    return fn


def anomaly_stream(
    db: BasenineDB,
    z_threshold: float = 3.0,
    min_n: int = 10,
    query_name: str = "anomalies",
    checkpoint: str | None = None,
):
    """Start the online outlier stream over a durable BasenineDB's log
    whose documents carry ``{"event_id": …, "event_type": …,
    "value": …}``; flagged events land in the in-memory table
    ``query_name``. ``checkpoint`` defaults to a STABLE path derived from the log
    path and query name, so restarting the same query resumes its
    state instead of replaying the log (and no per-start ckpt dirs
    leak); pass a throwaway path for a deliberate from-scratch
    replay. NOTE: the default in-memory table sink is NOT recoverable
    across JVM restarts — a same-name restart resumes *offsets and
    state* but the memory table restarts empty, so pre-restart output
    rows never reappear; pair the stable checkpoint with a durable
    sink when replay-safe output matters. Returns the StreamingQuery."""
    if db._log is None:
        raise ValueError("anomaly_stream requires a log-backed db, not a mount")
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    ev = (
        stream.select(
            F.from_json(
                F.col("value"),
                "event_id long, event_type string, value double",
            ).alias("d")
        )
        .select("d.event_id", "d.event_type", "d.value")
        # all three fields null-filtered BEFORE the stateful stage: a
        # null long/double crosses Arrow as NaN, so a worker-side
        # `is not None` can't catch it — int(NaN) would kill the query
        # and a NaN value would poison the Welford moments forever
        .filter(
            F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
    )
    out = ev.groupBy("event_type").applyInPandasWithState(
        _detect_fn(z_threshold, min_n),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_anom_ckpt_{query_name}",
        )
        .start()
    )
