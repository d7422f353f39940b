"""Watermarked event-time windowed aggregation over the document log.

The reference has no event-time semantics (SURVEY §2.9 T4 — NOT
IMPLEMENTED; its ``timestamp`` field is only read for retention). This
is the Structured Streaming extension: tumbling event-time windows with
a watermark bounding state for late data, computed over the schema-free
document log (the ``timestamp``/``ts_ms`` field of each JSON doc is the
event time).

The batch twin is :func:`basenine_spark.ops.relational.
hourly_window_rollup`, which the driver verifies against a DuckDB
oracle; this module executes the same bucketing incrementally.

Scale notes: state per (window × key), bounded by the watermark delay —
late rows beyond the delay are dropped, closed windows are evicted.
``update`` output mode emits refreshed rows per micro-batch; sinks that
need append-only finality use ``append`` (rows emitted only once the
watermark passes the window end).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from ..engine.db import BasenineDB


def windowed_counts_stream(
    db: BasenineDB,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    key_field: str = "event_type",
    query_name: str = "windowed_counts",
    checkpoint: str | None = None,
    output_mode: str = "update",
):
    """Start a streaming tumbling-window count per ``key_field`` with a
    late-data watermark; results land in the in-memory table
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
        raise ValueError(
            "windowed_counts_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    # single from_json parse (was 2 get_json_object full re-parses per
    # row — guide §4); string fields keep the literal coercion, so the
    # key and the cast ts are byte-identical to the old pipeline
    events = (
        stream.select(
            F.from_json(
                "value", f"`{key_field}` string, ts_ms string"
            ).alias("d")
        )
        .select(
            F.col(f"d.`{key_field}`").alias("key"),
            F.timestamp_millis(F.col("d.ts_ms").cast("long")).alias(
                "event_time"
            ),
        )
        .filter(F.col("event_time").isNotNull())
    )
    agg = (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "key",
            "cnt",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_win_ckpt_{query_name}",
        )
        .start()
    )
