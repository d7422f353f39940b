"""Streaming data-quality monitor — the online face of
:mod:`basenine_spark.ops.expectations`: per-event-time-window violation
counts for a bundle of declarative rules, so a broken upstream shows up
as a rising violation rate within a watermark-bounded window instead of
a post-hoc batch report.

Each rule is a conditional-sum aggregate over the windowed group —
state per (window, rule-bundle) is one row of counters, evicted when
the watermark passes (the same bounded-state contract as the windowed
counts stream). NULL predicate results count as violations, matching
the batch gate's conservative reading.
"""

from __future__ import annotations


from pyspark.sql import Column
from pyspark.sql import functions as F

from ..engine.db import BasenineDB


def quality_monitor_stream(
    db: BasenineDB,
    rules: dict[str, Column],
    window: str = "1 hour",
    watermark: str = "10 minutes",
    query_name: str = "quality_windows",
    checkpoint: str | None = None,
    fields: str = "ts_ms long, value double, event_type string",
):
    """Start the windowed rule monitor over a durable BasenineDB's log;
    documents carry ``ts_ms`` (event time) plus whatever ``fields`` the
    rules reference. Results land in the in-memory table
    ``query_name`` as (window_start_ms, n_rows, <rule> violation count
    per rule). ``checkpoint`` defaults to a STABLE path derived from the log
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
            "quality_monitor_stream requires a log-backed db, not a mount"
        )
    if not rules:
        raise ValueError("no rules given")
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    docs = (
        stream.select(F.from_json(F.col("value"), fields).alias("d"))
        .select("d.*")
        .filter(F.col("ts_ms").isNotNull())
        .withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, pred in rules.items():
        aggs.append(
            F.sum(F.when(pred, F.lit(0)).otherwise(F.lit(1))).alias(name)
        )
    windowed = (
        docs.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"))
        .agg(*aggs)
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "*",
        )
        .drop("w")
    )
    return (
        windowed.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_qmon_ckpt_{query_name}",
        )
        .start()
    )
