"""Stream-stream interval attribution join over the document log.

The streaming twin of :func:`basenine_spark.ops.timeseries.
asof_last_click`: purchases arriving on the log stream are joined to
the same user's clicks within a preceding attribution horizon. This is
the canonical Structured Streaming stream-stream join — watermarks on
BOTH sides plus a time-range join condition are what let Spark bound
the join state: clicks older than ``horizon + watermark`` are evicted
from state, so state size is O(arrival rate × horizon), not O(stream
length).

Semantics note (documented divergence from the batch op): the batch
as-of join returns exactly the LAST prior click per purchase; a
stream-stream join emits every (purchase, click) pair inside the
horizon — the "candidate set" form. Reducing to the last click would
require a second stateful aggregation after the join; the batch twin
is the verified form of that reduction (driver oracle
``join_asof_clicks``), while this module is the incremental candidate
generator a production attributor would feed.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from ..engine.db import BasenineDB


def attribution_join_stream(
    db: BasenineDB,
    horizon_minutes: int = 30,
    watermark: str = "10 minutes",
    user_field: str = "user",
    query_name: str = "attribution_pairs",
    checkpoint: str | None = None,
):
    """Start the clicks ⋈ purchases interval join; pairs land in the
    in-memory table ``query_name``. ``checkpoint`` defaults to a STABLE path derived from the log
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
            "attribution_join_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    def side(event_type: str, alias: str):
        # single from_json parse per row (was 4 get_json_object, each
        # a full re-parse — guide §4); string fields keep the literal
        # coercion, so values match the old pipeline byte-for-byte
        stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
        return (
            stream.select(
                F.from_json(
                    "value",
                    f"`{user_field}` string, event_type string, "
                    "ts_ms string, id string",
                ).alias("d")
            )
            .select(
                F.col(f"d.`{user_field}`").alias(f"{alias}_user"),
                F.col("d.event_type").alias("et"),
                F.timestamp_millis(
                    F.col("d.ts_ms").cast("long")
                ).alias(f"{alias}_time"),
                F.col("d.id").alias(f"{alias}_id"),
            )
            .filter(F.col("et") == event_type)
            .drop("et")
            .withWatermark(f"{alias}_time", watermark)
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    horizon = f"INTERVAL {horizon_minutes} MINUTES"
    pairs = purchases.join(
        clicks,
        F.expr(
            "click_user = purchase_user AND "
            f"click_time BETWEEN purchase_time - {horizon} AND purchase_time"
        ),
    ).select(
        "purchase_id",
        "purchase_user",
        F.unix_millis("purchase_time").alias("purchase_ms"),
        F.unix_millis("click_time").alias("click_ms"),
    )
    return (
        pairs.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_asof_ckpt_{query_name}",
        )
        .start()
    )
