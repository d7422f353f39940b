"""Streaming incident-exposure join — the online twin of
:func:`basenine_spark.ops.timeseries.session_error_overlap`'s
blast-radius semantics: as error events stream in, every activity
event inside the incident's ±pad window is emitted as an exposed
(error, activity) pair — deliberately CROSS-user, because an incident
affects everyone online during it.

The hard part is that "overlap in time, any user" has NO natural
equi-join key, and Spark's stream-stream join state only stays bounded
when there is one.  The batch operator's grid decomposition carries
over verbatim: the ERROR side explodes to the ``grid``-wide time cells
its ±pad window covers (a handful of rows per incident), the activity
side maps to its single cell, and the join is EQUI on the cell id plus
the exact time-range predicate.  Because only the error side explodes,
each (error, activity) pair can match on exactly one cell — the
activity's own — so no post-join dedup is needed.  Watermarks on both
sides + the range condition let Spark evict state older than
``pad + watermark``: state is O(arrival rate × pad), not O(stream
length).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from ..engine.db import BasenineDB


def incident_exposure_stream(
    db: BasenineDB,
    pad_minutes: int = 5,
    grid_minutes: int = 10,
    watermark: str = "10 minutes",
    query_name: str = "incident_exposure",
    checkpoint: str | None = None,
):
    """Start the errors ⋈ activity exposure join; exposed pairs land in
    the in-memory table ``query_name`` as (error_id, error_ms, act_id,
    act_user, act_ms).  ``checkpoint`` defaults to a STABLE path derived from the log
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
            "incident_exposure_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    pad_ms = pad_minutes * 60_000
    grid_ms = grid_minutes * 60_000

    def raw(alias: str):
        # ONE from_json per row instead of four get_json_object calls —
        # each get_json_object re-parses the whole document (guide §4:
        # don't repeat per-row work). String-typed fields coerce JSON
        # scalars to the same literal text get_json_object produced, so
        # every downstream value (including the later casts) is
        # byte-identical.
        stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
        return stream.select(
            F.from_json(
                "value",
                "event_type string, user string, ts_ms string, id string",
            ).alias("d")
        ).select(
            F.col("d.event_type").alias("et"),
            F.col("d.user").alias(f"{alias}_user"),
            F.col("d.ts_ms").cast("long").alias(f"{alias}_ms"),
            F.col("d.id").alias(f"{alias}_id"),
        )

    errors = (
        raw("error")
        .filter(F.col("et") == "error")
        .drop("et", "error_user")
        .withColumn(
            "error_time", F.timestamp_millis(F.col("error_ms"))
        )
        .withWatermark("error_time", watermark)
        # the incident window [ms-pad, ms+pad] explodes to its grid
        # cells — the only side that fans out, so pairs are unique by
        # construction (an activity row owns exactly one cell)
        # F.floor (not a bare bigint cast): epoch millis are positive
        # in practice, but a truncating cast would mis-cell negative
        # bounds — keep the batch operator's exact floor semantics
        .withColumn(
            "err_cell",
            F.explode(
                F.sequence(
                    F.floor((F.col("error_ms") - pad_ms) / grid_ms).cast(
                        "bigint"
                    ),
                    F.floor((F.col("error_ms") + pad_ms) / grid_ms).cast(
                        "bigint"
                    ),
                )
            ),
        )
    )
    activity = (
        raw("act")
        .filter(F.col("et") != "error")
        .drop("et")
        .withColumn("act_time", F.timestamp_millis(F.col("act_ms")))
        .withWatermark("act_time", watermark)
        .withColumn(
            "act_cell", F.floor(F.col("act_ms") / grid_ms).cast("bigint")
        )
    )
    pairs = errors.join(
        activity,
        F.expr(
            "err_cell = act_cell AND "
            f"act_time BETWEEN error_time - INTERVAL {pad_minutes} MINUTES "
            f"AND error_time + INTERVAL {pad_minutes} MINUTES"
        ),
    )
    return (
        pairs.select("error_id", "error_ms", "act_id", "act_user", "act_ms")
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_exposure_ckpt_{query_name}",
        )
        .start()
    )
