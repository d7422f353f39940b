"""Streaming exact deduplication over a durable document log.

The batch twin is :func:`basenine_spark.ops.dedup.exact_dedup` (driver
oracle-verified); this module runs the same "first copy wins" semantics
continuously over an ingest stream, which is how a training-data
pipeline actually consumes a firehose: duplicates are dropped *as they
arrive*, not in a nightly batch.

The reference engine has no streaming dedup (or any dedup); this is
extension surface, built on Spark's native watermarked-state operator
rather than custom state:

- content key = md5 of the (optionally JSON-extracted) payload, so the
  shuffle key is a fixed-width hash, never the document body;
- ``dropDuplicatesWithinWatermark`` + an event-time watermark bounds
  the dedup state to the watermark horizon — at 100 TB/day the state
  store holds one hash per *distinct* document seen within the horizon,
  not the full corpus (exactly the bounded-memory contract a
  1000-executor job needs). A duplicate arriving inside the horizon is
  dropped; one arriving after the horizon re-emits, which is the
  standard recall/state trade-off of windowed streaming dedup.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from ..engine.db import BasenineDB


def dedup_stream(
    db: BasenineDB,
    json_key: str | None = None,
    horizon_seconds: int = 3600,
    query_name: str = "dedup_stream",
    checkpoint: str | None = None,
    quality_filter: str | None = None,
):
    """Start a streaming exact-dedup over a durable BasenineDB's log;
    first-seen records land in the in-memory table ``query_name``.
    ``checkpoint`` defaults to a STABLE path derived from the log
    path and query name, so restarting the same query resumes its
    state instead of replaying the log (and no per-start ckpt dirs
    leak); pass a throwaway path for a deliberate from-scratch
    replay. NOTE: the default in-memory table sink is NOT recoverable
    across JVM restarts — a same-name restart resumes *offsets and
    state* but the memory table restarts empty, so pre-restart output
    rows never reappear; pair the stable checkpoint with a durable
    sink when replay-safe output matters. Returns the StreamingQuery.

    ``json_key`` (a JSONPath like ``$.text``) selects the field whose
    content defines identity; None dedups on the whole payload.

    ``quality_filter`` (a BFL expression, e.g. ``n > 10 and lang ==
    "en"``) gates records BEFORE they reach the dedup state — the
    streaming twin of the curation funnel's quality stage
    (:func:`basenine_spark.ops.pipeline.curate_documents`): junk
    documents are dropped stateless-ly in the scan stage and never
    consume a state-store slot.
    """
    if db._log is None:
        raise ValueError("dedup_stream requires a log-backed db, not a mount")
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    if quality_filter:
        from ..bfl.compiler import compile_filter
        from ..bfl.macros import expand_macros

        if db._typed_schema is None:
            raise ValueError(
                "quality_filter needs the db's typed schema — ingest at "
                "least one batch first"
            )
        comp = compile_filter(
            expand_macros(db.macros, quality_filter), db._typed_schema
        )
        if comp.predicate is not None:
            # the same BFL → Column compilation the batch modes use,
            # resolved against the parsed doc fields; log columns hide
            # behind a reserved prefix while the predicate runs so a doc
            # field named "id"/"value" can't capture them
            doc_fields = set(db._typed_schema.fieldNames())
            if any(f.startswith("__bn_") for f in doc_fields):
                raise ValueError("document fields may not start with __bn_")
            stream = (
                stream.select(
                    F.col("id").alias("__bn_id"),
                    F.col("value").alias("__bn_value"),
                    F.col("doc_ts").alias("__bn_ts"),
                    F.from_json(F.col("value"), db._typed_schema).alias(
                        "__bn_doc"
                    ),
                )
                .select("__bn_id", "__bn_value", "__bn_ts", "__bn_doc.*")
                .filter(comp.predicate)
                .select(
                    F.col("__bn_id").alias("id"),
                    F.col("__bn_value").alias("value"),
                    F.col("__bn_ts").alias("doc_ts"),
                )
            )
    if json_key:
        content = F.get_json_object("value", json_key)
    else:
        # whole-payload identity: the log stamps the assigned id INTO the
        # stored JSON (reference parity), so normalize it away before
        # hashing — otherwise no two records could ever collide
        content = F.regexp_replace("value", '"id":"[0-9]{24}"', '"id":""')
    # doc_ts is the record's own event time when it carries one; fall
    # back to the micro-batch processing time so the watermark always
    # advances and the dedup state stays bounded
    records = (
        stream.select(
            "id",
            "value",
            F.md5(content).alias("content_hash"),
            F.coalesce(
                F.timestamp_millis(F.col("doc_ts")), F.current_timestamp()
            ).alias("ingest_ts"),
        )
        .filter(F.col("content_hash").isNotNull())
        .withWatermark("ingest_ts", f"{horizon_seconds} seconds")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return (
        records.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_dedup_ckpt_{query_name}",
        )
        .start()
    )
