"""Streaming sentence-level scrub — the online twin of
:func:`basenine_spark.ops.text.scrub_dup_sentences` (the C4 keep-first
action, applied as documents ARRIVE instead of in a nightly batch).

Each ingested document is split into sentences with the exact same
split/trim/collapse chain as the batch op; the first-seen copy of
every case-folded sentence passes, later copies are dropped. Built on
the native watermarked-state operator (same design as
``streaming/dedup.py``):

- the dedup key is ``md5(lower(sentence))`` — a fixed-width hash, so
  the state store and the shuffle never carry sentence text;
- ``dropDuplicatesWithinWatermark`` bounds state to the watermark
  horizon: one hash per distinct sentence seen within the horizon,
  not the full corpus. A duplicate inside the horizon is dropped; one
  arriving after re-emits — the standard recall/state trade-off.

Divergence contract vs the batch twin: batch keep-first is global
(smallest (doc_id, sent_idx) wins); the stream keeps the first
ARRIVAL within the horizon — and WITHIN one micro-batch the surviving
copy is an arbitrary one (the native operator defines no intra-batch
order). The admitted sentence KEY SET is identical to the batch scrub
whenever the horizon covers the stream; the surviving (doc_id,
sent_idx) position additionally matches when duplicates arrive in
separate micro-batches in doc_id order — both pinned in
tests/test_streaming_sentences.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..engine.db import BasenineDB
from ..ops.text import _sentence_array


def sentence_scrub_stream(
    db: BasenineDB,
    horizon_seconds: int = 3600,
    query_name: str = "kept_sentences",
    checkpoint: str | None = None,
):
    """Start the online keep-first sentence scrub over a durable
    BasenineDB's log whose documents carry ``{"doc_id": …, "text":
    …}``; first-seen sentences land in the in-memory table
    ``query_name`` as (doc_id, sent_idx, sentence). ``checkpoint``
    defaults to a STABLE path derived from the log path and query name
    (restart resumes the seen-set; pass a throwaway path for a
    from-scratch replay). NOTE: the default in-memory table sink is
    NOT recoverable across JVM restarts — a same-name restart resumes
    *offsets and the seen-set* but the memory table restarts empty, so
    pre-restart output rows never reappear; pair the stable checkpoint
    with a durable sink when replay-safe output matters. Returns the
    StreamingQuery."""
    if db._log is None:
        raise ValueError(
            "sentence_scrub_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    # single from_json parse (was 2 get_json_object re-parses per row)
    docs = stream.select(
        F.from_json("value", "doc_id string, text string").alias("d"),
        F.coalesce(
            F.timestamp_millis(F.col("doc_ts")), F.current_timestamp()
        ).alias("ingest_ts"),
    ).select(
        F.col("d.doc_id").cast("long").alias("doc_id"),
        F.col("d.text").alias("text"),
        "ingest_ts",
    ).filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    sents = docs.select(
        "doc_id",
        "ingest_ts",
        F.posexplode(_sentence_array(F.col("text"))).alias(
            "sent_idx", "sentence"
        ),
    ).withColumn("sent_hash", F.md5(F.lower(F.col("sentence"))))
    kept = (
        sents.withWatermark("ingest_ts", f"{horizon_seconds} seconds")
        .dropDuplicatesWithinWatermark(["sent_hash"])
        .select(
            "doc_id",
            F.col("sent_idx").cast("bigint").alias("sent_idx"),
            "sentence",
        )
    )
    return (
        kept.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option(
            "checkpointLocation",
            checkpoint or f"{db._log.path}_sentscrub_ckpt_{query_name}",
        )
        .start()
    )
