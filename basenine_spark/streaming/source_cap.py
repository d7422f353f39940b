"""Streaming per-source (domain) cap — the online admission twin of
:func:`basenine_spark.ops.sampling.source_cap`.

The batch cap ranks each source's documents by a content-stable hash
and keeps the top ``cap`` — a *competitive* selection that needs the
whole corpus. An ingest stream can't see the whole corpus, so the
online form admits the first ``cap`` documents per source (ascending
doc_id inside a micro-batch, arrival order across batches) and drops
the rest forever. Both enforce the same invariant — at most ``cap``
documents per source ever enter the pipeline — with the batch job as
the periodic re-balancer if hash-rank selection is wanted post hoc.

State design (``applyInPandasWithState`` keyed by source): one int —
the number of documents this source has admitted. Constant-size state
per source no matter how much data streams through, and the stream
shuffles only on the source key. Reference cited for the streaming
mode shape: basenine follow-mode streaming (`server/server.go:150-209`
dispatch), re-expressed as Structured Streaming stateful admission.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine.db import BasenineDB

ADMIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("cap_rank", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("admitted", T.LongType())])


def _admit_fn(cap: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ids = []
        for pdf in pdfs:
            ids.extend(int(i) for i in pdf["doc_id"] if i is not None)
        if not ids:
            return
        ids.sort()  # deterministic admission order inside the batch
        (admitted,) = state.get if state.exists else (0,)
        take = ids[: max(0, cap - admitted)]
        state.update((admitted + len(take),))
        if take:
            yield pd.DataFrame(
                {
                    "doc_id": take,
                    "source": [key[0]] * len(take),
                    "cap_rank": range(admitted + 1, admitted + len(take) + 1),
                }
            )

    return fn


def source_cap_admit_stream(
    db: BasenineDB,
    cap: int = 50,
    query_name: str = "source_cap_admitted",
    checkpoint: str | None = None,
    sink_path: str | None = None,
):
    """Start the online domain-cap stream over a durable BasenineDB's
    log whose documents carry ``{"doc_id": …, "source": …}``; admitted
    documents land in the in-memory table ``query_name`` with their
    admission rank. ``checkpoint`` defaults to a STABLE path derived from the log
    path and query name, so restarting the same query resumes its
    state instead of replaying the log (and no per-start ckpt dirs
    leak); pass a throwaway path for a deliberate from-scratch
    replay. NOTE: the default in-memory table sink is NOT recoverable
    across JVM restarts — a same-name restart resumes *offsets and
    state* but the memory table restarts empty, so pre-restart output
    rows never reappear; pair the stable checkpoint with a durable
    sink when replay-safe output matters. Returns the StreamingQuery.

    Pass a fixed ``checkpoint`` directory AND a ``sink_path`` to make
    the stream RESUMABLE: the in-memory table sink is not
    fault-tolerant (Spark refuses to recover it from a checkpoint), so
    the resumable mode writes append-only Parquet instead; on restart
    with the same checkpoint, Structured Streaming restores the
    per-source admitted counts and the log offset, so a source that
    filled its cap before a crash stays closed after — exactly-once
    admission across restarts (pinned in pytest)."""
    if db._log is None:
        raise ValueError(
            "source_cap_admit_stream requires a log-backed db, not a mount"
        )
    from ..engine.log import LOG_SCHEMA

    stream = db.spark.readStream.schema(LOG_SCHEMA).parquet(db._log.path)
    docs = (
        stream.select(
            F.from_json(
                F.col("value"), "doc_id long, source string"
            ).alias("d")
        )
        .select("d.doc_id", "d.source")
        .filter(F.col("doc_id").isNotNull() & F.col("source").isNotNull())
    )
    admitted = docs.groupBy("source").applyInPandasWithState(
        _admit_fn(cap),
        ADMIT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    ckpt = checkpoint or f"{db._log.path}_srccap_ckpt_{query_name}"
    if sink_path is not None:
        return (
            admitted.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink_path)
            .option("checkpointLocation", ckpt)
            .start()
        )
    return (
        admitted.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
