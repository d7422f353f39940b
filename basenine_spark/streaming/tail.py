"""Live tail (follow mode): unbounded filtered stream over the log.

Reference behavior (``/root/reference/server/lib/storages/native.go``):
a QUERY connection scans all existing records, then blocks on an
fsnotify watch and resumes as data arrives (``native.go:374-523``,
blocking resume ``native.go:520-522``, ``watchPartitions``
``native.go:1139-1155``), honoring a ``leftOff`` resume token
(``native.go:1158-1176``), a ``limit(N)`` early stop
(``native.go:513-517``), and interleaving ``/metadata`` progress frames
(``native.go:497-511``).

Spark-first mapping: the fsnotify loop dissolves into a Structured
Streaming **file source** over the Parquet log directory — Spark's own
source listing is the wake-up mechanism; each micro-batch goes through
``BasenineDB._pages``, the path QUERY and FETCH serve from, and
delivers the matching stored documents in seq order. ``limit(N)``
stops the streaming query from the driver loop
(SURVEY §7.4 item 6).

Metadata cadence (``frame_cadence``): the default ``"delivered"``
emits one ``/metadata`` frame per DELIVERED (matching) record; the
candidates skipped between deliveries are charged to the next frame's
``current``. The reference instead emits a frame after EVERY scanned
candidate, match or not (``native.go:430-511``: ``queried++`` per
offset, the frame is minted unconditionally after Eval, ``Current`` =
records scanned since the previous frame — 1 on the normal path).
``frame_cadence="scanned"`` opts into that exact cadence: each
micro-batch additionally ships its scanned seq list to the driver
(8 bytes per scanned record — the reference writes a whole wire frame
per scanned record to the client socket, so this is strictly cheaper
than the traffic it reproduces) and the driver interleaves record and
frame callbacks exactly like the reference loop.

Scale notes: the per-batch filter is the same pushdown-friendly Column
plan as batch mode; nothing is collected except *matching* records
(which in the reference are written to the client socket anyway — the
driver here plays the client-connection role), plus, in
``"scanned"`` cadence only, the bare seq longs of scanned candidates.
"""

from __future__ import annotations

import threading
import time
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bfl.ast import Query
from ..engine.db import BasenineDB, Metadata, index_to_id


class TailQuery:
    """A running follow-mode query (one reference QUERY connection)."""

    def __init__(
        self,
        db: BasenineDB,
        query: str = "",
        left_off: int | str = 0,
        on_record: Optional[Callable[[str, str], None]] = None,
        on_metadata: Optional[Callable[[Metadata], None]] = None,
        trigger_seconds: float = 0.2,
        frame_cadence: str = "delivered",
    ):
        if db._log is None:
            raise ValueError(
                "tail requires a log-backed BasenineDB, not a mount"
            )
        if frame_cadence not in ("delivered", "scanned"):
            raise ValueError(
                "frame_cadence must be 'delivered' or 'scanned', got "
                f"{frame_cadence!r}"
            )
        self.frame_cadence = frame_cadence
        self.db = db
        self.spark: SparkSession = db.spark
        self.query_text = query
        self.prepared: Query = db._prepare(query)
        if frame_cadence == "scanned" and self.prepared.expr is not None:
            # the scanned cadence frames every candidate by its id; a
            # redact that may rewrite the id column would deliver
            # records whose id disagrees with their frame's leftOff —
            # refused synchronously (ADVICE r10)
            from ..bfl.compiler import collect_redact_taints

            taints = collect_redact_taints(self.prepared.expr)
            if taints is None or any(
                t and t[0] == db.id_col for t in taints
            ):
                raise ValueError(
                    "frame_cadence='scanned' needs the injected id column"
                    " to key matches back to scanned seqs; the query's"
                    " redact target is (or may be) the id column"
                )
        self.limit = self.prepared.limit
        self.on_record = on_record
        self.on_metadata = on_metadata
        self.trigger_seconds = trigger_seconds
        self.records: List[tuple] = []  # (id, value) of matches
        self.written = 0
        self._lock = threading.Lock()
        self._limit_hit = threading.Event()
        self._sq = None

        if left_off == "latest":  # T2 (native.go:1158-1176)
            self.min_seq = max(db._log.total_written - 1, 0)
        elif left_off in (0, None, ""):
            # int 0 / None / "" = from the beginning; the STRING "0" is
            # a real resume token (strictly after seq 0) — same
            # zero-form parsing as BasenineDB.query (native.go:1158-1176
            # applies its +1 to any non-empty string, including "0")
            self.min_seq = 0
        else:
            self.min_seq = int(left_off) + 1
        # last *delivered* seq — frame accounting carries candidate
        # counts across micro-batches (native.go:497-505: `current`
        # counts records scanned since the previous frame)
        self._prev_seq = self.min_seq - 1

    # -- internals -----------------------------------------------------

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        db = self.db
        # The typed schema is normally maintained at write time; a tail
        # that follows a log this process never wrote (or that started
        # on an empty db, reference: a QUERY connection may open before
        # any INSERT) learns it from the batch itself.
        if db._typed_schema is None:
            if batch_df.isEmpty():
                return
            from ..engine.schema import finalize_type, merge_types

            batch_schema = self.spark.read.json(
                batch_df.select("value").rdd.map(lambda r: r.value)
            ).schema
            db._schema_acc = (
                batch_schema
                if db._schema_acc is None
                else merge_types(db._schema_acc, batch_schema)
            )
            db._typed_schema = finalize_type(db._schema_acc)
        # the same (seq, value) records QUERY serves, from this batch
        rows = [
            r
            for page in db._pages(
                self.prepared, min_seq=self.min_seq, batch=batch_df
            )
            for r in page
        ]
        if self.frame_cadence == "scanned":
            self._emit_scanned(batch_df, rows)
            return
        with self._lock:
            for seq, value in rows:
                if self.limit > 0 and self.written >= self.limit:
                    break
                rid = index_to_id(seq)
                self.written += 1
                self.records.append((rid, value))
                if self.on_record:
                    self.on_record(rid, value)
                if self.on_metadata:
                    # per-record frame interleaving, field-for-field
                    # with native.go:497-511: `numberOfWritten` is the
                    # cumulative delivered count, `current` counts
                    # candidates scanned since the previous delivered
                    # record (carrying across micro-batches — skipped
                    # non-matching records between deliveries are
                    # charged to the next frame), `leftOff` is the
                    # delivered record's resume token
                    md = db.metadata(written=self.written, queried=1)
                    md.left_off = rid
                    md.current = seq - self._prev_seq
                    self._prev_seq = seq
                    self.on_metadata(md)
            if self.limit > 0 and self.written >= self.limit:
                self._limit_hit.set()

    def _emit_scanned(self, batch_df: DataFrame, rows: list) -> None:
        """Reference-exact frame cadence (``native.go:430-511``): one
        ``/metadata`` frame after EVERY scanned candidate, match or
        not — ``current`` = records scanned since the previous frame
        (1 on the normal contiguous path), ``numberOfWritten``
        cumulative, ``leftOff`` the scanned record's own resume token.
        Only the bare seq longs of non-matching candidates travel to
        the driver."""
        db = self.db
        matched = dict(rows)
        scan_seqs = sorted(
            r["seq"]
            for r in batch_df.filter(F.col("seq") >= self.min_seq)
            .select("seq")
            .collect()
        )
        with self._lock:
            for seq in scan_seqs:
                if self.limit > 0 and self.written >= self.limit:
                    break
                rid = index_to_id(seq)
                v = matched.get(seq)
                if v is not None:
                    self.written += 1
                    self.records.append((rid, v))
                    if self.on_record:
                        self.on_record(rid, v)
                if self.on_metadata:
                    md = db.metadata(written=self.written, queried=1)
                    md.left_off = rid
                    md.current = seq - self._prev_seq
                    self._prev_seq = seq
                    self.on_metadata(md)
            if self.limit > 0 and self.written >= self.limit:
                self._limit_hit.set()

    # -- lifecycle -----------------------------------------------------

    def start(self) -> "TailQuery":
        import os

        from ..engine.log import LOG_SCHEMA

        assert self.db._log is not None
        # a tail may open before the first INSERT (reference supports a
        # QUERY connection on an empty database) — the source dir must
        # exist for readStream to plan
        os.makedirs(self.db._log.path, exist_ok=True)
        stream = (
            self.spark.readStream.schema(LOG_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(self.db._log.path)
        )
        self._sq = (
            stream.writeStream.foreachBatch(self._process_batch)
            .trigger(processingTime=f"{self.trigger_seconds} seconds")
            .option(
                "checkpointLocation",
                f"{self.db._log.path}_tail_ckpt_{int(time.time() * 1000)}",
            )
            .start()
        )
        return self

    def await_written(self, n: int, timeout: float = 30.0) -> int:
        """Block until ≥ n records have been streamed (or timeout)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if self.written >= n:
                    return self.written
            if self._limit_hit.is_set():
                break
            time.sleep(0.05)
        with self._lock:
            return self.written

    def run_until_limit(self, timeout: float = 60.0) -> int:
        """Driver loop enforcing ``limit(N)`` early stop
        (``native.go:513-517``): wait for the limit, then stop."""
        if self.limit <= 0:
            raise ValueError("query has no limit(N); use await_written/stop")
        self._limit_hit.wait(timeout)
        self.stop()
        return self.written

    def stop(self) -> None:
        if self._sq is not None:
            self._sq.stop()
            self._sq = None


def tail(
    db: BasenineDB,
    query: str = "",
    left_off: int | str = 0,
    **kwargs,
) -> TailQuery:
    """Start a follow-mode query (M1/T1): returns a running
    :class:`TailQuery` delivering matching records as they are
    appended."""
    return TailQuery(db, query=query, left_off=left_off, **kwargs).start()
