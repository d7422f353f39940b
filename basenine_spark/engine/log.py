"""Durable append-only document log over partitioned Parquet.

Spark-first re-expression of the reference's storage layer
(``/root/reference/server/lib/storages/native.go``):

=============================  =======================================
reference                       here
=============================  =======================================
length-prefixed log writer      Parquet append (``native.go:313-333``)
``data_%09d.db`` partitions     ``part=N`` directory partitions
  (``native.go:951-964``)         (rotated by byte size)
offsets/partitionRefs index     the ``seq`` min/max in each file's
  (``native.go:66-81``)           footer: the driver reader lists the
                                 live partitions' committed files and
                                 prunes them by it; a Spark directory
                                 scan lists every file, and its row-
                                 group stats prune after the listing
gob core dump + restore         the log IS the state: ``seq`` max and
  (``native.go:155-258``)        partition sizes recovered by scanning
                                 footers at boot
2-partition retention           keep newest partitions whose total
  (``native.go:1049-1108``)      size ≤ limit/2 (``native.go:1207``),
                                 delete older; truncatedTimestamp =
                                 max event-time of dropped + 1
                                 (``native.go:986-1044``)
=============================  =======================================

Ingest has two input shapes.  A wire batch (:meth:`DocumentLog.append`)
is already on the driver, so it is validated, filtered and stamped
there and written with ``pyarrow`` as one file, made visible by an
atomic rename (the file sink of the Structured Streaming paper: write,
then commit) — no Spark job.  A bulk DataFrame
(:meth:`DocumentLog.append_df`) never reaches the driver: it is
filtered/redacted in Arrow-batched ``mapInPandas`` stages and stamped
from per-partition offsets, the driver advancing only the sequence
counter.

Reads have two shapes too.  A read that needs no typed column
(:meth:`DocumentLog.read_pages`) is served on the driver, like the
reference's walk of its partition files in offset order
(``native.go:374-523``): ``pyarrow`` reads ``seq`` and ``value`` of the
committed files whose footer ``seq`` range meets the request, one
seq-sorted page per group of overlapping files, each page read only
once the previous one is taken — no Spark job.  A filtered read is a
Spark scan (:meth:`DocumentLog.scan`): without files it lists and
plans every file of the log, and its ``seq`` range predicates then
skip row groups by their min/max stats.  A wire batch's one file is
known by its path (:attr:`DocumentLog.last_file`), so the commit
reader of ``BasenineDB`` reads only the file a commit wrote.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import threading
import uuid
from collections import namedtuple
from operator import itemgetter
from typing import Iterator, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

LOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
        T.StructField("doc_ts", T.LongType(), True),
        T.StructField("part", T.LongType(), False),
    ]
)

# a served log record: its seq and stored document
Record = namedtuple("Record", "seq value")

# a live partition's directory; a failed compact() leaves part=N.compact.*
_PART_DIR = re.compile(r"part=(\d+)")


def _doc_ts(ts) -> Optional[int]:
    """A document's ``timestamp`` as its ``doc_ts``: the value when it
    is a finite number inside the int64 range, else None (a bool is
    not a number here)."""
    if isinstance(ts, bool) or not isinstance(ts, (int, float)):
        return None
    if isinstance(ts, float) and not math.isfinite(ts):
        return None
    n = int(ts)
    return n if -(2**63) <= n < 2**63 else None


def _stats_columns(schema: pa.Schema) -> list[str]:
    """The columns a wire-batch file keeps min/max statistics for:
    every leaf reached through structs alone, except floating-point
    ones.  Arrow leaves NaN out of a float column's min/max, so a
    pushed-down ``f > 0`` would skip a file whose only value above 0
    is NaN; Spark's writer keeps that file.  Array elements take no
    pushdown, and a dotted field name would make an ambiguous path."""
    out: list[str] = []

    def walk(t: pa.DataType, path: str) -> None:
        if pa.types.is_struct(t):
            for f in t:
                if "." not in f.name:
                    walk(f.type, f"{path}.{f.name}")
        elif not (pa.types.is_floating(t) or pa.types.is_list(t)):
            out.append(path)

    for f in schema:
        walk(f.type, f.name)
    return out


def _column_index(md: pq.FileMetaData, name: str) -> int:
    """The index of top-level column ``name`` in a parquet footer, keyed
    by full path: a shredded doc field named ``seq`` would otherwise
    shadow the top-level column."""
    for i in range(md.num_columns):
        if md.schema.column(i).path == name:
            return i
    raise KeyError(name)


def _seq_span(md: pq.FileMetaData) -> Optional[tuple[int, int]]:
    """A file's ``(min, max)`` seq from its footer's row-group
    statistics, or None when a row group lacks them (or there is
    none)."""
    col = _column_index(md, "seq")
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _read_columns(path: str, names: list[str]) -> list[list]:
    """Top-level columns of a parquet file as Python lists.
    ``ParquetFile.read``, not ``pq.read_table``: the latter loads
    ``pyarrow.dataset``, which costs the process ~4.5 MB."""
    tbl = pq.ParquetFile(path).read(columns=names, use_threads=False)
    return [tbl.column(n).to_pylist() for n in names]


def _read_page(paths: list[str], descending: bool) -> list[Record]:
    """The records of ``paths`` (one group of overlapping files) sorted
    by seq."""
    page: list[Record] = []
    for path in paths:
        page += map(Record, *_read_columns(path, ["seq", "value"]))
    page.sort(key=itemgetter(0), reverse=descending)
    return page


class DocumentLog:
    """One append-only JSON-document log rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._count = 0  # next seq == number of records ever written
        self._removed = 0  # records dropped by retention (id space is NOT reused)
        self._part = 0  # current write partition
        self._part_ts: dict[int, int] = {}  # partition → max doc_ts
        self.truncated_timestamp = 0
        self.retention_bytes = 0
        # held while compact() swaps a partition's directory and while
        # a driver read lists the log, so no listing sees the partition
        # missing between the two renames
        self._swap = threading.Lock()
        # committed file → its seq span from the footer (None: no rows);
        # a file never changes under its name, and a listing drops the
        # paths it no longer returns
        self._spans: dict[str, Optional[tuple[int, int]]] = {}
        if os.path.isdir(path) and self._has_data():
            self._restore()
        # (min_seq, max_seq, path) of the file the last append
        # committed by rename; None when it wrote no such file
        self.last_file: Optional[tuple[int, int, str]] = None

    # -- persistence / restore (S8) ------------------------------------

    def _has_data(self) -> bool:
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _restore(self) -> None:
        """Restart survival (``native.go:155-258``): all state is derived
        from parquet FOOTER metadata only — max seq, row counts and max
        event-times come from row-group statistics, so boot cost is
        O(files), never a corpus scan (at 100 TB a restart must not read
        the data).  Falls back to a columnar Spark scan only if some
        footer lacks statistics."""
        try:
            stats = self._footer_stats()
        except Exception:
            stats = None
        if stats is None:  # stats-less writer produced this log
            df = self.scan()
            agg = df.groupBy("part").agg(
                F.max("seq").alias("max_seq"),
                F.max("doc_ts").alias("max_ts"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            stats = {
                r["part"]: (r["max_seq"], r["max_ts"], r["n"]) for r in agg
            }
        if not stats:
            return
        self._count = max(s[0] for s in stats.values()) + 1
        self._part = max(stats)
        self._part_ts = {
            p: s[1] for p, s in stats.items() if s[1] is not None
        }
        live = sum(s[2] for s in stats.values())
        self._removed = self._count - live  # retention-dropped before restart

    def _footer_stats(self) -> Optional[dict]:
        """{part: (max_seq, max_doc_ts, rows)} from parquet footers, or
        None when any column chunk lacks min/max statistics."""
        out: dict[int, list] = {}
        for part in self._live_parts():
            agg = [None, None, 0]
            for fp in self._part_files(part):
                md = pq.ParquetFile(fp).metadata
                if md.num_row_groups == 0:
                    continue
                seqs = _seq_span(md)
                if seqs is None:
                    return None
                agg[0] = seqs[1] if agg[0] is None else max(agg[0], seqs[1])
                agg[2] += md.num_rows
                col = _column_index(md, "doc_ts")
                for rg in range(md.num_row_groups):
                    ts_st = md.row_group(rg).column(col).statistics
                    if ts_st is not None and ts_st.has_min_max and ts_st.max is not None:
                        agg[1] = (
                            ts_st.max
                            if agg[1] is None
                            else max(agg[1], ts_st.max)
                        )
            if agg[0] is not None:
                out[part] = agg
        return {p: tuple(v) for p, v in out.items()}

    # -- append (S1/S2/S3/S4) ------------------------------------------

    def append(
        self,
        docs: list,
        insertion_filter_text: str = "",
        shred_schema: Optional[T.StructType] = None,
    ) -> list[str]:
        """Ingest of one wire batch: validate → insertion filter
        (+redact) → contiguous id assignment → Parquet append.

        ``docs`` holds JSON lines or already-parsed objects (the
        caller's parse is reused; the objects are stamped in place).
        A wire batch is DRIVER-RESIDENT by construction (the server
        holds what it read off the socket), so it is filtered, stamped
        and written in that same driver pass with ``pyarrow`` — no
        Spark job (:meth:`_commit_file`).  A batch that lives in
        cluster storage takes :meth:`append_df` instead.  Invalid JSON
        anywhere in the batch fails the whole batch before any id is
        assigned (all-or-none; a bad line must not orphan ids — see
        ADVICE r1).  The stored ``value`` is the inject ``id`` →
        compact-dumps normalization of the (filtered) document,
        ``doc_ts`` its numeric ``timestamp``; the batch lands as ONE
        parquet file.

        With ``shred_schema`` the file also holds the typed ``doc``
        struct, converted by Arrow from the parsed objects.  The
        schema is inferred from this batch and widened to the merged
        leaf types, so Arrow converts exactly where Spark's
        ``from_json`` would (int → double or decimal, NaN, nulls,
        ``{}``); the one value that does not fit is a non-string under
        a ``string`` leaf (a mixed-kind leaf), where ``from_json``
        keeps the JSON text.  Arrow refuses it (as it refuses an int
        that is not exact in ``double``), and any such refusal sends
        the batch through the Spark ``from_json`` writer instead."""
        objs = [json.loads(d) if isinstance(d, str) else d for d in docs]
        if insertion_filter_text:
            from ..bfl import parse as _parse
            from ..bfl.pyeval import eval_doc

            parsed = _parse(insertion_filter_text)
            objs = [
                doc
                for truth, doc in (eval_doc(parsed, obj) for obj in objs)
                if truth
            ]

        base = self._count
        written = len(objs)
        seqs = list(range(base, base + written))
        ids = ["%024d" % seq for seq in seqs]
        values: list[str] = []
        doc_tss: list[Optional[int]] = []
        for obj, rid in zip(objs, ids):
            obj["id"] = rid
            doc_tss.append(_doc_ts(obj.get("timestamp")))
            values.append(json.dumps(obj, separators=(",", ":")))

        self.last_file = None
        if written:
            part = self._part
            tbl = pa.table(
                {
                    "seq": pa.array(seqs, pa.int64()),
                    "id": pa.array(ids, pa.string()),
                    "value": pa.array(values, pa.string()),
                    "doc_ts": pa.array(doc_tss, pa.int64()),
                }
            )
            try:
                out = tbl
                if shred_schema is not None and shred_schema.fields:
                    out = tbl.append_column(
                        "doc", pa.array(objs, to_arrow_type(shred_schema))
                    )
                path = self._commit_file(out, part)
                self.last_file = base, base + written - 1, path
            except (pa.ArrowException, UnicodeEncodeError):
                # a value Arrow refuses (a lone-surrogate string fails
                # to encode before Arrow sees it)
                df = self.spark.createDataFrame(tbl).coalesce(1)
                self._write_spark(
                    df.withColumn("part", F.lit(part).cast("long")),
                    shred_schema,
                )
            batch_ts = max((t for t in doc_tss if t is not None), default=None)
            if batch_ts is not None:
                self._part_ts[part] = max(
                    batch_ts, self._part_ts.get(part, batch_ts)
                )

        self._count = base + written
        self._maybe_rotate()
        return ids

    def _commit_file(self, tbl: pa.Table, part: int) -> str:
        """Write ``tbl`` as one parquet file of ``part=N/``, made visible
        by an atomic rename, and return its path: it is written under a
        ``.``-prefixed name, which Spark's file index skips, so a
        concurrent scan never lists a half-written file."""
        pdir = os.path.join(self.path, f"part={part}")
        os.makedirs(pdir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(pdir, f".{name}.tmp")
        try:
            # no ARROW:schema footer entry: Spark does not read it, and
            # it is ~5% of a 200-document file
            pq.write_table(
                tbl,
                tmp,
                store_schema=False,
                write_statistics=_stats_columns(tbl.schema),
            )
            os.rename(tmp, os.path.join(pdir, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        return os.path.join(pdir, name)

    def _write_spark(
        self, df: DataFrame, shred_schema: Optional[T.StructType]
    ) -> None:
        """The log's Spark writer: ``df`` holds ``(seq, id, value,
        doc_ts, part)``; with a shred schema the ``doc`` struct is
        parsed from ``value`` by ``from_json``."""
        if shred_schema is not None and shred_schema.fields:
            df = df.withColumn("doc", F.from_json(F.col("value"), shred_schema))
        df.write.mode("append").partitionBy("part").parquet(self.path)

    def append_df(
        self,
        df,
        insertion_filter_text: str = "",
        shred_schema: Optional[T.StructType] = None,
        prevalidated: bool = False,
    ) -> int:
        """Bulk distributed ingest: ``df`` holds ONE string column of
        JSON lines — the backfill shape, where the corpus is already
        in cluster storage and must never materialize on the driver
        (:meth:`append` is the wire-protocol shape: the server holds
        the batch it just read off the socket).

        Same validate → insertion filter (+redact) → contiguous-id →
        Parquet-append pipeline as :meth:`append`, with the driver
        touching only the sequence counter: validation is an
        executor-side parse inside the count job (all-or-none — a
        malformed line fails the job before any id is assigned or row
        written), ids follow the DataFrame's partition order
        (``zipWithIndex`` — order-stable, no shuffle), and only the
        COUNT returns (a 100-TB backfill has no use for a driver-side
        id list; the ids are ``base..base+written-1`` by contract).

        ``prevalidated=True`` means the caller already validated every
        line JVM-side AND applied any insertion filter as a Column
        predicate (the pure-filter fast path in
        ``BasenineDB._bulk_filter_column``) — the per-line Python
        validation parse is skipped; only the id-stamping stage runs
        in Python.

        Dataflow (optimization guide §4: Arrow batches, never pickled
        rows): the lines DataFrame gains its physical partition id as
        a column, the validation/filter stage is an Arrow
        ``mapInPandas`` pass, one tiny JVM aggregation turns
        per-partition survivor counts into contiguous id offsets, and
        a second Arrow pass stamps ``(seq, id, value, doc_ts)`` and
        feeds the parquet append directly — two jobs total, no
        ``df.rdd`` pickling anywhere. Ids still follow the
        DataFrame's partition order (offsets are the prefix sums the
        old ``zipWithIndex`` computed)."""
        col0 = df.columns[0]
        work = df.select(F.col(col0).alias("value")).withColumn(
            "_pid", F.spark_partition_id()
        )

        if insertion_filter_text:
            flt_text = insertion_filter_text

            def apply_filter(batches):
                import pandas as pd

                from ..bfl import parse as _parse
                from ..bfl.pyeval import eval_query as _eval

                parsed = _parse(flt_text)
                for b in batches:
                    vals: list[str] = []
                    pids: list[int] = []
                    for line, pid in zip(b["value"], b["_pid"]):
                        # eval parses every line — malformed JSON
                        # raises here, in the count job, failing the
                        # batch before any id exists or file lands
                        truth, doc = _eval(parsed, line)
                        if truth:
                            vals.append(doc)
                            pids.append(pid)
                    yield pd.DataFrame({"value": vals, "_pid": pids})

            work = work.mapInPandas(apply_filter, "value string, _pid int")
        elif not prevalidated:

            def validate(batches):
                import json as _json

                for b in batches:
                    for line in b["value"]:
                        _json.loads(line)  # all-or-none, executor-side
                    yield b

            work = work.mapInPandas(validate, "value string, _pid int")

        base = self._count
        # MEMORY_AND_DISK, not MEMORY_ONLY: a backfill batch larger
        # than cluster memory must SPILL between the count/validation
        # job and the stamp+write job — an evicted MEMORY_ONLY
        # partition would silently recompute from the source (correct
        # but a second full read of a huge input)
        from pyspark import StorageLevel

        work = work.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            counts = {
                int(r["_pid"]): int(r["n"])
                for r in work.groupBy("_pid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            offsets: dict[int, int] = {}
            acc = base
            for p in sorted(counts):
                offsets[p] = acc
                acc += counts[p]
            written = acc - base

            if written:
                bc = self.spark.sparkContext.broadcast(offsets)
                part = self._part
                # file sizing (guide §6): the cached batch keeps its
                # full shuffle-partition fan-out (AQE does not coalesce
                # cached plans), which would leave one tiny parquet
                # file per partition and tax every later scan of the
                # log — pack ⌈written/target⌉ write tasks. Coalesce
                # BEFORE the Python stage: the Arrow conversion pays a
                # fixed cost per PARENT partition when many cached
                # blocks drain through one task's runner (measured
                # ~170 ms each), while a pre-coalesced stage streams
                # once. Coalesce concatenates parent partitions in
                # index order, so ids still follow the input order —
                # and the stamp guards that assumption loudly.
                n_files = max(
                    1,
                    -(-written // int(
                        os.environ.get("BN_INGEST_ROWS_PER_FILE", "32768")
                    )),
                )

                def stamp(batches):
                    import json as _json

                    import pandas as pd

                    cur_pid = None
                    seq = 0
                    seen: set[int] = set()
                    for b in batches:
                        if len(b) == 0:
                            continue
                        out_seq: list[int] = []
                        out_id: list[str] = []
                        out_val: list[str] = []
                        out_ts: list[Optional[int]] = []
                        for line, pid in zip(b["value"], b["_pid"]):
                            pid = int(pid)
                            if pid != cur_pid:
                                if pid in seen:
                                    raise RuntimeError(
                                        "coalesced stamp saw partition "
                                        f"{pid} twice — parent order "
                                        "not contiguous; id assignment "
                                        "would be wrong"
                                    )
                                seen.add(pid)
                                cur_pid = pid
                                seq = bc.value[pid]
                            obj = _json.loads(line)
                            rid = "%024d" % seq
                            obj["id"] = rid
                            out_ts.append(_doc_ts(obj.get("timestamp")))
                            out_seq.append(seq)
                            out_id.append(rid)
                            out_val.append(
                                _json.dumps(obj, separators=(",", ":"))
                            )
                            seq += 1
                        yield pd.DataFrame(
                            {
                                "seq": out_seq,
                                "id": out_id,
                                "value": out_val,
                                "doc_ts": out_ts,
                            }
                        )

                out = work.coalesce(n_files).mapInPandas(
                    stamp, "seq long, id string, value string, doc_ts long"
                ).withColumn("part", F.lit(part).cast("long"))
                self._write_spark(out, shred_schema)
        finally:
            work.unpersist()

        self._count = base + written
        if written and self.retention_bytes > 0:
            self._refresh_part_ts(part)
        self._maybe_rotate()
        return written

    def _refresh_part_ts(self, part: int) -> None:
        try:
            footer = (self._footer_stats() or {}).get(part)
        except Exception:
            footer = None
        if footer is not None:  # O(files), no job
            if footer[1] is not None:
                self._part_ts[part] = footer[1]
            return
        pdir = os.path.join(self.path, f"part={part}")
        df = self.spark.read.schema(
            T.StructType([f for f in LOG_SCHEMA.fields if f.name != "part"])
        ).parquet(pdir)
        row = df.agg(F.max("doc_ts").alias("t")).collect()[0]
        if row["t"] is not None:
            self._part_ts[part] = row["t"]

    # -- retention (S6/S7/M7) ------------------------------------------

    def set_retention_bytes(self, n: int) -> None:
        """/limit (M7): effective bound is n/2, matching the reference's
        two-half-partition scheme (``native.go:1207-1211``)."""
        self.retention_bytes = n
        self._maybe_rotate()

    def _part_size(self, part: int) -> int:
        return sum(os.path.getsize(f) for f in self._part_files(part))

    def _live_parts(self) -> list[int]:
        """The live partitions: the ``part=<int>`` directories."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(m.group(1))
            for m in map(_PART_DIR.fullmatch, os.listdir(self.path))
            if m
        )

    def _part_files(self, part: int) -> list[str]:
        """Paths of a partition's committed parquet files: a name
        starting with ``.`` or ``_`` (a :meth:`_commit_file` temp file,
        Spark's ``_temporary/``) is not one."""
        pdir = os.path.join(self.path, f"part={part}")
        try:
            names = sorted(os.listdir(pdir))
        except FileNotFoundError:  # rotated away since the listing
            return []
        return [
            os.path.join(pdir, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        ]

    def _maybe_rotate(self) -> None:
        """Partition rotation + bounded retention (``native.go:1049-1108``):
        when the write partition exceeds limit/2, start a new one; keep at
        most two live partitions, deleting the oldest and recording
        ``truncatedTimestamp`` = max event-time of dropped data + 1
        (``native.go:986-1044``)."""
        if self.retention_bytes <= 0:
            return
        half = self.retention_bytes // 2
        if self._part_size(self._part) > half:
            self._part += 1
        parts = self._live_parts()
        while len(parts) > 2:  # ≤2 live partitions (native.go:1088-1105)
            oldest = parts[0]
            try:
                footer = (self._footer_stats() or {}).get(oldest)
            except Exception:
                footer = None
            if footer is not None:  # O(files): footer metadata only
                n, t = footer[2], footer[1]
            else:
                dropped = self.spark.read.schema(
                    T.StructType(
                        [f for f in LOG_SCHEMA.fields if f.name != "part"]
                    )
                ).parquet(os.path.join(self.path, f"part={oldest}"))
                row = dropped.agg(
                    F.count(F.lit(1)).alias("n"), F.max("doc_ts").alias("t")
                ).collect()[0]
                n, t = row["n"], row["t"]
            self._removed += n
            ts = t if t is not None else self._part_ts.get(oldest)
            if ts is not None:
                self.truncated_timestamp = int(ts) + 1
            shutil.rmtree(os.path.join(self.path, f"part={oldest}"))
            self._part_ts.pop(oldest, None)
            parts = self._live_parts()

    # -- read (S5) ------------------------------------------------------

    def read_pages(
        self,
        min_seq: Optional[int] = None,
        max_seq: Optional[int] = None,
        descending: bool = False,
    ) -> Iterator[list[Record]]:
        """The records with seq in ``[min_seq, max_seq]`` as pages of
        :data:`Record`, read with ``pyarrow`` on the driver: no Spark
        job.

        The live partitions' committed files are pruned by the ``seq``
        min/max in their footers, each footer read once per file
        (:meth:`_span`).  Files whose seq ranges overlap (a bulk or compacted file may overlap others) form one
        group, and each group is one seq-sorted page, in ascending seq
        order (descending with ``descending``).  A group's files are
        read only once the previous page is taken, so a reader holds
        one page at a time.  Only ``seq`` and ``value`` are read.

        A file removed between the listing and its read (compaction
        rewrote it, retention dropped its partition) makes the reader
        list the log again from the first seq it has not returned.  So
        :meth:`compact` (which swaps a partition's directory while no
        read lists the log) makes a read lose or repeat no record,
        while records that retention drops during a read may be missing
        from it, as from a read that starts after the drop.  A file
        with rows but no ``seq`` statistics in its footer is an error:
        both writers of the log write them."""
        lo = -math.inf if min_seq is None else min_seq
        hi = math.inf if max_seq is None else max_seq
        while True:
            try:
                for paths, first, last in self._page_groups(lo, hi, descending):
                    page = _read_page(paths, descending)
                    if first < lo or last > hi:
                        page = [r for r in page if lo <= r[0] <= hi]
                    if descending:
                        hi = first - 1
                    else:
                        lo = last + 1
                    yield page
                return
            except FileNotFoundError:
                continue

    def _page_groups(self, lo, hi, descending: bool) -> list[list]:
        """``[paths, min seq, max seq]`` of each group of overlapping
        files that holds a seq in ``[lo, hi]``, in page order."""
        with self._swap:
            files = [
                f for part in self._live_parts() for f in self._part_files(part)
            ]
        known = self._spans
        self._spans = {p: known[p] for p in files if p in known}
        spans = []
        for path in files:
            span = self._span(path)
            if span is not None and span[0] <= hi and span[1] >= lo:
                spans.append((*span, path))
        spans.sort()
        groups: list = []
        for first, last, path in spans:
            if groups and first <= groups[-1][2]:
                groups[-1][0].append(path)
                groups[-1][2] = max(groups[-1][2], last)
            else:
                groups.append([[path], first, last])
        if descending:
            groups.reverse()
        return groups

    def _span(self, path: str) -> Optional[tuple[int, int]]:
        """A committed file's seq span (None: it has no rows), read from
        its footer the first time it is asked for."""
        try:
            return self._spans[path]
        except KeyError:
            pass
        md = pq.read_metadata(path)
        span = _seq_span(md)
        if span is None and md.num_rows:
            raise ValueError(f"{path}: no seq statistics in its footer")
        self._spans[path] = span
        return span

    def scan(
        self,
        files: Optional[list[str]] = None,
        schema: T.StructType = LOG_SCHEMA,
    ) -> DataFrame:
        """The log as a Spark DataFrame read with ``schema``, for the
        reads that need a typed column or the log's other columns.
        Without ``files`` it is a directory scan: Spark lists and plans
        every file of the log, and ``seq`` range predicates skip row
        groups by their min/max stats only after that.  With ``files``
        (the commit reader passes :attr:`last_file`'s) only those files
        are read."""
        reader = self.spark.read.schema(schema)
        if files is None:
            return reader.parquet(self.path)
        return reader.option("basePath", self.path).parquet(*files)

    # -- counters / ops -------------------------------------------------

    @property
    def total_written(self) -> int:
        """O(1) running total (the reference's ``numberOfWritten`` /
        ``total`` counters, ``native.go:397-401``) — never a table scan."""
        return self._count

    @property
    def live_count(self) -> int:
        return self._count - self._removed

    @property
    def last_id(self) -> str:
        return "%024d" % max(self._count - 1, 0)

    def compact(self, target_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite each live partition into ~``target_bytes`` files.

        Micro-batch ingest (the tail/source path commits one file set
        per trigger) accumulates small parquet files; at scale that
        degrades every scan (footer-per-file overhead, tiny row
        groups).  Compaction is a maintenance operation the reference
        never needs (one growing log file per partition,
        ``native.go:951-964``) but a parquet log does.  Per partition:
        read → coalesce to ⌈size/target⌉ files → write to a temp dir →
        atomic directory swap.  All columns (including the shredded
        ``doc`` struct) pass through under the union of the files'
        schemas; seq ordering, footer statistics and counters are
        unaffected.
        Returns the number of partitions rewritten."""
        import math

        rewritten = 0
        for part in self._live_parts():
            pdir = os.path.join(self.path, f"part={part}")
            n_files = len(self._part_files(part))
            size = self._part_size(part)
            want = max(1, math.ceil(size / target_bytes))
            if n_files <= want:
                continue
            tmp = f"{pdir}.compact.tmp"
            old = f"{pdir}.compact.old"
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
            (
                # merged: a file written before a batch added a key
                # lacks that key's doc column, and one file's schema
                # would drop it from every record
                self.spark.read.option("mergeSchema", "true")
                .parquet(pdir)
                .coalesce(want)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            with self._swap:
                os.rename(pdir, old)
                os.rename(tmp, pdir)
            shutil.rmtree(old)
            rewritten += 1
        return rewritten

    def flush(self) -> None:
        """Drop all records (``native.go:888-904``); id counter restarts
        like the reference (offsets reset)."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        self._count = 0
        self._removed = 0
        self._part = 0
        self._part_ts = {}
        self.truncated_timestamp = 0
