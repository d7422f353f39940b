"""Durable append-only document log over partitioned Parquet.

Spark-first re-expression of the reference's storage layer
(``/root/reference/server/lib/storages/native.go``):

=============================  =======================================
reference                       here
=============================  =======================================
length-prefixed log writer      Parquet append (``native.go:313-333``)
``data_%09d.db`` partitions     ``part=N`` directory partitions
  (``native.go:951-964``)         (rotated by byte size)
offsets/partitionRefs index     one in-memory entry per committed
  (``native.go:66-81``)           file: its seq span, row count and
                                 max ``doc_ts``, taken from the batch
                                 a wire append wrote or from the
                                 file's footer, read once; the driver
                                 reader prunes the listed files by it
gob core dump + restore         the log IS the state: ``seq`` max and
  (``native.go:155-258``)        partition sizes folded from that
                                 index, built from the footers at boot
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
committed files whose indexed ``seq`` span meets the request, one
seq-sorted page per group of overlapping files, each page read only
once the previous one is taken — no Spark job.  A filtered read is a
Spark scan (:meth:`DocumentLog.scan`): without files it lists and
plans every file of the log, and its ``seq`` range predicates then
skip row groups by their min/max stats.  The commit reader of
``BasenineDB`` asks the index for the files that hold a commit's seqs
(:meth:`DocumentLog.files`) and reads only those.
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

# a committed file with rows, as the log's index keeps it: its seq
# span, row count and max doc_ts (None: no record has one)
_Entry = namedtuple("_Entry", "first last rows max_ts")

# a bulk append packs ⌈records / this⌉ files
INGEST_ROWS_PER_FILE = 32768

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


def _row_group_stats(md: pq.FileMetaData, name: str) -> list:
    """The statistics of top-level column ``name`` in each row group
    of a parquet footer that has min/max ones."""
    col = _column_index(md, name)
    out = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col).statistics
        if st is not None and st.has_min_max:
            out.append(st)
    return out


def _footer_entry(path: str) -> Optional[_Entry]:
    """A committed file's index entry from its footer, or None when it
    has no rows.  A file with rows but no ``seq`` statistics is an
    error: both writers of the log write them."""
    md = pq.read_metadata(path)
    if not md.num_rows:
        return None
    seq = _row_group_stats(md, "seq")
    if len(seq) < md.num_row_groups:
        raise ValueError(f"{path}: no seq statistics in its footer")
    ts = [st.max for st in _row_group_stats(md, "doc_ts") if st.max is not None]
    return _Entry(
        min(st.min for st in seq),
        max(st.max for st in seq),
        md.num_rows,
        max(ts, default=None),
    )


def _max_ts(entries: list[_Entry]) -> Optional[int]:
    """The max ``doc_ts`` of the files of ``entries``."""
    return max((e.max_ts for e in entries if e.max_ts is not None), default=None)


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
        # held while compact() swaps a partition's directory, while a
        # wire append commits a file and while a driver read lists the
        # log, so no listing sees the partition missing between the two
        # renames or drops the entry of a file committed after it
        self._swap = threading.Lock()
        # the index: committed file → its entry (None: no rows), from
        # the batch a wire append wrote or from the file's footer, read
        # once; a file never changes under its name, and a listing
        # drops the paths it no longer returns
        self._files: dict[str, Optional[_Entry]] = {}
        if os.path.isdir(path) and self._has_data():
            self._restore()

    # -- persistence / restore (S8) ------------------------------------

    def _has_data(self) -> bool:
        for root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _restore(self) -> None:
        """Restart survival (``native.go:155-258``): all state is folded
        from the index, which boot builds from the parquet FOOTERS only
        — max seq, row counts and max event-times come from row-group
        statistics, so boot cost is O(files), never a corpus scan (at
        100 TB a restart must not read the data), and the first read
        after it opens no footer.  A committed file with rows but no
        ``seq`` statistics raises ``ValueError``."""
        parts = {p: self._part_entries(p) for p in self._live_parts()}
        parts = {p: entries for p, entries in parts.items() if entries}
        if not parts:
            return
        self._count = max(e.last for es in parts.values() for e in es) + 1
        self._part = max(parts)
        for p, entries in parts.items():
            ts = _max_ts(entries)
            if ts is not None:
                self._part_ts[p] = ts
        live = sum(e.rows for es in parts.values() for e in es)
        self._removed = self._count - live  # retention-dropped before restart

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

        if written:
            part = self._part
            batch_ts = max((t for t in doc_tss if t is not None), default=None)
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
                entry = _Entry(base, base + written - 1, written, batch_ts)
                self._commit_file(out, part, entry)
            except (pa.ArrowException, UnicodeEncodeError):
                # a value Arrow refuses (a lone-surrogate string fails
                # to encode before Arrow sees it)
                df = self.spark.createDataFrame(tbl).coalesce(1)
                self._write_spark(
                    df.withColumn("part", F.lit(part).cast("long")),
                    shred_schema,
                )
            if batch_ts is not None:
                self._part_ts[part] = max(
                    batch_ts, self._part_ts.get(part, batch_ts)
                )

        self._count = base + written
        self._maybe_rotate()
        return ids

    def _commit_file(self, tbl: pa.Table, part: int, entry: _Entry) -> None:
        """Write ``tbl`` as one parquet file of ``part=N/`` and index it
        as ``entry``, so no read opens its footer.  It is written under
        a ``.``-prefixed name, which Spark's file index skips, and made
        visible by an atomic rename, so a concurrent scan never lists a
        half-written file."""
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
            with self._swap:
                os.rename(tmp, os.path.join(pdir, name))
                self._files[os.path.join(pdir, name)] = entry
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

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
                n_files = max(1, -(-written // INGEST_ROWS_PER_FILE))

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
        ts = _max_ts(self._part_entries(part))
        if ts is not None:
            self._part_ts[part] = ts

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

    def _part_entries(self, part: int) -> list[_Entry]:
        """The index entries of a partition's committed files with
        rows."""
        return [e for e in map(self._entry, self._part_files(part)) if e]

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
            entries = self._part_entries(oldest)  # the index: no data read
            self._removed += sum(e.rows for e in entries)
            ts = _max_ts(entries)
            if ts is None:
                ts = self._part_ts.get(oldest)
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

        The live partitions' committed files are pruned by their ``seq``
        spans in the index (:meth:`files`).  Files whose spans overlap
        (a bulk or compacted file may overlap others) form one group,
        and each group is one seq-sorted page, in ascending seq order
        (descending with ``descending``).  A group's files are
        read only once the previous page is taken, so a reader holds
        one page at a time.  Only ``seq`` and ``value`` are read.

        A file removed between the listing and its read (compaction
        rewrote it, retention dropped its partition) makes the reader
        list the log again from the first seq it has not returned.  So
        :meth:`compact` (which swaps a partition's directory while no
        read lists the log) makes a read lose or repeat no record,
        while records that retention drops during a read may be missing
        from it, as from a read that starts after the drop."""
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
        groups: list = []
        for first, last, path in self.files(lo, hi):
            if groups and first <= groups[-1][2]:
                groups[-1][0].append(path)
                groups[-1][2] = max(groups[-1][2], last)
            else:
                groups.append([[path], first, last])
        if descending:
            groups.reverse()
        return groups

    def files(self, min_seq=-math.inf, max_seq=math.inf) -> list[tuple]:
        """``(first seq, last seq, path)`` of each committed file of the
        live partitions that holds a seq in ``[min_seq, max_seq]``,
        sorted, by the index: a footer is opened only for a file the
        index has no entry for (:meth:`_entry`)."""
        with self._swap:
            paths = [
                f for part in self._live_parts() for f in self._part_files(part)
            ]
            known = self._files
            self._files = {p: known[p] for p in paths if p in known}
        out = []
        for path in paths:
            e = self._entry(path)
            if e is not None and e.first <= max_seq and e.last >= min_seq:
                out.append((e.first, e.last, path))
        out.sort()
        return out

    def _entry(self, path: str) -> Optional[_Entry]:
        """A committed file's index entry (None: it has no rows), read
        from its footer the first time it is asked for
        (:func:`_footer_entry`)."""
        try:
            return self._files[path]
        except KeyError:
            pass
        entry = self._files[path] = _footer_entry(path)
        return entry

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
        (the commit reader passes those :meth:`files` names for its
        commit) only those files are read."""
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
        self._files = {}
        self.truncated_timestamp = 0
