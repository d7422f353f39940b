"""Basenine-capability facade over Spark DataFrames.

Re-expresses the reference's retrieval modes and operational commands
(``/root/reference/server/server.go:150-209`` dispatch,
``server/lib/storages/native.go`` implementations) as a thin service layer
over declarative DataFrame plans:

=====================  =====================================================
reference mode          here
=====================  =====================================================
INSERT (S1/S3)          ``insert`` — append + contiguous 24-digit id
                        assignment (``native.go:294-311``)
/query (M1)             ``query`` — filtered scan from a resume offset,
                        plan-level LIMIT from ``limit(N)``
                        (``native.go:374-523``)
/single (M2)            ``single`` — point lookup by id
                        (``native.go:526-601``)
/fetch (M3)             ``fetch`` — bidirectional bounded page
                        (``native.go:625-827``)
/validate (M4)          ``validate`` — parse-only check (``native.go:605``)
/macro (M5)             ``add_macro`` (``macro.go``)
/insert-filter (M6)     ``set_insertion_filter`` (``native.go:867-885``)
/limit (M7)             ``set_retention_bytes`` (``native.go:852-864``)
/flush /reset (M8)      ``flush`` / ``reset`` (``native.go:888-928``)
=====================  =====================================================

Scale notes (100 TB design):

* The document log is Parquet partitions; the ``id`` is derived from a
  monotone ingest sequence so point lookups and leftOff paging prune by
  the id column (min/max file stats) instead of scanning.
* ``query`` compiles BFL to a Column predicate → full predicate pushdown
  and whole-stage codegen; the row backend (redact / dynamic shapes) is
  an Arrow-batched ``mapInPandas`` — still embarrassingly parallel,
  no shuffle anywhere on the filter path.
* The served reads (QUERY, FETCH, SINGLE over the wire) send stored
  documents.  One that needs no typed column reads the log's files on
  the driver a page at a time (``DocumentLog.read_pages``), with no
  Spark job; a compiled filter is one Spark scan.  Their row backend
  runs on the driver, over the records that read returns.  A commit's
  QUERY followers evaluate their filters on the driver over the typed
  rows of the one file that holds the commit (``_eval_commit``), with
  no Spark job.
* ``fetch(direction=-1)`` is top-K by id (``orderBy(desc).limit``) which
  Spark executes as TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations

import json
import math
import shutil
import tempfile
import threading
import weakref
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass
from operator import itemgetter
from typing import Iterator, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..bfl import expand_macros, parse, validate as bfl_validate
from ..bfl.ast import Query
from ..bfl.compiler import (
    Compiled,
    UnsupportedBFL,
    apply_redact_paths,
    clock_ms,
    collect_path_reads,
    collect_redact_taints,
    compile_filter,
    compile_redact_fast,
    prefix_overlap,
    pure_redact_paths,
    split_conjuncts,
)
from ..bfl.macros import add_macro as _add_macro
from ..bfl.pyeval import eval_doc
from .log import DocumentLog, Record, _read_columns, _read_page
from .schema import (
    common_leaves_unchanged,
    widen_to_merged,
    finalize_type,
    infer_batch_schema,
    infer_json_lines_schema,
    merge_types,
    override_path_string,
    schema_from_json,
    schema_to_json,
    shred_write_schema,
)

ID_COL = "id"
ID_WIDTH = 24  # IndexToID: %024d (helpers.go:15-17)

# Legacy-log schema recovery: docs sampled for base inference, and the
# per-missed-key probe cap (only logs created before schema versioning
# get here; every recovery job is bounded by this)
SCHEMA_SAMPLE_DOCS = 20_000


def _jsonable(v):
    """Convert Arrow/pandas row values to JSON-native types so the row
    backend evaluates the *real* document: numpy arrays → lists (not the
    "[1 2 3]" repr ``default=str`` would produce), numpy scalars →
    Python scalars, NaN/NaT → JSON null."""
    import numpy as np

    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, np.ndarray):
        return [_jsonable(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        return _jsonable(v.item())
    if isinstance(v, float) and v != v:  # NaN
        return None
    if v is not None and type(v).__name__ == "NaTType":  # pandas NaT
        return None
    return v


def index_to_id(index: int) -> str:
    """Reference ``IndexToID`` (helpers.go:15-17)."""
    return "%024d" % index


@contextmanager
def job_group(sc, group: str, description: str):
    """Tag the Spark jobs this thread starts inside the block with a job
    group and description; the thread's own tags come back after."""
    keys = ("spark.jobGroup.id", "spark.job.description")
    before = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in zip(keys, before):
            sc.setLocalProperty(k, v)


def _case_collision(t: T.DataType) -> bool:
    """Whether two field names of one struct in ``t``, at any depth,
    differ only in case.  Spark resolves columns case-insensitively,
    so a typed view of such a schema cannot be read."""
    if isinstance(t, T.ArrayType):
        return _case_collision(t.elementType)
    if isinstance(t, T.MapType):
        return _case_collision(t.valueType)
    if not isinstance(t, T.StructType):
        return False
    names = [f.name.lower() for f in t.fields]
    return len(set(names)) < len(names) or any(
        _case_collision(f.dataType) for f in t.fields
    )


def _plumbing_names(schema: T.StructType) -> tuple[str, str]:
    """Names for a log record's seq and stored document beside its
    typed columns, used by no top-level key of ``schema`` (compared
    case-insensitively, as Spark resolves columns)."""
    taken = {n.lower() for n in schema.fieldNames()}
    seq, value = "__bn_seq__", "__bn_value__"
    while seq in taken or value in taken:
        seq, value = "_" + seq, "_" + value
    return seq, value


def _seq_range(
    df: DataFrame, min_seq: Optional[int], max_seq: Optional[int]
) -> DataFrame:
    """``df`` bounded by a physical ``seq`` predicate (file pruning)."""
    if min_seq is not None:
        df = df.filter(F.col("seq") >= min_seq)
    if max_seq is not None:
        df = df.filter(F.col("seq") <= max_seq)
    return df


def _pushdown(q: Query, schema: T.StructType) -> Optional[Column]:
    """The compilable top-level conjuncts of a query that needs the row
    backend, as one Column pre-filter — or None.  A conjunct is only
    sound to pre-evaluate against the scan if no redact in the query
    mutates a path it reads (the reference evaluates and-chains
    left-to-right over the mutated document)."""
    pre = None
    taints = collect_redact_taints(q.expr) if q.expr is not None else None
    if taints is None:
        return None  # no filter, or an unresolvable redact target
    for conj in split_conjuncts(q.expr):
        reads: list = []
        collect_path_reads(conj, reads)
        if any(prefix_overlap(t, r) for t in taints for r in reads):
            continue
        try:
            comp = compile_filter(Query(expr=conj, text=q.text), schema)
        except UnsupportedBFL:
            continue
        if comp.predicate is not None:
            pre = comp.predicate if pre is None else pre & comp.predicate
    return pre


def _fetch_order(col: str, direction: int) -> Column:
    return F.col(col).desc() if direction < 0 else F.col(col).asc()


def _fetch_range(
    left_off: int | str, direction: int, committed: int
) -> tuple[Optional[int], int]:
    """The seq range a FETCH page from a resolved ``left_off`` scans
    among the ``committed`` records."""
    if direction < 0:
        return None, int(left_off) - 1
    return int(left_off), committed - 1


def _order_limit(df: DataFrame, order: Column, limit: int) -> DataFrame:
    """``orderBy`` plus ``limit(N)`` when N > 0 — a TakeOrderedAndProject
    then, one job and no global sort."""
    df = df.orderBy(order)
    return df.limit(limit) if limit > 0 else df


def _collected_pages(
    df: DataFrame, limit: int, descending: bool
) -> Iterator[list[Record]]:
    """The ``(seq, value)`` rows of ``df`` as pages of :class:`Record`
    sorted by seq (descending with ``descending``): all of them as one
    page when ``limit`` is 0, else pages of at most ``limit`` rows, each
    the TakeOrderedAndProject job of the rows past the previous page,
    until a page comes back short.  A reader that stops once it has
    ``limit`` records runs one job, and one that drops rows (the row
    backend) holds one page at a time."""
    order = _fetch_order("seq", -1 if descending else 1)
    while True:
        page = _order_limit(df, order, limit) if limit > 0 else df
        rows = [Record(r[0], r[1]) for r in page.collect()]
        rows.sort(key=itemgetter(0), reverse=descending)
        yield rows
        if limit <= 0 or len(rows) < limit:
            return
        last = rows[-1][0]
        df = df.filter(F.col("seq") < last if descending else F.col("seq") > last)


class _Unproven(Exception):
    """A value the driver's evaluation and Spark's can judge apart."""


def _projector(dt: T.DataType):
    """A function from a value of ``dt`` as ``pyarrow`` reads it from a
    log file's ``doc`` column to the value a compiled predicate sees in
    the typed view of that file, for :func:`pyeval.eval_doc`:

    * a struct has every field of ``dt``, None where the file has none;
      a null struct has every field null (Spark reads a field of a null
      struct as null);
    * a null array is empty (a compiled predicate finds no element in
      either);
    * a double or decimal is a Python float (the compiler reads both as
      doubles);
    * a NaN or infinite double raises :class:`_Unproven`: Spark orders
      NaN above every number and counts it as positive, pyeval does
      not."""
    if isinstance(dt, T.StructType):
        fields = [(f.name, _projector(f.dataType)) for f in dt.fields]

        def struct(v):
            v = v or {}
            return {name: project(v.get(name)) for name, project in fields}

        return struct
    if isinstance(dt, T.ArrayType):
        elem = _projector(dt.elementType)
        return lambda v: [] if v is None else [elem(x) for x in v]
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):

        def double(v):
            if v is None:
                return None
            v = float(v)
            if not math.isfinite(v):
                raise _Unproven(v)
            return v

        return double
    return lambda v: v


class _CommitScan:
    """One commit's shared follower scan over ``window`` (``[min_seq,
    max_seq]``): the sorted records each served filter text keeps, once
    ``done`` is set."""

    def __init__(self, window: tuple):
        self.window = window
        self.rows: dict[str, list] = {}
        self.done = threading.Event()


@dataclass
class Metadata:
    """Progress metadata frame (structs.go:75-82)."""

    current: int = 0
    total: int = 0
    number_of_written: int = 0
    left_off: str = index_to_id(0)
    truncated_timestamp: int = 0
    no_more_data: bool = False

    def to_json(self) -> str:
        """The frame as ``json.dumps`` of its field dict would print it
        (the counters are ints), without building the dict."""
        return (
            f'{{"current": {self.current}, "total": {self.total}, '
            f'"numberOfWritten": {self.number_of_written}, '
            f'"leftOff": {json.dumps(self.left_off)}, '
            f'"truncatedTimestamp": {self.truncated_timestamp}, '
            f'"noMoreData": {"true" if self.no_more_data else "false"}}}'
        )


class BasenineDB:
    """One logical append-only document collection (the reference has
    exactly one implicit table, SURVEY.md §1.1)."""

    def __init__(self, spark: SparkSession, path: Optional[str] = None):
        """Records live in a partitioned-Parquet :class:`DocumentLog`;
        the schema-free document is the record of truth and a typed
        view is derived per schema generation.  ``path`` makes the db
        persistent: the log and its ``_state.json`` survive restart
        (S4/S8).  Without it the same log runs in a private temporary
        directory, removed when the db is collected or the interpreter
        exits — like the reference, which always writes partition files
        and only restores them on boot with ``-persistent``."""
        if path is None:
            path = tempfile.mkdtemp(prefix="basenine-")
            weakref.finalize(self, shutil.rmtree, path, ignore_errors=True)
        self._setup(spark, ID_COL, DocumentLog(spark, path))
        self._load_state()

    def _setup(
        self, spark: SparkSession, id_col: str, log: Optional[DocumentLog]
    ) -> None:
        """Session state; ``log`` is None only for a mounted table."""
        self.spark = spark
        self.id_col = id_col
        self._log = log
        self._df: Optional[DataFrame] = None  # the mounted table
        self.macros: dict[str, str] = {}
        self.insertion_filter: str = ""
        self.retention_bytes: int = 0
        self._typed_schema = None  # parse-ready typed-view schema
        self._schema_acc = None  # raw merged shape (NullType placeholders kept)
        # shredded reads allowed: every file carries a doc column and
        # schema evolution has been additive; fresh logs start True,
        # logs predating shredding (or with a dynamic insertion-filter
        # batch) read via from_json instead
        self._shred_ok = log is not None and log.total_written == 0
        # commit clock: bumped (and waiters woken) once a batch's schema
        # is merged, so a follower never reads records ahead of it
        self._commit = threading.Condition()
        self._commit_version = 0
        self._committed_total = 0 if log is None else log.total_written
        # the latest commit's window is [_commit_from, _committed_total)
        self._commit_from = self._committed_total
        # QUERY followers' filter texts, and the latest commit's shared
        # scan (both guarded by _commit)
        self._followers: Counter = Counter()
        self._commit_scan: Optional[_CommitScan] = None
        # (view schema, {query text: _row_equivalent}) of the commit reader
        self._compile_flags: tuple = (None, {})
        self._mounted_total: Optional[int] = None  # cached count, mounted
        self._latest_cache = None  # cached max natural id, mounted

    # -- session state (core-dump analog, native.go:155-258) -------------

    @property
    def _state_path(self) -> str:
        # underscore prefix → invisible to Spark's parquet reader
        return f"{self._log.path}/_state.json"

    def _load_state(self) -> None:
        """Restore macros / insertion filter / retention across restarts —
        the reference gob-dumps exactly this trio alongside the offsets
        (``native.go:185,251-253``)."""
        import os

        if not os.path.isfile(self._state_path):
            return
        with open(self._state_path) as fh:
            state = json.load(fh)
        self.macros = state.get("macros", {})
        self.insertion_filter = state.get("insertion_filter", "")
        self.retention_bytes = state.get("retention_bytes", 0)
        if self.retention_bytes:
            self._log.retention_bytes = self.retention_bytes
        # Schema-as-metadata (Delta-style): the typed-view schema is
        # maintained at write time and restored here, so the first query
        # after a restart never pays a corpus-wide inference scan.
        acc = state.get("typed_schema")
        if acc:
            self._schema_acc = schema_from_json(acc)
            self._typed_schema = finalize_type(self._schema_acc)
        # the reference gob-dumps TruncatedTimestamp too
        # (native.go:183,249) — metadata frames after a restart must
        # keep reporting what retention dropped (ADVICE r2)
        self._log.truncated_timestamp = max(
            self._log.truncated_timestamp,
            state.get("truncated_timestamp", 0),
        )
        self._shred_ok = state.get("shred_ok", self._log.total_written == 0)

    def _save_state(self) -> None:
        """Persist the session state next to the log (no-op for a
        mounted table)."""
        import os

        if self._log is None:
            return
        os.makedirs(self._log.path, exist_ok=True)
        with open(self._state_path, "w") as fh:
            json.dump(
                {
                    "macros": self.macros,
                    "insertion_filter": self.insertion_filter,
                    "retention_bytes": self.retention_bytes,
                    "typed_schema": (
                        schema_to_json(self._schema_acc)
                        if self._schema_acc is not None
                        else None
                    ),
                    "truncated_timestamp": self._log.truncated_timestamp,
                    "shred_ok": self._shred_ok,
                },
                fh,
            )

    # -- ingest ---------------------------------------------------------

    @classmethod
    def from_dataframe(
        cls, spark: SparkSession, df: DataFrame, id_col: str
    ) -> "BasenineDB":
        """Mount an existing (parquet-backed) table as the document log;
        ``id_col`` plays the role of the injected monotone id.  A
        mounted table is read-only: inserts and /flush raise
        ``ValueError``.

        Rows with a NULL natural id are dropped at mount: in the
        reference every record HAS an id by construction (the server
        injects it at insert, ``native.go:302-311``), so a NULL id is
        outside the document model — and letting it through corrupts
        ordering (Spark sorts NULL ids first, ahead of every real
        record) and resume-token arithmetic."""
        db = cls.__new__(cls)
        db._setup(spark, id_col, None)
        db._df = df.filter(F.col(id_col).isNotNull())
        return db

    def _writable_log(self) -> DocumentLog:
        """The log a write goes to; a mounted table has none."""
        if self._log is None:
            raise ValueError(
                "a mounted table is read-only — insert into a "
                "log-backed BasenineDB"
            )
        return self._log

    def insert_json(self, lines: list) -> list[str]:
        """INSERT mode: each line one JSON object; applies the insertion
        filter (with redact) and assigns contiguous ids
        (``native.go:266-334``).  Returns assigned ids.  A line may also
        be an already-parsed object (the server's own parse is reused;
        it is stamped in place).  The whole batch is validated before
        any id is assigned: a line that is not JSON, or is JSON but not
        an object, raises ``ValueError`` and nothing is written (a bad
        line must not orphan ids)."""
        log = self._writable_log()
        docs = [json.loads(x) if isinstance(x, str) else x for x in lines]
        for i, doc in enumerate(docs):
            if not isinstance(doc, dict):
                raise ValueError(
                    f"line {i + 1}: expected a JSON object, "
                    f"got {type(doc).__name__}"
                )
        if not docs:
            return []
        flt_text, _, pure_paths = self._filter_plan()
        batch = shred = None
        if not flt_text or pure_paths is not None:
            batch, shred = self._batch_schema(
                infer_batch_schema(docs), pure_paths
            )
        first_new_seq = log.total_written
        ids = log.append(
            docs, insertion_filter_text=flt_text, shred_schema=shred
        )
        self._commit_schema(batch, shred, first_new_seq)
        return ids

    def insert_json_df(self, df) -> int:
        """Bulk INSERT of a DataFrame holding ONE string column of
        JSON lines — the backfill path: unlike
        :meth:`insert_json` (the wire-protocol shape, where the server
        necessarily holds the batch it read off the socket), the batch
        here never materializes on the driver. Per-record work
        (validation, insertion filter + redact, id stamping) runs on
        executors; batch-schema maintenance uses Spark's own
        DISTRIBUTED JSON inference instead of the driver-side parse;
        the driver advances the id counter and merges schemas.
        Returns the number of records written (ids are contiguous
        from the pre-call counter in the DataFrame's partition
        order)."""
        log = self._writable_log()
        flt_text, flt_q, pure_paths = self._filter_plan()
        first_new_seq = log.total_written
        # The batch lineage is consumed by at least two jobs (schema
        # inference, then append_df's count+stamp): pin it once so an
        # expensive upstream (a sorted backfill is the common replay
        # shape) is evaluated once, not per pass (guide §5: cache only
        # what is reused AND expensive to recompute — a bulk batch is
        # both). Spills past memory; released before return.
        from pyspark import StorageLevel

        src_persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        df = src_persisted
        # Pure-predicate fast path (VERDICT r11): a non-mutating filter
        # compiles to a Column predicate over a full-pass inferred
        # schema and runs JVM-side BEFORE append_df — the bulk filter
        # is then a vectorized parquet-speed scan, not a Python pool
        # (mirrors the query path's compile_filter ladder at
        # _apply_bfl). Falls back to the exact row backend whenever the
        # batch fails JVM JSON validation, the filter doesn't compile
        # (redact, dynamic shapes), or inference yields nothing.
        send_filter_text = flt_text
        prevalidated = False
        if flt_text and pure_paths is None and flt_q.expr is not None:
            fast_df = self._bulk_filter_column(df, flt_q)
            if fast_df is not None:
                # the filtered lines are read twice (stored-schema
                # inference, then append) — persist so the from_json
                # filter runs once; spills past memory like append_df
                df = fast_df.persist(StorageLevel.MEMORY_AND_DISK)
                send_filter_text = ""
                prevalidated = True
        batch = shred = inferred = None
        if not send_filter_text or pure_paths is not None:
            # distributed inference over the batch itself — the same
            # promotion rules the driver-side infer_batch_schema
            # mirrors, evaluated by Spark's JSON reader JVM-side (no
            # Python round-trip; see infer_json_lines_schema)
            try:
                inferred = infer_json_lines_schema(self.spark, df)
            except Exception:
                # empty batch (or all-corrupt, which append_df rejects
                # anyway): nothing to infer, nothing will be written
                inferred = None
            if inferred is not None and not inferred.fields:
                inferred = None
            # An inference that surfaced no _corrupt_record
            # has already Jackson-validated every line, and the reader
            # is pinned to json.loads acceptance (strict-mode pin +
            # allowNonNumericNumbers, tests/test_bulk_ingest.py) — the
            # separate Python validation pass would re-prove the same
            # thing, so skip it and let the count job run JVM-only
            # (guide §4: eliminate the boundary, not just vectorize
            # it). A batch that DID produce _corrupt_record (or a doc
            # key literally named that) keeps the exact row-backend
            # validation path and its all-or-none raise.
            if (
                not send_filter_text
                and not prevalidated
                and inferred is not None
                and "_corrupt_record" not in inferred.fieldNames()
            ):
                prevalidated = True
            if inferred is not None:
                batch, shred = self._batch_schema(inferred, pure_paths)
        try:
            written = log.append_df(
                df,
                insertion_filter_text=send_filter_text,
                shred_schema=shred,
                prevalidated=prevalidated,
            )
        finally:
            # an append failure must not leak the pinned batches for
            # the session lifetime (the fast path pins the filtered
            # lines on top of the source pin)
            if prevalidated:
                df.unpersist()
            src_persisted.unpersist()
        self._commit_schema(batch, shred, first_new_seq)
        return written

    # -- write-time schema maintenance ------------------------------------

    def _filter_plan(self) -> tuple[str, Optional[Query], Optional[list]]:
        """The macro-expanded insertion filter, its parse, and — when it
        is an always-truthy pure redact (the common ingest PII scrub) —
        its redact paths: the stored shape is then the wire shape with
        each redacted leaf → string, so the batch schema is known
        before the append."""
        text = (
            expand_macros(self.macros, self.insertion_filter)
            if self.insertion_filter
            else ""
        )
        if not text:
            return "", None, None
        q = parse(text)
        pure = pure_redact_paths(q.expr) if q.expr is not None else None
        return text, q, pure

    def _batch_schema(
        self, inferred: T.StructType, pure_paths: Optional[list]
    ) -> tuple[T.StructType, Optional[T.StructType]]:
        """Before an append: the batch's stored shape (``inferred`` plus
        the injected id, each pure-redact path → string) and its shred
        write schema — None when the batch must be stored unshredded.
        Shredded storage stays readable under one explicit union read
        schema only while schema evolution is additive; a changed
        common leaf (e.g. long → double) turns shredding off for this
        log (queries fall back to the from_json view — still exact)."""
        batch = merge_types(
            inferred,
            T.StructType([T.StructField(ID_COL, T.StringType(), True)]),
        )
        for p in pure_paths or []:
            batch = override_path_string(batch, p)
        shred = None
        if self._shred_ok:
            merged = (
                batch
                if self._schema_acc is None
                else merge_types(self._schema_acc, batch)
            )
            if self._schema_acc is None or common_leaves_unchanged(
                shred_write_schema(self._schema_acc),
                shred_write_schema(merged),
            ):
                # write with the MERGED leaf types: a batch re-narrowing
                # a previously-widened leaf (int after double) must not
                # bind a narrower parquet type than the union read
                # schema (engine/schema.py:widen_to_merged)
                shred = shred_write_schema(widen_to_merged(batch, merged))
                if not shred.fields:
                    shred = None
        return batch, shred

    def _commit_schema(
        self,
        batch: Optional[T.StructType],
        shred: Optional[T.StructType],
        first_new_seq: int,
    ) -> None:
        """After an append from seq ``first_new_seq``: merge the batch's
        shape into the running union schema (no invalidation — the
        typed view never re-learns its schema from the data), persist
        the state, and publish the commit.  ``batch`` None means the
        insertion filter could drop records or rewrite values
        dynamically: the shape is then inferred from the just-appended
        slice, a batch-bounded job pruned by the seq predicate."""
        wrote = self._log.total_written > first_new_seq
        if shred is None and wrote:
            # this batch's files carry no doc column — a shredded read
            # would silently null them out
            self._shred_ok = False
        if batch is None and wrote:
            appended = (
                self._log.scan()
                .filter(F.col("seq") >= first_new_seq)
                .select("value")
            )
            batch = infer_json_lines_schema(self.spark, appended)
        if batch is not None:
            merged = (
                batch
                if self._schema_acc is None
                else merge_types(self._schema_acc, batch)
            )
            if merged != self._schema_acc:
                self._schema_acc = merged
                self._typed_schema = finalize_type(merged)
        self._save_state()
        self._publish_commit()

    def _publish_commit(self) -> None:
        """Make every record written so far visible to
        :meth:`wait_commit` callers.  Called only once the records'
        schema is merged: a follower compiling its filter against an
        older schema would match nothing and resume past them.  The
        previous commit's shared scan is dropped: only a follower at
        the new frontier can use a shared result."""
        with self._commit:
            self._commit_version += 1
            self._commit_from = self._committed_total
            self._committed_total = self._log.total_written
            self._commit_scan = None
            self._commit.notify_all()

    def wait_commit(
        self,
        seen: int,
        timeout: Optional[float],
        stop: Optional[threading.Event] = None,
    ) -> tuple[int, int]:
        """``(version, committed_total)`` of the commit clock, once its
        version differs from ``seen``, ``stop`` is set (then woken by
        :meth:`wake_waiters`) or ``timeout`` seconds pass.  Records
        with seq < ``committed_total`` are written and their schema is
        merged; a reader bounded by it (``as_of=committed_total - 1``)
        sees no half-committed batch.  A mounted table never
        commits."""
        with self._commit:
            self._commit.wait_for(
                lambda: self._commit_version != seen
                or (stop is not None and stop.is_set()),
                timeout,
            )
            return self._commit_version, self._committed_total

    def wake_waiters(self) -> None:
        """Wake every :meth:`wait_commit` caller to re-check its
        ``stop`` event."""
        with self._commit:
            self._commit.notify_all()

    @contextmanager
    def following(self, query: str):
        """Register a QUERY follower's filter text with the commit
        reader (:meth:`_commit_records`) for the duration of the
        block."""
        with self._commit:
            self._followers[query] += 1
        try:
            yield
        finally:
            with self._commit:
                self._followers[query] -= 1
                if not self._followers[query]:
                    del self._followers[query]

    def _bulk_filter_column(self, df, q: Query):
        """Compile a pure (non-mutating) insertion filter to a Column
        predicate and apply it to a bulk batch JVM-side. Returns the
        filtered single-column DataFrame of surviving JSON lines, or
        None when the batch must take the exact Python row backend:

        * any line fails JVM JSON validation (``try_parse_json`` null,
          or a null line) — the row path owns the all-or-none failure
          semantics, so a single malformed line routes the WHOLE batch
          there (where it raises before any id is assigned);
        * the filter doesn't compile (``UnsupportedBFL``: redact,
          recursive descent over typed columns, dynamic shapes);
        * full-pass schema inference yields no fields (empty batch).

        The compile schema comes from a full-pass inference over the
        batch, which sees every key, so missing-path collapse triggers
        exactly when the row backend's P14/P15 collapse would."""
        # mutating filters can never take this path — skip them BEFORE
        # paying the validation count and the full inference pass
        taints = collect_redact_taints(q.expr)
        if taints is None or taints:
            return None
        col0 = df.columns[0]
        lines = df.select(F.col(col0).alias("value"))
        try:
            full = infer_json_lines_schema(self.spark, lines)
        except Exception:
            return None
        if not full.fields:
            return None
        if "_corrupt_record" in full.fieldNames():
            # a malformed or null line somewhere in the batch (or a
            # document key literally named _corrupt_record): route the
            # WHOLE batch to the row backend, which owns the
            # all-or-none failure semantics
            return None
        typed = finalize_type(full)
        raw = "__bn_raw_line__"
        doc = "__bn_doc__"
        if raw in set(typed.fieldNames()) or doc in set(typed.fieldNames()):
            return None  # a document key shadows our plumbing columns
        try:
            comp = compile_filter(Query(expr=q.expr, text=q.text), typed)
        except UnsupportedBFL:
            return None
        if comp.predicate is None:
            return lines
        flat = lines.select(
            F.col("value").alias(raw),
            F.from_json(F.col("value"), typed).alias(doc),
        ).select(raw, f"{doc}.*")
        # limit() inside an insertion filter is ignored, matching the
        # row backend (eval_query evaluates truthiness only)
        return flat.filter(comp.predicate).select(
            F.col(raw).alias("value")
        )

    # -- query plumbing ---------------------------------------------------

    def _prepare(self, query: str) -> Query:
        return parse(expand_macros(self.macros, query))

    def _apply_bfl(self, df: DataFrame, q: Query) -> DataFrame:
        """Typed Column fast path, falling back to the row backend for
        redact / dynamic-shape queries.

        On fallback, every *compilable* top-level conjunct is pushed into
        a Column pre-filter (reaching the Parquet scan) so the Python
        evaluator only sees surviving rows — e.g. ``year == 2003 and
        redact(...)`` scans Python-side only the year-2003 slice."""
        try:
            compiled = compile_filter(q, df)
        except UnsupportedBFL:
            # schema-static redact: pure-Column filter + withField
            # projections (no Python stage); ineligible forms (dynamic
            # paths, json()/xml() re-decode, redact under or/!) fall
            # through to the exact row backend
            try:
                fast = compile_redact_fast(
                    q, df, protected_roots=(self.id_col,)
                )
            except UnsupportedBFL:
                fast = None
            if fast is not None:
                pred, paths = fast
                if pred is not None:
                    df = df.filter(pred)
                return apply_redact_paths(df, paths)
            pre = _pushdown(q, df.schema)
            if pre is not None:
                df = df.filter(pre)
            return self._row_backend(df, q)
        if compiled.predicate is not None:
            df = df.filter(compiled.predicate)
        return df

    def _row_backend(self, df: DataFrame, q: Query) -> DataFrame:
        """Arrow-batched exact evaluator for the typed API: serialize
        each typed row to its JSON document, run
        :func:`pyeval.eval_doc` (collapse/redact exact) on it and return
        the surviving ones as ``(id, value)``, ``value`` the evaluated
        document."""
        key = self.id_col
        query_text = q.text

        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            from ..bfl import parse as _parse
            from ..bfl.pyeval import eval_doc as _eval

            parsed = _parse(query_text)
            for pdf in batches:
                keys, values = [], []
                for rec in pdf.to_dict(orient="records"):
                    doc = json.dumps(
                        _jsonable(rec), separators=(",", ":"), default=str
                    )
                    truth, obj = _eval(parsed, json.loads(doc))
                    if truth:
                        keys.append(str(rec.get(key)))
                        values.append(
                            json.dumps(
                                obj,
                                separators=(",", ":"),
                                ensure_ascii=False,
                            )
                        )
                yield pd.DataFrame({key: keys, "value": values})

        return df.mapInPandas(run, schema=f"`{key}` string, value string")

    def _eval_rows(self, rows: list, q: Query, limit: int = 0) -> list:
        """The row backend of served reads, on the driver: the records
        of ``rows`` that :func:`pyeval.eval_doc` keeps (collapse/redact
        exact), in order, at most ``limit`` of them when it is > 0.  A
        kept record's ``value`` is the stored one when ``q`` cannot
        redact, else the redacted object in the encoding the log
        stores."""
        from ..bfl.pyeval import eval_doc

        keep = collect_redact_taints(q.expr) == []
        out = []
        for rec in rows:
            truth, obj = eval_doc(q, json.loads(rec[1]))
            if truth:
                if not keep:
                    rec = Record(rec[0], json.dumps(obj, separators=(",", ":")))
                out.append(rec)
                if len(out) == limit:
                    break
        return out

    # -- retrieval modes ---------------------------------------------------

    def dataframe(self) -> DataFrame:
        if self._log is None:
            return self._df
        return self._typed_view()

    def _typed_view(
        self,
        min_seq: Optional[int] = None,
        max_seq: Optional[int] = None,
        keep: tuple = (),
        batch: Optional[DataFrame] = None,
        files: Optional[list[str]] = None,
        schema: Optional[T.StructType] = None,
    ) -> DataFrame:
        """Schema-free docs → typed DataFrame (SURVEY §1.4).

        Preferred path: **shredded read** — ingest already parsed each
        document into a typed ``doc`` struct column, so this is a plain
        parquet scan with column pruning and nested predicate pushdown
        (a BFL filter reaches the row-group stats of ``doc.field``).
        Fallback (legacy logs, or after non-additive schema evolution /
        a dynamic insertion-filter batch): ``from_json`` over the raw
        ``value``.  id-range predicates hit the *physical* ``seq``
        column in both paths, pruning files via min/max stats.
        ``keep`` names two columns that carry each record's ``seq`` and
        stored ``value`` beside the typed ones; ``batch`` (log rows of
        a tail micro-batch) is read in place of the log, via
        ``from_json``; ``files`` (the ones that hold a commit) in
        place of the log directory.  ``schema`` is the view schema a
        caller compiled its filters against (default: the current
        one)."""
        if schema is None:
            schema = self._view_schema()
        shredded = batch is None and self._shred_ok and bool(schema.fields)
        if shredded:
            from .log import LOG_SCHEMA

            read_schema = T.StructType(
                list(LOG_SCHEMA.fields) + [T.StructField("doc", schema, True)]
            )
            scan = self._log.scan(files, read_schema)
        else:
            scan = self._log.scan(files) if batch is None else batch
        scan = _seq_range(scan, min_seq, max_seq)
        extra = [F.col(c).alias(n) for c, n in zip(("seq", "value"), keep)]
        if shredded:
            return scan.select("doc.*", *extra)
        return scan.select(
            F.from_json(F.col("value"), schema).alias("doc"),
            *extra,
        ).select("doc.*", *keep)

    def _view_schema(self) -> T.StructType:
        """The typed view's schema (inferred once for a log that has
        none persisted); raises when the log holds no records."""
        assert self._log is not None
        if self._typed_schema is None:
            if self._log.live_count == 0:
                raise ValueError("no data ingested")
            self._infer_schema_from_log()
        return self._typed_schema

    def _infer_schema_from_log(self) -> None:
        """Schema recovery for logs with no persisted schema (created
        before schema versioning, or a hand-deleted ``_state.json``):
        infer from a bounded document sample, then verify top-level key
        completeness with one JVM-side columnar pass
        (``json_object_keys`` — no Python round-trip).  A key the
        sample never saw is typed from a BOUNDED per-key probe — rows
        that actually carry that key, ``SCHEMA_SAMPLE_DOCS`` of them —
        never a full-corpus ``read.json`` (every job in this path is
        limit-bounded; VERDICT r4 #3).  Divergence contract: if a key's
        value types shift beyond its first ``SCHEMA_SAMPLE_DOCS``
        carrying rows, those rows surface as nulls in the typed view
        until the next write widens the persisted schema — the same
        trade every sampled-inference reader makes.  Runs once, then
        persists."""
        assert self._log is not None
        values = self._log.scan().select("value")
        sample = self.spark.read.json(
            values.limit(SCHEMA_SAMPLE_DOCS).rdd.map(lambda r: r.value)
        ).schema
        all_keys = {
            r["k"]
            for r in values.select(
                F.explode(F.json_object_keys(F.col("value"))).alias("k")
            )
            .distinct()
            .collect()
        }
        missing = sorted(all_keys - set(sample.fieldNames()))
        if missing:
            # one bounded probe per missed key: the filter prunes to
            # carrying rows JVM-side, the limit caps what read.json
            # parses; the union is ≤ len(missing) × SCHEMA_SAMPLE_DOCS
            # rows regardless of corpus size
            probe = None
            for key in missing:
                rows_k = values.filter(
                    F.array_contains(
                        F.json_object_keys(F.col("value")), F.lit(key)
                    )
                ).limit(SCHEMA_SAMPLE_DOCS)
                probe = rows_k if probe is None else probe.union(rows_k)
            extra = self.spark.read.json(
                probe.rdd.map(lambda r: r.value)
            ).schema
            merged = merge_types(sample, extra)
            assert isinstance(merged, T.StructType)
            sample = merged
        self._schema_acc = sample
        self._typed_schema = finalize_type(sample)
        self._save_state()

    def query(
        self,
        query: str = "",
        left_off: int | str = 0,
        as_of: int | None = None,
    ) -> DataFrame:
        """/query (M1) as a bounded scan: records after ``left_off``
        matching the filter, in id order, honoring ``limit(N)``.  The
        unbounded tail-follow variant is
        :func:`basenine_spark.streaming.tail.tail`.

        ``left_off`` zero-forms follow the reference's wire parsing
        (``native.go:1158-1176``): the INT 0 / None / empty string mean
        "from the beginning", while the STRING ``"0"`` is a real resume
        token — records strictly after seq 0 (the reference applies its
        +1 increment to any non-empty string, including "0").

        ``as_of`` is a SNAPSHOT read: only records with seq <=
        ``as_of`` are visible — the append-only log makes any past
        corpus state reproducible byte-for-byte (audits, debugging a
        model trained against an earlier release).  On the log the
        bound is a physical ``seq`` predicate, so parquet min/max
        stats prune every file appended after the snapshot; retention
        truncation still applies (records rotated out are gone —
        snapshots reach back only to the retention horizon)."""
        q = self._prepare(query)
        if self._log is None:
            # a mounted table: natural ids, compared raw
            df = self._df
            if as_of is not None:
                df = df.filter(F.col(self.id_col) <= F.lit(as_of))
            if left_off == "latest":
                last = df.agg(F.max(self.id_col)).collect()[0][0]
                df = df.filter(F.col(self.id_col) >= F.lit(last))
            elif left_off not in (0, None, ""):
                df = df.filter(F.col(self.id_col) > F.lit(left_off))
        else:
            df = self._typed_view(self._resume_seq(left_off, as_of), as_of)
        df = self._apply_bfl(df, q)
        return _order_limit(df, F.col(self.id_col).asc(), q.limit)

    def _resume_seq(
        self, left_off: int | str, as_of: int | None
    ) -> Optional[int]:
        """The first seq a QUERY from ``left_off`` reads (None: the
        beginning), as a physical seq predicate → file pruning."""
        if left_off == "latest":  # T2 (native.go:1158-1176)
            return self._latest_seq(as_of)
        if left_off in (0, None, ""):
            return None
        return int(left_off) + 1

    def _latest_seq(self, as_of: int | None) -> int:
        """The seq a ``"latest"`` QUERY resumes at: the last record
        written, or the last one an ``as_of`` snapshot sees."""
        last = self._log.total_written - 1
        return max(last if as_of is None else min(last, as_of), 0)

    # -- serving: the stored documents --------------------------------------

    def _served_log(self) -> DocumentLog:
        """The log QUERY/FETCH/SINGLE serve; a mounted table has no
        stored documents and is read through the typed API only."""
        if self._log is None:
            raise ValueError(
                "a mounted table is not served — read it with "
                "query/fetch/single"
            )
        return self._log

    @staticmethod
    def _compiled(
        q: Query, schema: Optional[T.StructType]
    ) -> Optional[Compiled]:
        """``q`` compiled under the view ``schema``, or None when the row
        backend decides it: a schema whose names collide
        case-insensitively, or a query the compiler cannot express
        (:class:`UnsupportedBFL`).  Compiled on every call: time helpers
        (``now()``, ``seconds(n)``…) fold the clock of the compile into
        the predicate."""
        if _case_collision(schema):
            return None
        try:
            return compile_filter(q, schema)
        except UnsupportedBFL:
            return None

    def _match(
        self, q: Query, schema: Optional[T.StructType]
    ) -> tuple[Optional[Column], bool]:
        """How ``q`` selects log records under the view ``schema``:
        ``(predicate, False)`` when it compiles to a Column (None keeps
        every record); otherwise ``(pre-filter or None, True)`` — the
        row backend decides (:meth:`_compiled`), after the compilable
        conjuncts."""
        if q.expr is None:
            return None, False
        compiled = self._compiled(q, schema)
        if compiled is not None:
            return compiled.predicate, False
        return (None if _case_collision(schema) else _pushdown(q, schema)), True

    def _row_equivalent(
        self, q: Query, schema: Optional[T.StructType]
    ) -> Optional[bool]:
        """How the commit reader may decide ``q`` under the view
        ``schema``: None when ``q`` needs the row backend
        (:meth:`_compiled`), else whether :func:`pyeval.eval_doc` over the
        typed rows keeps what its predicate keeps
        (:attr:`Compiled.row_equivalent`).  Cached per query text and
        schema, so a commit compiles a filter only when the filter or
        the schema is new; the predicate itself is not kept, since it
        holds the clock of its compile."""
        if q.expr is None:
            return True
        known, flags = self._compile_flags
        if known is not schema:
            flags = {}
            self._compile_flags = schema, flags
        if q.text not in flags:
            compiled = self._compiled(q, schema)
            flags[q.text] = None if compiled is None else compiled.row_equivalent
        return flags[q.text]

    def _records(
        self,
        qs: list[Query],
        min_seq: Optional[int] = None,
        max_seq: Optional[int] = None,
        batch: Optional[DataFrame] = None,
        files: Optional[list[str]] = None,
        compiled: Optional[tuple] = None,
    ) -> DataFrame:
        """The Spark read of the served records in ``[min_seq,
        max_seq]`` that any query of ``qs`` selects, unordered, as
        ``(seq, value)``; several queries add ``m``, where ``m[i]`` says
        whether ``qs[i]`` keeps the record.  ``value`` is the document
        as the log stores it (id included, ``DocumentLog.append``).

        * No filter: ``seq, value`` of ``batch`` (log rows of a tail
          micro-batch), the one unfiltered read that goes through
          Spark; the log itself is read by :meth:`_pages`.  A commit's
          followers are decided on the driver, and read through here
          only when it cannot decide them (:meth:`_spark_commit`).
        * Filters that compile to Columns run on the typed columns,
          and the scan reads ``seq``, ``value`` and the predicates'
          columns only.  One query filters on its predicate, which
          reaches the Parquet reader; several filter on ``m``, since a
          k-way OR pushed into the reader costs more to plan than it
          saves on a commit's files.
        * Anything else (redact, dynamic shapes, a view schema whose
          names collide case-insensitively) filters on its compilable
          conjuncts the same way; the caller runs the row backend
          (:meth:`_eval_rows`) over what it returns.  Such a query is
          read alone.

        ``files`` is read in place of the log directory.  ``compiled``
        is ``(view schema, [_match result per query])`` when the caller
        has already compiled ``qs``."""
        log = self._served_log()
        if batch is None and log.live_count == 0:
            raise ValueError("no data ingested")
        if compiled is None:
            schema = None
            if any(q.expr is not None for q in qs):
                schema = self._view_schema()
            compiled = schema, [self._match(q, schema) for q in qs]
        schema, matches = compiled
        if any(ex for _, ex in matches) and len(qs) > 1:
            raise ValueError("a row-backend query is read alone")
        preds = [p for p, _ in matches]
        if all(p is None for p in preds):
            df = _seq_range(batch, min_seq, max_seq)
            cols = ["seq", "value"]
        else:
            keep = _plumbing_names(schema)
            df = self._typed_view(
                min_seq, max_seq, keep, batch, files, schema
            )
            if len(qs) == 1:
                df = df.filter(preds[0])
            cols = [
                F.col(keep[0]).alias("seq"), F.col(keep[1]).alias("value")
            ]
        if len(qs) == 1:
            return df.select(*cols)
        flags = F.array(*(F.lit(True) if p is None else p for p in preds))
        df = df.select(*cols, flags.alias("m"))
        if all(p is not None for p in preds):
            df = df.filter(F.array_contains("m", True))
        return df

    def _pages(
        self,
        q: Query,
        min_seq: Optional[int] = None,
        max_seq: Optional[int] = None,
        batch: Optional[DataFrame] = None,
        limit: int = 0,
        descending: bool = False,
    ) -> Iterator[list]:
        """The served records in ``[min_seq, max_seq]`` that ``q``
        keeps, as pages of :class:`Record` sorted by seq (descending
        with ``descending``).  A record's ``value`` is its stored
        document; like the reference's ``Eval`` result
        (``native.go:481``, ``eval.go:802-812``) it differs from the
        stored bytes only in the leaves a ``redact`` replaced.

        * With no compilable predicate the log is read on the driver,
          one page per group of files (:meth:`DocumentLog.read_pages`),
          with no Spark job.
        * Otherwise (or for a tail ``batch``) one Spark job collects
          :meth:`_records` as one page; with ``limit`` > 0 a page is the
          TakeOrderedAndProject of ``limit`` rows, and the next one is
          read only if the reader asks for it (:func:`_collected_pages`).

        A query that needs the row backend then runs it on the driver
        over each page (:meth:`_eval_rows`), keeping at most ``limit``
        records of a page when ``limit`` > 0."""
        log = self._served_log()
        if batch is None and log.live_count == 0:
            raise ValueError("no data ingested")
        schema = self._view_schema() if q.expr is not None else None
        pred, exact = self._match(q, schema)
        if pred is None and batch is None:
            pages = log.read_pages(min_seq, max_seq, descending=descending)
        else:
            df = self._records(
                [q], min_seq, max_seq, batch, compiled=(schema, [(pred, exact)])
            )
            pages = _collected_pages(df, limit, descending)
        for page in pages:
            yield self._eval_rows(page, q, limit) if exact else page

    def query_with_metadata(
        self,
        query: str = "",
        left_off: int | str = 0,
        as_of: int | None = None,
    ) -> tuple[list, list[Metadata]]:
        """/query with the wire's per-record metadata frames
        (``native.go:488-511``): each delivered record is followed by a
        frame whose ``current`` counts the candidates scanned since the
        previous delivered record (the reference resets ``queried`` per
        frame), ``numberOfWritten`` is the running delivered count, and
        ``leftOff`` is the delivered record's id — the resume token a
        client hands back to continue.  ``noMoreData`` stays false in
        query mode (it is a FETCH concept).

        Rows are :class:`Record` ``(seq, value)`` in seq order, the
        pages of :meth:`query_pages` joined; ``as_of`` bounds the read
        at that seq, as in :meth:`query`."""
        rows: list = []
        frames: list[Metadata] = []
        for page, page_frames in self.query_pages(query, left_off, as_of):
            rows += page
            frames += page_frames
        return rows, frames

    def query_pages(
        self,
        query: str = "",
        left_off: int | str = 0,
        as_of: int | None = None,
    ) -> Iterator[tuple[list, list[Metadata]]]:
        """:meth:`query_with_metadata` a page at a time: ``(rows,
        frames)`` per page of :meth:`_pages`, the next page read only
        once this one is taken, so a server sends each page before it
        reads the next.  ``current`` carries across pages and
        ``numberOfWritten`` counts from the first page; ``limit(N)``
        ends the pages after N records.

        When the range is exactly the latest commit's and ``query`` is
        a registered follower's (:meth:`following`), the one page comes
        from that commit's shared read (:meth:`_commit_records`)
        instead of a read of its own."""
        self._served_log()
        q = self._prepare(query)
        min_seq = self._resume_seq(left_off, as_of)
        rows = self._commit_records(query, min_seq, as_of)
        if rows is not None:
            pages = [rows]
        else:
            pages = self._pages(q, min_seq, as_of, limit=q.limit)
        meta = self.metadata()
        # the seq before the first candidate
        prev = -1 if min_seq is None else min_seq - 1
        written = 0
        for page in pages:
            if q.limit > 0:
                page = page[: q.limit - written]
            frames: list[Metadata] = []
            for seq, _ in page:
                written += 1
                frames.append(
                    Metadata(
                        current=seq - prev,
                        total=meta.total,
                        number_of_written=written,
                        left_off=index_to_id(seq),
                        truncated_timestamp=meta.truncated_timestamp,
                    )
                )
                prev = seq
            yield page, frames
            if q.limit > 0 and written >= q.limit:
                return

    def _commit_records(
        self, query: str, min_seq: Optional[int], max_seq: Optional[int]
    ) -> Optional[list]:
        """A follower's sorted ``(seq, value)`` records in ``[min_seq,
        max_seq]`` from the commit reader, or None when the follower
        must read on its own: its range is not the latest commit's (a
        first poll, or a follower that missed commits), or its filter
        is not in the shared scan (it needs the row backend, fails to
        compile, or was registered after the scan began).

        The first follower to ask for the latest commit's range runs
        the scan (:meth:`_scan_commit`: on the driver over the one file
        that holds the commit, with no Spark job and no compile of a
        filter already seen under the view schema); the others wait
        for it and take their records.  The next commit drops the
        result (:meth:`_publish_commit`)."""
        window = (min_seq, max_seq)
        with self._commit:
            scan = self._commit_scan
            owner = scan is None or scan.window != window
            if owner:
                latest = (self._commit_from, self._committed_total - 1)
                if window != latest or query not in self._followers:
                    return None
                scan = self._commit_scan = _CommitScan(window)
                texts = list(self._followers)
                version = self._commit_version
        if owner:
            try:
                self._scan_commit(scan, texts, version)
            finally:
                scan.done.set()
        else:
            scan.done.wait()
        return scan.rows.get(query)

    def _scan_commit(
        self, scan: _CommitScan, texts: list[str], version: int
    ) -> None:
        """Fill ``scan.rows`` for every filter text of ``texts`` that
        compiles (:meth:`_row_equivalent`), with one read of the files
        the log's index names for the commit's window
        (:meth:`DocumentLog.files`): on the driver
        (:meth:`_eval_commit`), or, when the driver cannot decide, one
        Spark job (:meth:`_spark_commit`).  A text that fails to prepare
        or compile is left out, and so is every text when the read
        fails: those followers read on their own and report their own
        errors."""
        served, schema = [], None
        for text in texts:
            try:
                q = self._prepare(text)
                if q.expr is not None and schema is None:
                    schema = self._view_schema()
                if self._row_equivalent(q, schema) is not None:
                    served.append((text, q))
            except Exception:  # noqa: BLE001 — its follower reports it
                continue
        if not served:
            return
        qs = [q for _, q in served]
        try:
            files = self._log.files(*scan.window)
            kept = self._eval_commit(qs, schema, files, scan.window)
            if kept is None:
                kept = self._spark_commit(qs, schema, files, scan.window, version)
        except Exception:  # noqa: BLE001 — each follower re-runs alone
            return
        if kept is not None:
            scan.rows.update((text, rows) for (text, _), rows in zip(served, kept))

    def _eval_commit(
        self,
        qs: list[Query],
        schema: Optional[T.StructType],
        files: list[tuple],
        window: tuple,
    ) -> Optional[list[list[Record]]]:
        """The records of the commit's ``window`` that each query of
        ``qs`` keeps, sorted by seq and decided on the driver with no
        Spark job — or None when only the commit's Spark scan can
        decide them.  ``files`` are ``(first seq, last seq, path)`` of
        the files that hold the window (:meth:`DocumentLog.files`).

        With no filter they are the window's stored records, read from
        those files.  Otherwise the driver decides a window that one
        file holds exactly, whichever writer wrote it: it reads
        ``seq``, ``value`` and ``doc`` of that file, projects each
        ``doc`` onto the view ``schema`` as Spark reads it
        (:func:`_projector`) and keeps a record for a query when
        :func:`pyeval.eval_doc` finds it true, with one clock for the
        commit (:func:`compiler.clock_ms`).  That is the one Spark
        fallback's rule: it runs when the window is not one file's
        (a bulk append of several files, or a compacted file), when the
        file cannot be read, when the log is not shredded (a file may
        lack ``doc``), or when the file holds a value the two
        evaluators judge apart (a NaN or infinite double) or pyeval
        fails on a row, and for a query whose predicate a typed row
        cannot stand in for (:meth:`_row_equivalent`).  A view schema
        whose names collide case-insensitively never gets here: its
        filters need the row backend."""
        lo, hi = window
        if all(q.expr is None for q in qs):
            page = _read_page([path for _, _, path in files], False)
            return [[r for r in page if lo <= r.seq <= hi]] * len(qs)
        if not files:  # nothing left in the window
            return [[] for _ in qs]
        if (
            [f[:2] for f in files] != [window]
            or not self._shred_ok
            or not all(self._row_equivalent(q, schema) for q in qs)
        ):
            return None
        kept: list[list[Record]] = [[] for _ in qs]
        try:
            columns = _read_columns(files[0][2], ["seq", "value", "doc"])
            project = _projector(schema)
            now_ms = clock_ms()
            for seq, value, doc in sorted(zip(*columns), key=itemgetter(0)):
                row = project(doc)
                for out, q in zip(kept, qs):
                    if eval_doc(q, row, now_ms)[0]:
                        out.append(Record(seq, value))
        except Exception:  # noqa: BLE001 — gone, no doc column, _Unproven,
            return None  # or an evaluation pyeval cannot make
        return kept

    def _spark_commit(
        self,
        qs: list[Query],
        schema: Optional[T.StructType],
        files: list[tuple],
        window: tuple,
        version: int,
    ) -> Optional[list[list[Record]]]:
        """:meth:`_eval_commit`'s result from one Spark job over the
        paths of ``files``, bounded by the ``window`` only when a file
        holds records outside it (with no ``seq`` predicate, every
        commit's scan of its own file is the same plan, and its
        generated code is compiled once).  None when the read fails
        (compaction or retention removed a file), or when no query has
        a predicate for Spark to run."""
        compiled = schema, [self._match(q, schema) for q in qs]
        if all(pred is None for pred, _ in compiled[1]):
            return None
        lo, hi = window
        if all(lo <= first and last <= hi for first, last, _ in files):
            lo = hi = None
        paths = [path for _, _, path in files]
        try:
            df = self._records(qs, lo, hi, files=paths, compiled=compiled)
            with job_group(
                self.spark.sparkContext,
                f"bn-commit-{version}",
                f"commit v={version} filters={len(qs)}",
            ):
                got = df.collect()
        except Exception:  # noqa: BLE001 — each follower re-runs alone
            return None
        got.sort(key=itemgetter(0))
        one = len(qs) == 1  # then every row is its query's
        return [
            [Record(r[0], r[1]) for r in got if one or r[2][i]]
            for i in range(len(qs))
        ]

    def single(self, record_id, query: str = "") -> Optional[dict]:
        """/single (M2): one record by id; the query only matters for
        record-altering helpers (redact) — native.go:526-601.  On the
        log the lookup is a *physical* ``seq`` point predicate
        (the doc id IS the sequence) so parquet row-group stats prune
        before any JSON parse; a derived-column filter after
        ``from_json`` would scan the corpus."""
        if self._log is None:
            df = self._df
        elif self._log.live_count == 0:
            return None  # "Record does not exist!"
        else:
            try:
                idx: Optional[int] = int(record_id)
            except (TypeError, ValueError):
                idx = None
            if idx is not None:
                df = self._typed_view(min_seq=idx, max_seq=idx)
            else:
                df = self.dataframe()
        rows = (
            df.filter(F.col(self.id_col) == F.lit(record_id)).limit(1).collect()
        )
        if not rows:
            return None  # "Record does not exist!"
        doc = rows[0].asDict(recursive=True)
        q = self._prepare(query)
        if q.expr is not None:
            from ..bfl.pyeval import eval_query

            _, new_doc = eval_query(q, json.dumps(doc, default=str))
            return json.loads(new_doc)
        return doc

    def single_json(self, record_id, query: str = ""):
        """/single's wire record ``(seq, value)``, or None when no
        record has the id: ``value`` is the stored document after the
        query's redacts, by :meth:`_pages`' rule — the bytes QUERY
        and FETCH send for the same record.  The query's truth does not
        matter (``native.go:526-601``).  The record is read on the
        driver (:meth:`DocumentLog.read_pages`), with no Spark job;
        ``record_id`` must be the id the log stores for its seq (the
        24-digit form)."""
        log = self._served_log()
        try:
            seq = int(record_id)
        except (TypeError, ValueError):
            return None  # "Record does not exist!"
        if isinstance(record_id, str) and record_id != index_to_id(seq):
            # not the id the log stores for that seq (e.g. "7" for seq 7)
            return None
        if log.live_count == 0:
            return None
        rows = [r for page in log.read_pages(seq, seq) for r in page]
        if not rows:
            return None  # "Record does not exist!"
        value = rows[0][1]
        q = self._prepare(query)
        if q.expr is not None:
            from ..bfl.pyeval import eval_doc

            # evaluated for its errors too, as single() does
            _, obj = eval_doc(q, json.loads(value))
            if collect_redact_taints(q.expr) != []:
                value = json.dumps(obj, separators=(",", ":"))
        return seq, value

    def fetch(
        self,
        left_off: int | str,
        direction: int,
        query: str = "",
        limit: int = 100,
    ) -> DataFrame:
        """/fetch (M3): bounded page before/after ``left_off``; scan order
        is ascending (dir=1) or descending (dir=-1) by id, stopping after
        ``limit`` *matching* records (``native.go:727-823``).  ``limit()``
        and leftOff helpers are inert here (``native.go:665-667``).
        ``left_off="latest"`` resolves to the last written record
        (``handleSpecialLeftOff``, increment 0 — ``native.go:627-631,
        1157-1176``)."""
        committed = self._committed_total
        left_off = self._resolve_fetch_left_off(left_off, committed)
        q = self._fetch_query(query)
        if self._log is None:
            bound = F.lit(left_off)
            id_ = F.col(self.id_col)
            df = self._df.filter(id_ < bound if direction < 0 else id_ >= bound)
        else:
            df = self._typed_view(*_fetch_range(left_off, direction, committed))
        df = self._apply_bfl(df, q)
        return df.orderBy(_fetch_order(self.id_col, direction)).limit(limit)

    def _fetch_query(self, query: str) -> Query:
        q = self._prepare(query)
        q.limit = 0  # limit() helper ineffective in FETCH mode
        return q

    def _resolve_fetch_left_off(
        self, left_off: int | str, committed: int
    ) -> int | str:
        """``handleSpecialLeftOff(leftOff, 0)`` + the out-of-range guard
        (``native.go:627-655``), over the ``committed`` records: a
        record whose schema is not merged yet is not there to page."""
        if self._log is None:
            if left_off != "latest":
                return left_off
            # a mount never changes, so the serving hot path must not
            # launch a driver job per /fetch latest (VERDICT r10)
            if self._latest_cache is None:
                self._latest_cache = (
                    self._df.agg(F.max(self.id_col)).collect()[0][0]
                )
            return self._latest_cache
        if left_off == "latest":
            return max(committed - 1, 0)
        if int(left_off) > committed:
            raise IndexError(f"Index out of range: {int(left_off)}")
        return left_off

    def fetch_with_metadata(
        self,
        left_off: int | str,
        direction: int,
        query: str = "",
        limit: int = 100,
    ) -> tuple[list, list[Metadata]]:
        """/fetch with the wire's interleaved ``/metadata`` frames
        (``native.go:780-827``): returns ``(rows, frames)`` where
        ``frames[i]`` accompanies ``rows[i]`` — ``current`` counts
        candidates scanned up to that record, ``leftOff`` is the running
        resume token after it, and ``noMoreData`` marks the frame whose
        candidate exhausted the scan range.  When the page ends before
        ``limit`` matches (range exhausted by non-matching candidates),
        one trailing record-less frame carries ``noMoreData`` — the
        batch analog of the reference's final per-candidate frame.
        Rows are :meth:`_pages`' ``(seq, value)`` in page order: with
        no compilable predicate they are read on the driver, newest
        file group first for a backward page, and the read stops once
        ``limit`` records are kept.

        Granularity note (SURVEY §7.4): the reference also streams a
        frame per *non-matching* candidate; a batch API returns frames
        only at delivery points, which is the part a paging client
        consumes (``noMoreData`` ⇒ stop paging).
        """
        log = self._served_log()
        committed = self._committed_total
        base = int(self._resolve_fetch_left_off(left_off, committed))
        q = self._fetch_query(query)
        first_seq = log.total_written - log.live_count
        last_seq = committed - 1
        rows: list = []
        # a log with no live committed records has nothing to scan:
        # its page is the trailing record-less noMoreData frame
        if last_seq >= first_seq and limit > 0:
            for page in self._pages(
                q,
                *_fetch_range(base, direction, committed),
                limit=limit,
                descending=direction < 0,
            ):
                rows += page[: limit - len(rows)]
                if len(rows) >= limit:
                    break
        meta = self.metadata()
        total, trunc = meta.total, meta.truncated_timestamp
        frames: list[Metadata] = []
        exhausted = False
        for i, (seq, _) in enumerate(rows):
            if direction < 0:
                queried = base - seq
                run = seq  # _leftOff after the per-candidate decrement
                last_candidate = seq == first_seq
            else:
                queried = seq - base + 1
                run = seq + 1
                last_candidate = seq == last_seq
            exhausted = exhausted or last_candidate
            frames.append(
                Metadata(
                    current=queried,
                    total=total,
                    number_of_written=i,
                    left_off=index_to_id(run),
                    truncated_timestamp=trunc,
                    no_more_data=last_candidate,
                )
            )
        if not exhausted and len(rows) < limit:
            # fewer matches than limit ⇒ the scan ran off the end of
            # the range without a delivered final candidate
            end = first_seq if direction < 0 else last_seq + 1
            span = base - first_seq if direction < 0 else last_seq - base + 1
            frames.append(
                Metadata(
                    current=max(span, 0),
                    total=total,
                    number_of_written=len(rows),
                    left_off=index_to_id(max(end, 0)),
                    truncated_timestamp=trunc,
                    no_more_data=True,
                )
            )
        return rows, frames

    def validate(self, query: str) -> tuple[bool, str]:
        """/validate (M4)."""
        return bfl_validate(expand_macros(self.macros, query))

    # -- operational commands ----------------------------------------------

    def add_macro(self, name: str, expansion: str) -> None:
        """/macro (M5) — persisted with the log (native.go:185)."""
        _add_macro(self.macros, name, expansion)
        self._save_state()

    def set_insertion_filter(self, query: str) -> None:
        """/insert-filter (M6) — validated like the reference
        (``native.go:867-885``)."""
        ok, msg = self.validate(query)
        if not ok:
            raise ValueError(msg)
        self.insertion_filter = query
        self._save_state()

    def compact(self, target_bytes: int = 128 * 1024 * 1024) -> int:
        """Maintenance: merge small log files (micro-batch ingest debris)
        into ~target-size parquet files.  See
        :meth:`DocumentLog.compact`; no-op for a mounted table."""
        if self._log is None:
            return 0
        return self._log.compact(target_bytes=target_bytes)

    def set_retention_bytes(self, n: int) -> None:
        """/limit (M7): size-bound retention — enforced on the log's
        rolling partitions (effective limit n/2, ≤2 live
        partitions, ``native.go:1207-1211``)."""
        self.retention_bytes = n
        if self._log is not None:
            self._log.set_retention_bytes(n)
            self._save_state()

    def flush(self) -> None:
        """/flush (M8): drop all records (``native.go:888-904``)."""
        self._writable_log().flush()
        self._typed_schema = None
        self._schema_acc = None
        self._shred_ok = True  # wiped log: shredding restarts clean
        # /flush keeps macros/filter/limit (only /reset clears them,
        # native.go:888-928) — re-persist them after the wipe
        self._save_state()
        self._publish_commit()

    def reset(self) -> None:
        """/reset (M8): flush + clear macros/filter/limit
        (``native.go:908-928``)."""
        self.flush()
        self.macros = {}
        self.insertion_filter = ""
        self.retention_bytes = 0
        self._save_state()

    # -- metadata -----------------------------------------------------------

    def metadata(self, written: int = 0, queried: int = 0) -> Metadata:
        """T3 progress frame — batch flavor (per-batch rather than
        per-record; granularity difference documented in SURVEY §7.4).

        ``total`` is the O(1) running counter (reference keeps plain
        ints, ``native.go:397-401``) — a metadata ping must never cost a
        table scan (perf fix, VERDICT r1)."""
        if self._log is None:
            # a mount never changes: count it once
            if self._mounted_total is None:
                self._mounted_total = self._df.count()
            return Metadata(
                current=queried,
                total=self._mounted_total,
                number_of_written=written,
            )
        return Metadata(
            current=queried,
            total=self._log.live_count,
            number_of_written=written,
            left_off=self._log.last_id,
            truncated_timestamp=self._log.truncated_timestamp,
        )
