"""Reads that need no typed column (an unfiltered QUERY, FETCH page or
commit, SINGLE, and a row-backend query with no compilable conjunct)
are served from the log's Parquet files on the driver, one seq-sorted
page per group of overlapping files, with no Spark job."""

import json
import math
import os
import socket
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from basenine_spark.engine import log as log_module
from basenine_spark.engine.db import BasenineDB, index_to_id
from basenine_spark.engine.log import DocumentLog, Record
from basenine_spark.server import BasenineServer

PAD = "p" * 150


def _docs(lo: int, hi: int) -> list[str]:
    return [json.dumps({"k": i, "pad": PAD}) for i in range(lo, hi)]


def _jobs_of(spark, fn):
    """``(fn(), number of Spark jobs it started)``, counted by job
    group on this thread."""
    sc = spark.sparkContext
    group = "paged-read-probe"
    before = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, "paged read probe")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group)) - before


def _spark_pages(self, min_seq=None, max_seq=None, descending=False):
    """The unfiltered read as a Spark scan: the directory bounded by a
    ``seq`` range, collected and sorted on the driver, as one page."""
    df = self.scan()
    if min_seq is not None:
        df = df.filter(F.col("seq") >= min_seq)
    if max_seq is not None:
        df = df.filter(F.col("seq") <= max_seq)
    rows = sorted(
        (r[0], r[1]) for r in df.select("seq", "value").collect()
    )
    if descending:
        rows.reverse()
    yield [Record(*r) for r in rows]


# -- no Spark job -----------------------------------------------------------


def test_unfiltered_reads_run_no_spark_job(spark, tmp_path):
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    for b in range(3):
        db.insert_json(_docs(10 * b, 10 * b + 10))
    db.insert_json(['{"k":30,"s":"x"}'])  # a key the others lack
    rows, jobs = _jobs_of(spark, lambda: db.query_with_metadata("")[0])
    assert [r.seq for r in rows] == list(range(31)) and jobs == 0
    rows, jobs = _jobs_of(spark, lambda: db.query_with_metadata("limit(12)")[0])
    assert [r.seq for r in rows] == list(range(12)) and jobs == 0
    for direction, want in ((1, [14, 15, 16]), (-1, [13, 12, 11])):
        rows, jobs = _jobs_of(
            spark, lambda: db.fetch_with_metadata(14, direction, "", 3)[0]
        )
        assert [r.seq for r in rows] == want and jobs == 0
    rec, jobs = _jobs_of(spark, lambda: db.single_json(index_to_id(30), ""))
    assert rec == (30, '{"k":30,"s":"x","id":"%s"}' % index_to_id(30))
    assert jobs == 0
    # a redact with no compilable conjunct: the row backend on the pages
    rows, jobs = _jobs_of(spark, lambda: db.query_with_metadata('redact("s")')[0])
    assert rows[30].value == '{"k":30,"s":"[REDACTED]","id":"%s"}' % index_to_id(30)
    assert rows[:30] == db.query_with_metadata("")[0][:30] and jobs == 0
    # a commit whose followers are all unfiltered
    with db.following(""), db.following("limit(1)"):
        db.insert_json(_docs(31, 36))
        rows, jobs = _jobs_of(
            spark,
            lambda: db.query_with_metadata(
                "", left_off=index_to_id(30), as_of=35
            )[0],
        )
        assert db._commit_scan.rows[""] == rows
        assert db._commit_scan.rows["limit(1)"] == rows
    assert [r.seq for r in rows] == list(range(31, 36)) and jobs == 0


def test_single_keeps_its_stored_id_check(spark, tmp_path):
    """SINGLE finds a record only by the id the log stores for it: the
    24-digit form of its seq."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"a":1}', '{"a":2}'])
    stored = '{"a":2,"id":"%s"}' % index_to_id(1)
    assert db.single_json(index_to_id(1), "") == (1, stored)
    for other in ("1", " " + index_to_id(1), "+" + index_to_id(1)[1:], "x"):
        assert db.single_json(other, "") is None, other
    assert db.single_json(index_to_id(2), "") is None
    server = BasenineServer(db).start()
    try:
        from basenine_spark import client as bn

        assert bn.single(server.host, server.port, 1) == stored
    finally:
        server.stop()


# -- byte-identical to the Spark scan on a log of every file kind ----------


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """A log that mixes wire files, a mixed-kind batch written through
    the Spark fallback, an ``insert_json_df`` bulk batch, a compacted
    partition whose files overlap, and a partition rotated away by
    /limit: part 0 (records 0-39) is gone; part 1 holds 40-81 in two
    compacted files; part 2 holds three wire files, 82-111."""
    db = BasenineDB(spark, path=str(tmp_path_factory.mktemp("mixed") / "store"))
    log = db._log
    for b in range(4):
        db.insert_json(_docs(10 * b, 10 * b + 10))

    def rotate():
        db.set_retention_bytes(2 * log._part_size(log._part) - 2)
        db.set_retention_bytes(10**9)

    rotate()
    db.insert_json(_docs(40, 50))
    db.insert_json(
        ['{"k":50,"v":1,"pad":"%s"}' % PAD, '{"k":51,"v":"s","pad":"%s"}' % PAD]
    )
    ((_, _, path),) = log.files(50, 51)
    assert pq.read_metadata(path).created_by.startswith("parquet-mr")
    db.insert_json_df(spark.createDataFrame([(d,) for d in _docs(52, 72)], ["value"]))
    db.insert_json(_docs(72, 82))
    assert len(log._part_files(1)) == 4
    db.compact(target_bytes=log._part_size(1) // 2 + 1)
    assert len(log._part_files(1)) == 2
    rotate()
    for b in range(3):
        db.insert_json(_docs(82 + 10 * b, 92 + 10 * b))
    assert log._live_parts() == [1, 2]
    groups = log._page_groups(-math.inf, math.inf, False)
    # the two compacted files overlap: one group, then one per wire file
    assert [len(paths) for paths, _, _ in groups] == [2, 1, 1, 1]
    return db


def _reads(db) -> list:
    """Every served read of ``mixed``, as comparable values."""
    out = []
    for left_off in (0, "", index_to_id(39), index_to_id(45), index_to_id(70), "latest"):
        for as_of in (None, 60, 95):
            for query in ("", "limit(7)", "limit(45)", 'redact("pad")'):
                rows, frames = db.query_with_metadata(query, left_off, as_of)
                out.append((rows, [f.to_json() for f in frames]))
    for left_off in (0, 20, 41, 52, 60, 81, 82, 100, 112, "latest"):
        for direction in (1, -1):
            for limit in (1, 5, 25, 200):
                for query in ("", 'redact("pad")'):
                    rows, frames = db.fetch_with_metadata(
                        left_off, direction, query, limit
                    )
                    out.append((rows, [f.to_json() for f in frames]))
    for seq in range(-1, 114):
        for query in ("", 'redact("pad")'):
            out.append(db.single_json(index_to_id(seq), query))
    return out


def test_paged_reads_match_the_spark_scan(mixed, monkeypatch):
    db = mixed
    oracle = sorted(
        (r[0], r[1]) for r in db._log.scan().select("seq", "value").collect()
    )
    assert [s for s, _ in oracle] == list(range(40, 112))
    rows, frames = db.query_with_metadata("")
    assert rows == oracle
    assert [f.current for f in frames] == [41] + [1] * 71
    paged = _reads(db)
    monkeypatch.setattr(DocumentLog, "read_pages", _spark_pages)
    assert _reads(db) == paged


def _wire(server, lines: list[str], until) -> bytes:
    """The raw reply to ``lines`` up to where ``until(buf)`` holds."""
    with socket.create_connection((server.host, server.port), timeout=30) as s:
        s.sendall("".join(x + "\n" for x in lines).encode())
        buf = b""
        while not until(buf):
            chunk = s.recv(1 << 16)
            if not chunk:
                break
            buf += chunk
    return buf


def _wire_reads(db) -> list[bytes]:
    server = BasenineServer(db).start()
    try:
        out = []
        for left_off, query, n in (
            ("", "", 72),
            (index_to_id(50), "", 61),
            ("", "limit(45)", 45),
            ("", 'redact("pad")', 72),
        ):
            out.append(
                _wire(
                    server,
                    ["/query", left_off, query],
                    lambda b, n=n: b.count(b"\n") >= 2 * n,
                )
            )
        for left_off, direction in (("0", 1), ("60", 1), ("90", -1), ("latest", -1)):
            out.append(
                _wire(
                    server,
                    ["/fetch", left_off, str(direction), "", "30"],
                    lambda b: b.endswith(b"%quit%\n"),
                )
            )
        for seq in (0, 40, 51, 60, 100, 111):
            out.append(
                _wire(server, ["/single", str(seq), ""], lambda b: b.endswith(b"\n"))
            )
        return out
    finally:
        server.stop()


def test_wire_frames_match_the_spark_scan(mixed, monkeypatch):
    paged = _wire_reads(mixed)
    first = paged[0].split(b"\n")
    assert json.loads(first[0])["k"] == 40
    assert json.loads(first[1][len("/metadata ") :])["leftOff"] == index_to_id(41)
    monkeypatch.setattr(DocumentLog, "read_pages", _spark_pages)
    assert _wire_reads(mixed) == paged


# -- pages ---------------------------------------------------------------


@pytest.fixture()
def five_files(spark, tmp_path):
    """Five wire files of five records each."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    for b in range(5):
        db.insert_json(_docs(5 * b, 5 * b + 5))
    return db


def test_limit_cuts_inside_the_second_page(five_files):
    db = five_files
    pages = list(db.query_pages("limit(7)"))
    assert [[r.seq for r in rows] for rows, _ in pages] == [
        [0, 1, 2, 3, 4],
        [5, 6],
    ]
    frames = [f for _, page_frames in pages for f in page_frames]
    assert [f.number_of_written for f in frames] == list(range(1, 8))
    assert [f.current for f in frames] == [1] * 7
    # from a resume token: current carries across the page boundary
    rows, frames = db.query_with_metadata("limit(4)", left_off=index_to_id(2))
    assert [r.seq for r in rows] == [3, 4, 5, 6]
    assert [f.current for f in frames] == [1, 1, 1, 1]
    server = BasenineServer(db).start()
    try:
        buf = _wire(server, ["/query", "", "limit(7)"], lambda b: b.count(b"\n") >= 14)
    finally:
        server.stop()
    lines = buf.decode().split("\n")
    assert lines[14:] == [""]
    assert [json.loads(x)["k"] for x in lines[0:14:2]] == list(range(7))
    last = json.loads(lines[13][len("/metadata ") :])
    assert last["numberOfWritten"] == 7 and last["leftOff"] == index_to_id(7)


def test_a_file_removed_after_the_listing_loses_no_record(five_files):
    """Compaction rewrites the partition between the listing and the
    reads: the reader lists again from the first seq it has not
    returned."""
    db = five_files
    log = db._log
    pages = log.read_pages()
    first = next(pages)
    paths = [p for p, _, _ in log._page_groups(-math.inf, math.inf, False)]
    assert db.compact() == 1
    assert not any(os.path.exists(p) for group in paths for p in group)
    rest = [r for page in pages for r in page]
    assert [r.seq for r in first + rest] == list(range(25))

    # and before the first read, backward from seq 20
    db.insert_json(_docs(25, 30))
    groups = log._page_groups

    def compact_after_listing(*args):
        out = groups(*args)
        if not compact_after_listing.done:
            compact_after_listing.done = True
            db.compact()
        return out

    compact_after_listing.done = False
    log._page_groups = compact_after_listing
    got = [r.seq for page in log.read_pages(None, 20, descending=True) for r in page]
    assert compact_after_listing.done
    assert got == list(range(20, -1, -1))


def test_unfiltered_commit_reader_falls_back_when_its_file_is_gone(five_files):
    db = five_files
    with db.following(""):
        db.insert_json(_docs(25, 26))
        ((_, _, path),) = db._log.files(25, 25)
        assert db.compact() == 1
        assert not os.path.exists(path)
        rows, _ = db.query_with_metadata("", left_off=index_to_id(24), as_of=25)
        assert db._commit_scan.rows[""] == rows
    assert [r.seq for r in rows] == [25]


def test_replay_sends_a_page_before_it_reads_the_next(five_files, monkeypatch):
    db = five_files
    events = []
    read_page = log_module._read_page

    def reading(paths, descending):
        events.append("read")
        return read_page(paths, descending)

    monkeypatch.setattr(log_module, "_read_page", reading)
    server = BasenineServer(db).start()
    send = server._send

    def sending(conn, text):
        events.append("send")
        return send(conn, text)

    server._send = sending
    try:
        buf = _wire(server, ["/query", "", ""], lambda b: b.count(b"\n") >= 50)
    finally:
        server.stop()
    assert [json.loads(x)["k"] for x in buf.decode().split("\n")[0:50:2]] == list(range(25))
    assert events == ["read", "send"] * 5


def test_row_backend_limit_reads_a_page_at_a_time(spark, tmp_path, monkeypatch):
    """A FETCH page or ``limit(N)`` QUERY whose row backend runs after a
    compiled conjunct collects the pre-filtered range ``limit`` rows at
    a time, reading the next rows only until ``limit`` are kept."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    for b in range(4):
        docs = range(50 * b, 50 * b + 50)
        db.insert_json([json.dumps({"k": i, "who": {"n": i % 4}}) for i in docs])
    evaluated = []
    eval_rows = BasenineDB._eval_rows

    def counted(self, rows, q, limit=0):
        evaluated.append(len(rows))
        return eval_rows(self, rows, q, limit)

    monkeypatch.setattr(BasenineDB, "_eval_rows", counted)
    # only a redact after the conjunct: the first 5 rows are the page
    (rows, _), jobs = _jobs_of(
        spark,
        lambda: db.fetch_with_metadata("latest", -1, 'k >= 10 and redact("who")', 5),
    )
    assert [r.seq for r in rows] == [198, 197, 196, 195, 194]
    assert json.loads(rows[0].value)["who"] == "[REDACTED]"
    assert (evaluated, jobs) == ([5], 1)
    # a remainder that drops rows: pages of 5 until 5 are kept
    evaluated.clear()
    (rows, _), jobs = _jobs_of(
        spark, lambda: db.fetch_with_metadata(0, 1, "k >= 10 and who..n == 1", 5)
    )
    assert [r.seq for r in rows] == [13, 17, 21, 25, 29]
    assert (evaluated, jobs) == ([5, 5, 5, 5], 4)
    evaluated.clear()
    rows, _ = db.query_with_metadata("k >= 10 and who..n == 1 and limit(3)")
    assert [r.seq for r in rows] == [13, 17, 21]
    assert evaluated == [3] * 4
    # past the last match a short page ends the read
    evaluated.clear()
    rows, _ = db.fetch_with_metadata(185, 1, "k >= 10 and who..n == 1", 10)
    assert [r.seq for r in rows] == [185, 189, 193, 197]
    assert evaluated == [10, 5]


# -- partition listing -----------------------------------------------------


def test_stray_partition_directories_are_not_read(spark, tmp_path):
    """A ``part=N.compact.tmp`` left by a failed compaction write, a
    ``part=N.compact.old``, a ``.``-prefixed temp file and Spark's
    ``_temporary/`` hold no live records: listing, replay, rotation and
    restart skip them."""
    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    db.insert_json(_docs(0, 5))
    db.insert_json(_docs(5, 10))
    stray = db._log.files(5, 9)[0][2]
    for d in ("part=0.compact.tmp", "part=0.compact.old", "part=0/_temporary/0"):
        os.makedirs(os.path.join(path, d), exist_ok=True)
    import shutil

    for copy in (
        "part=0.compact.tmp/x.parquet",
        "part=0.compact.old/x.parquet",
        "part=0/_temporary/0/x.parquet",
        "part=0/.x.parquet.tmp",
        "part=0/.x.parquet",
    ):
        shutil.copy(stray, os.path.join(path, copy))
    assert db._log._live_parts() == [0]
    assert len(db._log._part_files(0)) == 2
    rows, _ = db.query_with_metadata("")
    assert [r.seq for r in rows] == list(range(10))
    restored = BasenineDB(spark, path=path)
    assert restored._log.total_written == 10 and restored._log.live_count == 10
    db.set_retention_bytes(2 * db._log._part_size(0) - 2)
    db.insert_json(_docs(10, 15))
    assert db._log._live_parts() == [0, 1]
    rows, _ = db.query_with_metadata("")
    assert [r.seq for r in rows] == list(range(15))


def test_concurrent_replays_and_inserts_stay_contiguous(
    spark, tmp_path, monkeypatch
):
    """Replays running while batches commit see contiguous seqs from 0
    up to their snapshot bound, and no listing drops the index entry a
    commit made: no footer is read."""
    import sys

    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(_docs(0, 10))
    errors = []
    opened = []
    read_metadata = log_module.pq.read_metadata

    def spy(path, *args, **kwargs):
        opened.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(log_module.pq, "read_metadata", spy)

    def replay():
        for _ in range(20):
            bound = db._committed_total - 1
            rows, _ = db.query_with_metadata("", as_of=bound)
            if [r.seq for r in rows] != list(range(bound + 1)):
                errors.append(bound)

    threads = [threading.Thread(target=replay) for _ in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for b in range(1, 20):
            db.insert_json(_docs(10 * b, 10 * b + 10))
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert opened == []


def test_a_read_waits_for_a_compaction_swap(five_files, monkeypatch):
    """``compact()`` swaps a partition's directory by two renames; a
    read that listed the log between them would miss the partition."""
    db = five_files
    log = db._log
    rename = log_module.os.rename
    got = []

    def read():
        got.extend(r.seq for page in log.read_pages() for r in page)

    def swap(src, dst):
        rename(src, dst)
        if src.endswith("part=0"):  # part=0 is now part=0.compact.old
            swap.reader = threading.Thread(target=read)
            swap.reader.start()
            swap.reader.join(0.5)
            swap.waited = swap.reader.is_alive()

    monkeypatch.setattr(log_module.os, "rename", swap)
    assert db.compact() == 1
    monkeypatch.undo()
    swap.reader.join(60)
    assert swap.waited
    assert got == list(range(25))


def test_a_file_footer_is_read_once(spark, tmp_path, monkeypatch):
    """The log's index entry of a committed file is read from its footer
    once: after a restart, nothing reads a footer again; a new wire
    file is indexed from its batch, so its footer is never read; and a
    compaction drops the entries of the files it replaced."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    for b in range(50):
        db.insert_json(_docs(b, b + 1))
    db = BasenineDB(spark, path=str(tmp_path / "store"))  # a restart
    opened = []
    read_metadata = log_module.pq.read_metadata

    def spy(path, *args, **kwargs):
        opened.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(log_module.pq, "read_metadata", spy)
    assert db.single_json(index_to_id(7))[0] == 7
    assert db.single_json(index_to_id(8))[0] == 8
    db.insert_json(_docs(50, 51))
    assert db.single_json(index_to_id(50))[0] == 50
    assert opened == []
    assert db.compact() == 1
    assert [r.seq for r in db.query_with_metadata("")[0]] == list(range(51))
    assert len(opened) == 1  # the compacted file's
    assert set(db._log._files) == {
        f for part in db._log._live_parts() for f in db._log._part_files(part)
    }
