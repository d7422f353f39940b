"""Commit-driven QUERY follow: a follower sleeps until the db publishes
a committed batch (written, and its keys merged into the typed schema),
then scans only up to the committed total — no poll while idle, no
read of a batch whose schema is not merged yet."""

import json
import logging
import re
import socket
import threading
import time

import pytest
from corpus import EVAL_ROWS

from basenine_spark import client as bn
from basenine_spark.engine.db import BasenineDB, index_to_id
from basenine_spark import server as server_mod
from basenine_spark.server import BasenineServer


@pytest.fixture()
def db(spark, tmp_path):
    return BasenineDB(spark, path=str(tmp_path / "store"))


@pytest.fixture()
def slow_poll(monkeypatch):
    """An idle follower wakes only every 5 s on its own."""
    monkeypatch.setattr(server_mod, "POLL_INTERVAL", 5.0)


def _count_polls(db) -> list:
    """Wrap the db instance's ``query_pages`` (a follower's poll); the
    returned list gets the ``as_of`` of each poll once it has read all
    its pages, before the server sends them."""
    calls = []
    poll = db.query_pages

    def counted(*args, **kwargs):
        pages = list(poll(*args, **kwargs))
        calls.append(kwargs.get("as_of"))
        yield from pages

    db.query_pages = counted
    return calls


def _next_record(frames) -> str:
    for frame in frames:
        assert frame.record is None or not frame.record.startswith("Error")
        if frame.record is not None:
            return frame.record
    raise AssertionError("follower stream ended")


def _wait_until(cond, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.02)
    return True


def test_follower_keeps_a_record_whose_schema_commit_is_slow(db):
    """A batch's records are on disk before its new key ``b`` is merged
    into the schema.  A poll in that window compiles ``b == 2`` against
    the old schema, matches nothing, and must not resume past the
    record: the follower still receives it."""
    db.insert_json(['{"a":1}'])
    commit = db._commit_schema

    def slow_commit(*args):
        time.sleep(0.6)
        commit(*args)

    db._commit_schema = slow_commit
    calls = _count_polls(db)
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=5) as c:
            frames = c.query("", "b == 2")
            assert _wait_until(lambda: calls, 30)
            db.insert_json(['{"a":2,"b":2}'])
            assert _next_record(frames) == (
                '{"a":2,"b":2,"id":"%s"}' % index_to_id(1)
            )
            # no poll reads past the committed total
            assert set(calls) <= {0, 1}
    finally:
        server.stop()


def test_poll_stops_at_the_committed_total(db):
    """A poll woken by one batch's commit must not read the next batch,
    appended while the poll started but not yet committed: there
    ``{"b":2}`` fails the filter on the old schema while ``{"a":2}``
    matches, and resuming after ``{"a":2}`` would lose ``{"b":2}``."""
    db.insert_json(['{"a":0}'])
    commit, poll = db._commit_schema, db.query_pages
    slow_commits, polls, finished = [], [], []

    def slow_commit(*args):
        if slow_commits:
            time.sleep(3.0)
        commit(*args)

    def slow_poll(*args, **kwargs):
        if polls:
            time.sleep(1.5)  # the next batch appends meanwhile
        polls.append(kwargs.get("as_of"))
        yield from poll(*args, **kwargs)
        finished.append(True)

    db._commit_schema = slow_commit
    db.query_pages = slow_poll
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=10) as c:
            frames = c.query("", "a == 2 or b == 2")
            # the first poll has returned, so it cannot outlast the
            # slow commit and wake to both commits at once
            assert _wait_until(lambda: finished, 30)
            db.insert_json(['{"a":1}'])
            slow_commits.append(True)
            db.insert_json(['{"b":2}', '{"a":2}'])
            got = [_next_record(frames), _next_record(frames)]
            assert got == [
                '{"b":2,"id":"%s"}' % index_to_id(2),
                '{"a":2,"id":"%s"}' % index_to_id(3),
            ]
            assert polls == [0, 1, 3]
    finally:
        server.stop()


def test_idle_follower_polls_once(db):
    db.insert_json(['{"k":1}'])
    calls = _count_polls(db)
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=30) as c:
            frames = c.query("", "")
            _next_record(frames)
            time.sleep(1.0)
            assert len(calls) == 1
    finally:
        server.stop()


@pytest.mark.parametrize("writer", ["insert_json", "insert_json_df"])
def test_commit_wakes_follower_before_poll_interval(spark, db, writer, slow_poll):
    """With a 5 s ``POLL_INTERVAL``, a record committed after the
    follower's first poll arrives within 2 s — through both insert
    paths."""
    db.insert_json(['{"k":0}'])
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=10) as c:
            frames = c.query("", "k >= 0")
            _next_record(frames)
            line = '{"k":1}'
            if writer == "insert_json":
                db.insert_json([line])
            else:
                db.insert_json_df(spark.createDataFrame([(line,)], ["value"]))
            t0 = time.monotonic()
            rec = _next_record(frames)
            assert time.monotonic() - t0 < 2.0
            assert rec == '{"k":1,"id":"%s"}' % index_to_id(1)
    finally:
        server.stop()


def test_follower_after_flush_gets_new_records(db, slow_poll):
    """/flush publishes the emptied log: a follower opened after it
    waits for the next commit instead of scanning up to the total the
    log had before the flush."""
    db.insert_json(['{"k":%d}' % i for i in range(3)])
    server = BasenineServer(db).start()
    try:
        assert bn.flush(server.host, server.port) is None
        with bn.BasenineClient(server.host, server.port, timeout=10) as c:
            frames = c.query("", "")
            time.sleep(0.3)
            with bn.BasenineClient(server.host, server.port) as w:
                w.insert(['{"k":"after"}'])
            rec = _next_record(frames)
            assert rec == '{"k":"after","id":"%s"}' % index_to_id(0)
    finally:
        server.stop()


def test_stop_wakes_an_idle_follower(db, slow_poll):
    db.insert_json(['{"k":1}'])
    server = BasenineServer(db).start()
    with bn.BasenineClient(server.host, server.port, timeout=10) as c:
        _next_record(c.query("", ""))
        t0 = time.monotonic()
        server.stop()
        assert time.monotonic() - t0 < 1.0
        assert not any(t.is_alive() for t in server._threads)


def test_idle_follower_hang_up_ends_its_handler(db):
    db.insert_json(['{"k":1}'])
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=10) as c:
            _next_record(c.query("", ""))
            assert len(server._conns) == 1
        assert _wait_until(lambda: not server._conns, 1.0)
    finally:
        server.stop()


@pytest.fixture()
def slow_commit(db):
    """Hold a batch between its append and its schema commit:
    ``slow_commit(lines)`` runs ``insert_json`` in a thread, returns
    once the batch is written, and gives back a function that lets the
    commit finish."""
    import threading

    commit = db._commit_schema
    release = threading.Event()
    threads = []

    def hold(lines):
        entered = threading.Event()

        def held(*args):
            entered.set()
            release.wait(30)
            commit(*args)

        db._commit_schema = held
        t = threading.Thread(target=db.insert_json, args=(lines,))
        t.start()
        threads.append(t)
        assert entered.wait(30)

        def finish():
            release.set()
            t.join(30)
            assert not t.is_alive()

        return finish

    yield hold
    release.set()
    for t in threads:
        t.join(30)
        assert not t.is_alive()


def test_fetch_sees_only_committed_records(db, slow_commit):
    """FETCH over a batch that is written but not committed: ``latest``
    is the last committed record, a leftOff past it is out of range,
    and a forward page ends at it."""
    db.insert_json(['{"a":1}'])
    slow_commit(['{"a":2,"b":2}'])
    assert db._log.total_written == 2
    rows, frames = db.fetch_with_metadata("latest", -1, "", 10)
    assert rows == []
    assert frames[-1].left_off == index_to_id(0)
    with pytest.raises(IndexError):
        db.fetch_with_metadata(2, 1, "", 10)
    rows, frames = db.fetch_with_metadata(0, 1, "", 10)
    assert [seq for seq, _ in rows] == [0]
    assert frames[-1].no_more_data
    assert frames[-1].left_off == index_to_id(1)


def test_forward_fetch_does_not_page_past_a_new_key(db, slow_commit):
    """``b == 2`` compiled against the schema before the batch that
    adds ``b`` matches nothing; the page must end before that batch,
    so the next page from its ``leftOff`` finds the record."""
    db.insert_json(['{"a":1}'])
    finish = slow_commit(['{"a":2,"b":2}'])
    rows, frames = db.fetch_with_metadata(0, 1, "b == 2", 10)
    assert rows == []
    resume = int(frames[-1].left_off)
    assert resume <= 1
    finish()
    rows, _ = db.fetch_with_metadata(resume, 1, "b == 2", 10)
    assert [r.value for r in rows] == ['{"a":2,"b":2,"id":"%s"}' % index_to_id(1)]


def test_single_of_an_uncommitted_record_is_out_of_range(db, slow_commit):
    db.insert_json(['{"a":1}'])
    slow_commit(['{"a":2}'])
    server = BasenineServer(db).start()
    try:
        assert bn.single(server.host, server.port, 1) == "Index out of range: 1"
        assert bn.single(server.host, server.port, 0) == (
            '{"a":1,"id":"%s"}' % index_to_id(0)
        )
    finally:
        server.stop()


# -- the commit reader: one shared scan per commit ----------------------


class _Reader:
    """One QUERY connection whose raw wire lines a thread collects."""

    def __init__(self, server, query: str, left_off: str = ""):
        self.client = bn.BasenineClient(server.host, server.port, timeout=120)
        for line in ("/query", left_off, query):
            self.client.send_text(line)
        self.lines: list[str] = []
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self) -> None:
        while True:
            try:
                line = self.client._read_line()
            except (TimeoutError, OSError):
                return
            if line is None:
                return
            self.lines.append(line)

    def records(self) -> list[str]:
        return [x for x in self.lines if not x.startswith("/metadata ")]

    def close(self) -> None:
        try:
            self.client.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.client.close()
        self.thread.join(10)


def _doc(i: int) -> dict:
    return {"k": i, "s": "s%d" % i, "m": {"q": i % 3}}


def _stored(i: int, **override) -> str:
    return json.dumps(
        dict(_doc(i), **override, id=index_to_id(i)), separators=(",", ":")
    )


# name -> (BFL, predicate over _doc(i), the record the wire sends)
FOLLOWERS = {
    "slow": ("k > 2", lambda d: d["k"] > 2, _stored),
    "all": ("", lambda d: True, _stored),
    "typed": ("m.q == 1", lambda d: d["m"]["q"] == 1, _stored),
    "helper": (
        's.startsWith("s1")', lambda d: d["s"].startswith("s1"), _stored
    ),
    "redact": (
        'm.q != 1 and redact("s")',
        lambda d: d["m"]["q"] != 1,
        lambda i: _stored(i, s="[REDACTED]"),
    ),
}


def _insert(db, lo: int, hi: int) -> None:
    db.insert_json([json.dumps(_doc(i)) for i in range(lo, hi)])


def _follow_commits(db) -> dict[str, list[str]]:
    """Followers on every filter of ``FOLLOWERS`` over ten preloaded
    records, then five 4-record commits, each one polled by every
    follower before the next.  The ``slow`` follower's socket stalls
    after commit 1 and resumes after commit 4, so its next poll starts
    behind the frontier.  Returns each follower's wire lines."""
    _insert(db, 0, 10)
    polls = _count_polls(db)
    server = BasenineServer(db).start()
    readers = {}
    try:
        readers["slow"] = _Reader(server, FOLLOWERS["slow"][0])
        assert _wait_until(lambda: len(server._conns) == 1, 10)
        slow_conn = server._conns[0]
        for name, (query, _, _) in FOLLOWERS.items():
            if name != "slow":
                readers[name] = _Reader(server, query)
        assert _wait_until(lambda: len(polls) == 5, 60)
        gate = threading.Event()
        send = server._send

        def stalled(conn, text):
            if conn is slow_conn:
                assert gate.wait(60)
            return send(conn, text)

        server._send = stalled
        n = 10
        for commit, followers in enumerate((5, 4, 4, 4, 5), start=1):
            before = len(polls)
            _insert(db, n, n + 4)
            n += 4
            assert _wait_until(lambda: len(polls) == before + followers, 60)
            if commit == 4:
                gate.set()  # the slow socket drains; it catches up
                assert _wait_until(lambda: len(polls) == before + 5, 60)

        def expected(name):
            _, keep, wire = FOLLOWERS[name]
            return [wire(i) for i in range(n) if keep(_doc(i))]

        for name, reader in readers.items():
            assert _wait_until(
                lambda: len(reader.records()) >= len(expected(name)), 30
            ), name
        time.sleep(0.3)  # nothing more arrives
        for name, reader in readers.items():
            assert reader.records() == expected(name), name
        return {name: reader.lines for name, reader in readers.items()}
    finally:
        for reader in readers.values():
            reader.close()
        server.stop()


def test_followers_get_their_streams_from_the_commit_reader(spark, tmp_path):
    """Every follower gets exactly its oracle stream, and every wire line
    (records and ``/metadata`` frames) equals what per-follower scans
    send.  A follower behind the frontier takes no shared result: the
    slow follower's catch-up poll must read the commits it missed."""
    shared = BasenineDB(spark, path=str(tmp_path / "shared"))
    scans = []
    scan_commit = shared._scan_commit

    def counted(scan, *args):
        scans.append(scan.window)
        scan_commit(scan, *args)

    shared._scan_commit = counted
    got = _follow_commits(shared)
    # one shared scan per commit, each over that commit's records only
    assert scans == [(10 + 4 * c, 13 + 4 * c) for c in range(5)]

    alone = BasenineDB(spark, path=str(tmp_path / "alone"))
    alone._commit_records = lambda *args: None
    assert _follow_commits(alone) == got


def _marker_job(sc) -> int:
    """The id of one tiny job run now."""
    from basenine_spark.engine.db import job_group

    with job_group(sc, "test-marker", "marker"):
        sc.parallelize([0], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup("test-marker"))


@pytest.mark.parametrize("followers", [1, 8, 64])
def test_one_spark_job_per_commit(spark, db, followers):
    """However many compiled-filter followers there are, a commit that
    one file holds costs the commit reader no Spark job: it evaluates
    every filter on the driver.  That holds for a wire-written file and
    for one Spark wrote (a mixed-kind leaf), whose jobs are the
    write's."""
    assert not spark.streams.active  # every job in the window is ours
    sc = spark.sparkContext
    batch = ['{"k":%d}' % i for i in range(64)]
    db.insert_json(batch)
    polls = _count_polls(db)
    server = BasenineServer(db).start()
    readers = []

    def commit(lines) -> tuple[list, int]:
        """The commit-tagged jobs and all jobs of one commit."""
        before = _marker_job(sc)
        n0 = len(polls)
        db.insert_json(lines)
        assert _wait_until(lambda: len(polls) == n0 + followers, 60)
        after = _marker_job(sc)
        group = f"bn-commit-{db._commit_version}"
        tagged = [
            j
            for j in sc.statusTracker().getJobIdsForGroup(group)
            if before < j < after
        ]
        return tagged, after - before - 1

    try:
        start = _marker_job(sc)
        readers = [_Reader(server, f"k >= {i}") for i in range(followers)]
        assert _wait_until(lambda: len(polls) == followers, 120)
        # each first poll is its connection's own scan, in its job group
        first = _marker_job(sc)
        own = [
            j
            for cid in range(1, followers + 1)
            for j in sc.statusTracker().getJobIdsForGroup(f"bn-conn-{cid}")
            if start < j < first
        ]
        assert len(own) == first - start - 1 == followers
        for _ in range(3):
            assert commit(batch) == ([], 0)
        # Arrow refuses a number under a string leaf: Spark writes it
        tagged, jobs = commit(['{"k":100,"t":1}', '{"k":100,"t":"x"}'])
        assert tagged == [] and jobs >= 1
        assert _wait_until(
            lambda: all(
                len(r.records()) == 4 * (64 - i) + 2
                for i, r in enumerate(readers)
            ),
            60,
        )
    finally:
        for reader in readers:
            reader.close()
        server.stop()


def test_a_failing_filter_costs_only_its_follower(db, monkeypatch):
    """A filter that fails to compile in the shared scan is left out of
    it: its follower gets its own error, the others their records."""
    from basenine_spark.engine import db as db_module

    db.insert_json(['{"k":1}'])
    polls = _count_polls(db)
    server = BasenineServer(db).start()
    readers = {}
    try:
        for query in ("k >= 0", "", "k == 7"):
            readers[query] = _Reader(server, query)
        assert _wait_until(lambda: len(polls) == 3, 60)
        compile_filter = db_module.compile_filter

        def failing(q, schema):
            if q.text == "k == 7":
                raise RuntimeError("cannot compile")
            return compile_filter(q, schema)

        monkeypatch.setattr(db_module, "compile_filter", failing)
        # the new key changes the view schema, so the commit's scan
        # compiles every filter again
        db.insert_json(['{"k":7,"new":1}'])
        want = [
            '{"k":1,"id":"%s"}' % index_to_id(0),
            '{"k":7,"new":1,"id":"%s"}' % index_to_id(1),
        ]
        for query in ("k >= 0", ""):
            reader = readers[query]
            assert _wait_until(lambda: reader.records() == want, 30), query
        bad = readers["k == 7"]
        assert _wait_until(lambda: bad.records(), 30)
        assert bad.records() == ["Error: cannot compile"]
    finally:
        for reader in readers.values():
            reader.close()
        server.stop()


def test_case_colliding_keys_take_the_row_backend(db):
    """Keys that differ only in case (Spark resolves columns
    case-insensitively) no longer fail every filtered read: the row
    backend serves the filter, for QUERY, FETCH and followers."""
    db.insert_json(['{"b":3}'])
    server = BasenineServer(db).start()
    readers = {}
    try:
        for query in ("b == 3", ""):
            readers[query] = _Reader(server, query)
        db.insert_json(['{"a":1,"A":2}', '{"x":{"k":1,"K":2}}', '{"b":3}'])
        stored = [
            '{"b":3,"id":"%s"}' % index_to_id(0),
            '{"a":1,"A":2,"id":"%s"}' % index_to_id(1),
            '{"x":{"k":1,"K":2},"id":"%s"}' % index_to_id(2),
            '{"b":3,"id":"%s"}' % index_to_id(3),
        ]
        for query, seqs in (
            ("b == 3", [0, 3]),
            ("a == 1", [1]),
            ("A == 2", [1]),
            ("x.k == 1", [2]),
            ("x.K == 2", [2]),
            ('A == 2 and redact("a")', [1]),
        ):
            rows, _ = db.query_with_metadata(query)
            assert [r[0] for r in rows] == seqs, query
            rows, _ = db.fetch_with_metadata(0, 1, query, 10)
            assert [r[0] for r in rows] == seqs, query
        rows, _ = db.query_with_metadata('A == 2 and redact("a")')
        redacted = '{"a":"[REDACTED]","A":2,"id":"%s"}' % index_to_id(1)
        assert rows[0][1] == redacted
        want = {"b == 3": [stored[0], stored[3]], "": stored}
        for query, reader in readers.items():
            assert _wait_until(lambda: reader.records() == want[query], 30)
    finally:
        for reader in readers.values():
            reader.close()
        server.stop()


def test_query_parse_error_is_logged(db, caplog):
    """A QUERY whose filter does not parse is closed without a reply,
    as the reference does, and leaves a warning."""
    db.insert_json(['{"k":1}'])
    server = BasenineServer(db).start()
    try:
        with caplog.at_level(logging.WARNING, logger="basenine_spark.server"):
            with bn.BasenineClient(server.host, server.port, timeout=10) as c:
                assert list(c.query("", "k == == 1")) == []
        (record,) = [
            r for r in caplog.records if r.name == "basenine_spark.server"
        ]
        assert record.levelno == logging.WARNING
        assert "'k == == 1'" in record.getMessage()
    finally:
        server.stop()


def test_commit_reader_reads_only_the_commits_file(db, monkeypatch):
    """The shared scan of a commit reads the one file that commit
    wrote, on the driver: no Spark read, and no other file."""
    from basenine_spark.engine import db as db_module

    for i in range(5):
        db.insert_json(['{"k":%d}' % i])
    read = []
    read_columns = db_module._read_columns

    def spy(path, names):
        read.append(path)
        return read_columns(path, names)

    monkeypatch.setattr(db_module, "_read_columns", spy)
    db._records = db._log.read_pages = None  # neither may run
    with db.following("k >= 0"):
        db.insert_json(['{"k":9}'])
        rows, _ = db.query_with_metadata(
            "k >= 0", left_off=index_to_id(4), as_of=5
        )
        assert db._commit_scan.rows["k >= 0"] == rows
    assert [r.value for r in rows] == ['{"k":9,"id":"%s"}' % index_to_id(5)]
    assert read == [path for _, _, path in db._log.files(5, 5)]


def test_a_wire_commits_shared_read_opens_no_footer(db, monkeypatch):
    """The log indexes a wire commit's file from the batch it wrote, so
    the commit reader, unfiltered and filtered followers alike, finds
    the file without opening a footer."""
    from basenine_spark.engine import log as log_module

    for i in range(5):
        db.insert_json(['{"k":%d}' % i])
    db.query_with_metadata("")  # the five files are indexed
    opened = []
    read_metadata = log_module.pq.read_metadata

    def spy(path, *args, **kwargs):
        opened.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(log_module.pq, "read_metadata", spy)
    for texts in ([""], ["", "k >= 0"]):
        with db.following(texts[0]), db.following(texts[-1]):
            db.insert_json(['{"k":9}'])
            seq = db._committed_total - 1
            for text in texts:
                rows, _ = db.query_with_metadata(
                    text, left_off=index_to_id(seq - 1), as_of=seq
                )
                assert db._commit_scan.rows[text] == rows
                assert [r.seq for r in rows] == [seq]
    assert opened == []


def test_commit_reader_falls_back_when_its_file_is_gone(db):
    """When compaction has rewritten the commit's file, the shared scan
    reads the commit's range from the compacted file the index names."""
    import os

    for i in range(5):
        db.insert_json(['{"k":%d}' % i])
    with db.following("k >= 0"):
        db.insert_json(['{"k":9}'])
        ((_, _, path),) = db._log.files(5, 5)
        assert db.compact() == 1
        assert not os.path.exists(path)
        rows, _ = db.query_with_metadata(
            "k >= 0", left_off=index_to_id(4), as_of=5
        )
        assert db._commit_scan.rows["k >= 0"] == rows
    assert [r.value for r in rows] == ['{"k":9,"id":"%s"}' % index_to_id(5)]


def test_time_helpers_read_the_clock_of_each_request(db, monkeypatch):
    """``seconds(n)`` is folded at compile time, so every FETCH compiles
    again, and a commit's shared scan evaluates it on the driver with
    the same clock (``compiler.clock_ms``), read for that commit: an
    hour later the same filter no longer keeps a record a minute old."""
    from types import SimpleNamespace

    from basenine_spark.bfl import compiler

    clock = [1_700_000_000.0]
    # the one clock: what compiles fold and the commit reader passes
    monkeypatch.setattr(compiler, "_time", SimpleNamespace(time=lambda: clock[0]))
    db._spark_commit = None  # the commits below are decided on the driver
    recent = "timestamp > seconds(-60)"
    db.insert_json(['{"timestamp":%d}' % (clock[0] * 1000 - 30_000)])
    rows, _ = db.fetch_with_metadata(0, 1, recent, 10)
    assert [r[0] for r in rows] == [0]
    with db.following(recent):
        clock[0] += 3600
        rows, _ = db.fetch_with_metadata(0, 1, recent, 10)
        assert rows == []
        db.insert_json(['{"timestamp":%d}' % (clock[0] * 1000 - 90_000)])
        db.insert_json(['{"timestamp":%d}' % (clock[0] * 1000 - 30_000)])
        rows, _ = db.query_with_metadata(
            recent, left_off=index_to_id(1), as_of=2
        )
        assert db._commit_scan.rows[recent] == rows
    assert [r[0] for r in rows] == [2]


# -- the commit reader on the driver: the records Spark keeps -----------


def _both_ways(db, texts):
    """For the latest commit: the texts of ``texts`` a typed row can
    decide (:meth:`BasenineDB._row_equivalent`), and the records each of
    them keeps, decided on the driver and by the commit's Spark scan."""
    schema = db._view_schema()
    qs = [db._prepare(t) for t in texts]
    qs = [q for q in qs if db._row_equivalent(q, schema)]
    window = (db._commit_from, db._committed_total - 1)
    args = (qs, schema, db._log.files(*window), window)
    driver = db._eval_commit(*args)
    spark = db._spark_commit(*args, db._commit_version)
    return [q.text for q in qs], driver, spark


_CORPUS_QUERIES = sorted({re.sub(r"\bid\b", "rid", r[0]) for r in EVAL_ROWS})
_CORPUS_DOCS = sorted({r[1] for r in EVAL_ROWS})


@pytest.mark.parametrize("doc", _CORPUS_DOCS, ids=range(len(_CORPUS_DOCS)))
def test_driver_commit_matches_spark_on_the_corpus(db, doc):
    """Every golden-corpus query that compiles, over each corpus
    document's commit: the driver keeps what the Spark scan keeps.  The
    log injects ``id``, so a document's own ``id`` is ``rid``."""
    obj = {("rid" if k == "id" else k): v for k, v in json.loads(doc).items()}
    db.insert_json([json.dumps(obj)])
    texts, driver, spark = _both_ways(db, _CORPUS_QUERIES)
    assert texts and driver is not None
    assert dict(zip(texts, driver)) == dict(zip(texts, spark))


# keys absent in some documents, int → double widening, explicit nulls,
# nested structs and arrays, a >64-bit integer; the second batch adds
# keys
_MIXED = [
    [
        '{"a":1,"s":"x","n":{"p":1,"q":"z"},"arr":[1,2],'
        '"oa":[{"x":1},{"x":null}],"z":[[1],[2,3]]}',
        '{"a":2.5,"n":null,"arr":null,"z":[[],null]}',
        '{"s":null,"n":{"p":null},"arr":[],"oa":[null,{"x":3}],'
        '"big":12345678901234567890123}',
        '{"a":-3,"b":true,"arr2":[1,2],"j":"{\\"k\\":[1,2]}","big":5}',
        '{"b":false,"arr2":[],"oa":[],"e":{},"l":[]}',
        "{}",
    ],
    [
        '{"a":1000000,"c":{"d":{"e":5}},"arr":[3]}',
        '{"c":null,"new":"k","a":7}',
        '{"new":null,"b":null,"a":2}',
    ],
]
_MIXED_QUERIES = [
    "a > 1", "a < 1", "a == 1", "a == nil", "a != nil", "a", "!a",
    "a == 1000000", 'a == "1000000"', "a >= 2.5",
    "s == nil", "s != nil", 's == "x"', "s", 's.startsWith("x")',
    "n == nil", "n != nil", "n", "!n", "n.p == nil", "n.p == 1",
    "n.q == nil", "(n.p == nil) or a", "!(n.p == nil)",
    "arr == nil", "arr != nil", "arr", "arr == 1", "arr != 1", "arr > 1",
    "arr < 3", "arr[0] == 1", "arr[0] == nil", "arr[1] == nil",
    "arr.* == 2", "arr.* > 0", "arr.* != 2",
    "oa[0].x == 1", "oa[0].x == nil", "oa[0] == nil", "oa.*.x == nil",
    "oa.*.x > 2", "oa", "z[0] == 1", "z[1] == nil", "z.*.* == 3",
    "big > 1", "big == 12345678901234567890123", "big", "big == 5",
    "b", "b == true", "b == nil", "b != false", "!b",
    "c.d.e == 5", "c.d.e == nil", "c.d == nil", "c == nil",
    "new == nil", 'new == "k"', "e == nil", "l == nil",
    "j.json().k[0] == 1", "j.json().k == 2", "j.json() == nil",
    "rid == nil", "id == nil", "true", "false", "limit(3)", "a > 1 or b",
    "timestamp > seconds(-60)", "now() > 0",
]
# a typed row cannot stand in for these: Spark decides them
_SPARK_ONLY = [
    "n.* == 1", "n.* == nil", "arr == arr2", "arr > arr2", "arr2 <= arr",
    "arr.* == arr2.*", 's == r"x"', 's != r"^x$"',
]


def test_driver_commit_matches_spark_on_a_mixed_log(db):
    kept = []
    for batch in _MIXED:
        db.insert_json(batch)
        assert db._shred_ok
        texts, driver, spark = _both_ways(db, _MIXED_QUERIES + _SPARK_ONLY)
        assert texts == _MIXED_QUERIES
        assert driver is not None
        kept.append(dict(zip(texts, driver)))
        assert kept[-1] == dict(zip(texts, spark))
    # a decimal is a double to the compiled predicate and to the driver
    assert [r.seq for r in kept[0]["big > 1"]] == [2, 3]
    schema = db._view_schema()
    for text in _SPARK_ONLY:
        assert db._row_equivalent(db._prepare(text), schema) is False, text


# leaves that hold numbers, strings, objects, arrays, booleans and
# nulls: a string leaf in the batch schema, which Arrow refuses and
# Spark's from_json writes as each value's JSON text
_MIXED_KIND = [
    '{"v":1,"k":1}', '{"v":"s","k":2}', '{"v":{"a":1},"k":3}',
    '{"v":[1,2],"k":4}', '{"v":null,"k":5}', '{"v":true}', '{"v":1.5}',
    '{"v":"1","w":{"x":1}}', '{"w":{"x":"y"}}',
]
_MIXED_KIND_QUERIES = [
    'v == "1"', "v == 1", 'v == "s"', "v == nil", "v != nil", "v", "!v",
    'v.startsWith("{")', 'v == "true"', "v == true", 'v == "1.5"',
    "k > 2", "k == nil", 'w.x == "1"', "w.x == 1", "w.x == nil",
    'v == "[1,2]"', "true",
]


def test_driver_commit_matches_spark_on_a_spark_written_batch(db):
    """A batch with a mixed-kind leaf is written by Spark as one file;
    the commit reader decides it on the driver, over the JSON text
    Spark stored, and keeps what the commit's Spark scan keeps."""
    db.insert_json(['{"k":0}'])
    db.insert_json(_MIXED_KIND)
    window = (db._commit_from, db._committed_total - 1)
    ((_, _, path),) = db._log.files(*window)
    import pyarrow.parquet as pq

    assert pq.read_metadata(path).created_by.startswith("parquet-mr")
    texts, driver, spark = _both_ways(db, _MIXED_KIND_QUERIES)
    assert texts == _MIXED_KIND_QUERIES
    assert driver is not None
    assert dict(zip(texts, driver)) == dict(zip(texts, spark))
    assert [r.seq for r in dict(zip(texts, driver))['v == "s"']] == [2]


def test_non_finite_doubles_take_the_spark_scan(db):
    """Spark orders NaN above every number and counts it as positive;
    pyeval does not.  A commit file holding a NaN or an infinity is
    decided by the Spark scan, and its followers get Spark's records."""
    db.insert_json(['{"x":0.5}'])
    db.insert_json(['{"x":NaN}', '{"x":2.0}', '{"x":-Infinity}'])
    texts, driver, spark = _both_ways(db, ["x > 1", "x", "x < 0"])
    assert driver is None
    seqs = {t: [r.seq for r in rows] for t, rows in zip(texts, spark)}
    assert seqs == {"x > 1": [1, 2], "x": [1, 2], "x < 0": [3]}
    with db.following("x > 1"), db.following("x < 0"):
        db.insert_json(['{"x":Infinity}', '{"x":3.0}'])
        rows, _ = db.query_with_metadata(
            "x > 1", left_off=index_to_id(3), as_of=5
        )
    assert [r.seq for r in rows] == [4, 5]


def test_regex_filters_take_the_spark_scan(db):
    """A regex is matched by Java's ``rlike`` in a compiled predicate
    and by Python's ``re`` in pyeval, which differ: ``\\p{L}`` is Java
    only, and ``.`` matches ``\\r`` in Python only.  The compiler flags a
    regex match, and the commit's Spark scan decides it."""
    db.insert_json(['{"s":"a\\rb"}', '{"s":"\\u00e9"}', '{"s":"1"}'])
    schema = db._view_schema()
    qs = [
        db._prepare(t)
        for t in ('s == r"a.b"', 's != r"a.b"', r's == r"\\p{L}+"')
    ]
    assert [db._row_equivalent(q, schema) for q in qs] == [False] * 3
    window = (db._commit_from, db._committed_total - 1)
    files = db._log.files(*window)
    assert db._eval_commit(qs, schema, files, window) is None
    kept = db._spark_commit(qs, schema, files, window, db._commit_version)
    assert [[r.seq for r in rows] for rows in kept] == [[], [0, 1, 2], [0, 1]]


def test_an_evaluation_error_takes_the_spark_scan(db, monkeypatch):
    """A filter pyeval fails to evaluate sends the commit to its one
    Spark scan; no follower is left to read alone."""
    from basenine_spark.engine import db as db_module

    db.insert_json(['{"k":1}', '{"k":5}'])
    eval_doc = db_module.eval_doc

    def failing(q, row, now_ms):
        if q.text == "k > 2":
            raise RuntimeError("cannot evaluate")
        return eval_doc(q, row, now_ms)

    monkeypatch.setattr(db_module, "eval_doc", failing)
    scan = db_module._CommitScan((db._commit_from, db._committed_total - 1))
    db._scan_commit(scan, ["k > 2", "k >= 0"], db._commit_version)
    seqs = {t: [r.seq for r in rows] for t, rows in scan.rows.items()}
    assert seqs == {"k > 2": [1], "k >= 0": [0, 1]}


def test_a_wire_insert_line_is_parsed_once(db, monkeypatch):
    """The server parses each INSERT line for its object check and hands
    the db the parsed objects; ``insert_json`` takes them as they are."""
    got = []
    insert = db.insert_json

    def spy(lines):
        got.extend(lines)
        return insert(lines)

    db.insert_json = spy
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port) as c:
            c.insert(['{"k":1}', '{"k":2,"s":"x"}'])
        assert _wait_until(lambda: db._committed_total == 2, 30)
    finally:
        server.stop()
    assert got == [
        {"k": 1, "id": index_to_id(0)},
        {"k": 2, "s": "x", "id": index_to_id(1)},
    ]
    rows, _ = db.query_with_metadata("")
    assert [r.value for r in rows] == [
        '{"k":1,"id":"%s"}' % index_to_id(0),
        '{"k":2,"s":"x","id":"%s"}' % index_to_id(1),
    ]
