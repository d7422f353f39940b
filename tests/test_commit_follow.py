"""Commit-driven QUERY follow: a follower sleeps until the db publishes
a committed batch (written, and its keys merged into the typed schema),
then scans only up to the committed total — no poll while idle, no
read of a batch whose schema is not merged yet."""

import time

import pytest

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
    """Wrap the db instance's ``query_with_metadata``; the returned list
    gets the ``as_of`` of each finished call."""
    calls = []
    poll = db.query_with_metadata

    def counted(*args, **kwargs):
        result = poll(*args, **kwargs)
        calls.append(kwargs.get("as_of"))
        return result

    db.query_with_metadata = counted
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
    commit, poll = db._commit_schema, db.query_with_metadata
    slow_commits, polls = [], []

    def slow_commit(*args):
        if slow_commits:
            time.sleep(3.0)
        commit(*args)

    def slow_poll(*args, **kwargs):
        if polls:
            time.sleep(1.5)  # the next batch appends meanwhile
        polls.append(kwargs.get("as_of"))
        return poll(*args, **kwargs)

    db._commit_schema = slow_commit
    db.query_with_metadata = slow_poll
    server = BasenineServer(db).start()
    try:
        with bn.BasenineClient(server.host, server.port, timeout=10) as c:
            frames = c.query("", "a == 2 or b == 2")
            assert _wait_until(lambda: polls, 30)
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
