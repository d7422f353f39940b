"""The durable serving path: QUERY, FETCH and SINGLE send each record's
stored document, a QUERY poll is one unsorted Spark job, and replies
are written in ~64 KiB chunks with the same bytes on the wire."""

import json
import re
import socket
import time

import pytest

from basenine_spark import client as bn
from basenine_spark.engine.db import BasenineDB, Metadata, StoredDoc, index_to_id
from basenine_spark.server import SEND_CHUNK_BYTES, BasenineServer, row_to_doc


def _stored_values(db) -> dict[str, str]:
    rows = db._log.scan().select("id", "value").collect()
    return {r["id"]: r["value"] for r in rows}


def _query_records(server, left_off: str, query: str, n: int) -> list[str]:
    out = []
    with bn.BasenineClient(server.host, server.port) as c:
        for frame in c.query(left_off, query):
            if frame.record is not None:
                out.append(frame.record)
                if len(out) == n:
                    break
    return out


# -- fidelity ----------------------------------------------------------


@pytest.fixture()
def widened(spark, tmp_path):
    """An explicit null leaf, then a later batch widening ``n``."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"a":null,"n":1,"s":"x"}', '{"n":2,"s":"y"}'])
    db.insert_json(['{"n":1.5,"s":"z"}'])
    server = BasenineServer(db, poll_interval=0.05).start()
    yield db, server
    server.stop()


def test_wire_sends_stored_bytes(widened):
    db, server = widened
    stored = _stored_values(db)
    # the stored log keeps the null and the unwidened integer ...
    assert stored[index_to_id(0)] == '{"a":null,"n":1,"s":"x","id":"%s"}' % index_to_id(0)
    # ... which the typed view loses (a dropped, n widened to 1.0)
    typed = db.query("").collect()
    assert json.loads(row_to_doc(typed[0])) == {"n": 1.0, "s": "x", "id": index_to_id(0)}

    for query in ("", "n > 0", 's != "nope"'):
        got = _query_records(server, "", query, 3)
        assert got == [stored[index_to_id(i)] for i in range(3)], query

    records, _, _ = bn.fetch(server.host, server.port, "0", 1, "n > 0", 10)
    assert records == [stored[index_to_id(i)] for i in range(3)]
    records, _, _ = bn.fetch(server.host, server.port, "latest", -1, "", 10)
    assert records == [stored[index_to_id(i)] for i in (1, 0)]

    for i in range(3):
        assert bn.single(server.host, server.port, i) == stored[index_to_id(i)]
        assert bn.single(server.host, server.port, i, "n > 100") == stored[index_to_id(i)]
    # db.single() still returns the typed record as a dict
    assert db.single(index_to_id(0))["n"] == 1.0


def test_redact_keeps_the_typed_fallback(widened):
    _, server = widened
    (rec,) = _query_records(server, "", 'redact("s") and n == 2', 1)
    assert json.loads(rec) == {"n": 2.0, "s": "[REDACTED]", "id": index_to_id(1)}
    line = bn.single(server.host, server.port, 2, 'redact("s")')
    assert json.loads(line) == {"n": 1.5, "s": "[REDACTED]", "id": index_to_id(2)}


def test_stored_docs_parse_equal_to_typed_rows(spark, tmp_path):
    # with one JSON type per leaf and no nulls the two paths agree
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    docs = [
        json.dumps({"k": i, "t": {"u": "v%d" % i, "w": [i, i + 1]}, "f": i / 4})
        for i in range(1, 40)
    ]
    db.insert_json(docs)
    rows, _ = db.query_with_metadata("k > 3")
    typed = db.query("k > 3").collect()
    assert all(type(r) is StoredDoc for r in rows)
    assert [json.loads(r.value) for r in rows] == [
        json.loads(row_to_doc(t)) for t in typed
    ]


def test_plumbing_name_collision_falls_back(spark, tmp_path):
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"__bn_value__":"v","n":1}'])
    rows, frames = db.query_with_metadata("n == 1")
    assert type(rows[0]) is not StoredDoc
    assert json.loads(row_to_doc(rows[0])) == {
        "__bn_value__": "v", "n": 1, "id": index_to_id(0)
    }
    assert frames[0].left_off == index_to_id(0)


# -- plan and job shape of a poll ---------------------------------------


@pytest.fixture(scope="module")
def polled(spark, tmp_path_factory):
    db = BasenineDB(spark, path=str(tmp_path_factory.mktemp("poll") / "store"))
    for b in range(3):
        db.insert_json(
            [
                json.dumps({"status": 200 + (i % 5) * 100, "path": "/p%d" % i, "ms": i})
                for i in range(b * 100, b * 100 + 100)
            ]
        )
    return db


def _plan(db, query: str, left_off) -> str:
    df, stored, _ = db._served_frame(db._prepare(query), left_off)
    assert stored
    return df._jdf.queryExecution().executedPlan().toString()


def test_unbounded_poll_runs_one_job(spark, polled):
    sc = spark.sparkContext
    sc.setJobGroup("bn-serving-poll", "one follower poll")
    try:
        rows, frames = polled.query_with_metadata(
            "status >= 500", left_off=index_to_id(99)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bn-serving-poll")) == 1
    assert [int(r.id) for r in rows] == [s for s in range(100, 300) if s % 5 >= 3]
    assert [f.number_of_written for f in frames] == list(range(1, len(rows) + 1))


def test_unbounded_poll_plan_has_no_sort(polled):
    plan = _plan(polled, "status >= 500", index_to_id(150))
    assert "rangepartitioning" not in plan
    assert "Exchange" not in plan
    assert not re.search(r"\bSort\b", plan), plan


def test_limit_poll_plans_take_ordered(polled):
    plan = _plan(polled, "status >= 500 and limit(7)", 0)
    assert "TakeOrderedAndProject" in plan, plan
    rows, _ = polled.query_with_metadata("status >= 500 and limit(7)")
    assert [r.id for r in rows] == [
        index_to_id(s) for s in range(300) if s % 5 >= 3
    ][:7]


def test_poll_reads_seq_value_and_predicate_columns(polled):
    plan = _plan(polled, "status >= 500", index_to_id(10))
    (read_schema,) = re.findall(r"ReadSchema: (struct<.*?>)(?:\s|,|$)", plan)
    fields = re.findall(r"(\w+):", read_schema)
    assert fields == ["seq", "value", "doc", "status"], read_schema
    plan = _plan(polled, "", 0)
    assert re.findall(r"ReadSchema: (\S+)", plan) == ["struct<seq:bigint,value:string>"]


# -- chunked writes -------------------------------------------------------


def test_metadata_to_json_is_json_dumps():
    for m in (
        Metadata(),
        Metadata(3, 100, 7, index_to_id(41), 1_700_000_000_001, True),
        Metadata(1, 2, 1, 'natural "id" é\n', 0, False),
    ):
        assert m.to_json() == json.dumps(
            {
                "current": m.current,
                "total": m.total,
                "numberOfWritten": m.number_of_written,
                "leftOff": m.left_off,
                "truncatedTimestamp": m.truncated_timestamp,
                "noMoreData": m.no_more_data,
            }
        )


PAD = "x" * 900  # ~1 KiB per document: ~60 record/frame pairs per chunk


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    db = BasenineDB(spark, path=str(tmp_path_factory.mktemp("big") / "store"))
    db.insert_json([json.dumps({"i": i, "pad": PAD}) for i in range(3000)])
    server = BasenineServer(db, poll_interval=0.05).start()
    yield db, server
    server.stop()


def _raw_query(
    server, query: str, left_off: str = "", rcvbuf: int = 0
) -> socket.socket:
    sock = socket.socket()
    if rcvbuf:
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, rcvbuf)
    sock.settimeout(30)
    sock.connect((server.host, server.port))
    sock.sendall(f"/query\n{left_off}\n{query}\n".encode())
    return sock


def _read_lines(sock, n: int, quiet: float = 0.0) -> list[str]:
    """``n`` lines, then assert nothing else arrives for ``quiet`` s."""
    buf = b""
    while buf.count(b"\n") < n:
        chunk = sock.recv(1 << 16)
        assert chunk, "server closed early"
        buf += chunk
    lines = buf.split(b"\n")
    if quiet:
        sock.settimeout(quiet)
        try:
            extra = sock.recv(1 << 16)
        except socket.timeout:
            extra = b""
        assert lines[n] == b"" and extra == b"", "more than expected"
    return [x.decode() for x in lines[:n]]


def test_chunked_replay_keeps_the_wire_stream(big):
    _, server = big
    n = 3000
    assert n * len(PAD) > 8 * SEND_CHUNK_BYTES
    sock = _raw_query(server, "")
    try:
        lines = _read_lines(sock, 2 * n, quiet=0.3)
    finally:
        sock.close()
    for k in range(n):
        rec, meta = lines[2 * k], lines[2 * k + 1]
        assert json.loads(rec)["id"] == index_to_id(k)
        assert meta.startswith("/metadata {")
        md = json.loads(meta[len("/metadata ") :])
        assert md["numberOfWritten"] == k + 1
        assert md["leftOff"] == index_to_id(k + 1)  # compat index + 1
        assert md["current"] == 1


@pytest.mark.parametrize("limit", [1, 97, 1001])
def test_limit_stops_inside_a_chunk(big, limit):
    _, server = big
    sock = _raw_query(server, f"i >= 0 and limit({limit})", left_off="5")
    try:
        lines = _read_lines(sock, 2 * limit, quiet=0.5)
    finally:
        sock.close()
    ids = [json.loads(x)["id"] for x in lines[0::2]]
    assert ids == [index_to_id(6 + k) for k in range(limit)]
    assert json.loads(lines[-1][len("/metadata ") :])["numberOfWritten"] == limit


def test_client_hangup_mid_replay_ends_the_handler(big):
    _, server = big
    # a small receive window keeps the server blocked inside the replay
    sock = _raw_query(server, "", rcvbuf=4096)
    assert _read_lines(sock, 4)[0].startswith("{")
    sock.close()
    deadline = time.time() + 30
    while time.time() < deadline and any(t.is_alive() for t in server._threads):
        time.sleep(0.05)
    assert not any(t.is_alive() for t in server._threads)
