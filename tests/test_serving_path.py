"""The durable serving path: QUERY, FETCH and SINGLE send each record's
stored document (a redact rewrites only the redacted leaves), a QUERY
poll is one unsorted Spark job, and replies are written in ~64 KiB
chunks with the same bytes on the wire."""

import json
import re
import socket
import time

import pytest

from basenine_spark import client as bn
from pyspark.sql.classic import dataframe as classic_df

from basenine_spark.engine.db import BasenineDB, Metadata, index_to_id
from basenine_spark.server import SEND_CHUNK_BYTES, BasenineServer


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
    server = BasenineServer(db).start()
    yield db, server
    server.stop()


def test_wire_sends_stored_bytes(widened):
    db, server = widened
    stored = _stored_values(db)
    # the stored log keeps the null and the unwidened integer ...
    assert stored[index_to_id(0)] == '{"a":null,"n":1,"s":"x","id":"%s"}' % index_to_id(0)
    # ... which the typed view loses (n widened to 1.0)
    typed = db.query("").collect()
    assert typed[0].asDict() == {"a": None, "id": index_to_id(0), "n": 1.0, "s": "x"}

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


def test_redact_serves_the_stored_object(widened):
    """A redact query sends the stored document with only the redacted
    leaves replaced: key order, the explicit null and the unwidened
    integer stay."""
    db, server = widened
    (rec,) = _query_records(server, "", 'redact("s") and n == 2', 1)
    assert rec == '{"n":2,"s":"[REDACTED]","id":"%s"}' % index_to_id(1)
    records, _, _ = bn.fetch(server.host, server.port, "0", 1, 'redact("s")', 1)
    assert records == ['{"a":null,"n":1,"s":"[REDACTED]","id":"%s"}' % index_to_id(0)]
    line = bn.single(server.host, server.port, 2, 'redact("s")')
    assert line == '{"n":1.5,"s":"[REDACTED]","id":"%s"}' % index_to_id(2)


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
    assert [seq for seq, _ in rows] == list(range(3, 39))
    assert [json.loads(v) for _, v in rows] == [
        t.asDict(recursive=True) for t in typed
    ]


def test_plumbing_names_avoid_document_keys(spark, tmp_path):
    """Document keys named like the plumbing columns (in any case) do
    not turn the compiled path off: the filter reads the document's
    own key and the record is served from its stored bytes."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"__bn_value__":"v","__BN_SEQ__":7,"n":1}', '{"n":2}'])
    stored = _stored_values(db)
    for query in ("n == 1", '__bn_value__ == "v"', "__BN_SEQ__ == 7"):
        rows, frames = db.query_with_metadata(query)
        assert rows == [(0, stored[index_to_id(0)])], query
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
    """The executed plan of the one collect a poll runs."""
    plans = []
    collect = classic_df.DataFrame.collect

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    classic_df.DataFrame.collect = spy
    try:
        db.query_with_metadata(query, left_off=left_off)
    finally:
        classic_df.DataFrame.collect = collect
    (plan,) = plans
    return plan


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
    assert [seq for seq, _ in rows] == [s for s in range(100, 300) if s % 5 >= 3]
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
    assert [seq for seq, _ in rows] == [s for s in range(300) if s % 5 >= 3][:7]


def test_poll_reads_seq_value_and_predicate_columns(polled, monkeypatch):
    plan = _plan(polled, "status >= 500", index_to_id(10))
    (read_schema,) = re.findall(r"ReadSchema: (struct<.*?>)(?:\s|,|$)", plan)
    fields = re.findall(r"(\w+):", read_schema)
    assert fields == ["seq", "value", "doc", "status"], read_schema
    # the unfiltered poll reads the files on the driver: seq and value
    import pyarrow.parquet as pq

    asked = []
    read = pq.ParquetFile.read

    def spy(self, columns=None, **kwargs):
        asked.append(columns)
        return read(self, columns=columns, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read", spy)
    rows, _ = polled.query_with_metadata("", left_off=0)
    assert len(rows) == 300
    assert asked and all(c == ["seq", "value"] for c in asked), asked


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
    server = BasenineServer(db).start()
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


# -- every path serves the stored bytes ------------------------------------

PROBES = ['{"z":1,"a":null,"s":"secret"}', '{"b":2,"s":"x","m":{"q":1}}']


def _wire_all(server, query: str, n: int) -> tuple[list, list, list]:
    """``(QUERY records, FETCH records, SINGLE lines)`` for records
    ``0..n-1`` over the wire."""
    got = _query_records(server, "", query, n) if n else []
    fetched, _, _ = bn.fetch(server.host, server.port, "0", 1, query, 10)
    single = [bn.single(server.host, server.port, i, query) for i in range(2)]
    return got, fetched, single


def test_motivation_probes_are_byte_exact(spark, tmp_path):
    """Unfiltered, compiled and redact queries over a document with an
    explicit null and one with a nested object: every reply is the
    stored document, with only the redacted leaves replaced."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(PROBES)
    stored = [_stored_values(db)[index_to_id(i)] for i in range(2)]
    assert stored == [p[:-1] + ',"id":"%s"}' % index_to_id(i) for i, p in enumerate(PROBES)]
    server = BasenineServer(db).start()
    try:
        assert _wire_all(server, "", 2) == (stored, stored, stored)
        assert _wire_all(server, 's == "x"', 1) == ([stored[1]], [stored[1]], stored)
        red = [
            '{"z":1,"a":null,"s":"[REDACTED]","id":"%s"}' % index_to_id(0),
            '{"b":2,"s":"[REDACTED]","m":{"q":1},"id":"%s"}' % index_to_id(1),
        ]
        assert _wire_all(server, 'redact("s")', 2) == (red, red, red)
        # SINGLE answers whatever the truth: record 0 has no m.q, so the
        # and-chain collapses before its redact runs
        red_m = '{"b":2,"s":"x","m":"[REDACTED]","id":"%s"}' % index_to_id(1)
        assert _wire_all(server, 'm.q == 1 and redact("m")', 1) == (
            [red_m], [red_m], [stored[0], red_m]
        )
    finally:
        server.stop()


def test_row_backend_keeps_non_ascii_bytes(spark, tmp_path, monkeypatch):
    """A query the typed columns cannot run (recursive descent, redact)
    goes through the row backend, which sends the stored bytes — the
    log stores non-ASCII characters as ``\\u`` escapes — and encodes a
    redacted document the same way."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"who":{"name":"Zoë","n":1},"city":"東京"}'])
    (stored,) = _stored_values(db).values()
    assert stored == (
        '{"who":{"name":"Zo\\u00eb","n":1},"city":"\\u6771\\u4eac","id":"%s"}'
        % index_to_id(0)
    )
    calls = []
    eval_rows = BasenineDB._eval_rows

    def counted(self, rows, q, limit=0):
        calls.append(q.text)
        return eval_rows(self, rows, q, limit)

    monkeypatch.setattr(BasenineDB, "_eval_rows", counted)
    redacted = stored.replace('"Zo\\u00eb"', '"[REDACTED]"')
    for query, want in (("who..n == 1", stored), ('redact("who.name")', redacted)):
        rows, _ = db.query_with_metadata(query)
        assert rows == [(0, want)], query
        rows, _ = db.fetch_with_metadata(0, 1, query, 5)
        assert rows == [(0, want)], query
        assert db.single_json(index_to_id(0), query) == (0, want)
    # QUERY and FETCH of each query
    assert calls == ["who..n == 1"] * 2 + ['redact("who.name")'] * 2


def test_unfiltered_reads_survive_a_key_case_collision(spark, tmp_path):
    """Keys that collide case-insensitively (``a``/``A``) break the typed
    view, which an unfiltered read never builds."""
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"a":1,"A":2}', '{"b":3}'])
    stored = [_stored_values(db)[index_to_id(i)] for i in range(2)]
    server = BasenineServer(db).start()
    try:
        assert _wire_all(server, "", 2) == (stored, stored, stored)
    finally:
        server.stop()


def test_server_refuses_a_mounted_db(spark):
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    mounted = BasenineDB.from_dataframe(spark, df, id_col="id")
    with pytest.raises(ValueError, match="mounted"):
        BasenineServer(mounted)
    with pytest.raises(ValueError, match="mounted"):
        mounted.query_with_metadata("")
    # the typed API still reads it
    assert [r.v for r in mounted.query("").collect()] == ["x"]
