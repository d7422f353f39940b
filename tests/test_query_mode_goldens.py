"""QUERY-mode golden table ported from server_test.go:123-206: 100
identical inserts, then (query, limit, leftOff) combinations with
expected streamed ids and rewritten documents."""

import json

import pytest

from basenine_spark.engine.db import BasenineDB, index_to_id

PAYLOAD = '{"brand":{"name":"Chevrolet"},"model":"Camaro","year":2021}'

# (query, expected_count, left_off) — server_test.go:123-132.  With
# leftOff=60 the reference streams records 61..99 (39 records).
CASES = [
    ('brand.name == "Chevrolet"', 100, 0),
    ('brand.name == "Chevrolet" and limit(10)', 10, 0),
    ('limit(10) and brand.name == "Chevrolet"', 10, 0),  # position-independent
    ('brand.name == "Chevrolet"', 39, 60),
]


@pytest.fixture(scope="module")
def db100(spark, tmp_path_factory):
    db = BasenineDB(spark, path=str(tmp_path_factory.mktemp("qm") / "store"))
    db.insert_json([PAYLOAD] * 100)
    return db


@pytest.mark.parametrize("query,expected,left_off", CASES)
def test_query_mode_golden(db100, query, expected, left_off):
    rows = db100.query(query, left_off=left_off).collect()
    assert len(rows) == expected
    start = left_off + 1 if left_off else 0
    for i, r in enumerate(rows):
        doc = r.asDict(recursive=True)
        # id injected into the document (native.go:302-311), order is
        # insertion order (native.go:432)
        assert doc["id"] == index_to_id(start + i)
        assert doc["brand"]["name"] == "Chevrolet"
        assert doc["model"] == "Camaro"
        assert doc["year"] == 2021


def test_single_mode_golden(db100):
    # server_test.go:208-265: /single by index
    rec = db100.single(index_to_id(42))
    assert rec["id"] == index_to_id(42)
    assert rec["model"] == "Camaro"
    assert db100.single(index_to_id(4242)) is None  # "Record does not exist!"


# (leftOff, direction, limit, expected_count) — server_test.go:403-418.
# Forward pages include leftOff; backward pages start just before it.
FETCH_CASES = [
    (0, 1, 5, 5),
    (13, 1, 5, 5),
    (13, 1, 200, 87),
    (93, 1, 20, 7),
    (99, -1, 5, 5),
    (13, -1, 5, 5),
    (13, -1, 200, 13),
    (93, -1, 20, 20),
]


@pytest.mark.parametrize("left_off,direction,limit,expected", FETCH_CASES)
def test_fetch_mode_golden(db100, left_off, direction, limit, expected):
    rows = db100.fetch(
        index_to_id(left_off), direction, 'brand.name == "Chevrolet"', limit
    ).collect()
    assert len(rows) == expected
    start = left_off if direction > 0 else left_off - 1
    for i, r in enumerate(rows):
        doc = r.asDict(recursive=True)
        assert doc["id"] == index_to_id(start + i * direction)


def test_metadata_frame_golden(db100):
    """Metadata frame wire-shape parity (structs.go:75-82,
    client_test.go:150-168): exact key set and casing."""
    md = db100.metadata(written=5, queried=7)
    frame = json.loads(md.to_json())
    assert set(frame) == {
        "current", "total", "numberOfWritten", "leftOff",
        "truncatedTimestamp", "noMoreData",
    }
    assert frame["total"] == 100
    assert frame["numberOfWritten"] == 5
    assert frame["current"] == 7
    assert frame["leftOff"] == index_to_id(99)
    assert frame["truncatedTimestamp"] == 0
    assert frame["noMoreData"] is False


# -- fetch metadata frames + special leftOff (VERDICT r2 #4) ----------------


def test_fetch_latest_left_off(db100):
    # handleSpecialLeftOff in FETCH mode (native.go:627-631): "latest"
    # resolves to the last record, increment 0 — backward page starts
    # just before it
    rows = db100.fetch("latest", -1, "", 5).collect()
    assert [r["id"] for r in rows] == [index_to_id(i) for i in (98, 97, 96, 95, 94)]
    rows = db100.fetch("latest", 1, "", 5).collect()
    assert [r["id"] for r in rows] == [index_to_id(99)]


def test_fetch_out_of_range(db100):
    with pytest.raises(IndexError):
        db100.fetch(index_to_id(101), 1, "", 5)


def test_fetch_metadata_limit_hit(db100):
    # backward from 13, limit 5: candidates 12..8, every one matches —
    # reference frame fields per candidate (native.go:780-812)
    rows, frames = db100.fetch_with_metadata(index_to_id(13), -1, "", 5)
    assert len(rows) == len(frames) == 5
    for i, (r, f) in enumerate(zip(rows, frames)):
        seq = 12 - i
        assert r[0] == seq
        assert f.current == 13 - seq  # candidates scanned so far
        assert f.left_off == index_to_id(seq)  # running resume token
        assert f.number_of_written == i
        assert f.total == 100
        assert f.no_more_data is False  # limit hit before range end


def test_fetch_metadata_no_more_data_on_delivered_tail(db100):
    # forward from 93, limit 20: 7 matching candidates, the last is
    # record 99 == end of range → its own frame carries noMoreData
    rows, frames = db100.fetch_with_metadata(
        index_to_id(93), 1, 'brand.name == "Chevrolet"', 20
    )
    assert len(rows) == len(frames) == 7
    assert [f.no_more_data for f in frames] == [False] * 6 + [True]
    assert frames[-1].left_off == index_to_id(100)  # seq 99 + 1
    assert frames[-1].current == 7


def test_fetch_metadata_trailing_frame_when_nothing_matches(db100):
    rows, frames = db100.fetch_with_metadata(
        index_to_id(90), 1, 'model == "nope"', 5
    )
    assert rows == []
    assert len(frames) == 1  # record-less final frame: scan exhausted
    assert frames[0].no_more_data is True
    assert frames[0].current == 10  # candidates 90..99 all scanned
    assert frames[0].left_off == index_to_id(100)


def test_query_metadata_frames(db100):
    # per-record frames (native.go:488-511): current counts candidates
    # scanned since the previous delivered record, leftOff is the
    # delivered record's id, numberOfWritten the running count
    rows, frames = db100.query_with_metadata('year == 2021', left_off=13)
    assert len(rows) == len(frames) == 86  # records 14..99
    assert frames[0].current == 1  # record 14 is the first candidate
    assert all(f.current == 1 for f in frames)  # every candidate matches
    assert [f.number_of_written for f in frames[:3]] == [1, 2, 3]
    assert frames[0].left_off == index_to_id(14)
    assert frames[-1].left_off == index_to_id(99)
    assert frames[0].total == 100


def test_query_metadata_sparse_matches(db100):
    # a selective filter: current reflects the scan gap between matches
    rows, frames = db100.query_with_metadata("limit(2)", left_off=0)
    assert len(rows) == 2
    assert [f.left_off for f in frames] == [index_to_id(0), index_to_id(1)]


def test_single_prunes_by_seq(db100):
    # durable /single: the plan must carry a physical seq point
    # predicate (row-group pruning), not just a derived-id filter
    df = db100._typed_view(min_seq=42, max_seq=42)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "seq" in plan
    import re as _re

    m = _re.search(r"PushedFilters: \[(.*?)\]", plan, _re.S)
    assert m and "GreaterThanOrEqual(seq,42)" in m.group(1), plan
    # and the public API returns the right record on that path
    rec = db100.single(index_to_id(42))
    assert rec["id"] == index_to_id(42)
    assert db100.single("not-an-id") is None
