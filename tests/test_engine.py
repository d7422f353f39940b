"""Engine behavior tests — modeled on the reference's protocol e2e suite
(``/root/reference/server/server_test.go``): insert → query/fetch/single
round-trips, insertion filter with redact, macros, validate, flush/reset.
"""

import json

import pytest

from basenine_spark.engine import BasenineDB, index_to_id


@pytest.fixture()
def db(spark):
    db = BasenineDB(spark)
    lines = [
        json.dumps({"brand": {"name": "Chevrolet"}, "model": f"m{i}", "year": 2000 + i})
        for i in range(20)
    ]
    db.insert_json(lines)
    return db


def test_insert_assigns_contiguous_ids(db):
    rows = db.query("").collect()
    assert len(rows) == 20
    assert [r["id"] for r in rows] == [index_to_id(i) for i in range(20)]


def test_insert_rejects_non_json(db):
    with pytest.raises(ValueError):
        db.insert_json(["hello world"])  # server_test.go:30-32


def test_query_filter_and_limit(db):
    rows = db.query("year > 2015 and limit(2)").collect()
    assert [r["year"] for r in rows] == [2016, 2017]


def test_query_left_off(db):
    rows = db.query("", left_off=index_to_id(16)).collect()
    assert [r["year"] for r in rows] == [2017, 2018, 2019]


def test_query_left_off_latest(db):
    rows = db.query("", left_off="latest").collect()
    assert len(rows) == 1 and rows[0]["year"] == 2019


def test_fetch_backward(db):
    rows = db.fetch(index_to_id(10), -1, "", 3).collect()
    assert [r["year"] for r in rows] == [2009, 2008, 2007]


def test_fetch_forward_filtered(db):
    rows = db.fetch(index_to_id(5), 1, "year >= 2010", 4).collect()
    assert [r["year"] for r in rows] == [2010, 2011, 2012, 2013]


def test_single(db):
    doc = db.single(index_to_id(7))
    assert doc["year"] == 2007
    assert db.single(index_to_id(999)) is None  # "Record does not exist!"


def test_single_with_redact(db):
    doc = db.single(index_to_id(7), 'redact("model")')
    assert doc["model"] == "[REDACTED]"
    assert doc["year"] == 2007


def test_query_redact_schema_static(db):
    # schema-static path → compiled withField projection (no Python
    # stage); the exact row backend keeps only dynamic forms
    rows = db.query('year == 2003 and redact("brand.name")').collect()
    assert len(rows) == 1
    doc = rows[0].asDict(recursive=True)
    assert doc["brand"]["name"] == "[REDACTED]"
    assert doc["model"] == "m3"


def test_macro(db):
    db.add_macro("chevy", 'brand.name == "Chevrolet"')
    assert db.query("chevy and year == 2001").count() == 1
    ok, msg = db.validate("chevy")
    assert ok and msg == "OK"


def test_validate_error_format(db):
    ok, msg = db.validate("=")
    assert not ok
    assert msg.startswith("1:1:")  # golden error shape (native_test.go)


def test_insertion_filter_with_redact(spark):
    # server_test.go:44-121 — filter + redact applied before write
    db = BasenineDB(spark)
    db.set_insertion_filter('brand.name == "Chevrolet" and redact("model")')
    db.insert_json(
        [
            json.dumps({"brand": {"name": "Chevrolet"}, "model": "Camaro"}),
            json.dumps({"brand": {"name": "Ford"}, "model": "Mustang"}),
        ]
    )
    rows = db.query("").collect()
    assert len(rows) == 1
    assert rows[0]["model"] == "[REDACTED]"
    assert rows[0]["brand"]["name"] == "Chevrolet"


def test_flush_and_reset(db):
    db.add_macro("m", "year > 0")
    db.flush()
    with pytest.raises(ValueError):
        db.dataframe()
    assert db.macros  # flush keeps state (native.go:888-904)
    db.reset()
    assert not db.macros  # reset clears it (native.go:908-928)
    # ids restart from zero after flush/reset
    db.insert_json([json.dumps({"a": 1})])
    assert db.query("").collect()[0]["id"] == index_to_id(0)


def test_mounted_parquet_table(spark):
    # from_dataframe: any parquet table acts as the document log (S5)
    from basenine_spark.sources import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    db = BasenineDB.from_dataframe(spark, df, id_col="event_id")
    out = db.query('event_type == "purchase" and value > 190')
    rows = out.collect()
    assert rows, "expected purchases with value > 190"
    assert all(r["event_type"] == "purchase" and r["value"] > 190 for r in rows)


def test_many_small_inserts_bounded_plan(spark):
    """The reference's wire pattern is many small inserts on one
    connection; the plan over the log must not grow with the number of
    batches, so the 100th batch plans as fast as the first."""
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark)
    for i in range(80):
        db.insert_json([_json.dumps({"n": i})])
    out = db.query("n >= 0")
    assert out.count() == 80
    # plan depth is bounded: far fewer Union nodes than inserts
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("Union") < 40, plan.count("Union")
    ids = [r["id"] for r in db.query("n == 79").collect()]
    assert ids == ["%024d" % 79]


def test_deeply_nested_and_large_records(spark):
    """Engine edges: a 30-level nested path compiles and matches; a
    ~1 MB record round-trips through insert + query + redact (the
    reference caps records at 200 MiB — scanner buffer, server.go:115)."""
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    deep: dict = {"leaf": 7}
    for i in range(29):
        deep = {f"k{28 - i}": deep}
    big_payload = "x" * 1_000_000
    db = BasenineDB(spark)
    db.insert_json(
        [
            _json.dumps({"name": "deep", **deep}),
            _json.dumps({"name": "big", "payload": big_payload, "secret": "s"}),
        ]
    )
    path = ".".join(f"k{i}" for i in range(29)) + ".leaf"
    assert db.query(f"{path} == 7").count() == 1
    assert db.query('name == "big" and payload.startsWith("xxx")').count() == 1
    # redact the big record; payload survives, secret is rewritten
    rows = db.query('redact("secret") and name == "big"').collect()
    assert len(rows) == 1
    doc = _json.loads(rows[0]["value"]) if "value" in rows[0].__fields__ else None
    if doc is not None:
        assert doc["secret"] == "[REDACTED]" and len(doc["payload"]) == 1_000_000


def test_query_as_of_snapshot_durable(spark, tmp_path):
    """Snapshot reads: as_of pins the visible corpus to a past seq —
    later appends are invisible, and the bound is a physical seq
    predicate (parquet file pruning)."""
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json([_json.dumps({"n": i}) for i in range(10)])
    snap = 9  # last seq of the first batch
    db.insert_json([_json.dumps({"n": i}) for i in range(10, 20)])
    full = db.query("").count()
    old = db.query("", as_of=snap)
    assert full == 20 and old.count() == 10
    assert {r["n"] for r in old.collect()} == set(range(10))
    # snapshot + filter + left_off compose
    assert db.query("n > 3", as_of=snap).count() == 6
    assert db.query("n > 3", left_off=5, as_of=snap).count() == 4
    # the plan carries the physical seq upper bound for pruning
    plan = old._jdf.queryExecution().executedPlan().toString()
    assert "seq" in plan and "LessThanOrEqual" in plan


def test_query_as_of_snapshot_in_memory(spark):
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark)
    db.insert_json([_json.dumps({"n": i}) for i in range(6)])
    db.insert_json([_json.dumps({"n": i}) for i in range(6, 12)])
    assert db.query("", as_of=5).count() == 6
    assert db.query("").count() == 12
