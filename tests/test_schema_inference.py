"""Write-time schema maintenance for the durable typed view.

Round-2 learned the typed-view schema with ``spark.read.json`` over the
ENTIRE log (full scan + per-row Python round-trip) on first query and
again on every new top-level key — a corpus-wide parse at 100 TB.  The
schema is now maintained at write time (``engine/schema.py``), persisted
in ``_state.json``, and restored on restart without touching data.
"""

import json

import pytest
from pyspark.sql import types as T

from basenine_spark.engine.db import BasenineDB
from basenine_spark.engine.schema import (
    finalize_type,
    infer_batch_schema,
    merge_types,
)

# -- driver-side inference must match spark.read.json exactly ---------------

CASES = [
    ['{"a": 1, "b": "x"}', '{"a": 2.5, "c": true}'],
    ['{"a": null}', '{"a": null}'],
    ['{"a": null}', '{"a": 3}'],
    ['{"a": [1,2]}', '{"a": [2.5]}'],
    ['{"a": []}'],
    ['{"a": {"z": 1, "b": {"q": "s"}}}', '{"a": {"b": {"r": 2}}}'],
    ['{"a": 1}', '{"a": "x"}'],
    ['{"a": true}', '{"a": 1}'],
    ['{"a": 99999999999999999999999999}'],
    ['{"a": 99999999999999999999999999}', '{"a": 1}'],
    ['{"a": 99999999999999999999999999}', '{"a": 1.5}'],
    ['{"a": [{"x": 1}, {"y": "s"}]}'],
    ['{"a": [[1], [2.0]]}'],
    ['{"a": {}, "b": 1}'],
    ['{"a": [{}], "b": 1}'],
    ['{"a": {"x": {}}, "b": 1}'],
    ['{"a": [null]}'],
    ['{"a": 1e2}'],
    ['{"a": [1, "x"]}', '{"a": 7}'],
    ['{"a": [1]}', '{"a": "xyz"}'],
    ['{"a": 1, "b": [1, "x"]}'],
    # an empty object under a key the next document lacks
    ['{"e": {}, "a": 1}', '{"a": 2}'],
]


@pytest.mark.parametrize("docs", CASES, ids=range(len(CASES)))
def test_inference_matches_spark_read_json(spark, docs):
    ref = spark.read.json(spark.sparkContext.parallelize(docs)).schema
    mine = finalize_type(infer_batch_schema([json.loads(d) for d in docs]))
    assert ref == mine, f"ref={ref.simpleString()} mine={mine.simpleString()}"


def test_merge_is_commutative_and_idempotent():
    a = infer_batch_schema([{"a": 1, "b": [1]}])
    b = infer_batch_schema([{"a": 2.5, "c": "x"}])
    assert merge_types(a, b) == merge_types(b, a)
    assert merge_types(a, a) == a


# -- restart restores the schema without any inference job ------------------


def test_restart_restores_schema_without_inference(spark, tmp_path):
    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    db.insert_json(['{"a": 1, "b": "x"}', '{"a": 2, "c": [1.5]}'])
    schema = db._typed_schema
    assert schema is not None

    db2 = BasenineDB(spark, path=path)
    # restored from _state.json at construction — before any query
    assert db2._typed_schema == schema
    # and never re-inferred: poison the fallback to prove it isn't hit
    db2._infer_schema_from_log = None  # type: ignore[assignment]
    out = db2.query("a > 1")
    assert [r["a"] for r in out.collect()] == [2]


def test_type_widening_within_known_key(spark, tmp_path):
    # round-2 invalidated the cache only on NEW keys — an int→float
    # widening on an existing key kept the stale long schema and
    # silently nulled the float values.  Write-time merge fixes it.
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"a": 1}'])
    assert dict(db.dataframe().dtypes)["a"] == "bigint"
    db.insert_json(['{"a": 2.5}'])
    assert dict(db.dataframe().dtypes)["a"] == "double"
    assert sorted(r["a"] for r in db.query("a > 0").collect()) == [1.0, 2.5]


def test_new_key_merges_incrementally(spark, tmp_path):
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json(['{"a": 1}'])
    db.insert_json(['{"a": 2, "b": "new"}'])
    cols = db.dataframe().columns
    assert "a" in cols and "b" in cols


def test_redacting_insertion_filter_learns_stored_types(spark, tmp_path):
    # the stored doc has secret='[REDACTED]' (string), not the numeric
    # the wire carried — schema must reflect what's on disk
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.set_insertion_filter('redact("secret")')
    db.insert_json(['{"a": 1, "secret": 42}'])
    assert dict(db.dataframe().dtypes)["secret"] == "string"
    rows = db.query("").collect()
    assert rows[0]["secret"] == "[REDACTED]"


def test_legacy_log_without_persisted_schema(spark, tmp_path):
    # a log written before schema versioning (no typed_schema in state):
    # bounded-sample recovery must produce the same schema and persist it
    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    db.insert_json(['{"a": 1, "b": "x"}', '{"a": 2.5}'])
    schema = db._typed_schema
    state_path = db._state_path
    state = json.load(open(state_path))
    state.pop("typed_schema")
    state.pop("known_keys", None)
    json.dump(state, open(state_path, "w"))

    db2 = BasenineDB(spark, path=path)
    assert db2._typed_schema is None
    assert db2.dataframe().schema == schema  # recovered via sample
    assert db2._typed_schema == schema
    # ...and persisted, so a third open restores without inference
    db3 = BasenineDB(spark, path=path)
    assert db3._typed_schema == schema


def test_state_file_with_known_keys_field_still_loads(spark, tmp_path):
    # older state files carry a "known_keys" list the db no longer keeps
    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    db.insert_json(['{"a": 1}'])
    state = json.load(open(db._state_path))
    state["known_keys"] = ["a"]
    json.dump(state, open(db._state_path, "w"))

    db2 = BasenineDB(spark, path=path)
    assert db2._typed_schema == db._typed_schema
    db2.insert_json(['{"a": 2}'])
    assert [r["a"] for r in db2.query("").collect()] == [1, 2]
    assert "known_keys" not in json.load(open(db2._state_path))


def test_pure_redact_filter_schema_stays_driver_side(spark, tmp_path):
    # always-truthy redact filter: stored schema derived driver-side
    # (leaf → string), no read-back job — and it matches what
    # spark.read.json over the stored docs would say
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.set_insertion_filter('redact("secret") and redact("nested.token")')
    db.insert_json(
        [
            '{"a": 1, "secret": 42, "nested": {"token": 7, "keep": true}}',
            '{"a": 2, "nested": {"keep": false}}',
        ]
    )
    stored = spark.read.json(
        db._log.scan().select("value").rdd.map(lambda r: r.value)
    ).schema
    assert db._typed_schema == stored
    rows = {r["a"]: r.asDict(recursive=True) for r in db.query("").collect()}
    assert rows[1]["secret"] == "[REDACTED]"
    assert rows[1]["nested"]["token"] == "[REDACTED]"
    assert rows[1]["nested"]["keep"] is True
    assert rows[2]["secret"] is None


def test_overlapping_redact_insertion_filter_schema(spark, tmp_path):
    # redact("a.c") masks the subtree, so redact("a.c.d") is a storage
    # no-op — the driver-side schema override must agree with what
    # actually lands on disk
    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.set_insertion_filter('redact("a.c") and redact("a.c.d")')
    db.insert_json(['{"a": {"c": {"d": 2}}, "n": 1}'])
    stored = spark.read.json(
        db._log.scan().select("value").rdd.map(lambda r: r.value)
    ).schema
    assert db._typed_schema == stored
    assert db.query("").collect()[0]["a"]["c"] == "[REDACTED]"


def test_legacy_recovery_missed_key_stays_bounded(spark, tmp_path, monkeypatch):
    """A key absent from the base sample must be typed from a bounded
    per-key probe, never a full-corpus read.json (VERDICT r4 #3): every
    rows-fed read.json call in the recovery path parses at most
    SCHEMA_SAMPLE_DOCS rows per missed key."""
    import basenine_spark.engine.db as dbmod
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    docs = ['{"a": %d}' % i for i in range(20)]
    docs += ['{"a": %d, "late": {"z": "s%d"}}' % (i, i) for i in range(20, 30)]
    db.insert_json(docs)
    expected = db._typed_schema
    state = json.load(open(db._state_path))
    state.pop("typed_schema")
    state.pop("known_keys", None)
    json.dump(state, open(db._state_path, "w"))

    monkeypatch.setattr(dbmod, "SCHEMA_SAMPLE_DOCS", 5)
    fed_counts = []
    orig = DataFrameReader.json

    def spy(self, path, *a, **k):
        if not isinstance(path, (str, list)):
            fed_counts.append(path.count())
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameReader, "json", spy)
    db2 = BasenineDB(spark, path=path)
    recovered = db2.dataframe().schema
    assert recovered == db2._typed_schema
    # the base sample saw only {"a"}; "late" came from the bounded probe
    assert "late" in db2._typed_schema.fieldNames()
    assert db2._typed_schema == expected
    assert fed_counts, "recovery must have parsed sampled rows"
    assert max(fed_counts) <= 5, fed_counts  # corpus is 30 rows — bounded
