"""Wire batches are written on the driver with pyarrow.

``DocumentLog.append`` converts the parsed documents to the batch's
shred schema with Arrow and commits one parquet file by rename; a value
Arrow refuses sends the batch through Spark's ``from_json`` writer.
The differential tests write the same batches both ways — the Spark
way forced by making the Spark-to-Arrow type conversion raise — and
compare the typed view, the stored bytes and query results."""

import json
import math

import pyarrow as pa
import pytest
from corpus import EVAL_ROWS

from basenine_spark.engine import log as log_mod
from basenine_spark.engine.db import BasenineDB
from basenine_spark.engine.log import DocumentLog
from basenine_spark.engine.schema import infer_batch_schema
from pyspark.sql import types as T


def _refuse(_schema):
    raise pa.ArrowInvalid("forced Spark write")


def _spark_writes(monkeypatch) -> list:
    """Count the log's Spark writes (the fallback)."""
    calls = []
    write = DocumentLog._write_spark

    def counted(self, *args):
        calls.append(1)
        return write(self, *args)

    monkeypatch.setattr(DocumentLog, "_write_spark", counted)
    return calls


def _norm(v):
    """JSON-comparable form of a collected value: NaN and ±Infinity
    compare equal to themselves."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return repr(v)
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v if v is None or isinstance(v, (bool, int, float, str)) else str(v)


def _view(db) -> list:
    rows = db.dataframe().collect()
    return sorted(
        (_norm(r.asDict(recursive=True)) for r in rows), key=lambda d: d["id"]
    )


def _served(db, query: str):
    try:
        rows, frames = db.query_with_metadata(query)
    except Exception as e:  # noqa: BLE001 — both sides must fail alike
        return type(e).__name__
    return [tuple(r) for r in rows], [f.to_json() for f in frames]


def _write_both(spark, tmp_path, monkeypatch, batches):
    """``(arrow_db, spark_db, spark writes on the arrow side)``."""
    calls = _spark_writes(monkeypatch)
    arrow = BasenineDB(spark, path=str(tmp_path / "arrow"))
    for batch in batches:
        arrow.insert_json(batch)
    arrow_fallbacks = len(calls)
    forced = BasenineDB(spark, path=str(tmp_path / "spark"))
    with monkeypatch.context() as m:
        m.setattr(log_mod, "to_arrow_type", _refuse)
        for batch in batches:
            forced.insert_json(batch)
    assert arrow._shred_ok == forced._shred_ok
    return arrow, forced, arrow_fallbacks


def _assert_same(arrow, forced, queries=("",)):
    assert _view(arrow) == _view(forced)
    for q in queries:
        assert _served(arrow, q) == _served(forced, q), q


_EVAL_DOCS = sorted({row[1] for row in EVAL_ROWS})
_EVAL_QUERIES = {
    doc: sorted({r[0] for r in EVAL_ROWS if r[1] == doc and "redact" not in r[0]})
    for doc in _EVAL_DOCS
}


@pytest.mark.parametrize("doc", _EVAL_DOCS, ids=range(len(_EVAL_DOCS)))
def test_eval_corpus_document_matches_spark_write(spark, tmp_path, monkeypatch, doc):
    arrow, forced, _ = _write_both(spark, tmp_path, monkeypatch, [[doc]])
    _assert_same(arrow, forced, [""] + _EVAL_QUERIES[doc])


# name → (batches, queries); every leaf fits its shred-schema type
_EXACT_FIT = {
    "int_then_double_in_batch": (
        [['{"v":1}', '{"v":2.5}', '{"v":-3}']],
        ["v > 1", "v == 2.5"],
    ),
    "int_after_double_batch": (
        [['{"v":1.5}'], ['{"v":2}', '{"v":null}']],
        ["v == 2", "v == nil"],
    ),
    "decimal_wider_than_int64": (
        [['{"d":%d}' % 2**70, '{"d":5}', '{"d":-%d}' % 10**30], ['{"d":7}']],
        ["d > 6", "d < 0"],
    ),
    "non_finite_doubles": (
        [
            ['{"f":NaN}', '{"f":Infinity}', '{"f":-Infinity}', '{"f":1.5}'],
            # a file whose only values above 0 are NaN: its min/max
            # stats must not let a pushed-down `f > 0` skip it
            ['{"f":NaN}', '{"f":-1.5}'],
        ],
        ["f > 0", "f < 0", "f != -1.5"],
    ),
    "explicit_nulls": (
        [['{"a":null,"b":1}', '{"a":2,"b":null}', '{"n":null,"s":{"x":null}}']],
        ["a == 2", "b == 1", "a == nil"],
    ),
    "empty_object_and_array": (
        [['{"o":{},"l":[]}', '{"o":{"x":1},"l":[1,null]}', '{"o":{},"l":[]}']],
        ["o.x == 1", "l[0] == 1"],
    ),
    "arrays_of_structs": (
        [
            ['{"arr":[{"x":1},{"y":"s"},{}]}', '{"arr":[]}'],
            ['{"arr":[{"x":2,"z":[[1],[2,3]]}]}', '{"arr":null}'],
        ],
        ["arr[0].x == 2", 'arr[1].y == "s"'],
    ),
    "awkward_keys": (
        [
            [
                '{"":1,"a.b":2,"ключ":"v","k\\"q":3,"tab\\tkey":4,'
                '"emoji\\ud83d\\ude00":{"\\u00e9":1},"sp ace":true}',
                '{"":5,"a.b":7}',
            ]
        ],
        [""],
    ),
    "nested_evolution": (
        [
            ['{"r":{"p":"/a","h":{"x":1}},"n":1}'],
            ['{"r":{"p":"/b","h":{"y":"q"},"m":[1]},"n":2,"t":true}'],
        ],
        ['r.h.y == "q"', 'r.p == "/a"', "t == true", "n > 1"],
    ),
}


@pytest.mark.parametrize("name", sorted(_EXACT_FIT))
def test_exact_fit_batch_is_written_by_arrow(spark, tmp_path, monkeypatch, name):
    batches, queries = _EXACT_FIT[name]
    arrow, forced, fallbacks = _write_both(spark, tmp_path, monkeypatch, batches)
    assert fallbacks == 0
    assert arrow._shred_ok
    _assert_same(arrow, forced, ["", *queries])


def test_mixed_kind_leaf_takes_the_spark_write(spark, tmp_path, monkeypatch):
    """``v`` is a number, a string and an array in one batch, so its
    leaf is ``string``: Arrow refuses the number, the batch goes
    through ``from_json`` (which keeps each value's JSON text), and
    the stored bytes are served unchanged."""
    lines = ['{"v":1}', '{"v":"s"}', '{"v":[1,"a"]}']
    arrow, forced, fallbacks = _write_both(spark, tmp_path, monkeypatch, [lines])
    assert fallbacks == 1
    _assert_same(arrow, forced, ["", 'v == "s"'])
    rows, _ = arrow.query_with_metadata("")
    assert [r.value for r in rows] == [
        line[:-1] + ',"id":"%024d"}' % i for i, line in enumerate(lines)
    ]
    assert [r["v"] for r in _view(arrow)] == ["1", "s", '[1,"a"]']


def test_string_never_reaches_an_array_leaf(spark, tmp_path, monkeypatch):
    """Arrow would split ``"ab"`` into ``["a", "b"]`` under an array
    type.  A leaf holding both an array and a string is typed
    ``string`` in one batch, and across batches the changed leaf turns
    shredding off, so no string is ever converted to an array."""
    assert infer_batch_schema(
        [{"l": ["a"]}, {"l": "ab"}]
    )["l"].dataType == T.StringType()
    arrow, forced, _ = _write_both(
        spark, tmp_path, monkeypatch, [['{"l":["a"]}', '{"l":"ab"}']]
    )
    _assert_same(arrow, forced)
    assert [r["l"] for r in _view(arrow)] == ['["a"]', "ab"]
    arrow, forced, _ = _write_both(
        spark, tmp_path / "x", monkeypatch, [['{"l":["a"]}'], ['{"l":"ab"}']]
    )
    assert not arrow._shred_ok
    _assert_same(arrow, forced)
    assert [r["l"] for r in _view(arrow)] == ['["a"]', "ab"]


def test_wire_insert_launches_no_spark_job(spark, tmp_path):
    db = BasenineDB(spark, path=str(tmp_path / "s"))
    sc = spark.sparkContext
    sc.setJobGroup("bn-wire-insert", "exact-fit wire inserts")
    try:
        db.insert_json(['{"a":1,"s":{"x":"y"}}', '{"a":2.5,"l":[1]}'])
        db.insert_json(['{"a":3,"b":true}'])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("bn-wire-insert") == []
    assert db.query("b == true").count() == 1


def test_append_takes_parsed_objects(spark, tmp_path):
    log = DocumentLog(spark, str(tmp_path / "log"))
    ids = log.append([{"n": 1}, '{"n":2}'])
    assert ids == ["%024d" % 0, "%024d" % 1]
    rows = log.scan().orderBy("seq").collect()
    assert [r["value"] for r in rows] == [
        '{"n":1,"id":"%024d"}' % 0,
        '{"n":2,"id":"%024d"}' % 1,
    ]


def test_insert_parses_each_line_once(spark, tmp_path, monkeypatch):
    db = BasenineDB(spark, path=str(tmp_path / "s"))
    loads = []
    real = json.loads

    def counted(s, *a, **k):
        loads.append(s)
        return real(s, *a, **k)

    from basenine_spark.engine import db as db_mod

    monkeypatch.setattr(db_mod.json, "loads", counted)
    lines = ['{"k":%d}' % i for i in range(5)]
    db.insert_json(lines)
    assert sorted(x for x in loads if x in lines) == lines


def test_append_with_retention_reads_no_footer(spark, tmp_path, monkeypatch):
    """``truncatedTimestamp`` bookkeeping takes the batch's own max
    ``timestamp``; an append opens no parquet footer."""
    from basenine_spark.engine import log as log_module

    log = DocumentLog(spark, str(tmp_path / "log"))
    log.set_retention_bytes(10_000_000)
    calls = []
    read_metadata = log_module.pq.read_metadata

    def counted(path, *args, **kwargs):
        calls.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(log_module.pq, "read_metadata", counted)
    log.append(['{"timestamp":5}', '{"timestamp":9}', '{"x":1}'])
    log.append(['{"timestamp":7}'])
    assert calls == []
    assert log._part_ts == {0: 9}
