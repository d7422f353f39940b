"""Regression tests for the round-1 ADVICE findings.

Each test pins the exact divergence named in ADVICE.md against the
pure-Python oracle (:mod:`basenine_spark.bfl.pyeval`) and/or the
reference semantics (eval.go cites inline).
"""

import json

import pytest

from basenine_spark.bfl import parse
from basenine_spark.bfl.compiler import Compiled, UnsupportedBFL, compile_filter
from basenine_spark.bfl.pyeval import eval_query


def _run(spark, query: str, doc: str) -> bool:
    df = spark.read.json(spark.sparkContext.parallelize([doc]))
    compiled = compile_filter(query, df)
    if compiled.predicate is None:
        return True
    return df.filter(compiled.predicate).count() == 1


def _both(spark, query: str, doc: str) -> bool:
    """Run compiler and pyeval; assert they agree; return the verdict."""
    spark_truth = _run(spark, query, doc)
    py_truth, _ = eval_query(parse(query), doc)
    assert spark_truth == py_truth, (
        f"compiler={spark_truth} pyeval={py_truth} for {query!r} over {doc}"
    )
    return spark_truth


# -- ADVICE 1: `!` on a NULL boolean column ---------------------------------


def test_not_on_null_bool_is_false(spark):
    # flag is JSON null → not a bool → `!` passes it through,
    # boolOperand(nil) = false (eval.go:676-685)
    assert _both(spark, "!flag", '{"flag": null, "x": 1}') is False


def test_not_on_false_bool_is_true(spark):
    assert _both(spark, "!flag", '{"flag": false}') is True


def test_not_on_true_bool_is_false(spark):
    assert _both(spark, "!flag", '{"flag": true}') is False


# -- ADVICE 2: json()/xml() over a missing outer path never collapses -------


def test_json_missing_outer_no_collapse(spark):
    # reference: Helper != nil ⇒ no collapse (eval.go:617-626).  NOTE the
    # parens: an unparenthesized `or …` tail would be SUBSUMED into the
    # json() path (SelectExpression.Expression re-rooting,
    # precompute.go:102-111) — that quirk is reproduced and separately
    # pinned by the parser corpus.
    doc = '{"other": 2, "data": "{}"}'
    assert _both(spark, "(missing.json().x == 1) or other == 2", doc) is True


def test_json_missing_outer_operand_false(spark):
    doc = '{"other": 2}'
    assert _both(spark, "missing.json().x == 1", doc) is False


def test_not_json_missing_outer(spark):
    # the sharpest observable consequence of no-collapse: operand is Go
    # false, `!false` is true — a collapsing compiler would return false
    assert _both(spark, "!missing.json().x", '{"other": 2}') is True


def test_xml_missing_outer_no_collapse(spark):
    doc = '{"other": 5}'
    assert _both(spark, "(missing.xml().a.b == 1) or other > 4", doc) is True


def test_bare_json_on_missing_outer_is_false(spark):
    # json() over missing → operand Go false → truthiness false
    assert _both(spark, "missing.json()", '{"x": 1}') is False


# -- ADVICE 3: jsonval typed coercions --------------------------------------


def test_json_float_noncanonical_text(spark):
    # ojg parses 1.50 → float64 → %g → "1.5" (eval.go:55); raw-text
    # comparison would see "1.50" ≠ "1.5"
    doc = json.dumps({"body": json.dumps({"price": 1.50})})
    assert _both(spark, "body.json().price == 1.5", doc) is True


def test_json_float_exponent_text(spark):
    doc = json.dumps({"body": json.dumps({"n": 1e3})})
    assert _both(spark, "body.json().n == 1000", doc) is True


def test_json_int_stays_decimal(spark):
    doc = json.dumps({"body": json.dumps({"k": 29})})
    assert _both(spark, 'body.json().k == "29"', doc) is True


def test_json_bool_truthiness(spark):
    # extracted `false` is a typed bool → falsy (eval.go:27-44)
    doc = json.dumps({"body": json.dumps({"ok": False, "x": 1})})
    assert _both(spark, "body.json().ok", doc) is False
    doc2 = json.dumps({"body": json.dumps({"ok": True})})
    assert _both(spark, "body.json().ok", doc2) is True


def test_json_zero_truthiness(spark):
    doc = json.dumps({"body": json.dumps({"n": 0, "m": -1})})
    assert _both(spark, "body.json().n", doc) is False
    assert _both(spark, "body.json().m", doc) is False


def test_json_bool_numeric_coercion(spark):
    # float64Operand(true) = 1 (eval.go:65-88)
    doc = json.dumps({"body": json.dumps({"ok": True})})
    assert _both(spark, "body.json().ok >= 1", doc) is True


def test_json_nil_comparison_typed(spark):
    """Variant extraction distinguishes a present JSON null (== nil is
    TRUE, reference stringifies nil to "null") from a missing key
    (operand false → "false" ≠ "null") — no row-backend detour needed."""
    doc = json.dumps({"body": json.dumps({"x": None})})
    assert _both(spark, "body.json().x == nil", doc) is True
    assert _both(spark, "body.json().missing == nil", doc) is False
    assert _both(spark, "body.json().x != nil", doc) is False
    assert _both(spark, "body.json().missing != nil", doc) is True


def test_json_string_that_looks_numeric_stays_verbatim(spark):
    """The type-erasure class the Variant backend eliminates: a JSON
    *string* "1.50" is not canonicalized, while the number 1.50 is."""
    doc = json.dumps({"body": json.dumps({"s": "1.50", "n": 1.50})})
    assert _both(spark, 'body.json().s == "1.50"', doc) is True
    assert _both(spark, 'body.json().s == "1.5"', doc) is False
    assert _both(spark, "body.json().n == 1.5", doc) is True
    assert _both(spark, 'body.json().n == "1.50"', doc) is False
    # a JSON string "true" is truthy as a non-empty string (not a bool)
    doc2 = json.dumps({"body": json.dumps({"f": "false"})})
    assert _both(spark, "body.json().f", doc2) is True
    # …and numeric-coerces via strconv parse → 0
    assert _both(spark, "body.json().f >= 1", doc2) is False


def test_json_array_extraction_existential(spark):
    doc = json.dumps({"body": json.dumps({"a": [1, 2, 3]})})
    assert _both(spark, "body.json().a == 2", doc) is True
    assert _both(spark, "body.json().a == 9", doc) is False
    assert _both(spark, "body.json().a > 2", doc) is True
    assert _both(spark, "body.json().a > 3", doc) is False
    assert _both(spark, "body.json().a", doc) is True  # non-empty array


# -- ADVICE 4: row backend serializes Arrow values as real JSON -------------


def test_row_backend_array_columns(spark):
    from basenine_spark.engine.db import BasenineDB

    df = spark.createDataFrame(
        [(1, [1, 2, 3], "a"), (2, [4, 5, 6], "b")],
        "event_id long, arr array<long>, name string",
    )
    db = BasenineDB.from_dataframe(spark, df, id_col="event_id")
    # a filter reading the redacted path keeps the query on the row
    # backend (the schema-static fast path would otherwise take it);
    # the array must survive as a JSON array (numpy repr "[1 2 3]"
    # would make arr.* comparisons collapse)
    out = db.query('redact("name") and !(name == "x") and arr.* > 2')
    rows = out.collect()
    assert [r["event_id"] for r in rows] == ["1", "2"]
    for r in rows:
        doc = json.loads(r["value"])
        assert isinstance(doc["arr"], list)
        assert doc["name"] == "[REDACTED]"


# -- ADVICE 5: insert_json validates the batch before assigning ids ---------


def test_insert_json_bad_line_keeps_counter_and_data(spark):
    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark)
    with pytest.raises(ValueError):
        db.insert_json(['{"a": 1}', "not json", '{"a": 2}'])
    # nothing inserted, no ids consumed
    assert db._log.total_written == 0
    ids = db.insert_json(['{"a": 3}'])
    assert ids == ["%024d" % 0]
    assert db.dataframe().count() == 1


# -- round-2 self-review regressions ----------------------------------------


def test_restart_resumes_left_off_counter(spark, tmp_path):
    """A restarted durable db must report the correct resume token
    without any intervening writes (counter synced from the log)."""
    from basenine_spark.engine.db import BasenineDB, index_to_id

    p = str(tmp_path / "store")
    db = BasenineDB(spark, path=p)
    db.insert_json([json.dumps({"n": i}) for i in range(7)])
    db2 = BasenineDB(spark, path=p)
    assert db2.metadata().left_off == index_to_id(6)
    assert db2.query("", left_off="latest").count() == 1


def test_pushable_eq_noncanonical_int_strings(spark):
    # "007" never equals any int's decimal print; "null" matches NULL
    doc = '{"x": 7, "y": null}'
    assert _both(spark, 'x == "007"', doc) is False
    assert _both(spark, 'x == "7"', doc) is True
    assert _both(spark, 'x == "-0"', doc) is False
    assert _both(spark, 'y == "null"', doc) is True
    # beyond-int64 literal must not blow up at compile time
    assert _both(spark, 'x == "99999999999999999999999"', doc) is False


def test_tail_does_not_leak_seq_into_documents(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB
    from basenine_spark.streaming import tail

    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json([json.dumps({"n": i, "secret": "s"}) for i in range(4)])
    t = tail(db, 'redact("secret") and n >= 0')
    try:
        assert t.await_written(4, timeout=60) == 4
        for _, v in t.records:
            doc = json.loads(v)
            assert "seq" not in doc, doc
            assert doc["secret"] == "[REDACTED]"
    finally:
        t.stop()


def test_metadata_mounted_plus_inserts(spark):
    """A mounted table is read-only: an insert raises and leaves the
    mounted count as it was."""
    from basenine_spark.engine.db import BasenineDB

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    db = BasenineDB.from_dataframe(spark, df, id_col="id")
    assert db.metadata().total == 10
    with pytest.raises(ValueError, match="read-only"):
        db.insert_json(['{"id": "x"}'])
    assert db.metadata().total == 10


def test_schema_cache_survives_same_shape_inserts(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark, path=str(tmp_path / "store"))
    db.insert_json([json.dumps({"a": 1})])
    db.dataframe()  # schema maintained at write time
    cached = db._typed_schema
    assert cached is not None
    db.insert_json([json.dumps({"a": 2})])  # same shape → same object
    assert db._typed_schema is cached
    db.insert_json([json.dumps({"a": 3, "b": "new"})])  # new key → merged
    assert db._typed_schema is not None  # no invalidation, no re-scan
    assert "b" in db.dataframe().columns


# -- ADVICE r3-1: typed array vs json() Variant operand ---------------------
# The variant branches of _compile_eql/_compile_cmp coerce the non-variant
# side via str_col/num_col — an ARRAY operand would silently collapse to
# ''/0.0 instead of the reference's existential / deep-equal dispatch
# (eval.go:108-119,176-326).  They must refuse so the query runs on the
# exact row backend.


def _arr_variant_df(spark):
    return spark.read.json(
        spark.sparkContext.parallelize(
            [
                '{"id": 0, "arr": [1, 2, 3], "body": "{\\"price\\": 2, \\"tags\\": [1, 2, 3]}"}',
                '{"id": 1, "arr": [1], "body": "{\\"price\\": 2, \\"tags\\": [9]}"}',
            ]
        )
    )


def test_typed_array_cmp_variant_unsupported(spark):
    df = _arr_variant_df(spark)
    with pytest.raises(UnsupportedBFL):
        compile_filter("arr > body.json().price", df)
    with pytest.raises(UnsupportedBFL):
        compile_filter("body.json().price < arr", df)


def test_typed_array_eq_variant_unsupported(spark):
    df = _arr_variant_df(spark)
    with pytest.raises(UnsupportedBFL):
        compile_filter("arr == body.json().tags", df)
    with pytest.raises(UnsupportedBFL):
        compile_filter("body.json().tags != arr", df)


def test_typed_array_vs_variant_row_backend_exact(spark):
    # Full /query path: falls back to the exact evaluator and matches
    # the reference's array-existential semantics (3 > 2 ⇒ record 0
    # passes; [1] has no element > 2 ⇒ record 1 drops).
    from basenine_spark.engine.db import BasenineDB

    df = _arr_variant_df(spark)
    db = BasenineDB.from_dataframe(spark, df, id_col="id")
    out = db.query("arr > body.json().price")
    assert "value" in out.columns  # row backend engaged
    ids = sorted(int(r["id"]) for r in out.collect())
    assert ids == [0]


# -- ADVICE r3: truncatedTimestamp survives restart -------------------------


def test_truncated_timestamp_restored(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    path = str(tmp_path / "store")
    db = BasenineDB(spark, path=path)
    db.set_retention_bytes(40_000)
    import random

    rnd = random.Random(7)
    ts = 1_700_000_000_000
    for batch in range(6):
        db.insert_json(
            [
                json.dumps(
                    {
                        "i": batch * 50 + i,
                        "timestamp": ts + batch * 50 + i,
                        "pad": "%0512x" % rnd.getrandbits(2048),
                    }
                )
                for i in range(50)
            ]
        )
    trunc = db._log.truncated_timestamp
    assert trunc > 0
    # restart: the reference gob-dump restores TruncatedTimestamp
    # (native.go:183,249) — metadata frames must keep reporting it
    db2 = BasenineDB(spark, path=path)
    assert db2.metadata().truncated_timestamp == trunc


# -- ADVICE r3: tail opened on an empty durable db --------------------------


def test_tail_on_empty_db_waits_for_data(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB
    from basenine_spark.streaming.tail import tail

    db = BasenineDB(spark, path=str(tmp_path / "store"))  # nothing inserted
    t = tail(db, 'kind == "x"')
    try:
        db.insert_json(
            [json.dumps({"kind": "x", "n": 1}), json.dumps({"kind": "y", "n": 2})]
        )
        assert t.await_written(1, timeout=30.0) == 1
        _id, value = t.records[0]
        assert json.loads(value)["n"] == 1
    finally:
        t.stop()
