"""Bulk distributed ingest (`insert_json_df` / `BulkLog.append_df`).

`insert_json` is the wire-protocol shape — the server necessarily
holds the batch it just read off the socket. The backfill shape is
different: the corpus is already in cluster storage, and loading it
through a driver-side list would bottleneck a 100-TB restore on one
process. `insert_json_df` keeps every stage on executors (validation
inside the count job, filter+redact, id stamping, schema inference via
Spark's distributed JSON reader) — these tests pin its parity with the
wire path.
"""

import json

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _lines_df(spark, n=60):
    from basenine_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .limit(n)
        .select(
            F.to_json(
                F.struct(F.col("doc_id"), F.col("text"), F.col("lang"))
            ).alias("j")
        )
        .orderBy("j")
    )
    return docs


def test_bulk_matches_wire_ingest(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    df = _lines_df(spark)
    lines = [r["j"] for r in df.collect()]

    wire = BasenineDB(spark, path=str(tmp_path / "wire"))
    wire.insert_json(lines)
    bulk = BasenineDB(spark, path=str(tmp_path / "bulk"))
    written = bulk.insert_json_df(df)

    assert written == len(lines)
    w_rows = sorted(
        (r["id"], r["value"]) for r in wire._log.scan().collect()
    )
    b_rows = sorted(
        (r["id"], r["value"]) for r in bulk._log.scan().collect()
    )
    assert w_rows == b_rows  # identical ids AND stored payloads
    # schema maintenance must agree with the wire path's
    assert bulk._typed_schema is not None
    assert set(bulk._typed_schema.fieldNames()) == set(
        wire._typed_schema.fieldNames()
    )


def test_bulk_applies_insertion_filter_and_redact(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    df = _lines_df(spark)
    db = BasenineDB(spark, path=str(tmp_path / "flt"))
    db.set_insertion_filter('lang == "en" and redact("text")')
    written = db.insert_json_df(df)
    rows = db._log.scan().select("value").collect()
    assert written == len(rows)
    assert 0 < written < df.count()  # the lang gate dropped some
    for r in rows:
        doc = json.loads(r["value"])
        assert doc["lang"] == "en"
        assert doc["text"] == "[REDACTED]"


def test_bulk_rejects_malformed_batch_all_or_none(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    good = _lines_df(spark, n=10)
    bad = good.unionAll(spark.createDataFrame([("{not json",)], "j string"))
    db = BasenineDB(spark, path=str(tmp_path / "bad"))
    with pytest.raises(Exception):
        db.insert_json_df(bad)
    assert db._log.total_written == 0  # no orphaned ids...
    import glob

    # ...and no rows on disk (an empty log has no parquet to scan)
    assert glob.glob(f"{db._log.path}/**/*.parquet", recursive=True) == []


def test_bulk_continues_wire_id_sequence(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    df = _lines_df(spark, n=8)
    lines = [r["j"] for r in df.collect()]
    db = BasenineDB(spark, path=str(tmp_path / "mix"))
    db.insert_json(lines[:3])
    db.insert_json_df(spark.createDataFrame([(l,) for l in lines[3:]], "j string"))
    ids = sorted(r["id"] for r in db._log.scan().collect())
    assert ids == ["%024d" % i for i in range(len(lines))]


def test_bulk_preserves_shredded_storage(spark, tmp_path):
    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark, path=str(tmp_path / "shred"))
    db.insert_json_df(_lines_df(spark, n=12))
    assert db._shred_ok  # bulk inference kept the shredded write path
    raw = spark.read.parquet(db._log.path)
    assert "doc" in raw.columns


def test_bulk_pure_filter_matches_wire(spark, tmp_path):
    """A pure (non-mutating) insertion filter takes the vectorized
    Column fast path on the bulk route (r12) — stored rows, ids, and
    schema maintenance must still match the wire path's row-evaluated
    semantics exactly."""
    from basenine_spark.engine.db import BasenineDB

    df = _lines_df(spark)
    lines = [r["j"] for r in df.collect()]

    wire = BasenineDB(spark, path=str(tmp_path / "wire"))
    wire.set_insertion_filter('lang == "en"')
    wire.insert_json(lines)
    bulk = BasenineDB(spark, path=str(tmp_path / "bulk"))
    bulk.set_insertion_filter('lang == "en"')
    written = bulk.insert_json_df(df)

    assert 0 < written < len(lines)  # the gate dropped some rows
    w_rows = sorted(
        (r["id"], r["value"]) for r in wire._log.scan().collect()
    )
    b_rows = sorted(
        (r["id"], r["value"]) for r in bulk._log.scan().collect()
    )
    assert w_rows == b_rows
    # and the fast path KEPT shredded storage (the row backend marks
    # the db _shred_ok=False for predicate filters; the Column path
    # knows the stored-batch schema, so shredding survives)
    assert bulk._shred_ok


def test_bulk_pure_filter_plan_has_no_python_stage(spark, tmp_path):
    """The compiled bulk-filter plan must be JVM-only: from_json +
    Filter, no BatchEvalPython / PythonRDD / mapPartitions stage."""
    from basenine_spark.bfl import parse
    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark, path=str(tmp_path / "plan"))
    flt = db._bulk_filter_column(_lines_df(spark), parse('lang == "en"'))
    assert flt is not None
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "from_json" in plan
    for marker in ("BatchEvalPython", "PythonRDD", "EvalPython"):
        assert marker not in plan, plan


def test_bulk_pure_filter_malformed_batch_still_all_or_none(spark, tmp_path):
    """A malformed line routes the whole batch to the row backend,
    which raises before any id is assigned — the Column fast path must
    not silently drop bad lines via a null from_json."""
    import glob

    from basenine_spark.engine.db import BasenineDB

    good = _lines_df(spark, n=10)
    bad = good.unionAll(
        spark.createDataFrame([("{not json",)], "j string")
    )
    db = BasenineDB(spark, path=str(tmp_path / "badflt"))
    db.set_insertion_filter('lang == "en"')
    with pytest.raises(Exception):
        db.insert_json_df(bad)
    assert db._log.total_written == 0
    assert glob.glob(f"{db._log.path}/**/*.parquet", recursive=True) == []


def test_bulk_pure_filter_missing_key_collapses(spark, tmp_path):
    """Rows lacking the filtered key collapse to false on BOTH paths
    (P14/P15): bulk Column path vs wire row path, same survivors."""
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    lines = [
        _json.dumps({"n": 1, "grade": 9}),
        _json.dumps({"n": 2}),  # no grade -> collapse -> dropped
        _json.dumps({"n": 3, "grade": 2}),
        _json.dumps({"n": 4, "grade": "11"}),  # string-coerced cmp
    ]
    wire = BasenineDB(spark, path=str(tmp_path / "wire2"))
    wire.set_insertion_filter("grade > 5")
    wire.insert_json(lines)
    bulk = BasenineDB(spark, path=str(tmp_path / "bulk2"))
    bulk.set_insertion_filter("grade > 5")
    bulk.insert_json_df(spark.createDataFrame([(l,) for l in lines], "j string"))
    w = sorted(r["value"] for r in wire._log.scan().collect())
    b = sorted(r["value"] for r in bulk._log.scan().collect())
    assert w == b
    assert len(b) == 2  # n=1 (9>5) and n=4 ("11">5)


def test_bulk_fast_path_rejects_lax_json_like_json_loads(spark, tmp_path):
    """ADVICE r12: Spark's Jackson defaults accept single-quoted
    documents ({'a': 1}) that the row backend's json.loads rejects.
    The inference reader is pinned strict, so a lax line must surface
    as _corrupt_record -> whole batch routed to the row backend ->
    all-or-none raise, acceptance identical to the wire path."""
    import glob

    from basenine_spark.engine.db import BasenineDB

    good = _lines_df(spark, n=6)
    lax = good.unionAll(
        spark.createDataFrame([("{'lang': 'en', 'n': 1}",)], "j string")
    )
    db = BasenineDB(spark, path=str(tmp_path / "lax"))
    db.set_insertion_filter('lang == "en"')
    with pytest.raises(Exception):
        db.insert_json_df(lax)
    assert db._log.total_written == 0
    assert glob.glob(f"{db._log.path}/**/*.parquet", recursive=True) == []
    # ...and the same batch through the unfiltered bulk path is also
    # rejected whole (schema inference is strict there too)
    db2 = BasenineDB(spark, path=str(tmp_path / "lax2"))
    with pytest.raises(Exception):
        db2.insert_json_df(lax)
    assert db2._log.total_written == 0


def test_bulk_fast_path_accepts_nonfinite_numbers_like_json_loads(
    spark, tmp_path
):
    """json.loads accepts NaN/Infinity; the strict pin deliberately
    keeps allowNonNumericNumbers=true so both paths agree in the
    accepting direction as well."""
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    lines = ['{"lang": "en", "x": Infinity}', '{"lang": "en", "x": 2}']
    for ln in lines:
        _json.loads(ln)  # sanity: the row backend's validator accepts
    bulk = BasenineDB(spark, path=str(tmp_path / "inf"))
    bulk.set_insertion_filter('lang == "en"')
    written = bulk.insert_json_df(
        spark.createDataFrame([(l,) for l in lines], "j string")
    )
    assert written == 2
