"""Round-12 guard behaviors: the _drain_stateful wall-clock deadline
and the JVM-side JSON inference helper."""

import pytest


def test_drain_stateful_times_out_instead_of_hanging():
    from basenine_spark.streaming.replay import _drain_stateful

    class StuckQuery:
        recentProgress = []
        lastProgress = None

        def exception(self):
            return None

    with pytest.raises(RuntimeError, match="0/100 rows"):
        _drain_stateful(StuckQuery(), expected_rows=100,
                        poll_s=0.01, timeout_s=0.3)


def test_drain_stateful_raises_query_exception_first():
    from basenine_spark.streaming.replay import _drain_stateful

    class FailedQuery:
        recentProgress = []
        lastProgress = None

        def exception(self):
            return ValueError("stream died")

    with pytest.raises(RuntimeError, match="stream died"):
        _drain_stateful(FailedQuery(), expected_rows=100,
                        poll_s=0.01, timeout_s=5.0)


def test_infer_json_lines_schema_jvm_path(spark):
    from basenine_spark.engine.schema import infer_json_lines_schema

    df = spark.createDataFrame(
        [('{"a": 1, "b": "x"}',), ('{"a": 2, "c": [1, 2]}',)], "j string"
    )
    s = infer_json_lines_schema(spark, df)
    assert set(s.fieldNames()) == {"a", "b", "c"}
    # must agree with the RDD spelling exactly
    rdd_schema = spark.read.json(df.rdd.map(lambda r: r[0])).schema
    assert s == rdd_schema


def test_infer_json_lines_schema_flags_corrupt(spark):
    from basenine_spark.engine.schema import infer_json_lines_schema

    df = spark.createDataFrame(
        [('{"a": 1}',), ("{not json",)], "j string"
    )
    s = infer_json_lines_schema(spark, df)
    assert "_corrupt_record" in s.fieldNames()
