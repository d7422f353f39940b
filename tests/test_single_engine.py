"""One storage engine: a ``BasenineDB`` without a ``path`` runs the same
:class:`DocumentLog` as a persistent one, in a private temporary
directory — validation, retention and cleanup included."""

import gc
import json
import os
import random

import pytest

from basenine_spark.engine import BasenineDB


@pytest.mark.parametrize("line", ["[1, 2]", "5", "null", '"s"'])
def test_insert_non_object_line_raises_before_any_id(spark, line):
    db = BasenineDB(spark)
    db.insert_json(['{"a": 0}'])
    with pytest.raises(ValueError, match="JSON object"):
        db.insert_json(['{"a": 1}', line])
    # all-or-none: the valid line before it got no id either
    assert db._log.total_written == 1
    assert db.insert_json(['{"a": 2}']) == ["%024d" % 1]


def test_non_persistent_db_enforces_retention(spark):
    """/limit rotates partitions and drops the oldest one, reporting a
    truncatedTimestamp, without ``-persistent`` as with it."""
    db = BasenineDB(spark)
    db.set_retention_bytes(40_000)  # effective half = 20 KB
    rnd = random.Random(7)
    ts = 1_700_000_000_000
    for batch in range(6):
        db.insert_json(
            [
                json.dumps(
                    {
                        "i": batch * 50 + i,
                        "timestamp": ts + batch * 50 + i,
                        # incompressible pad so file size tracks records
                        "pad": "%0512x" % rnd.getrandbits(2048),
                    }
                )
                for i in range(50)
            ]
        )
    meta = db.metadata()
    assert db._log._part > 0
    assert len(db._log._live_parts()) <= 2
    assert meta.truncated_timestamp > ts
    assert 0 < meta.total < 300
    assert db.query("").count() == meta.total


def test_non_persistent_store_removed_with_the_db(spark):
    db = BasenineDB(spark)
    db.insert_json(['{"a": 1}'])
    path = db._log.path
    assert os.path.isdir(path)
    del db
    gc.collect()
    assert not os.path.exists(path)
