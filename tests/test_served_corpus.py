"""The serving path against the golden BFL corpus (``EVAL_ROWS``,
redact rows included): for each ``(query, document)`` row, QUERY and
FETCH serve the golden ``new_json`` plus the injected ``id`` when the
row's truth holds, and SINGLE serves it whatever the truth — byte for
byte in the log's encoding, in the stored key order.  A row without
``new_json`` leaves the document unchanged.

The log injects a top-level ``id`` into every document, so a corpus
document's own ``id`` is renamed ``rid``, in the queries too."""

import json
import re

import pytest

from corpus import EVAL_ROWS

from basenine_spark.engine.db import BasenineDB, index_to_id


def _rename_id(obj: dict) -> dict:
    return {("rid" if k == "id" else k): v for k, v in obj.items()}


ROWS = [
    (re.sub(r"\bid\b", "rid", query), doc, truth, new_json or doc)
    for query, doc, truth, _, new_json in EVAL_ROWS
]
DOCS = sorted({doc for _, doc, _, _ in ROWS})


@pytest.fixture(scope="module")
def dbs(spark, tmp_path_factory):
    """One single-record log per corpus document."""
    root = tmp_path_factory.mktemp("corpus")
    out = {}
    for i, doc in enumerate(DOCS):
        db = BasenineDB(spark, path=str(root / f"db{i}"))
        db.insert_json([json.dumps(_rename_id(json.loads(doc)))])
        out[doc] = db
    return out


@pytest.mark.parametrize("query,doc,truth,new_json", ROWS, ids=range(len(ROWS)))
def test_served_document_is_the_golden_new_json(dbs, query, doc, truth, new_json):
    db = dbs[doc]
    want = dict(_rename_id(json.loads(new_json)), id=index_to_id(0))
    record = (0, json.dumps(want, separators=(",", ":")))
    rows, _ = db.query_with_metadata(query)
    assert rows == ([record] if truth else [])
    rows, _ = db.fetch_with_metadata(0, 1, query, 10)
    assert rows == ([record] if truth else [])
    assert db.single_json(index_to_id(0), query) == record
