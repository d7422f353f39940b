"""Durable DocumentLog + log-backed BasenineDB (S4/S6/S7/S8).

Mirrors the reference's storage tests: insert→readback with injected id
(native_test.go:37-61), partition rotation under a byte limit
(native_test.go:244-273), dump/restore (native.go:155-258), flush state
(native.go:888-928), and the 15k-insert volume analog
(client_test.go:52-60).
"""

import json

import pytest

from basenine_spark.engine.db import BasenineDB
from basenine_spark.engine.log import DocumentLog


@pytest.fixture()
def log_path(tmp_path):
    return str(tmp_path / "docstore")


def test_append_assigns_contiguous_ids(spark, log_path):
    log = DocumentLog(spark, log_path)
    ids = log.append([json.dumps({"n": i}) for i in range(7)])
    assert ids == ["%024d" % i for i in range(7)]
    ids2 = log.append([json.dumps({"n": 7})])
    assert ids2 == ["%024d" % 7]
    rows = log.scan().orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(8))
    # id injected into the document itself (native.go:302-311)
    docs = [json.loads(r["value"]) for r in rows]
    assert [d["id"] for d in docs] == ["%024d" % i for i in range(8)]
    assert [d["n"] for d in docs] == list(range(8))


def test_append_rejects_bad_batch_atomically(spark, log_path):
    log = DocumentLog(spark, log_path)
    log.append([json.dumps({"a": 1})])
    with pytest.raises(ValueError):
        log.append([json.dumps({"a": 2}), "not json"])
    assert log.total_written == 1
    assert log.scan().count() == 1


def test_insertion_filter_distributed(spark, log_path):
    db = BasenineDB(spark, path=log_path)
    db.set_insertion_filter('kind == "keep"')
    lines = [
        json.dumps({"kind": "keep", "i": i})
        if i % 3 == 0
        else json.dumps({"kind": "drop", "i": i})
        for i in range(30)
    ]
    ids = db.insert_json(lines)
    # only matching records consume ids (native.go:277-292)
    assert len(ids) == 10
    assert ids == ["%024d" % i for i in range(10)]
    out = db.query("")
    assert out.count() == 10


def test_restore_after_restart(spark, log_path):
    log = DocumentLog(spark, log_path)
    log.append([json.dumps({"n": i, "timestamp": 1000 + i}) for i in range(5)])
    del log
    # new instance on the same path = process restart (native.go:155-258)
    log2 = DocumentLog(spark, log_path)
    assert log2.total_written == 5
    assert log2.last_id == "%024d" % 4
    ids = log2.append([json.dumps({"n": 99})])
    assert ids == ["%024d" % 5]


def test_db_query_modes_over_log(spark, log_path):
    db = BasenineDB(spark, path=log_path)
    db.insert_json([json.dumps({"n": i, "tag": "even" if i % 2 == 0 else "odd"}) for i in range(20)])
    # filtered query
    out = db.query('tag == "even"')
    assert out.count() == 10
    # leftOff resume (T2): strictly after seq 9
    out2 = db.query("", left_off=9)
    assert sorted(json.loads(r["id"]) if False else r["id"] for r in out2.select("id").collect()) == [
        "%024d" % i for i in range(10, 20)
    ]
    # fetch backward page (M3)
    page = db.fetch(10, -1, "", limit=4)
    got = [r["id"] for r in page.collect()]
    assert got == ["%024d" % i for i in (9, 8, 7, 6)]
    # single (M2)
    rec = db.single("%024d" % 3)
    assert rec is not None and rec["n"] == 3
    # latest (T2)
    out3 = db.query("", left_off="latest")
    assert [r["id"] for r in out3.collect()] == ["%024d" % 19]


def test_metadata_is_counter_based(spark, log_path):
    db = BasenineDB(spark, path=log_path)
    db.insert_json([json.dumps({"n": i}) for i in range(12)])
    md = db.metadata(written=3, queried=7)
    assert md.total == 12
    assert md.left_off == "%024d" % 11
    assert md.truncated_timestamp == 0


def test_rotation_and_truncated_timestamp(spark, log_path):
    """Partition rotation analog of native_test.go:244-273: a tight byte
    limit forces rotation; ≤2 live partitions; truncatedTimestamp
    becomes last-dropped event-time + 1 (native.go:986-1044)."""
    import random

    log = DocumentLog(spark, log_path)
    log.set_retention_bytes(40_000)  # effective half = 20 KB
    rnd = random.Random(42)
    ts = 1_700_000_000_000
    for batch in range(6):
        log.append(
            [
                json.dumps(
                    {
                        "i": batch * 50 + i,
                        "timestamp": ts + batch * 50 + i,
                        # incompressible pad so parquet size tracks record size
                        "pad": "%0512x" % rnd.getrandbits(2048),
                    }
                )
                for i in range(50)
            ]
        )
    parts = log._live_parts()
    assert len(parts) <= 2, f"live partitions {parts}"
    assert log.truncated_timestamp > 0
    # ids of dropped records are NOT reused (removedOffsetsCounter)
    assert log.total_written == 300
    assert log.live_count == log.scan().count()
    # surviving data all newer than the truncation point
    min_ts = log.scan().agg({"doc_ts": "min"}).collect()[0][0]
    assert min_ts >= log.truncated_timestamp


def test_flush_resets_everything(spark, log_path):
    db = BasenineDB(spark, path=log_path)
    db.insert_json([json.dumps({"n": 1})])
    db.flush()
    with pytest.raises(ValueError):
        db.query("")
    ids = db.insert_json([json.dumps({"n": 2})])
    assert ids == ["%024d" % 0]


def test_volume_15k_single_batch(spark, log_path):
    """client_test.go:52-60 analog: 15,000 inserts, distributed stamping
    (no driver loop), then a filtered streamed read."""
    log = DocumentLog(spark, log_path)
    lines = [json.dumps({"n": i, "even": i % 2 == 0}) for i in range(15_000)]
    ids = log.append(lines)
    assert len(ids) == 15_000
    assert log.total_written == 15_000
    db = BasenineDB(spark, path=log_path)
    assert db.query("even == true").count() == 7_500


def test_state_survives_restart(spark, log_path):
    """Macros / insertion filter / retention survive restart — the
    reference core-dumps exactly this trio (native.go:185,251-253)."""
    db = BasenineDB(spark, path=log_path)
    db.add_macro("err", 'level == "error"')
    db.set_insertion_filter('level != "debug"')
    db.set_retention_bytes(1_000_000)
    db.insert_json([json.dumps({"level": lvl, "n": i}) for i, lvl in enumerate(["error", "debug", "info", "error"])])
    db2 = BasenineDB(spark, path=log_path)
    # stored auto-parenthesized, like the reference (macro.go:16-19)
    assert db2.macros == {"err": '(level == "error")'}
    assert db2.insertion_filter == 'level != "debug"'
    assert db2.retention_bytes == 1_000_000
    assert db2.query("err").count() == 2  # macro works after restart
    # debug line was dropped by the restored-into memory of round 1
    assert db2.metadata().total == 3


def test_flush_keeps_state_reset_clears_it(spark, log_path):
    db = BasenineDB(spark, path=log_path)
    db.add_macro("m", "n > 1")
    db.insert_json([json.dumps({"n": 5})])
    db.flush()
    db2 = BasenineDB(spark, path=log_path)
    assert db2.macros == {"m": "(n > 1)"}  # flush keeps macros
    db2.reset()
    db3 = BasenineDB(spark, path=log_path)
    assert db3.macros == {}  # reset clears them


def test_restore_reads_footers_not_data(spark, tmp_path, monkeypatch):
    # boot after restart must be O(files): counters come from parquet
    # footer statistics, never a corpus scan (100 TB restart budget)
    path = str(tmp_path / "log")
    log = DocumentLog(spark, path)
    log.append(['{"a": 1, "timestamp": 5}', '{"a": 2, "timestamp": 9}'])

    def _no_scan(self):
        raise AssertionError("restore ran a data scan")

    monkeypatch.setattr(DocumentLog, "scan", _no_scan)
    log2 = DocumentLog(spark, path)
    assert log2.total_written == 2
    assert log2.live_count == 2
    assert log2._part_ts.get(0) == 9


def test_compact_merges_small_files(spark, tmp_path):
    import glob
    import json as _json

    path = str(tmp_path / "log")
    log = DocumentLog(spark, path)
    for batch in range(8):  # 8 separate commits -> >=8 files
        log.append(
            [_json.dumps({"n": batch * 5 + i, "timestamp": batch}) for i in range(5)]
        )
    before = glob.glob(f"{path}/part=0/*.parquet")
    assert len(before) >= 8
    pre_rows = sorted(r["seq"] for r in log.scan().collect())

    assert log.compact() == 1
    after = glob.glob(f"{path}/part=0/*.parquet")
    assert len(after) < len(before)
    assert sorted(r["seq"] for r in log.scan().collect()) == pre_rows
    # footer-only restore still sees identical counters
    log2 = DocumentLog(spark, path)
    assert log2.total_written == 40 and log2.live_count == 40


def test_compact_preserves_shredded_reads(spark, tmp_path):
    import json as _json

    from basenine_spark.engine.db import BasenineDB

    db = BasenineDB(spark, path=str(tmp_path / "s"))
    for batch in range(6):
        db.insert_json([_json.dumps({"a": batch * 3 + i}) for i in range(3)])
    # a key added by a later batch: only the last file has its column
    db.insert_json([_json.dumps({"a": 100, "b": 3})])
    assert db._shred_ok
    expected = sorted(r["a"] for r in db.query("a > 4").collect())
    assert db.query("b == 3").count() == 1
    assert db.compact() == 1
    assert db._shred_ok
    got = sorted(r["a"] for r in db.query("a > 4").collect())
    assert got == expected == list(range(5, 18)) + [100]
    assert db.query("b == 3").count() == 1


def test_restore_ignores_crashed_write_artifacts(spark, tmp_path):
    """A killed executor leaves `_temporary/`, `_SUCCESS`, and `.crc`
    litter behind, and a killed driver a hidden half-written wire-batch
    file; restore and queries must ignore all of it (Spark's
    hidden-file filter + the part= enumeration), recovering exactly the
    committed records."""
    import json as _json
    import os

    from basenine_spark.engine.db import BasenineDB

    path = str(tmp_path / "crashstore")
    db = BasenineDB(spark, path=path)
    ids = db.insert_json([_json.dumps({"n": i}) for i in range(20)])
    # simulate a crashed append: litter at the log root and inside a part dir
    os.makedirs(f"{path}/_temporary/0/_temporary/attempt_0/part=9", exist_ok=True)
    with open(
        f"{path}/_temporary/0/_temporary/attempt_0/part=9/part-00000.parquet", "wb"
    ) as f:
        f.write(b"torn")
    open(f"{path}/_SUCCESS", "w").close()
    part_dir = next(d for d in os.listdir(path) if d.startswith("part="))
    open(f"{path}/{part_dir}/.part-junk.parquet.crc", "w").close()
    with open(f"{path}/{part_dir}/.part-torn.parquet.tmp", "wb") as f:
        f.write(b"PAR1torn")

    db2 = BasenineDB(spark, path=path)
    out = db2.query("n >= 0")
    assert out.count() == 20
    assert len(ids) == 20
    more = db2.insert_json([_json.dumps({"n": 99})])
    # id sequence resumes exactly where the committed log left off
    assert more == ["%024d" % 20]
    assert db2.query("n == 99").count() == 1


@pytest.mark.parametrize("ts", ["NaN", "Infinity", "1e300", "-1e300", "%d" % 2**63])
@pytest.mark.parametrize("writer", ["insert_json", "insert_json_df"])
def test_timestamp_outside_int64_is_stored_with_null_doc_ts(spark, log_path, writer, ts):
    """A ``timestamp`` that is not a finite number inside the int64
    range does not fail the INSERT: the record is stored and served
    byte-identical, and its ``doc_ts`` is null."""
    db = BasenineDB(spark, path=log_path)
    lines = ['{"timestamp":%s,"k":"odd"}' % ts, '{"timestamp":1700000000000,"k":"ok"}']
    if writer == "insert_json":
        db.insert_json(lines)
    else:
        db.insert_json_df(spark.createDataFrame([(x,) for x in lines], ["value"]))
    expected = [json.dumps(json.loads(x), separators=(",", ":"))[:-1] for x in lines]
    expected = [x + ',"id":"%024d"}' % i for i, x in enumerate(expected)]
    rows = db._log.scan().orderBy("seq").collect()
    assert [r["value"] for r in rows] == expected
    assert [r["doc_ts"] for r in rows] == [None, 1700000000000]
    served, _ = db.query_with_metadata("")
    assert [v for _, v in served] == expected
    assert db.single_json("%024d" % 0, "") == (0, expected[0])


def test_a_wire_commit_indexes_its_file(spark, log_path):
    """A wire append indexes the one file it commits by rename from the
    batch itself (seq span, rows, max ``doc_ts``); a file Spark wrote
    (a mixed-kind leaf) is indexed from its footer when first listed,
    and an append that keeps nothing writes no file."""
    import os

    db = BasenineDB(spark, path=log_path)
    log = db._log
    db.insert_json(['{"k":0,"timestamp":7}', '{"k":1}'])
    ((lo, hi, path),) = log.files()
    assert (lo, hi) == (0, 1) and os.path.isfile(path)
    assert log._files[path] == (0, 1, 2, 7)
    assert [r["seq"] for r in log.scan([path]).collect()] == [0, 1]
    db.insert_json(['{"k":2}'])
    assert [f[:2] for f in log.files()] == [(0, 1), (2, 2)]
    log.append(['{"k":3}'], insertion_filter_text="k == 0")
    assert len(log.files()) == 2
    # a mixed-kind leaf: Arrow refuses the batch and Spark writes it
    db.insert_json(['{"v":1,"timestamp":9}', '{"v":"s"}'])
    spark_file = [p for p in log._part_files(0) if p not in log._files]
    assert len(spark_file) == 1
    assert log.files(3, 4) == [(3, 4, spark_file[0])]
    assert log._files[spark_file[0]] == (3, 4, 2, 9)
    assert log.total_written == 5


def test_first_read_after_restart_opens_no_footer(spark, log_path, monkeypatch):
    """Boot reads each committed file's footer once into the log's
    index, so the first replay and SINGLE after a restart open none."""
    from basenine_spark.engine import log as log_module

    db = BasenineDB(spark, path=log_path)
    for b in range(3):
        db.insert_json([json.dumps({"n": 2 * b + i}) for i in range(2)])
    restarted = BasenineDB(spark, path=log_path)
    opened = []
    read_metadata = log_module.pq.read_metadata

    def spy(path, *args, **kwargs):
        opened.append(path)
        return read_metadata(path, *args, **kwargs)

    monkeypatch.setattr(log_module.pq, "read_metadata", spy)
    rows, _ = restarted.query_with_metadata("")
    assert [r.seq for r in rows] == list(range(6))
    assert restarted.single_json("%024d" % 3)[0] == 3
    assert opened == []


def test_boot_raises_on_a_file_without_seq_statistics(spark, log_path):
    """A committed file with rows but no ``seq`` statistics is an error
    at boot, as it is for a driver read: no writer of the log makes
    one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    DocumentLog(spark, log_path).append(['{"k":0}'])
    tbl = pa.table(
        {
            "seq": pa.array([1], pa.int64()),
            "id": pa.array(["%024d" % 1]),
            "value": pa.array(['{"k":1}']),
            "doc_ts": pa.array([None], pa.int64()),
        }
    )
    path = os.path.join(log_path, "part=0", "part-nostats.parquet")
    pq.write_table(tbl, path, write_statistics=False)
    with pytest.raises(ValueError, match="no seq statistics"):
        DocumentLog(spark, log_path)
