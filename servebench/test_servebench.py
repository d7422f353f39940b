"""Self-test of the serving-path benchmark: unit checks of the oracles
and a tiny pass of every workload through the same code path as a
real run.  From the repository root::

    python3 -m pytest servebench -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import wire  # noqa: E402
import workloads  # noqa: E402
from gen import (  # noqa: E402
    FILTERS,
    Traffic,
    fetch_page_oracle,
    follow_oracle,
    index_to_id,
)


def test_traffic_is_deterministic_per_seed():
    a, b, c = Traffic(7), Traffic(7), Traffic(8)
    assert a.extend(50) == b.extend(50)
    assert a.extend(5) == b.extend(5)
    assert c.extend(55) != a.lines
    assert a.stored(3) == dict(json.loads(a.lines[3]), id=index_to_id(3))


def test_filters_agree_with_the_bfl_evaluator():
    """The oracle's Python predicates select exactly what the package's
    own BFL evaluator selects on the generated documents."""
    from basenine_spark.bfl import parse
    from basenine_spark.bfl.pyeval import eval_query

    t = Traffic(3)
    lines = t.extend(400)
    for name, (text, _) in FILTERS.items():
        q = parse(text)
        want = [i for i, line in enumerate(lines) if eval_query(q, line)[0]]
        assert t.matching(name) == want, name
        assert 0 < len(want) <= len(lines)


def test_fetch_page_oracle_pages_backward_and_runs_off_the_start():
    matches = [40, 31, 30, 12, 5, 2]
    assert fetch_page_oracle(matches, 41, 2) == ([40, 31], 31)
    assert fetch_page_oracle(matches, 31, 2) == ([30, 12], 12)
    assert fetch_page_oracle(matches, 12, 2) == ([5, 2], 2)
    # fewer matches than the limit: the trailing frame carries leftOff 0
    assert fetch_page_oracle(matches, 5, 2) == ([2], 0)
    assert fetch_page_oracle(matches, 2, 2) == ([], 0)


def test_follow_oracle_counts_cumulatively_with_compat_tokens():
    assert follow_oracle([3, 9]) == [
        (3, 1, index_to_id(4)),
        (9, 2, index_to_id(10)),
    ]


def test_record_id_reads_the_id_without_parsing():
    line = b'{"a":{"id":"x"},"id":"000000000000000000000042","z":1}'
    assert wire.record_id(b'{"id":"000000000000000000000042"}') == 42
    assert wire.record_id(line.replace(b'"id":"x"', b'"k":"x"')) == 42
    with pytest.raises(wire.WireError):
        wire.record_id(b'{"a":1}')


def _follower():
    """A follower's oracle state without a connection."""
    f = workloads.Follower.__new__(workloads.Follower)
    f.name, f.expected, f.oracle = "all", [], []
    f.delivered, f.pending, f.error = 0, None, ""
    return f


def test_follower_rejects_a_gap_and_a_wrong_token():
    f = _follower()
    f.expect([0, 1])
    f.feed(b'{"id":"%s"}' % index_to_id(0).encode(), 0.0)
    f.feed(b'/metadata {"numberOfWritten":1,"leftOff":"%s"}' % index_to_id(1).encode(), 0.0)
    assert not f.error and not f.caught_up()
    f.feed(b'{"id":"%s"}' % index_to_id(1).encode(), 0.0)
    f.feed(b'/metadata {"numberOfWritten":2,"leftOff":"%s"}' % index_to_id(1).encode(), 0.0)
    assert "frame" in f.error
    g = _follower()
    g.expect([0, 1])
    g.feed(b'{"id":"%s"}' % index_to_id(1).encode(), 0.0)
    assert "got 1 at position 0" in g.error


def test_follower_rejects_a_record_after_its_last():
    f = _follower()
    f.expect([0])
    f.feed(b'{"id":"%s"}' % index_to_id(0).encode(), 0.0)
    f.feed(b'/metadata {"numberOfWritten":1,"leftOff":"%s"}' % index_to_id(1).encode(), 0.0)
    assert f.caught_up() and not f.error
    f.feed(b'{"id":"%s"}' % index_to_id(0).encode(), 0.0)
    assert "got 0 at position 1" in f.error


def test_percentile_interpolates():
    assert run.percentile([1.0], 90) == 1.0
    assert run.percentile(list(range(11)), 90) == pytest.approx(9.0)
    assert run.percentile(list(range(101)), 50) == pytest.approx(50.0)


def test_refuses_to_run_without_the_package(tmp_path, monkeypatch, capsys):
    (tmp_path / "BENCHMARK.json").write_text(open(os.path.join(ROOT, "BENCHMARK.json")).read())
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "history_fetch", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


@pytest.mark.parametrize(
    "workload,trace",
    [("ingest_tail", 1), ("history_fetch", 0), ("backlog_replay", 1)],
)
def test_tiny_pass(workload, trace, monkeypatch, capsys):
    """A whole run at tiny sizes: every operation verified, every
    metric of BENCHMARK.json reported."""
    monkeypatch.setattr(workloads, "PRELOAD_BATCHES", 2)
    monkeypatch.setattr(workloads, "PRELOAD_BATCH", 300)
    monkeypatch.setattr(workloads, "INGEST_BATCH", 30)
    monkeypatch.setattr(workloads, "INGEST_WARM_BATCHES", 1)
    monkeypatch.setattr(workloads, "FETCH_WARM_SESSIONS", 1)
    monkeypatch.setattr(workloads, "REPLAY_WARM", 1)
    monkeypatch.chdir(ROOT)
    rc = run.main(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    )
    assert rc == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in spec[kind]}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["spark.jobs_per_op"]["value"] > 0
        assert not os.path.exists(os.path.join(ROOT, ".servebench"))
