"""Per-layer metrics of a traced run: the traced launcher's spans plus
Spark's event log, restricted to the timed window.

Spans are ``[start, end, n]`` wall-clock triples per boundary name
(see ``traced_daemon.py``); Spark events carry wall-clock milliseconds.
"""

from __future__ import annotations

import json
import os


def _mean_ms(spans: list) -> float:
    return 1000.0 * sum(e - s for s, e, _ in spans) / len(spans) if spans else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_events(events_dir: str) -> tuple[list, list]:
    """``(jobs, tasks)`` from every event-log file under ``events_dir``:
    jobs as ``[submit_s, end_s]``, tasks as dicts of launch time (s),
    run/CPU/GC milliseconds and input records read."""
    starts: dict[int, float] = {}
    ends: dict[int, float] = {}
    tasks = []
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(events_dir) for f in files
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "launch": info["Launch Time"] / 1000.0,
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                            "gc_ms": m.get("JVM GC Time", 0),
                            "read": (m.get("Input Metrics") or {}).get(
                                "Records Read", 0
                            ),
                        }
                    )
    jobs = [[s, ends.get(j, s)] for j, s in starts.items()]
    return jobs, tasks


def per_layer(spans_doc: dict, events_dir: str, window: tuple, ops: int,
              returned: int) -> dict[str, float]:
    """Fold spans and Spark events inside ``window`` (wall-clock
    seconds) into the per-layer metrics; ``ops`` is the number of
    workload operations and ``returned`` the records the daemon sent
    in the window."""
    w0, w1 = window
    spans = {
        name: [s for s in rows if w0 <= s[0] <= w1]
        for name, rows in spans_doc["spans"].items()
    }
    totals = spans_doc["totals"]

    def get(name):
        return spans.get(name, [])

    ops = max(ops, 1)
    inserts = get("db.insert")
    appends = get("log.append")
    polls = get("db.query")
    records = totals.get("server.row_to_doc", [0, 0.0])[0]
    serialize_s = sum(totals.get(k, [0, 0.0])[1] for k in ("server.row_to_doc", "server.to_json"))
    send_s = totals.get("server.send", [0, 0.0])[1]
    append_s = sum(e - s for s, e, _ in appends)
    insert_s = sum(e - s for s, e, _ in inserts)

    jobs, tasks = read_events(events_dir)
    jobs = [j for j in jobs if w0 <= j[0] <= w1]
    tasks = [t for t in tasks if w0 <= t["launch"] <= w1]
    outside_s = 0.0
    for s, e, _ in get("db.collect"):
        inside = [(max(js, s), min(je, e)) for js, je in jobs if js < e and je > s]
        outside_s += (e - s) - _union_s(inside)

    return {
        "server.insert_batches": len(inserts),
        "server.insert_batch_docs_mean": (
            sum(n for _, _, n in inserts) / len(inserts) if inserts else 0.0
        ),
        "server.polls": len(polls),
        "server.poll_useful_share": (
            sum(1 for _, _, n in polls if n > 0) / len(polls) if polls else 0.0
        ),
        "server.serialize_us_per_record": 1e6 * serialize_s / records if records else 0.0,
        "server.send_us_per_record": 1e6 * send_s / records if records else 0.0,
        "bfl.prepare_ms": _mean_ms(get("bfl.prepare")),
        "bfl.compile_ms": _mean_ms(get("bfl.compile")),
        "db.plan_ms": _mean_ms(get("db.plan")),
        "db.collect_ms": _mean_ms(get("db.collect")),
        "db.fetch_ms": _mean_ms(get("db.fetch")),
        "db.query_ms": _mean_ms(polls),
        "db.single_ms": _mean_ms(get("db.single")),
        "db.insert_ms": _mean_ms(inserts),
        "db.insert_schema_ms": (
            1000.0 * (insert_s - append_s) / len(inserts) if inserts else 0.0
        ),
        "log.append_ms": _mean_ms(appends),
        "spark.jobs_per_op": len(jobs) / ops,
        "spark.tasks_per_op": len(tasks) / ops,
        "spark.task_ms_per_op": sum(t["run_ms"] for t in tasks) / ops,
        "spark.cpu_ms_per_op": sum(t["cpu_ms"] for t in tasks) / ops,
        "spark.gc_ms_per_op": sum(t["gc_ms"] for t in tasks) / ops,
        "spark.records_read_per_record_returned": (
            sum(t["read"] for t in tasks) / returned if returned else 0.0
        ),
        "spark.outside_job_ms_per_op": 1000.0 * outside_s / ops,
    }
