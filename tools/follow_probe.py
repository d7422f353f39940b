"""Commit-reader probe: per-commit wall time and Spark jobs for N QUERY
followers of one daemon, at a given number of log files.

Runs in-process: a ``BasenineDB`` at ``local[2]`` on a fresh log
directory preloaded with F files (200-document wire batches of
``servebench/gen.py`` traffic), a ``BasenineServer``, and N followers on
distinct compiled filters (``response.bodySize >= k``), each read by
its own client thread.  Every commit is one 200-document
``insert_json``.  Its wall time runs from the insert until every
follower's poll for it has returned; its jobs are all Spark jobs
started in that span (job ids are dense: two marker jobs bracket it)
and, of those, the jobs in the commit reader's job group.  The commit
reader asks the log's index for the commit's file and evaluates the
filters on the driver over it; ``--spark`` makes it run its Spark scan
of that file for every commit instead, and ``--own`` gives every poll
its own scan, as before the commit reader.

Usage::

    python tools/follow_probe.py [--followers 1,8,64] [--files 50,500]
                                 [--commits 6] [--own | --spark]

Prints one line per (files, followers): the median and max commit wall
time, and jobs per commit (all / commit-tagged).  Not a gate.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "servebench"))

BATCH = 200


def _marker(sc) -> int:
    """Run one tiny tagged job and return its id."""
    sc.setJobGroup("probe-marker", "probe marker")
    sc.parallelize([0], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup("probe-marker"))


def _wait(cond, timeout: float = 300.0) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise TimeoutError("followers did not finish their polls")
        time.sleep(0.002)


def run(spark, n_files: int, n_followers: int, commits: int, mode: str):
    from gen import Traffic

    from basenine_spark import client as bn
    from basenine_spark.engine.db import BasenineDB
    from basenine_spark.server import BasenineServer

    sc = spark.sparkContext
    traffic = Traffic(3)
    with tempfile.TemporaryDirectory(prefix="follow-probe-") as tmp:
        db = BasenineDB(spark, path=os.path.join(tmp, "store"))
        for _ in range(n_files):
            db.insert_json(traffic.extend(BATCH))
        if mode == "own":
            db._commit_records = lambda *args: None
        elif mode == "spark":
            db._eval_commit = lambda *args: None
        calls = []
        poll = db.query_pages

        def counted(*args, **kwargs):
            pages = list(poll(*args, **kwargs))
            calls.append(1)
            yield from pages

        db.query_pages = counted
        server = BasenineServer(db).start()
        clients = []

        def drain(frames):
            for _ in frames:
                pass

        try:
            for i in range(n_followers):
                c = bn.BasenineClient(server.host, server.port, timeout=600)
                clients.append(c)
                frames = c.query("latest", f"response.bodySize >= {i * 250}")
                threading.Thread(
                    target=drain, args=(frames,), daemon=True
                ).start()
            _wait(lambda: len(calls) >= n_followers)
            walls, jobs, tagged = [], [], []
            for _ in range(commits):
                batch = traffic.extend(BATCH)
                before = _marker(sc)
                n0 = len(calls)
                t0 = time.perf_counter()
                db.insert_json(batch)
                _wait(lambda: len(calls) >= n0 + n_followers)
                walls.append((time.perf_counter() - t0) * 1000)
                after = _marker(sc)
                jobs.append(after - before - 1)
                group = f"bn-commit-{db._commit_version}"
                ids = sc.statusTracker().getJobIdsForGroup(group)
                tagged.append(sum(1 for j in ids if before < j < after))
        finally:
            for c in clients:
                c.close()
            server.stop()
    # the first commit warms the shared plan; report the rest
    walls, jobs, tagged = walls[1:], jobs[1:], tagged[1:]
    print(
        f"files={n_files} followers={n_followers} "
        f"mode={mode} "
        f"commit_ms_p50={statistics.median(walls):.0f} "
        f"commit_ms_max={max(walls):.0f} "
        f"jobs_per_commit={statistics.mean(jobs):.2f} "
        f"commit_tagged={statistics.mean(tagged):.2f}",
        flush=True,
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--followers", default="1,8,64")
    ap.add_argument("--files", default="50,500")
    ap.add_argument("--commits", type=int, default=6)
    modes = ap.add_mutually_exclusive_group()
    modes.add_argument("--own", action="store_true")
    modes.add_argument("--spark", action="store_true")
    args = ap.parse_args()
    mode = "own" if args.own else "spark" if args.spark else "driver"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n_files in (int(x) for x in args.files.split(",")):
        for n in (int(x) for x in args.followers.split(",")):
            run(spark, n_files, n, args.commits, mode)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
