"""Replay probe: wall time and peak driver RSS of one unfiltered QUERY
replay of a whole log, at several log sizes.

For each size N a child process writes a fresh log of N
``servebench/gen.py`` documents in 10,000-document wire batches (one
Parquet file each, written by ``DocumentLog.append`` without Spark).
A second child opens the log as a ``BasenineDB`` at ``local[2]`` and
replays it through ``BasenineDB.query_pages("")``, building every
record and ``/metadata`` line the server would send (no socket).  It
reports the replay's wall time and, from ``/proc/self/status``, its
``VmRSS`` before the replay and its ``VmHWM`` before and after it.  A
replay holds one page (one file group) at a time, so the peak should
stay flat as the log grows.

Usage::

    python tools/replay_probe.py [--sizes 10000,100000,1000000] [--dir DIR]

Prints one line per size.  Not a gate.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "servebench"))

BATCH = 10_000


def _status_mb(field: str) -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def make(path: str, n: int) -> None:
    """Write ``n`` documents to a fresh log at ``path``."""
    from gen import Traffic

    from basenine_spark.engine.log import DocumentLog

    log = DocumentLog(None, path)
    traffic = Traffic(7)
    for lo in range(0, n, BATCH):
        log.append(traffic.extend(min(BATCH, n - lo)))
        traffic.docs.clear()
        traffic.lines.clear()


def replay(path: str) -> None:
    """Replay the log at ``path`` once and print what it cost."""
    from pyspark.sql import SparkSession

    from basenine_spark.engine.db import BasenineDB

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    db = BasenineDB(spark, path=path)
    rss0, hwm0 = _status_mb("VmRSS"), _status_mb("VmHWM")
    t0 = time.perf_counter()
    records = pages = sent = 0
    for rows, frames in db.query_pages(""):
        chunk = "\n".join(
            f"{row[1]}\n/metadata {frame.to_json()}"
            for row, frame in zip(rows, frames)
        )
        sent += len(chunk.encode())
        records += len(rows)
        pages += 1
    wall = time.perf_counter() - t0
    print(
        f"records={records} pages={pages} sent_mb={sent / 2**20:.0f} "
        f"replay_s={wall:.2f} records_per_s={records / wall:,.0f} "
        f"rss_before_mb={rss0:.0f} hwm_before_mb={hwm0:.0f} "
        f"hwm_after_mb={_status_mb('VmHWM'):.0f}",
        flush=True,
    )
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", default="10000,100000,1000000")
    ap.add_argument("--dir", default=None, help="where the logs are written")
    ap.add_argument("--make", nargs=2, metavar=("PATH", "N"), help=argparse.SUPPRESS)
    ap.add_argument("--replay", metavar="PATH", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.make:
        make(args.make[0], int(args.make[1]))
        return 0
    if args.replay:
        replay(args.replay)
        return 0
    me = os.path.abspath(__file__)
    for n in (int(x) for x in args.sizes.split(",")):
        tmp = tempfile.mkdtemp(prefix="replay-probe-", dir=args.dir)
        try:
            store = os.path.join(tmp, "store")
            t0 = time.perf_counter()
            subprocess.run([sys.executable, me, "--make", store, str(n)], check=True)
            print(f"size={n} make_s={time.perf_counter() - t0:.1f} ", end="", flush=True)
            subprocess.run([sys.executable, me, "--replay", store], check=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
