"""Traced daemon launcher: ``python traced_daemon.py SPANS_PATH ARGS...``
runs ``basenine_spark.__main__.main(ARGS)`` with timing wrappers around
the package's public layer boundaries, and writes the recorded spans
to SPANS_PATH as JSON when the daemon exits.

Nothing under ``basenine_spark/`` is edited: the wrappers replace
attributes at import time.  Spans are recorded only while the window
is armed: SIGUSR1 arms it, SIGUSR2 disarms it, so set-up work stays
out of the per-layer numbers.  Spans are held in memory.  Per-record
boundaries (serialization, socket sends) keep only a count and a
total; every other boundary keeps ``[start, end, n]`` wall-clock
triples, ``n`` being the records the call handled.
"""

from __future__ import annotations

import functools
import json
import signal
import sys
import time

# name -> list of [start, end, n]
SPANS: dict[str, list] = {}
# name -> [calls, seconds]
TOTALS: dict[str, list] = {}
_armed = False


def _set_armed(value: bool) -> None:
    global _armed
    _armed = value


def _span(name, size=None):
    """Record each call as a span named ``name``; ``size(args, result)``
    gives its record count."""

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if not _armed:
                return fn(*args, **kwargs)
            t0 = time.time()
            result = fn(*args, **kwargs)
            n = size(args, result) if size else 1
            SPANS.setdefault(name, []).append([t0, time.time(), n])
            return result

        return inner

    return wrap


def _total(name):
    """Accumulate call count and seconds of a per-record boundary."""

    def wrap(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if not _armed:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            acc = TOTALS.setdefault(name, [0, 0.0])
            acc[0] += 1
            acc[1] += time.perf_counter() - t0
            return result

        return inner

    return wrap


def install() -> None:
    from pyspark.sql.classic import dataframe as classic_df

    from basenine_spark import server
    from basenine_spark.engine import db, log

    DB = db.BasenineDB
    DB._prepare = _span("bfl.prepare")(DB._prepare)
    db.compile_filter = _span("bfl.compile")(db.compile_filter)
    DB.fetch = _span("db.plan")(DB.fetch)
    DB.query = _span("db.plan")(DB.query)
    DB.fetch_with_metadata = _span("db.fetch", lambda a, r: len(r[0]))(
        DB.fetch_with_metadata
    )
    DB.query_with_metadata = _span("db.query", lambda a, r: len(r[0]))(
        DB.query_with_metadata
    )
    DB.single = _span("db.single")(DB.single)
    DB.insert_json = _span("db.insert", lambda a, r: len(a[1]))(DB.insert_json)
    log.DocumentLog.append = _span("log.append", lambda a, r: len(a[1]))(
        log.DocumentLog.append
    )
    classic_df.DataFrame.collect = _span("db.collect", lambda a, r: len(r))(
        classic_df.DataFrame.collect
    )
    server.row_to_doc = _total("server.row_to_doc")(server.row_to_doc)
    db.Metadata.to_json = _total("server.to_json")(db.Metadata.to_json)
    server.BasenineServer._send = staticmethod(
        _total("server.send")(server.BasenineServer._send)
    )


def main() -> int:
    spans_path, argv = sys.argv[1], sys.argv[2:]
    install()
    signal.signal(signal.SIGUSR1, lambda *_: _set_armed(True))
    signal.signal(signal.SIGUSR2, lambda *_: _set_armed(False))
    from basenine_spark.__main__ import main as daemon_main

    try:
        return daemon_main(argv)
    finally:
        with open(spans_path, "w") as fh:
            json.dump({"spans": SPANS, "totals": TOTALS}, fh)


if __name__ == "__main__":
    raise SystemExit(main())
