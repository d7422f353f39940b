"""``python -m basenine_spark`` — the daemon launch surface, mirroring
the reference server binary's flags (``server/server.go:33-39``):

    -addr    address to listen on        (default "" = all interfaces)
    -port    port to listen on           (default 9099)
    -debug   enable debug logs
    -version print version and exit
    -persistent  records survive restart: the document log (partitioned
                 Parquet) lives in the storage directory and is restored
                 on boot (S8; the reference dumps/restores a core file
                 in pwd).  Without it the same log runs in a private
                 temporary directory, removed at exit
    -storage      storage driver (only "native", like the reference)
    -storage-args native driver argument: the storage directory
                  (default ./basenine_spark.db in pwd, matching the
                  reference's .db-files-in-pwd behavior)

Extra (Spark-side, no reference twin): -master for the Spark master
URL (default ``local[*]``; a real deployment passes its cluster
master), and -no-skip-left-off to opt OUT of the reference's QUERY
token arithmetic (the default mints the reference's index+1 tokens
verbatim, ``native.go:392`` — see ``server.py``; the opt-out mints
the delivered id itself, so token replay resumes with no skipped
record). Both single-dash (reference style) and GNU double-dash
spellings are accepted.

Graceful shutdown: SIGINT/SIGTERM close client connections and stop
the server, like the reference's signal channel (server.go:75-85);
the data is already on disk at every micro-batch, so there is no
exit-time dump step to lose (a non-persistent store is deleted).
"""

from __future__ import annotations

import argparse
import signal
import sys
import threading


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m basenine_spark",
        description="Basenine-compatible streaming database on PySpark.",
    )
    # register single-dash (reference) + double-dash spellings
    p.add_argument("-addr", "--addr", default="", help='listen address; "" = all interfaces')
    p.add_argument("-port", "--port", type=int, default=9099, help="listen port")
    p.add_argument("-debug", "--debug", action="store_true", help="debug logs")
    p.add_argument("-version", "--version", action="store_true", help="print version and exit")
    p.add_argument(
        "-persistent", "--persistent", action="store_true",
        help="keep the log in the storage directory across restarts "
        "(default: a temporary directory removed at exit)",
    )
    p.add_argument("-storage", "--storage", default="native", help='storage driver ("native")')
    p.add_argument(
        "-storage-args", "--storage-args", dest="storage_args", default="",
        help="native driver: storage directory (default ./basenine_spark.db)",
    )
    p.add_argument("-master", "--master", default="local[*]", help="Spark master URL")
    p.add_argument(
        "-no-skip-left-off", "--no-skip-left-off",
        dest="no_skip_left_off", action="store_true",
        help="mint no-skip QUERY leftOff tokens instead of the "
        "reference's +1 arithmetic (opt-out of compat_left_off)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    from basenine_spark import __version__

    args = _parser().parse_args(argv)
    if args.version:
        print(__version__)
        return 0
    if args.storage != "native":
        print(f"Unknown storage driver: {args.storage}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from basenine_spark.engine.db import BasenineDB
    from basenine_spark.server import BasenineServer

    spark = (
        SparkSession.builder.master(args.master)
        .appName("basenine-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("DEBUG" if args.debug else "WARN")

    path = None
    if args.persistent:
        path = args.storage_args or "./basenine_spark.db"
    db = BasenineDB(spark, path=path)
    # addr "" means all interfaces (reference default); BasenineServer
    # binds the given host string directly
    server = BasenineServer(
        db,
        host=args.addr or "0.0.0.0",
        port=args.port,
        compat_left_off=not args.no_skip_left_off,
    )
    server.start()
    kind = "persistent" if args.persistent else "temporary"
    print(
        f"basenine_spark {__version__} listening on "
        f"{args.addr or '0.0.0.0'}:{server.port} "
        f"({kind} store {db._log.path})",
        flush=True,
    )

    stop = threading.Event()

    def _graceful(signum, frame):
        stop.set()

    signal.signal(signal.SIGINT, _graceful)
    signal.signal(signal.SIGTERM, _graceful)
    stop.wait()
    server.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
