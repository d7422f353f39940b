"""Serving-path benchmark for the basenine daemon.

Run from the repository root::

    python3 servebench/run.py --workload ingest_tail --seed 1 --seconds 10 --trace 0

It launches ``python -m basenine_spark -persistent`` on a fresh storage
directory, drives it over the wire protocol, checks every reply against
the generator's oracle and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
runs the daemon through the traced launcher and reports the per-layer
metrics.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# a run ends, with or without a result, within this many seconds
RUN_LIMIT_S = 150
sys.path.insert(0, HERE)

from daemon import Daemon, RssSampler  # noqa: E402
from layers import per_layer  # noqa: E402
from workloads import WORKLOADS, parquet_files  # noqa: E402


class Context:
    """What a workload needs of the daemon, and the window hooks."""

    def __init__(self, daemon: Daemon):
        self.daemon = daemon
        self.port = daemon.port
        self.store = daemon.store
        self.sampler = RssSampler(daemon.proc.pid)
        self.generator_cpu_s = 0.0
        self.steal_share = 0.0

    def arm(self, on: bool) -> None:
        """Open or close the timed window in the daemon: the RSS sampler
        runs and, in a traced run, the launcher records spans."""
        if self.daemon.traced:
            os.kill(self.daemon.proc.pid, signal.SIGUSR1 if on else signal.SIGUSR2)
        if on:
            self.sampler.start()
        else:
            self.sampler.stop()


def percentile(xs: list, q: int) -> float:
    """The ``q``-th percentile, interpolated between closest ranks."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(out, launch_s: float, sampler: RssSampler) -> dict[str, float]:
    lat = out.latencies
    return {
        "setup_s": launch_s + out.setup.get("preload_s", 0.0) + out.setup["warmup_s"],
        "throughput_per_s": out.units / out.window_s if out.window_s else 0.0,
        "latency_p50_ms": 1000.0 * (statistics.median(lat) if lat else 0.0),
        "latency_p90_ms": 1000.0 * percentile(lat, 90),
        "ttfr_ms": 1000.0 * (statistics.median(out.ttfrs) if out.ttfrs else 0.0),
        "driver_rss_peak_mb": sampler.driver_peak_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "basenine_spark", "__main__.py")):
        print("servebench: basenine_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    def _overrun(signum, frame):
        raise TimeoutError("run exceeded %d s" % RUN_LIMIT_S)

    signal.signal(signal.SIGALRM, _overrun)
    # a terminated run still stops its daemon in the finally blocks below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(root, ".servebench", "%s-%d" % (args.workload, os.getpid()))
    os.makedirs(work)
    daemon = Daemon(root, work, traced=bool(args.trace))
    try:
        try:
            launch_s = daemon.start()
            ctx = Context(daemon)
            out = WORKLOADS[args.workload](ctx, args.seed, args.seconds)
            files, size = parquet_files(daemon.store)
        except BaseException:
            print(daemon.log_tail(), file=sys.stderr)
            raise
        finally:
            signal.alarm(0)
            code = daemon.stop()
        metrics = end_to_end(out, launch_s, ctx.sampler)
        print(
            "servebench: %s seed=%d ops=%d failed=%d latency_samples=%d "
            "window_s=%.2f generator_cpu_s=%.3f steal_share=%.3f daemon_exit=%s "
            "errors=%s"
            % (args.workload, args.seed, out.attempted, out.failed,
               len(out.latencies), out.window_s, ctx.generator_cpu_s,
               ctx.steal_share, code, out.errors),
            file=sys.stderr,
        )
        if args.trace:
            with open(daemon.spans_path) as fh:
                spans = json.load(fh)
            layers = per_layer(
                spans, daemon.events_dir, out.wall, out.attempted, out.returned
            )
            layers.update(
                {
                    "log.files": files,
                    "log.bytes_per_user_byte": size / out.user_bytes,
                    "spark.jvm_rss_peak_mb": ctx.sampler.jvm_peak_mb,
                    "setup.launch_s": launch_s,
                    "setup.preload_s": out.setup.get("preload_s", 0.0),
                    "setup.warmup_s": out.setup["warmup_s"],
                    "bench.generator_cpu_s": ctx.generator_cpu_s,
                    "bench.cpu_steal_share": ctx.steal_share,
                    "bench.latency_samples": len(out.latencies),
                }
            )
            layers.update({"traced." + k: v for k, v in metrics.items()})
            metrics = layers
            wanted = {m["name"] for m in spec["per_layer"]}
        else:
            wanted = {m["name"] for m in spec["end_to_end"]}
        if set(metrics) != wanted:
            raise RuntimeError("metrics differ from BENCHMARK.json: %s"
                               % sorted(set(metrics) ^ wanted))
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
