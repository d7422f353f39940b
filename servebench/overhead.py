"""Tracing overhead of the serving-path benchmark.

Runs one workload untraced and traced on the same seeds, alternating
which goes first, at the ``run_seconds`` of ``BENCHMARK.json``, and
prints one JSON line per end-to-end metric: the untraced median, the
traced median and traced minus untraced.  From the repository root::

    python3 servebench/overhead.py --workload backlog_replay --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("seed %d trace %d: %d of %d operations failed"
                           % (seed, trace, result["failed"], result["attempted"]))
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]

    plain: dict[str, list] = {}
    traced: dict[str, list] = {}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            metrics = _run(args.workload, seed, seconds, trace)
            for k, v in metrics.items():
                if trace == 0:
                    plain.setdefault(k, []).append(v)
                elif k.startswith("traced."):
                    traced.setdefault(k[len("traced."):], []).append(v)
    for k in sorted(plain):
        u, t = statistics.median(plain[k]), statistics.median(traced[k])
        print(json.dumps({"workload": args.workload, "metric": k, "untraced": u,
                          "traced": t, "overhead": t - u, "runs": len(plain[k])}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
