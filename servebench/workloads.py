"""The three serving-path workloads.  Each is a closed loop from one
process: the next operation goes out only after the previous one was
answered and checked against the generator's oracle.

Every workload runs a fixed number of operations on a fixed log layout,
derived from ``--seconds`` by a nominal rate, so both sides of an A/B
do identical work whatever their speed.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from dataclasses import dataclass, field

from gen import FILTERS, Traffic, fetch_page_oracle, follow_oracle, index_to_id
import wire

INGEST_BATCH = 200
PRELOAD_BATCHES = 4
PRELOAD_BATCH = 2500
PAGE = 100
OLDER_PAGES = 3
FETCH_FILTERS = ("typed", "helper")
# untimed operations inside set-up, so the JIT-compiled serving path is
# warm when the window opens
INGEST_WARM_BATCHES = 2
FETCH_WARM_SESSIONS = 2
REPLAY_WARM = 1
# operations per second of --seconds.  At 40 s, ingest_tail makes 32
# batches, so its p90 keeps 10 of its 96 (batch, follower) lags beyond
# it, and backlog_replay makes 5 replays, which keeps a run of each
# within the benchmark's time budget.
INGEST_BATCHES_PER_S = 0.8
FETCH_SESSIONS_PER_S = 0.8
REPLAYS_PER_S = 0.12
OP_TIMEOUT_S = 30.0
# after the last batch, followers are read for two poll intervals more:
# a re-sent or extra record would arrive within them
INGEST_QUIET_S = 0.3


@dataclass
class Outcome:
    """What one run measured."""

    attempted: int = 0
    failed: int = 0
    # seconds from a request to its reply (history_fetch), from a batch's
    # send until a follower delivered its last matching record
    # (ingest_tail), or from a QUERY to each record (backlog_replay)
    latencies: list = field(default_factory=list)
    ttfrs: list = field(default_factory=list)  # seconds to a first record
    units: int = 0  # records or requests done in the window
    returned: int = 0  # records the daemon sent in the window
    window_s: float = 0.0
    wall: tuple = (0.0, 0.0)  # window bounds, time.time()
    setup: dict = field(default_factory=dict)  # preload_s (if any), warmup_s
    user_bytes: int = 0  # bytes of every document inserted
    errors: list = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Window:
    """The timed window: perf_counter and wall-clock bounds, the traced
    daemon's span recording, the driver RSS sampler, and the share of
    the machine's CPU time the hypervisor stole (time the host gave to
    other guests, which slows every timing of the run)."""

    def __init__(self, ctx, out: Outcome):
        self.ctx = ctx
        self.out = out

    def __enter__(self):
        self.ctx.arm(True)
        self._cpu = time.process_time()
        self._jiffies = _cpu_jiffies()
        self._wall = time.time()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.out.window_s = time.perf_counter() - self._t0
        self.out.wall = (self._wall, time.time())
        self.ctx.generator_cpu_s = time.process_time() - self._cpu
        steal, total = (b - a for a, b in zip(self._jiffies, _cpu_jiffies()))
        self.ctx.steal_share = steal / total if total else 0.0
        self.ctx.arm(False)


def _ops(seconds: int, per_s: float) -> int:
    return max(2, math.ceil(seconds * per_s))


def _send_batch(ins: wire.Conn, lines: list[str]) -> float:
    t = time.perf_counter()
    ins.send_bytes(("\n".join(lines) + "\n").encode())
    return t


def _check_single(reply: bytes, traffic: Traffic, seq: int) -> str:
    try:
        doc = json.loads(reply)
    except ValueError:
        return "SINGLE %d: %r" % (seq, reply[:120])
    if doc != traffic.stored(seq):
        return "SINGLE %d: document differs" % seq
    return ""


def insert_confirmed(port: int, ins: wire.Conn, traffic: Traffic, n: int) -> None:
    """Insert ``n`` new documents and wait until the last one is
    visible: SINGLE on its index answers "Index out of range" without a
    Spark job until the batch has landed."""
    lines = traffic.extend(n)
    last = len(traffic.docs) - 1
    _send_batch(ins, lines)
    deadline = time.perf_counter() + OP_TIMEOUT_S
    while True:
        reply = wire.request(port, "/single", str(last), "")
        if not reply.startswith(b"Index out of range"):
            break
        if time.perf_counter() > deadline:
            raise wire.WireError("batch ending at %d never landed" % last)
        time.sleep(0.005)
    err = _check_single(reply, traffic, last)
    if err:
        raise wire.WireError(err)


def parquet_files(store: str) -> tuple[int, int]:
    """(number, total bytes) of the log's parquet files."""
    n = size = 0
    for root, _dirs, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def preload(ctx, traffic: Traffic, out: Outcome) -> None:
    """The fixed read layout: PRELOAD_BATCHES closed-loop batches, one
    parquet file each (a 20 ms INSERT idle flush could split a batch,
    which would change the layout, so the file count is asserted)."""
    t0 = time.perf_counter()
    with wire.Conn(ctx.port) as ins:
        ins.send("/insert")
        for _ in range(PRELOAD_BATCHES):
            insert_confirmed(ctx.port, ins, traffic, PRELOAD_BATCH)
    files, _ = parquet_files(ctx.store)
    if files != PRELOAD_BATCHES:
        raise RuntimeError(
            "preload left %d parquet files, expected %d" % (files, PRELOAD_BATCHES)
        )
    out.setup["preload_s"] = time.perf_counter() - t0


# -- ingest_tail ------------------------------------------------------------


class Follower:
    """One QUERY follower and its oracle: the ids it must deliver, in
    order, each followed by a metadata frame with the cumulative
    ``numberOfWritten`` and the compat ``leftOff`` (index + 1)."""

    def __init__(self, name: str, port: int):
        self.name = name
        self.query = FILTERS[name][0]
        self.conn = wire.Conn(port)
        self.conn.send("/query", "", self.query)
        self.expected: list[int] = []
        self.oracle: list[tuple[int, int, str]] = []
        self.delivered = 0
        self.pending = None  # seq whose metadata frame is due
        self.error = ""
        self.arrivals: list[float] = []  # this batch's records

    def expect(self, seqs: list[int]) -> None:
        self.expected.extend(seqs)
        self.oracle = follow_oracle(self.expected)
        self.arrivals = []

    def caught_up(self) -> bool:
        return bool(self.error) or (
            self.delivered == len(self.expected) and self.pending is None
        )

    def feed(self, line: bytes, now: float) -> None:
        if self.error:
            return
        if line.startswith(wire.META):
            if self.pending is None:
                self.error = "%s: metadata without a record" % self.name
                return
            m = json.loads(line[len(wire.META) :])
            _, written, token = self.oracle[self.delivered - 1]
            if m["numberOfWritten"] != written or m["leftOff"] != token:
                self.error = "%s: frame %r after %d" % (self.name, m, self.pending)
            self.pending = None
            return
        seq = wire.record_id(line)
        if self.delivered >= len(self.oracle) or self.oracle[self.delivered][0] != seq:
            self.error = "%s: got %d at position %d" % (self.name, seq, self.delivered)
            return
        self.delivered += 1
        self.pending = seq
        self.arrivals.append(now)


def ingest_tail(ctx, seed: int, seconds: int) -> Outcome:
    """Writes beside reads on an initially empty log: one INSERT
    connection and three live QUERY followers.  Each batch waits until
    every follower has delivered the batch's last matching record."""
    out = Outcome()
    traffic = Traffic(seed)
    mux = wire.Mux()
    followers: list[Follower] = []
    ins = wire.Conn(ctx.port)
    try:
        ins.send("/insert")
        t0 = time.perf_counter()
        # the cold first insert lands before any follower connects
        insert_confirmed(ctx.port, ins, traffic, INGEST_BATCH)
        followers = [Follower(n, ctx.port) for n in FILTERS]
        for f in followers:
            f.expect(traffic.matching(f.name))
            mux.add(f.conn, f.feed)

        def all_caught_up():
            return all(f.caught_up() for f in followers)

        def run_batch():
            lo = len(traffic.docs)
            lines = traffic.extend(INGEST_BATCH)
            for f in followers:
                f.expect(traffic.matching(f.name, lo))
            t = _send_batch(ins, lines)
            mux.pump(all_caught_up, time.perf_counter() + OP_TIMEOUT_S)
            return t

        mux.pump(all_caught_up, time.perf_counter() + OP_TIMEOUT_S)
        for _ in range(INGEST_WARM_BATCHES):
            run_batch()
        errors = [f.error for f in followers if f.error]
        if errors:
            raise wire.WireError("; ".join(errors))
        out.setup["warmup_s"] = time.perf_counter() - t0

        with Window(ctx, out):
            for _ in range(_ops(seconds, INGEST_BATCHES_PER_S)):
                out.attempted += 1
                if any(f.error for f in followers):
                    out.fail("a follower is broken")
                    continue
                before = sum(f.delivered for f in followers)
                try:
                    t = run_batch()
                except (wire.WireError, OSError) as e:
                    out.fail("batch: %s" % e)
                    for f in followers:
                        f.error = f.error or "timed out"
                    continue
                out.returned += sum(f.delivered for f in followers) - before
                errors = [f.error for f in followers if f.error]
                if errors:
                    out.fail("; ".join(errors))
                    continue
                for f in followers:
                    if f.arrivals:
                        out.latencies.append(f.arrivals[-1] - t)
                        out.ttfrs.append(f.arrivals[0] - t)
                out.units += INGEST_BATCH
        try:
            mux.pump(lambda: False, time.perf_counter() + INGEST_QUIET_S)
        except wire.WireError:
            pass  # the quiet interval ran out, as it should
        errors = [f.error for f in followers if f.error]
        if errors and out.failed == 0:
            # the last batch was followed by records nobody inserted
            out.fail("after the last batch: " + "; ".join(errors))
        out.user_bytes = traffic.size_bytes()
    finally:
        for f in followers:
            f.conn.close()
        mux.close()
        ins.close()
    return out


# -- history_fetch ----------------------------------------------------------


def history_fetch(ctx, seed: int, seconds: int) -> Outcome:
    """Read-only paging of a fixed preloaded log: each session is a
    backward FETCH from ``latest`` plus three older pages that follow
    the returned ``leftOff``, then a SINGLE of a returned id."""
    out = Outcome()
    traffic = Traffic(seed)
    preload(ctx, traffic, out)
    out.user_bytes = traffic.size_bytes()
    n = len(traffic.docs)
    matches = {
        name: sorted(traffic.matching(name), reverse=True) for name in FETCH_FILTERS
    }
    rng = random.Random(seed ^ 0x5EED)

    def session(i: int, record: bool) -> None:
        name = FETCH_FILTERS[i % len(FETCH_FILTERS)]
        query = FILTERS[name][0]
        left, oracle_left = "latest", n - 1
        returned: list[int] = []
        for _ in range(1 + OLDER_PAGES):
            want, want_left = fetch_page_oracle(matches[name], oracle_left, PAGE)
            t0 = time.perf_counter()
            try:
                recs, meta, first = wire.fetch(ctx.port, left, -1, query, PAGE)
                dt = time.perf_counter() - t0
                got = [wire.record_id(r) for r in recs]
                got_left = json.loads(meta[len(wire.META) :])["leftOff"]
            except (wire.WireError, OSError, ValueError) as e:
                got, got_left, first, dt = None, str(e), None, 0.0
            if record:
                out.attempted += 1
                out.returned += len(got or ())
            if got != want or got_left != index_to_id(want_left):
                if record:
                    out.fail("FETCH %s from %s: %s" % (name, left, got_left))
                left = index_to_id(want_left)
            else:
                left = got_left
                if record:
                    out.latencies.append(dt)
                    if first is not None:
                        out.ttfrs.append(first)
                    out.units += 1
            oracle_left = want_left
            returned.extend(want)
        seq = rng.choice(returned)
        t0 = time.perf_counter()
        try:
            reply = wire.request(ctx.port, "/single", str(seq), "")
            err = _check_single(reply, traffic, seq)
        except (wire.WireError, OSError) as e:
            err = str(e)
        dt = time.perf_counter() - t0
        if record:
            out.attempted += 1
            out.returned += 1
            if err:
                out.fail(err)
            else:
                out.latencies.append(dt)
                out.units += 1

    t0 = time.perf_counter()
    for i in range(FETCH_WARM_SESSIONS):
        session(i, record=False)
    out.setup["warmup_s"] = time.perf_counter() - t0
    with Window(ctx, out):
        for i in range(_ops(seconds, FETCH_SESSIONS_PER_S)):
            session(i, record=True)
    return out


# -- backlog_replay ---------------------------------------------------------


def _replay(port: int, n: int):
    """One unfiltered QUERY from the start of the log, closed once the
    last record and its frame arrived: ``(error, seconds from the
    request to each record)``.  The replay must be complete and
    contiguous: ids 0..n-1 in order, then a frame with
    ``numberOfWritten`` n and the compat token n."""
    t0 = time.perf_counter()
    arrivals: list[float] = []
    last_meta = b""
    with wire.Conn(port) as c:
        c.send("/query", "", "")
        while len(arrivals) < n or not last_meta:
            lines = c.recv_lines()
            now = time.perf_counter() - t0
            for line in lines:
                if line.startswith(wire.META):
                    last_meta = line if len(arrivals) == n else b""
                    continue
                seen = len(arrivals)
                if seen >= n or wire.record_id(line) != seen:
                    return "record %d out of order" % seen, arrivals
                arrivals.append(now)
    m = json.loads(last_meta[len(wire.META) :])
    if m["numberOfWritten"] != n or m["leftOff"] != index_to_id(n):
        return "final frame %r" % m, arrivals
    return "", arrivals


def backlog_replay(ctx, seed: int, seconds: int) -> Outcome:
    """Read-only bulk result: unfiltered QUERY replays of the whole
    preloaded log, one at a time."""
    out = Outcome()
    traffic = Traffic(seed)
    preload(ctx, traffic, out)
    out.user_bytes = traffic.size_bytes()
    n = len(traffic.docs)
    t0 = time.perf_counter()
    for _ in range(REPLAY_WARM):
        err, _ = _replay(ctx.port, n)
        if err:
            raise wire.WireError("warm-up replay: " + err)
    out.setup["warmup_s"] = time.perf_counter() - t0
    with Window(ctx, out):
        for _ in range(_ops(seconds, REPLAYS_PER_S)):
            out.attempted += 1
            try:
                err, arrivals = _replay(ctx.port, n)
            except (wire.WireError, OSError, ValueError) as e:
                err = str(e)
            if err:
                out.fail(err)
                continue
            out.latencies.extend(arrivals)
            out.ttfrs.append(arrivals[0])
            out.units += n
            out.returned += n
    return out


WORKLOADS = {
    "ingest_tail": ingest_tail,
    "history_fetch": history_fetch,
    "backlog_replay": backlog_replay,
}
