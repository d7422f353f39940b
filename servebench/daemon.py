"""Launch, watch and stop one ``basenine_spark`` daemon.

The daemon runs in its own process group with a pinned launch: Spark
master ``local[2]``, 1 GiB of driver memory, a fixed Python hash seed,
``-port 0`` and a fresh storage directory.  Everything it writes
(storage, Spark scratch, temp files, the event log in a traced run)
stays under one work directory.
"""

from __future__ import annotations

import os
import re
import signal
import subprocess
import sys
import threading
import time

MASTER = "local[2]"
DRIVER_MEMORY = "1g"
_LISTEN = re.compile(r"listening on \S*:(\d+)")
_KB_PER_MB = 1024


def _rss_mb(pid: int) -> float:
    """Current resident set of ``pid`` in MiB (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / _KB_PER_MB
    except OSError:
        pass
    return 0.0


def _processes():
    """``(pid, state, ppid, pgrp)`` of every live process."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state ppid pgrp ...
        state, ppid, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        yield int(name), state, int(ppid), int(pgrp)


class RssSampler:
    """Peak-RSS watcher for the daemon's Python driver and its JVM
    child, sampled from ``/proc`` every ``interval`` seconds between
    :meth:`start` and :meth:`stop`."""

    def __init__(self, driver_pid: int, interval: float = 0.02):
        self.driver_pid = driver_pid
        self.interval = interval
        self.driver_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._jvm_pid = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        kids = [p for p, _, ppid, _ in _processes() if ppid == self.driver_pid]
        self._jvm_pid = kids[0] if kids else None
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def _sample(self) -> None:
        self.driver_peak_mb = max(self.driver_peak_mb, _rss_mb(self.driver_pid))
        if self._jvm_pid is not None:
            self.jvm_peak_mb = max(self.jvm_peak_mb, _rss_mb(self._jvm_pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()


class Daemon:
    """One daemon process serving a fresh storage directory under
    ``workdir``.  ``traced`` launches it through the benchmark's traced
    launcher, which also turns on Spark's event log."""

    def __init__(self, root: str, workdir: str, traced: bool = False):
        self.root = root
        self.workdir = workdir
        self.traced = traced
        self.store = os.path.join(workdir, "store")
        self.events_dir = os.path.join(workdir, "events")
        self.spans_path = os.path.join(workdir, "spans.json")
        self.log_path = os.path.join(workdir, "daemon.log")
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def start(self, timeout: float = 120.0) -> float:
        """Launch and wait for the "listening on" line; return the
        seconds that took."""
        tmp = os.path.join(self.workdir, "tmp")
        local = os.path.join(self.workdir, "spark-local")
        for d in (tmp, local, self.events_dir):
            os.makedirs(d, exist_ok=True)
        submit = [
            "--driver-memory", DRIVER_MEMORY,
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "--conf", f"spark.local.dir={local}",
        ]
        if self.traced:
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
                "--conf", f"spark.eventLog.dir=file://{self.events_dir}",
            ]
        env = dict(os.environ)
        env.update(
            PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
            PYTHONPATH=self.root,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            PYTHONDONTWRITEBYTECODE="1",
            PYTHONHASHSEED="0",
        )
        env.pop("SPARK_CONF_DIR", None)
        args = [
            "-persistent", "-storage-args", self.store,
            "-addr", "127.0.0.1", "-port", "0", "-master", MASTER,
        ]
        if self.traced:
            launcher = os.path.join(os.path.dirname(__file__), "traced_daemon.py")
            cmd = [sys.executable, launcher, self.spans_path] + args
        else:
            cmd = [sys.executable, "-m", "basenine_spark"] + args
        out_path = os.path.join(self.workdir, "daemon.out")
        t0 = time.monotonic()
        with open(out_path, "w") as out, open(self.log_path, "w") as err:
            self.proc = subprocess.Popen(
                cmd, cwd=self.workdir, env=env, stdout=out, stderr=err,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
        deadline = t0 + timeout
        while time.monotonic() < deadline:
            with open(out_path) as fh:
                m = _LISTEN.search(fh.read())
            if m:
                self.port = int(m.group(1))
                return time.monotonic() - t0
            if self.proc.poll() is not None:
                break
            time.sleep(0.01)
        raise RuntimeError("daemon did not start:\n" + self.log_tail())

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path, errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""

    def stop(self, timeout: float = 20.0) -> int | None:
        """SIGTERM the daemon (it shuts its server and Spark down), then
        make sure every process of its group has ended; return the
        daemon's exit code."""
        if self.proc is None:
            return None
        pgid = self.proc.pid
        # A signal that reaches a thread other than the one blocked in
        # the daemon's wait (possible when another signal is still
        # pending) is not acted on until that thread wakes, so the
        # SIGTERM is repeated until the daemon exits.
        deadline = time.monotonic() + timeout
        while self.proc.poll() is None and time.monotonic() < deadline:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=2)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 5
        while any(g == pgid and s != "Z" for _, s, _, g in _processes()):
            if time.monotonic() > deadline:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        code = self.proc.wait()
        self.proc = None
        return code
