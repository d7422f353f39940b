"""``python -m basenine_spark`` daemon surface: the reference server
binary's flags (server/server.go:33-39) — version, storage validation,
boot, serve over a real socket, graceful SIGTERM."""

import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_version_flag_prints_and_exits_zero():
    out = subprocess.run(
        [sys.executable, "-m", "basenine_spark", "-version"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0
    from basenine_spark import __version__
    assert out.stdout.strip() == __version__


def test_unknown_storage_driver_rejected():
    out = subprocess.run(
        [sys.executable, "-m", "basenine_spark", "-storage", "exotic"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 2
    assert "Unknown storage driver" in out.stderr


def _start_daemon(args, env=None):
    """Launch the daemon on an ephemeral port; return the process, its
    port and its "listening on" banner line."""
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "basenine_spark",
            "-addr", "127.0.0.1", "-port", "0", "-master", "local[2]",
            *args,
        ],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, env=env,
    )
    line = ""
    deadline = time.time() + 120
    while time.time() < deadline:
        line = proc.stdout.readline()
        if "listening on" in line:
            break
    assert "listening on" in line, line
    port = int(line.split(" listening on ")[1].split()[0].rsplit(":", 1)[1])
    return proc, port, line


def _insert_and_fetch(port):
    """INSERT two documents over the wire, then FETCH the matching one
    back (the append is asynchronous to the INSERT connection, and a
    FETCH before it lands gets an error line, not a record)."""
    from basenine_spark.client import BasenineClient
    from basenine_spark import client as bn

    with BasenineClient("127.0.0.1", port) as c:
        c.insert(['{"kind": "a", "n": 1}', '{"kind": "b", "n": 2}'])
    deadline = time.time() + 60
    records = []
    while time.time() < deadline:
        records, _, _ = bn.fetch(
            "127.0.0.1", port, "latest", -1, 'kind == "a"', 10
        )
        if records and not records[0].startswith("Error"):
            break
        time.sleep(0.5)
    return [json.loads(r) for r in records]


def test_boot_serve_sigterm(tmp_path):
    """End-to-end: boot persistent on an ephemeral port, insert + query
    over the real wire protocol, SIGTERM for a clean exit."""
    proc, port, _ = _start_daemon(
        ["-persistent", "-storage-args", str(tmp_path / "store.db")]
    )
    try:
        [doc] = _insert_and_fetch(port)
        assert doc["kind"] == "a"
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.kill()


def test_non_persistent_store_removed_on_sigterm(tmp_path):
    """Without -persistent the daemon runs the same document log in a
    private temporary directory: inserts land there as parquet files,
    and a clean SIGTERM exit deletes it."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc, port, banner = _start_daemon([], env=env)
    try:
        store = banner.rsplit("temporary store ", 1)[1].strip().rstrip(")")
        assert os.path.dirname(store) == str(tmp_path), banner
        [doc] = _insert_and_fetch(port)
        assert doc["kind"] == "a"
        assert any(d.startswith("part=") for d in os.listdir(store))
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
    assert not os.path.exists(store)
