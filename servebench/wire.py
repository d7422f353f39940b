"""A lean client for the basenine wire protocol: raw sockets, one
receive buffer per connection, and line splitting without decoding
more than an oracle needs."""

from __future__ import annotations

import selectors
import socket
import time

QUIT = b"%quit%"
META = b"/metadata "
_ID_KEY = b'"id":"'


class WireError(Exception):
    """The daemon broke the protocol, closed early or timed out."""


def record_id(line: bytes) -> int:
    """Sequence number of a record line, read from its ``"id"`` key
    without parsing the document."""
    i = line.find(_ID_KEY)
    if i < 0:
        raise WireError("record without an id: %r" % line[:120])
    i += len(_ID_KEY)
    return int(line[i : i + 24])


class Conn:
    """One TCP connection to the daemon."""

    def __init__(self, port: int, timeout: float = 60.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.timeout = timeout
        self._buf = b""

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self) -> "Conn":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def send(self, *lines: str) -> None:
        self.sock.sendall(("\n".join(lines) + "\n").encode())

    def send_bytes(self, data: bytes) -> None:
        self.sock.sendall(data)

    def recv_lines(self) -> list[bytes]:
        """Complete lines from one ``recv``; raises on EOF."""
        chunk = self.sock.recv(1 << 18)
        if not chunk:
            raise WireError("connection closed by the daemon")
        data = self._buf + chunk
        lines = data.split(b"\n")
        self._buf = lines.pop()
        return lines

    def readline(self) -> bytes:
        """One line, blocking up to the connection's timeout."""
        while True:
            i = self._buf.find(b"\n")
            if i >= 0:
                line = self._buf[:i]
                self._buf = self._buf[i + 1 :]
                return line
            try:
                chunk = self.sock.recv(1 << 18)
            except socket.timeout as e:
                raise WireError("no reply within %.0f s" % self.timeout) from e
            if not chunk:
                raise WireError("connection closed by the daemon")
            self._buf += chunk


def request(port: int, *lines: str) -> bytes:
    """One-line command with a one-line reply (SINGLE and friends)."""
    with Conn(port) as c:
        c.send(*lines)
        return c.readline()


def fetch(port: int, left_off: str, direction: int, query: str, limit: int):
    """One FETCH page: ``(record lines, last metadata line, seconds to
    first record)``.  The page ends at ``%quit%``."""
    t0 = time.perf_counter()
    first = None
    records: list[bytes] = []
    meta = b""
    with Conn(port) as c:
        c.send("/fetch", left_off, str(direction), query, str(limit))
        while True:
            line = c.readline()
            if line == QUIT:
                return records, meta, first
            if line.startswith(META):
                meta = line
            else:
                if first is None:
                    first = time.perf_counter() - t0
                records.append(line)


class Mux:
    """One ``selectors`` loop over many connections; each connection's
    lines go to its handler as they arrive."""

    def __init__(self):
        self._sel = selectors.DefaultSelector()

    def add(self, conn: Conn, handler) -> None:
        self._sel.register(conn.sock, selectors.EVENT_READ, (conn, handler))

    def close(self) -> None:
        self._sel.close()

    def pump(self, done, deadline: float) -> None:
        """Dispatch incoming lines until ``done()`` holds; raises
        :class:`WireError` at ``deadline`` (a ``perf_counter`` time)."""
        while not done():
            left = deadline - time.perf_counter()
            if left <= 0:
                raise WireError("timed out waiting for the daemon")
            for key, _ in self._sel.select(min(left, 1.0)):
                conn, handler = key.data
                now = time.perf_counter()
                for line in conn.recv_lines():
                    handler(line, now)
