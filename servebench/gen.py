"""Seeded HTTP-traffic documents and the oracles the workloads check
the daemon's replies against.

A document has the shape the basenine traffic monitor stores::

    {"request": {"method", "path", "headers": {...}},
     "response": {"status", "bodySize"},
     "src": {"ip"}, "elapsedTime", "timestamp"}

Every leaf keeps one JSON type in every document, so the daemon's
typed view round-trips a document exactly and a SINGLE reply can be
compared with the generated document key for key.
"""

from __future__ import annotations

import json
import random

# the three standing filters of ``ingest_tail`` and the FETCH filter of
# ``history_fetch``: (BFL text, the same predicate over a document)
FILTERS = {
    "all": ("", lambda d: True),
    "typed": ("response.status >= 500", lambda d: d["response"]["status"] >= 500),
    "helper": (
        'request.method == "POST" and request.path.startsWith("/api")',
        lambda d: d["request"]["method"] == "POST"
        and d["request"]["path"].startswith("/api"),
    ),
}

_METHODS = ("GET", "POST", "PUT", "DELETE")
_METHOD_W = (60, 25, 10, 5)
_PATHS = (
    "/api/users", "/api/orders", "/api/items", "/api/search",
    "/static/app.js", "/static/style.css", "/health", "/login",
)
_STATUS = (200, 201, 204, 304, 400, 404, 500, 502, 503)
_STATUS_W = (62, 6, 3, 5, 3, 8, 7, 3, 3)
_AGENTS = ("curl/8.5.0", "Mozilla/5.0", "kube-probe/1.29", "python-requests/2.31")
_TYPES = ("application/json", "text/html", "text/plain")
_BASE_TS = 1_700_000_000_000


def index_to_id(index: int) -> str:
    """The wire id of the record at sequence ``index`` (reference
    ``IndexToID``)."""
    return "%024d" % index


class Traffic:
    """A deterministic stream of documents for one seed.

    ``docs[i]`` is the i-th document generated; when documents are
    inserted in generation order into an empty log it also holds the
    record whose id is ``index_to_id(i)``."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self.docs: list[dict] = []
        self.lines: list[str] = []

    def extend(self, n: int) -> list[str]:
        """Generate ``n`` more documents; return their JSON lines."""
        rng = self._rng
        start = len(self.docs)
        out = []
        for i in range(start, start + n):
            path = rng.choice(_PATHS)
            if path in ("/api/items", "/api/users"):
                path += "/%d" % rng.randrange(10_000)
            doc = {
                "request": {
                    "method": rng.choices(_METHODS, _METHOD_W)[0],
                    "path": path,
                    "headers": {
                        "host": "svc-%d.default.svc" % rng.randrange(8),
                        "user-agent": rng.choice(_AGENTS),
                        "content-type": rng.choice(_TYPES),
                    },
                },
                "response": {
                    "status": rng.choices(_STATUS, _STATUS_W)[0],
                    "bodySize": rng.randrange(20, 20_000),
                },
                "src": {
                    "ip": "10.%d.%d.%d"
                    % (rng.randrange(4), rng.randrange(256), rng.randrange(1, 255))
                },
                "elapsedTime": rng.randrange(1, 900),
                "timestamp": _BASE_TS + i * 7 + rng.randrange(7),
            }
            self.docs.append(doc)
            out.append(json.dumps(doc, separators=(",", ":")))
        self.lines.extend(out)
        return out

    def size_bytes(self) -> int:
        """Bytes of every generated JSON line, newline included."""
        return sum(len(x) + 1 for x in self.lines)

    def matching(self, name: str, lo: int = 0, hi: int | None = None) -> list[int]:
        """Sequence numbers in ``[lo, hi)`` that filter ``name`` keeps."""
        pred = FILTERS[name][1]
        hi = len(self.docs) if hi is None else hi
        return [i for i in range(lo, hi) if pred(self.docs[i])]

    def stored(self, seq: int) -> dict:
        """The document the daemon holds at ``seq``: the inserted one
        plus its injected id."""
        return dict(self.docs[seq], id=index_to_id(seq))


def fetch_page_oracle(
    matches_desc: list[int], left_off: int, limit: int
) -> tuple[list[int], int]:
    """Expected ids of a backward FETCH page and the ``leftOff`` that the
    page's last frame returns.

    ``matches_desc`` holds every matching sequence number, descending.
    A backward page from ``left_off`` holds the first ``limit`` matches
    strictly below ``left_off``; each frame's ``leftOff`` is its
    record's own sequence, and a page that runs off the start of the
    log ends with a record-less frame whose ``leftOff`` is 0."""
    page = [s for s in matches_desc if s < left_off][:limit]
    if len(page) == limit:
        return page, page[-1]
    return page, 0


def follow_oracle(matches: list[int]) -> list[tuple[int, int, str]]:
    """What a QUERY follower opened from the start of the log delivers
    for the matching sequence numbers ``matches``: for each record, its
    sequence, the cumulative ``numberOfWritten`` and the compat
    ``leftOff`` token (the delivered index plus one)."""
    return [(s, n + 1, index_to_id(s + 1)) for n, s in enumerate(matches)]
