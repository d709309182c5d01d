"""The benchmark's own HTTP endpoint: one process, one asyncio event loop,
no threads or child processes, so its cost is a single measurable core.

Run as ``python3 endpoint.py --seed N``; it prints ``PORT <n>`` on stdout
once listening and exits when its stdin closes (the benchmark holds the
other end, so the endpoint never outlives it). Routes:

- ``GET  /narrow?id=K``, ``GET /wide?id=K`` — one record per key;
- ``POST /narrow``, ``POST /wide`` — a JSON array of ``{"id": K}`` objects
  in, a JSON array of the matching records out (multi-key lookup);
- ``POST /feed`` — define the event feed (``{"page_size",
  "page_interval_ms", "n_keys", "primer_pages"}``): the primer pages fall
  due at once; ``{"start_ms": t}`` then lets one page fall due every
  interval after ``t``, and ``{"stop": true}`` ends the feed at its head;
- ``GET  /head`` — ``{"pages": n}``, the pages whose due time has passed;
- ``GET  /page?page=P`` — page ``P`` of the feed, ``[]`` if not yet due;
- ``POST /sink`` — receiver for the HTTP sink: a JSON array of enriched
  events, each checked against its record and timed from ``due_ms``;
- ``GET  /stats`` — request counters since the last ``POST /reset`` and
  the receiver's record since start (``?brief`` leaves out the per-event
  arrival list).

The endpoint does not import the engine, so a change to the engine cannot
move the harness.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import sys
import time
from collections import Counter
from typing import Dict, List, Optional, Tuple
from urllib.parse import parse_qsl, urlsplit

import gen

_REASONS = {200: b"OK", 400: b"Bad Request", 404: b"Not Found"}
LAG_TICK_S = 0.01


class Feed:
    """The page schedule: pages below ``primer_pages`` fall due when the
    feed is defined, page ``p`` above them at
    ``start_ms + (p - primer_pages + 1) * page_interval_ms``."""

    def __init__(self, seed: int, cfg: dict) -> None:
        self.page_size = cfg["page_size"]
        self.interval = cfg["page_interval_ms"]
        self.primer = cfg["primer_pages"]
        self.zipf = gen.Zipf(seed, cfg["n_keys"])
        self.primer_ms = time.time() * 1000.0
        self.start_ms: Optional[float] = None
        self.max_pages = 1 << 62

    def due_ms(self, page: int) -> float:
        if page < self.primer:
            return self.primer_ms
        return self.start_ms + (page - self.primer + 1) * self.interval

    def head(self) -> int:
        n = self.primer
        now_ms = time.time() * 1000.0
        if self.start_ms is not None and now_ms >= self.start_ms:
            n += int((now_ms - self.start_ms) // self.interval)
        return min(n, self.max_pages)

    def describe(self) -> dict:
        return {"primer_ms": self.primer_ms, "start_ms": self.start_ms,
                "head": self.head(), "max_pages": self.max_pages}


class State:
    """Everything the routes share. ``reset`` starts the request counters
    afresh at the timed window."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.records: Dict[Tuple[str, int], dict] = {}
        self.bodies: Dict[Tuple[str, int], bytes] = {}
        self.feed: Optional[Feed] = None
        # the receiver's record spans the endpoint's life: every event of
        # the feed must arrive, whenever it does
        self.sink_posts = 0
        self.sink_counts: Counter = Counter()
        # (due_ms, latency_ms) of each event's first arrival
        self.sink_first: List[Tuple[float, float]] = []
        self.sink_mismatches = 0
        self.reset()

    def reset(self) -> None:
        self.t_reset = time.monotonic()
        self.cpu_reset = time.process_time()
        self.requests = 0
        self.errors = 0
        self.connections = 0
        self.bytes_in = 0
        self.bytes_out = 0
        self.key_requests = 0
        self.keys_seen: set = set()
        self.lag_max_ms = 0.0
        self.head_polls = 0
        self.page_reads = 0

    # -- records ---------------------------------------------------------

    def record(self, kind: str, key: int) -> dict:
        rec = self.records.get((kind, key))
        if rec is None:
            make = gen.narrow_record if kind == "narrow" else gen.wide_record
            rec = self.records[(kind, key)] = make(self.seed, key)
        return rec

    def record_body(self, kind: str, key: int) -> bytes:
        body = self.bodies.get((kind, key))
        if body is None:
            body = self.bodies[(kind, key)] = json.dumps(
                self.record(kind, key), separators=(",", ":")).encode()
        return body

    # -- feed ------------------------------------------------------------

    def head(self) -> int:
        return 0 if self.feed is None else self.feed.head()

    def page(self, page: int) -> bytes:
        if page >= self.head():
            return b"[]"
        f = self.feed
        events = gen.event_page(self.seed, page, f.page_size, f.zipf, f.due_ms(page))
        return json.dumps(events, separators=(",", ":")).encode()

    def sink(self, body: bytes) -> None:
        now_ms = time.time() * 1000.0
        rows = json.loads(body)
        self.sink_posts += 1
        for row in rows:
            eid = row["event_id"]
            if eid not in self.sink_counts:
                self.sink_first.append((row["due_ms"], now_ms - row["due_ms"]))
            self.sink_counts[eid] += 1
            want = self.record("narrow", row["key"])
            if row.get("name") != want["name"] or row.get("score") != want["score"]:
                self.sink_mismatches += 1

    def stats(self, brief: bool) -> dict:
        wall = time.monotonic() - self.t_reset
        cpu = time.process_time() - self.cpu_reset
        dups = sum(c - 1 for c in self.sink_counts.values())
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "busy_ratio": cpu / wall if wall > 0 else 0.0,
            "requests": self.requests,
            "errors": self.errors,
            "connections": self.connections,
            "bytes_in": self.bytes_in,
            "bytes_out": self.bytes_out,
            "key_requests": self.key_requests,
            "distinct_keys": len(self.keys_seen),
            "lag_max_ms": self.lag_max_ms,
            "head_polls": self.head_polls,
            "page_reads": self.page_reads,
            "head": self.head(),
            "sink_posts": self.sink_posts,
            "sink_rows": sum(self.sink_counts.values()),
            "sink_distinct": len(self.sink_counts),
            "sink_duplicates": dups,
            "sink_mismatches": self.sink_mismatches,
            "sink_first": [] if brief else self.sink_first,
        }


def _route(st: State, method: str, target: str, body: bytes) -> Tuple[int, bytes]:
    parts = urlsplit(target)
    path = parts.path
    if path in ("/narrow", "/wide"):
        kind = path[1:]
        if method == "GET":
            key = int(dict(parse_qsl(parts.query))["id"])
            st.key_requests += 1
            st.keys_seen.add(key)
            return 200, st.record_body(kind, key)
        keys = [int(kv["id"]) for kv in json.loads(body)]
        st.key_requests += len(keys)
        st.keys_seen.update(keys)
        return 200, b"[" + b",".join(st.record_body(kind, k) for k in keys) + b"]"
    if path == "/head":
        st.head_polls += 1
        return 200, b'{"pages":%d}' % st.head()
    if path == "/page":
        st.page_reads += 1
        return 200, st.page(int(dict(parse_qsl(parts.query))["page"]))
    if path == "/sink" and method == "POST":
        st.sink(body)
        return 200, b"{}"
    if path == "/feed" and method == "POST":
        cfg = json.loads(body)
        if cfg.get("stop"):
            st.feed.max_pages = st.feed.head()
        elif "start_ms" in cfg:
            st.feed.start_ms = cfg["start_ms"]
        else:
            st.feed = Feed(st.seed, cfg)
        return 200, json.dumps(st.feed.describe()).encode()
    if path == "/stats":
        return 200, json.dumps(st.stats(brief="brief" in parts.query)).encode()
    if path == "/reset" and method == "POST":
        st.reset()
        return 200, b"{}"
    return 404, b"{}"


class HttpProtocol(asyncio.Protocol):
    """Minimal HTTP/1.1 keep-alive server: Content-Length bodies only,
    which is all the engine's client sends."""

    def __init__(self, st: State) -> None:
        self.st = st
        self.buf = b""
        self.transport: Optional[asyncio.Transport] = None

    def connection_made(self, transport) -> None:
        self.transport = transport
        self.st.connections += 1

    def data_received(self, data: bytes) -> None:
        self.st.bytes_in += len(data)
        self.buf += data
        while True:
            end = self.buf.find(b"\r\n\r\n")
            if end < 0:
                return
            head = self.buf[:end].decode("latin-1").split("\r\n")
            length, close = 0, False
            for line in head[1:]:
                name, _, value = line.partition(":")
                name = name.strip().lower()
                if name == "content-length":
                    length = int(value)
                elif name == "connection" and value.strip().lower() == "close":
                    close = True
            if len(self.buf) < end + 4 + length:
                return
            body = self.buf[end + 4:end + 4 + length]
            self.buf = self.buf[end + 4 + length:]
            method, target, _ = head[0].split(" ", 2)
            st = self.st
            st.requests += 1
            try:
                status, payload = _route(st, method, target, body)
            except (KeyError, ValueError, TypeError) as err:
                status, payload = 400, json.dumps({"error": repr(err)}).encode()
            if status != 200:
                st.errors += 1
            out = b"HTTP/1.1 %d %s\r\nContent-Type: application/json\r\n" \
                  b"Content-Length: %d\r\n\r\n" % (
                      status, _REASONS.get(status, b"Error"), len(payload))
            st.bytes_out += len(out) + len(payload)
            self.transport.write(out + payload)
            if close:
                self.transport.close()
                return


async def _lag_monitor(st: State) -> None:
    """How late the loop wakes a 10 ms timer: the delay every page due
    time, head answer and sink arrival stamp suffers behind busy work."""
    while True:
        t = time.monotonic()
        await asyncio.sleep(LAG_TICK_S)
        late = (time.monotonic() - t - LAG_TICK_S) * 1000.0
        if late > st.lag_max_ms:
            st.lag_max_ms = late


async def _main(seed: int) -> None:
    loop = asyncio.get_running_loop()
    st = State(seed)
    server = await loop.create_server(
        lambda: HttpProtocol(st), "127.0.0.1", 0, backlog=1024)
    port = server.sockets[0].getsockname()[1]
    print(f"PORT {port}", flush=True)
    lag = asyncio.create_task(_lag_monitor(st))
    stdin_closed = loop.create_future()

    class _Stdin(asyncio.Protocol):
        def connection_lost(self, exc) -> None:
            if not stdin_closed.done():
                stdin_closed.set_result(None)

    await loop.connect_read_pipe(_Stdin, sys.stdin)
    try:
        await stdin_closed
    finally:
        lag.cancel()
        server.close()
        await server.wait_closed()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    asyncio.run(_main(ap.parse_args().seed))
