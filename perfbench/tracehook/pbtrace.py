"""Span recorder for the traced session, and the wrappers it installs around
the engine's layer entry points as their modules are imported.

A span is ``[name, start, end, busy, id, parent, request, attrs]``: epoch
seconds, ``busy`` the time spent inside a generator (``None`` for a plain
call), ``parent`` 0 for a root, ``request`` the id of the root span the
span descends from. A span's parent is the innermost open span of its own
thread or, on a pool thread with none, the open span that set the process's
ambient context (the lookup batch or stream read being worked on: a Spark
Python worker runs one task at a time). Spans are kept in memory and
appended to ``$PERFBENCH_SPANS/<pid>.jsonl`` when a task ends, when a root
span ends after ``FLUSH_EVERY_S`` without a flush, and at exit.

Wrappers record only while the switch file ``$PERFBENCH_SPANS/on`` exists,
read when a Spark task starts and when the stream reader plans a batch, so
the benchmark can alternate traced and untraced passes in one session.
"""

from __future__ import annotations

import atexit
import functools
import importlib.abc
import itertools
import json
import os
import sys
import threading
import time
from urllib.parse import urlsplit

FLUSH_EVERY_S = 0.5
SWITCH = "on"

_enabled = False
_spans: list = []
_ids = itertools.count(1)
_local = threading.local()
_ambient = None  # (id, request) inherited by threads with no open span
_flush_lock = threading.Lock()
_last_flush = time.time()


def refresh() -> None:
    global _enabled
    directory = os.environ.get("PERFBENCH_SPANS")
    _enabled = bool(directory) and os.path.exists(os.path.join(directory, SWITCH))


def _stack() -> list:
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    return stack


def begin(ambient: bool = False) -> tuple:
    global _ambient
    stack = _stack()
    parent, request = stack[-1] if stack else (_ambient or (0, None))
    sid = (os.getpid() << 32) | next(_ids)
    if request is None:
        request = sid
    stack.append((sid, request))
    prev = _ambient
    if ambient:
        _ambient = (sid, request)
    return sid, parent, request, prev, ambient


def end(tok: tuple, name: str, t0: float, attrs=None, busy=None) -> None:
    global _ambient
    sid, parent, request, prev, ambient = tok
    t1 = time.time()
    _stack().pop()
    if ambient:
        _ambient = prev
    _spans.append([name, t0, t1, busy, sid, parent, request, attrs])
    if not parent and t1 - _last_flush > FLUSH_EVERY_S:
        flush()


def flush() -> None:
    global _last_flush
    directory = os.environ.get("PERFBENCH_SPANS")
    with _flush_lock:
        _last_flush = time.time()
        if not _spans or not directory:
            return
        batch = _spans[:]
        del _spans[:len(batch)]
        with open(os.path.join(directory, f"{os.getpid()}.jsonl"), "a") as f:
            f.write("".join(json.dumps(s) + "\n" for s in batch))


# -- wrappers ----------------------------------------------------------------


def traced(fn, name, attrs=None, ambient=False):
    """Wrap ``fn`` in a span. ``attrs(args, result)`` gives the span's
    counts; it gets ``result=None`` when ``fn`` raised."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not _enabled:
            return fn(*args, **kwargs)
        t0 = time.time()
        tok = begin(ambient)
        out, ok = None, False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            counts = attrs(args, out) if attrs else None
            end(tok, name, t0, counts if ok else dict(counts or {}, error=1))

    return wrapper


def traced_iter(fn, name):
    """For a generator function: one span from the first ``next`` to the
    end of iteration, whose ``busy`` time counts only time inside it."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not _enabled:
            yield from fn(*args, **kwargs)
            return
        it = iter(fn(*args, **kwargs))
        t0 = None
        busy = 0.0
        items = 0
        tok = None
        while True:
            t = time.time()
            if t0 is None:
                t0 = t
                tok = begin(ambient=True)
            else:
                _stack().append(tok[:2])
            try:
                item = next(it)
            except StopIteration:
                busy += time.time() - t
                end(tok, name, t0, {"items": items}, busy)
                return
            busy += time.time() - t
            _stack().pop()
            items += 1
            yield item

    return wrapper


def _transport_attrs(args, resp):
    spec = args[1]
    counts = {"out": len(spec.url) + len(spec.body or b""), "path": urlsplit(spec.url).path}
    if resp is not None:
        counts.update({"in": len(resp.body), "status": resp.status})
    return counts


def _failed(result) -> int:
    return int(result is None or result.completion_state.name != "SUCCESS")


def _enrich_attrs(args, out):
    cfg, pdf = args[0], args[3]
    cols = [pdf[c.split(".")[0]].tolist() for c, _ in cfg.pairs]
    return {"rows_in": len(pdf), "rows_out": 0 if out is None else len(out),
            "distinct": len(set(zip(*cols)))}


def _traced_put(fn):
    @functools.wraps(fn)
    def wrapper(self, key, value):
        if not _enabled:
            return fn(self, key, value)
        t0 = time.time()
        tok = begin()
        before, known = len(self._data), key in self._data
        try:
            return fn(self, key, value)
        finally:
            end(tok, "cache.put", t0,
                {"evicted": before + (not known) - len(self._data)})

    return wrapper


def _patch_client(m):
    c = m.HttpPollingClient
    c.send = traced(c.send, "client.send")
    c.send_multi = traced(c.send_multi, "client.send_multi",
                          lambda a, out: {"keys": len(a[1])})
    c.publish = traced(c.publish, "client.publish",
                       lambda a, out: {"failed": _failed(out)})
    c.publish_multi = traced(
        c.publish_multi, "client.publish_multi",
        lambda a, out: {"failed": len(a[2]) if out is None else sum(map(_failed, out))})
    t = m.HttpTransport
    t.send = traced(t.send, "transport.send", _transport_attrs)


def _patch_formats(m):
    resolve = m.resolve_decoder

    @functools.wraps(resolve)
    def resolve_decoder(name):
        return traced(resolve(name), "formats.decode",
                      lambda a, out: {"bytes": len(a[0])})

    m.resolve_decoder = resolve_decoder


def _patch_cache(m):
    c = m.LruTtlCache
    c.get = traced(c.get, "cache.get", lambda a, out: {"hit": out is not None})
    c.probe = traced(c.probe, "cache.probe",
                     lambda a, out: {"hit": out is not None and out[1] == "fresh"})
    c.put = _traced_put(c.put)


def _patch_lookup(m):
    m._enrich_pdf = traced(m._enrich_pdf, "lookup.enrich", _enrich_attrs, ambient=True)


def _patch_sink(m):
    w = m.HttpSinkWriter
    w.write = traced(w.write, "sink.write", lambda a, out: {"bytes": a[1].size_in_bytes})
    w.flush = traced(w.flush, "sink.flush")


def _patch_datasource(m):
    r = m.HttpDistributedStreamReader
    latest = traced(r.latestOffset, "datasource.latestOffset")

    @functools.wraps(latest)
    def latest_offset(self):
        refresh()  # this runs in the stream runner, which has no tasks
        return latest(self)

    r.latestOffset = latest_offset
    r.read = traced_iter(r.read, "datasource.read")


def _patch_worker(m):
    main = m.main

    @functools.wraps(main)
    def worker_main(*args, **kwargs):
        refresh()
        try:
            return main(*args, **kwargs)
        finally:
            flush()

    m.main = worker_main


PATCHES = {
    "flink_connector_http_spark.client": _patch_client,
    "flink_connector_http_spark.formats": _patch_formats,
    "flink_connector_http_spark.cache": _patch_cache,
    "flink_connector_http_spark.lookup": _patch_lookup,
    "flink_connector_http_spark.sink": _patch_sink,
    "flink_connector_http_spark.datasource": _patch_datasource,
    "pyspark.worker": _patch_worker,
}


class _PatchingLoader(importlib.abc.Loader):
    def __init__(self, inner, patch) -> None:
        self.inner = inner
        self.patch = patch

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module) -> None:
        self.inner.exec_module(module)
        self.patch(module)


class _Finder(importlib.abc.MetaPathFinder):
    def find_spec(self, fullname, path, target=None):
        patch = PATCHES.get(fullname)
        if patch is None:
            return None
        for finder in sys.meta_path:
            if finder is self or not hasattr(finder, "find_spec"):
                continue
            spec = finder.find_spec(fullname, path, target)
            if spec is not None:
                spec.loader = _PatchingLoader(spec.loader, patch)
                return spec
        return None


def install() -> None:
    """Patch the target modules as they are imported in this process."""
    sys.meta_path.insert(0, _Finder())
    atexit.register(flush)
