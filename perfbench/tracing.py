"""The traced run: span collection in the Python workers, Spark counters
from the status store (through the REST view of a session UI that only the
traced run enables) and streaming progress, reduced to per-layer metrics.

``Window(workload)`` must be created before the session is set up: it
points the session's Python workers at ``tracehook/`` (whose
``sitecustomize`` installs ``pbtrace``) and enables the UI. During the
window the workload flips ``switch`` so that passes (micro-batches)
alternate between untraced and traced; span metrics cover the traced ones,
Spark counters the whole window, and the overhead compares the two halves
in the same session. ``layers`` returns ``{name: (value, unit)}``; a layer
the workload bypasses reads zero. README.md maps each layer to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import json
import os
import re
import urllib.request
from collections import defaultdict
from datetime import datetime
from typing import Dict, List, Tuple

from harness import HERE, WORK, median

LAYER_METRICS: Dict[str, str] = {
    "lookup.rows_in": "rows", "lookup.rows_out": "rows",
    "lookup.distinct_keys": "keys", "lookup.dedup_ratio": "ratio",
    "lookup.self_s": "s",
    "cache.hits": "count", "cache.misses": "count", "cache.hit_ratio": "ratio",
    "cache.evictions": "count", "cache.self_s": "s",
    "client.requests": "count", "client.retries": "count", "client.failed": "count",
    "client.send_s": "s", "client.publish_s": "s",
    "formats.decode_calls": "count", "formats.decode_bytes": "bytes",
    "formats.decode_s": "s",
    "transport.requests": "count", "transport.s": "s",
    "transport.bytes_in": "bytes", "transport.bytes_out": "bytes",
    "sink.records": "count", "sink.requests": "count", "sink.bytes": "bytes",
    "sink.errors": "count", "sink.write_wait_s": "s", "sink.flush_s": "s",
    "datasource.head_probes": "count", "datasource.pages": "count",
    "datasource.read_s": "s",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms", "streaming.busy_ratio": "ratio",
    "spark.sql_executions": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.build_s": "s", "spark.plan_ms": "ms",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.python_bytes_sent": "bytes", "spark.python_bytes_received": "bytes",
    "endpoint.requests": "count", "endpoint.connections": "count",
    "endpoint.requests_per_distinct_key": "ratio", "endpoint.busy_ratio": "ratio",
    "endpoint.generator_late_ms": "ms",
    "trace.spans": "count", "trace.rows_per_s_untraced": "rows/s",
    "trace.rows_per_s_traced": "rows/s", "trace.overhead_ratio": "ratio",
}


class Window:
    def __init__(self, workload) -> None:
        self.workload = workload
        self.spans_dir = WORK / "spans"
        self.spans_dir.mkdir(parents=True, exist_ok=True)
        env = dict(workload.worker_env)
        env["PYTHONPATH"] = os.pathsep.join([str(HERE / "tracehook"), env["PYTHONPATH"]])
        env["PERFBENCH_SPANS"] = str(self.spans_dir)
        workload.worker_env = env
        workload.extra_conf = {"spark.ui.enabled": "true", "spark.ui.port": "0"}
        workload.trace_switch = self.switch
        self.counters: Dict[str, float] = {}

    def switch(self, on: bool) -> None:
        flag = self.spans_dir / "on"
        if on:
            flag.touch()
        else:
            flag.unlink(missing_ok=True)

    # -- Spark status store, through the UI's REST view ---------------------

    def _rest(self, path: str):
        sc = self.workload.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.loads(resp.read())

    def begin(self) -> None:
        self.switch(False)
        self.workload.pass_log.clear()

    def end(self) -> None:
        w0, w1 = self.workload.window
        inside = [s for s in self._rest("stages?status=complete")
                  if w0 <= _rest_time(s["submissionTime"]) <= w1]
        jobs = [j for j in self._rest("jobs")
                if w0 <= _rest_time(j["submissionTime"]) <= w1]
        sqls = [q for q in self._rest("sql?details=true&planDescription=false"
                                      "&offset=0&length=100000")
                if w0 <= _rest_time(q["submissionTime"]) <= w1]
        delay_ms = 0.0
        for s in inside:
            tasks = self._rest(f"stages/{s['stageId']}/{s['attemptId']}"
                               "/taskList?length=100000")
            delay_ms += sum(t.get("schedulerDelay", 0) for t in tasks)
        python = defaultdict(float)
        for q in sqls:
            for node in q.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] in ("data sent to Python workers",
                                     "data returned from Python workers"):
                        python[m["name"]] += _bytes(m["value"])
        log = self.workload.pass_log
        self.counters = {
            "spark.sql_executions": len(sqls),
            "spark.jobs": len(jobs),
            "spark.stages": len(inside),
            "spark.tasks": sum(s["numCompleteTasks"] for s in inside),
            "spark.build_s": sum(b for b, _ in log),
            "spark.plan_ms": sum(p for _, p in log),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in inside) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in inside) / 1e9,
            "spark.scheduler_delay_s": delay_ms / 1e3,
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in inside),
            "spark.python_bytes_sent": python["data sent to Python workers"],
            "spark.python_bytes_received": python["data returned from Python workers"],
        }

    # -- reduction ----------------------------------------------------------

    def layers(self, out: dict) -> Dict[str, Tuple[float, str]]:
        w0, w1 = self.workload.window
        spans = [s for s in _read_spans(self.spans_dir) if w0 <= s[1] <= w1]
        m: Dict[str, float] = defaultdict(float)
        m.update(_span_metrics(spans))
        m.update(self.counters)
        progress = out.get("progress", [])
        if progress:
            m["spark.plan_ms"] += sum(p["durationMs"].get("queryPlanning", 0)
                                      for p in progress)
        m.update(_streaming_metrics(progress, out.get("busy_ratio", 0.0)))
        ep = out["endpoint"]
        key_requests = ep["key_requests"]
        # keys fetched per distinct key of a probe batch: 1 without a
        # cache, below 1 with one, above 1 if dedup failed. Spans see the
        # traced passes only, the endpoint all of them.
        window_rows = (sum(p["numInputRows"] for p in progress) if progress
                       else out["attempted"])
        distinct = m["lookup.distinct_keys"] * (
            window_rows / m["lookup.rows_in"] if m["lookup.rows_in"] else 0.0)
        m.update({
            "endpoint.requests": ep["requests"],
            "endpoint.connections": ep["connections"],
            "endpoint.requests_per_distinct_key":
                key_requests / distinct if distinct else 0.0,
            "endpoint.busy_ratio": ep["busy_ratio"],
            "endpoint.generator_late_ms": ep["lag_max_ms"],
            "trace.spans": len(spans),
        })
        plain, traced = _rates(out)
        m.update({
            "trace.rows_per_s_untraced": plain,
            "trace.rows_per_s_traced": traced,
            "trace.overhead_ratio": plain / traced if traced else 0.0,
        })
        return {k: (float(m.get(k, 0.0)), unit) for k, unit in LAYER_METRICS.items()}


def _rates(out: dict) -> Tuple[float, float]:
    """Input rows per second of the untraced and of the traced passes
    (micro-batches) of the window."""
    if "progress" in out:
        rates = []
        for on in (False, True):
            batches = [p for p in out["progress"] if p["traced"] == on]
            busy = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1e3
            rates.append(sum(p["numInputRows"] for p in batches) / busy if busy else 0.0)
        return rates[0], rates[1]
    rows = out["attempted"] / max(1, out["passes"])
    walls = [[w for w, t in zip(out["pass_s"], out["traced_pass"]) if t == on]
             for on in (False, True)]
    return tuple(rows / median(w) if w else 0.0 for w in walls)


def _streaming_metrics(progress: List[dict], busy_ratio: float) -> Dict[str, float]:
    if not progress:
        return {}

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in progress])

    return {
        "streaming.batches": len(progress),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.commit_ms_p50": p50("commitOffsets"),
        "streaming.busy_ratio": busy_ratio,
    }


def _read_spans(directory) -> List[list]:
    spans = []
    for path in directory.glob("*.jsonl"):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def _self_times(spans: List[list]) -> Dict[int, float]:
    """A span's own time: its duration (or generator busy time) minus the
    part of its interval that its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s[5]:
            children[s[5]].append((s[1], s[2]))
    out = {}
    for name, t0, t1, busy, sid, *_ in spans:
        covered, reach = 0.0, t0
        for c0, c1 in sorted(children.get(sid, ())):
            c0, c1 = max(c0, reach), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                reach = c1
        out[sid] = max(0.0, (t1 - t0 if busy is None else busy) - covered)
    return out


def _span_metrics(spans: List[list]) -> Dict[str, float]:
    own = _self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s[0]].append(s)
    transports_under = defaultdict(int)
    for s in by_name["transport.send"]:
        transports_under[s[5]] += 1

    def total(names, field=None, fn=None):
        out = 0.0
        for n in names:
            for s in by_name[n]:
                attrs = s[7] or {}
                out += fn(s) if fn else (attrs.get(field, 0) if field else 1)
        return out

    def self_s(*names):
        return sum(own[s[4]] for n in names for s in by_name[n])

    def duration(*names):
        return sum(s[2] - s[1] for n in names for s in by_name[n])

    enrich = by_name["lookup.enrich"]
    rows_in = sum(s[7]["rows_in"] for s in enrich if s[7])
    distinct = sum(s[7]["distinct"] for s in enrich if s[7])
    hits = total(["cache.get", "cache.probe"], fn=lambda s: bool((s[7] or {}).get("hit")))
    lookups = len(by_name["cache.get"]) + len(by_name["cache.probe"])
    sends = by_name["client.send"] + by_name["client.send_multi"]
    sink_tx = [s for s in by_name["transport.send"] if (s[7] or {}).get("path") == "/sink"]
    return {
        "lookup.rows_in": rows_in,
        "lookup.rows_out": total(["lookup.enrich"], "rows_out"),
        "lookup.distinct_keys": distinct,
        "lookup.dedup_ratio": distinct / rows_in if rows_in else 0.0,
        "lookup.self_s": self_s("lookup.enrich"),
        "cache.hits": hits,
        "cache.misses": lookups - hits,
        "cache.hit_ratio": hits / lookups if lookups else 0.0,
        "cache.evictions": total(["cache.put"], "evicted"),
        "cache.self_s": self_s("cache.get", "cache.probe", "cache.put"),
        "client.requests": len(sends),
        "client.retries": sum(max(0, transports_under[s[4]] - 1) for s in sends),
        "client.failed": total(["client.publish", "client.publish_multi"], "failed"),
        "client.send_s": self_s("client.send", "client.send_multi"),
        "client.publish_s": self_s("client.publish", "client.publish_multi"),
        "formats.decode_calls": len(by_name["formats.decode"]),
        "formats.decode_bytes": total(["formats.decode"], "bytes"),
        "formats.decode_s": duration("formats.decode"),
        "transport.requests": len(by_name["transport.send"]),
        "transport.s": self_s("transport.send"),
        "transport.bytes_in": total(["transport.send"], "in"),
        "transport.bytes_out": total(["transport.send"], "out"),
        "sink.records": len(by_name["sink.write"]),
        "sink.requests": len(sink_tx),
        "sink.bytes": total(["sink.write"], "bytes"),
        "sink.errors": sum(1 for s in sink_tx
                           if (s[7] or {}).get("error") or (s[7] or {}).get("status", 0) >= 400),
        "sink.write_wait_s": self_s("sink.write"),
        "sink.flush_s": duration("sink.flush"),
        "datasource.head_probes": len(by_name["datasource.latestOffset"]),
        "datasource.pages": sum(1 for s in by_name["transport.send"]
                                if (s[7] or {}).get("path") == "/page"),
        "datasource.read_s": self_s("datasource.read"),
    }


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}


def _bytes(value: str) -> float:
    """The total of a size SQL metric as the UI formats it, e.g.
    ``"total (min, med, max ...)\\n1.2 MiB (...)"`` or ``"512.0 B"``."""
    match = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", value)
    return float(match.group(1).replace(",", "")) * _UNITS[match.group(2)] if match else 0.0


def _rest_time(value: str) -> float:
    return datetime.strptime(value.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
