"""The four workloads. Each runs the engine's public API end to end on
seeded inputs against the benchmark's own endpoint and checks its output.

A workload's ``setup`` opens the endpoint and a Spark session, builds the
inputs and expected output and runs discarded warm-up passes; ``measure``
runs the timed window and returns its metrics and details. ``CONFIG``
records every size, partition count, pool size and rate."""

from __future__ import annotations

import json
import math
import shutil
import time
from datetime import datetime
from typing import Callable, Dict, List, Optional

import gen
from harness import WORK, Endpoint, median, plan_ms, quantile, start_spark, table_digest

CONFIG: Dict[str, Dict] = {
    # closed loop, one GET per distinct key: keys are hash-partitioned into
    # `partitions` tasks of one Arrow batch each, so requests == distinct keys
    "lookup_get": {
        "loop": "closed", "rows": 60_000, "keys": 6_000, "record": "narrow",
        "select": ("name", "score", "tier", "active"),
        "partitions": 4, "pull_pool": 4, "publish_pool": 2, "batch_keys": None,
    },
    # closed loop, 50-key POST batches of a wide nested record
    "lookup_batch_wide": {
        "loop": "closed", "rows": 60_000, "keys": 6_000, "record": "wide",
        "select": gen.WIDE_SELECT,
        "partitions": 4, "pull_pool": 4, "publish_pool": 4, "batch_keys": 50,
    },
    # open loop: pages fall due on the endpoint's clock whatever the
    # pipeline does (1000 events/s); the Zipf working set exceeds the cache.
    # The 2 s trigger keeps the pipeline about half busy.
    "stream_pipeline": {
        "loop": "open", "page_size": 100, "page_interval_ms": 100,
        "primer_pages": 20, "warm_batches": 2, "keys": 20_000, "cache_rows": 1_000,
        "trigger_s": 2,
        "select": ("name", "score"), "partitions": 4, "pull_pool": 8,
        "publish_pool": 4, "max_pages_per_batch": 100, "pages_per_partition": 8,
        "sink_batch": 500, "sink_pool": 4, "drain_s": 30,
    },
    # closed loop of registry queries over a seeded corpus; no HTTP
    "corpus_ops": {
        "loop": "closed", "docs": 1_000,
        "queries": ("text_bpe_train_merges", "dedup_clusters", "sample_doremi_mix_plan"),
        "partitions": 8,
    },
}

#: end-to-end metrics and their units, reported by every workload
E2E_METRICS = {
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: a run whose endpoint is busier than this measured the harness
ENDPOINT_BUSY_MAX = 0.75
#: the endpoint's event loop woke this late: due times and arrival stamps
#: are no longer trustworthy
GENERATOR_LATE_MAX_MS = 500.0
#: stream backlog growth (pages) between the first and last batch
BACKLOG_GROWTH_MAX = 15


def _spark_conf(partitions: int, batch_rows: int = 10_000) -> Dict[str, str]:
    return {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch_rows),
    }


class Workload:
    name = ""

    def __init__(self, seed: int, worker_env: Dict[str, str]) -> None:
        self.seed = seed
        self.cfg = CONFIG[self.name]
        self.worker_env = worker_env
        self.spark = None
        self.endpoint: Optional[Endpoint] = None
        self.expected = None
        self.extra_conf: Dict[str, str] = {}
        #: (build s, planning ms) of each pass, for the traced run
        self.pass_log: List[tuple] = []
        #: epoch seconds bracketing the last timed window
        self.window = (0.0, 0.0)
        #: set by a traced run: called with True/False to trace the next
        #: pass (batch) or not; passes alternate, odd ones traced
        self.trace_switch: Optional[Callable[[bool], None]] = None

    def setup(self) -> None:
        self.endpoint = Endpoint(self.seed)
        conf = self.spark_conf()
        conf.update({f"spark.executorEnv.{k}": v for k, v in self.worker_env.items()})
        conf.update(self.extra_conf)
        self.spark = start_spark(f"perfbench-{self.name}", conf)
        self.start_session()
        self.expected = self.prepare()
        self.warm_up()

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.endpoint is not None:
            self.endpoint.close()
            self.endpoint = None

    def spark_conf(self) -> Dict[str, str]:
        return _spark_conf(self.cfg["partitions"])

    def start_session(self) -> None:
        """Inputs and the engine objects of the session."""

    def prepare(self):
        """The expected output."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Discarded passes until the workload runs warm."""
        raise NotImplementedError

    def measure(self, seconds: float) -> Dict:
        raise NotImplementedError


class Batch(Workload):
    """Closed loop: passes run back to back until the window ends. Every
    row of a pass completes when the pass does, so a row's latency is its
    pass's wall time."""

    rows_per_pass = 0
    #: discarded passes: the first passes of a session keep getting faster
    #: (Python workers start, the JVM compiles) for about three passes
    warmup_passes = 3

    def run_pass(self) -> bool:
        raise NotImplementedError

    def warm_up(self) -> None:
        for _ in range(self.warmup_passes):
            if not self.run_pass():
                raise RuntimeError(f"{self.name}: warm-up pass output mismatch")

    def measure(self, seconds: float) -> Dict:
        self.endpoint.call("POST", "/reset")
        walls: List[float] = []
        traced: List[bool] = []
        failed = 0
        w0 = time.time()
        t_end = time.monotonic() + seconds
        while True:
            if self.trace_switch is not None:
                traced.append(len(walls) % 2 == 1)
                self.trace_switch(traced[-1])
            t = time.monotonic()
            ok = self.run_pass()
            walls.append(time.monotonic() - t)
            failed += 0 if ok else self.rows_per_pass
            if time.monotonic() >= t_end:
                break
        self.window = (w0, time.time())
        ep = self.endpoint.call("GET", "/stats")
        rows = self.rows_per_pass
        return {
            "attempted": rows * len(walls),
            "failed": failed,
            "passes": len(walls),
            "pass_s": walls,
            "traced_pass": traced,
            "rows_per_s": median([rows / w for w in walls]),
            "latency_p50_ms": 1000 * median(walls),
            "latency_p99_ms": 1000 * quantile(walls, 0.99),
            "endpoint": ep,
            "invalid": _endpoint_flags(ep),
        }


def _endpoint_flags(ep: Dict) -> List[str]:
    flags = []
    if ep["busy_ratio"] > ENDPOINT_BUSY_MAX:
        flags.append(f"endpoint busy {ep['busy_ratio']:.2f} > {ENDPOINT_BUSY_MAX}")
    if ep["lag_max_ms"] > GENERATOR_LATE_MAX_MS:
        flags.append(f"endpoint loop late {ep['lag_max_ms']:.0f} ms")
    return flags


def _lookup_table(base: str, cfg: Dict, cache_rows: Optional[int] = None):
    from pyspark.sql import types as T

    from flink_connector_http_spark import (
        HttpLookupOptions, HttpLookupTable, LookupCacheConfig,
    )

    record = cfg.get("record", "narrow")
    return HttpLookupTable(
        url=f"{base}/{record}",
        schema=T._parse_datatype_string(
            gen.NARROW_DDL if record == "narrow" else gen.WIDE_DDL),
        options=HttpLookupOptions(
            use_async=True,
            pull_pool_size=cfg["pull_pool"],
            publish_pool_size=cfg["publish_pool"],
            lookup_batch_size=cfg.get("batch_keys"),
            cache=None if cache_rows is None else LookupCacheConfig(max_rows=cache_rows),
        ),
    )


class Lookup(Batch):
    """Lookup-join passes over a seeded uniform probe; each pass's output
    digest is compared with that of a plain-Python join of the generated
    records."""

    @property
    def rows_per_pass(self) -> int:
        return self.cfg["rows"]

    def spark_conf(self) -> Dict[str, str]:
        c = self.cfg
        # one Arrow batch per task: per-batch key dedup then sees every
        # occurrence of a key
        return _spark_conf(c["partitions"], 2 * -(-c["rows"] // c["partitions"]))

    def start_session(self) -> None:
        import pyarrow as pa

        from flink_connector_http_spark import http_lookup_join

        c = self.cfg
        self._join = http_lookup_join
        self.keys = gen.uniform_keys(self.seed, c["rows"], c["keys"])
        self.probe = self.spark.createDataFrame(pa.table({
            "row_id": pa.array(range(c["rows"]), pa.int64()),
            "id": pa.array(self.keys, pa.int64()),
        }))
        self.table = _lookup_table(self.endpoint.base, c)

    def prepare(self):
        import pyarrow as pa
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        c = self.cfg
        out_schema = self.build().schema
        make = gen.narrow_record if c["record"] == "narrow" else gen.wide_record
        records = pa.Table.from_pylist(
            [gen.project(make(self.seed, k), c["select"]) for k in range(c["keys"])],
            schema=to_arrow_schema(T.StructType(out_schema.fields[2:])),
        )
        joined = records.take(pa.array(self.keys))  # the join: row k is key k
        expected = pa.table(
            [pa.array(range(c["rows"]), pa.int64()), pa.array(self.keys, pa.int64())]
            + joined.columns,
            names=out_schema.fieldNames(),
        )
        return table_digest(self.spark.createDataFrame(expected, schema=out_schema))[0]

    def build(self):
        return self._join(self.probe, self.table, on=["id"],
                          select=list(self.cfg["select"]),
                          num_partitions=self.cfg["partitions"])

    def run_pass(self) -> bool:
        t = time.monotonic()
        df = self.build()
        build_s = time.monotonic() - t
        digest, plan = table_digest(df)
        self.pass_log.append((build_s, plan))
        return digest == self.expected


class LookupGet(Lookup):
    name = "lookup_get"


class LookupBatchWide(Lookup):
    name = "lookup_batch_wide"


class CorpusOps(Batch):
    """Registry queries over a seeded corpus, checked against their DuckDB
    oracles. No HTTP: every HTTP layer is bypassed."""

    name = "corpus_ops"

    @property
    def rows_per_pass(self) -> int:
        return self.cfg["docs"]

    def spark_conf(self) -> Dict[str, str]:
        conf = _spark_conf(self.cfg["partitions"])
        conf["spark.sql.adaptive.enabled"] = "true"
        return conf

    def start_session(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from flink_connector_http_spark.operators import dedup, text  # noqa: F401 — registers
        from flink_connector_http_spark.plans import REGISTRY

        self.registry = REGISTRY
        self.dir = WORK / "corpus"
        if not (self.dir / "documents.parquet").exists():
            self.dir.mkdir(parents=True, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(gen.corpus(self.seed, self.cfg["docs"])),
                           self.dir / "documents.parquet")

    def prepare(self):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{self.dir / 'documents.parquet'}')")
            expected = {}
            for name in self.cfg["queries"]:
                cur = con.execute(self.registry[name].oracle)
                cols = [d[0] for d in cur.description]
                expected[name] = _canon(cols, cur.fetchall())
        finally:
            con.close()
        return expected

    def run_pass(self) -> bool:
        ok = True
        for name in self.cfg["queries"]:
            t = time.monotonic()
            df = self.registry[name].fn(self.spark, str(self.dir))
            build_s = time.monotonic() - t
            rows = [tuple(r) for r in df.collect()]
            self.pass_log.append((build_s, plan_ms(df)))
            ok &= _canon(df.columns, rows) == self.expected[name]
        return ok


def _canon(columns: List[str], rows: List[tuple]) -> tuple:
    """Order-independent form of a result: columns sorted by name, rows
    sorted, floats as their exact repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    body = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return tuple(columns[i] for i in order), tuple(body)


class StreamPipeline(Workload):
    """``readStream.format("http")`` over the endpoint's clock-driven page
    feed → cached ``http_lookup_join`` on Zipf keys → HTTP sink posting to
    the endpoint's receiver, which checks every event against its record
    and times it from its due time."""

    name = "stream_pipeline"

    def prepare(self):
        return True  # checked by the receiver

    def start_session(self) -> None:
        from flink_connector_http_spark import (
            HttpSinkOptions, foreach_batch_http_sink, http_lookup_join,
        )
        from flink_connector_http_spark.datasource import register_http_datasource

        c = self.cfg
        spark = self.spark
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        register_http_datasource(spark)
        base = self.endpoint.base
        self.endpoint.call("POST", "/feed", {
            "page_size": c["page_size"], "page_interval_ms": c["page_interval_ms"],
            "n_keys": c["keys"], "primer_pages": c["primer_pages"],
        })
        events = (
            spark.readStream.format("http").schema(gen.EVENT_DDL)
            .option("url", f"{base}/page").option("pages_url", f"{base}/head")
            .option("max_pages_per_batch", c["max_pages_per_batch"])
            .option("pages_per_partition", c["pages_per_partition"]).load()
        )
        enriched = http_lookup_join(
            events, _lookup_table(base, c, cache_rows=c["cache_rows"]),
            on={"key": "id"}, select=list(c["select"]),
            num_partitions=c["partitions"],
        )
        sink = foreach_batch_http_sink(f"{base}/sink", HttpSinkOptions(
            batch_size=c["sink_batch"], flush_batch_size=c["sink_batch"],
            writer_pool_size=c["sink_pool"],
        ))
        self.query = (
            enriched.writeStream.foreachBatch(sink)
            .trigger(processingTime=f"{c['trigger_s']} seconds")
            .option("checkpointLocation", str(WORK / "checkpoint"))
            .start()
        )

    def warm_up(self) -> None:
        """The primer pages, due at once, make the first (cold) batch.
        Once they reach the receiver the feed starts on the trigger grid
        (Spark fires processing-time triggers at multiples of the interval
        since the epoch), so every later batch holds one trigger's worth of
        events; the first ``warm_batches`` of those are discarded too."""
        c = self.cfg
        self._wait_delivered(c["primer_pages"] * c["page_size"], timeout=120)
        grid = c["trigger_s"] * 1000.0
        start_ms = math.ceil((time.time() * 1000.0 + 100.0) / grid) * grid
        self.endpoint.call("POST", "/feed", {"start_ms": start_ms})
        self.feed_ms = start_ms
        self.window_ms = start_ms + c["warm_batches"] * grid
        time.sleep(max(0.0, self.window_ms / 1000.0 - time.time()))

    def _wait_delivered(self, n: int, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            st = self.endpoint.call("GET", "/stats?brief=1")
            if st["sink_distinct"] >= n or time.monotonic() > deadline:
                return st
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            time.sleep(0.05)

    def close(self) -> None:
        query = getattr(self, "query", None)
        if query is not None:
            query.stop()
            self.query = None
        super().close()

    def measure(self, seconds: float) -> Dict:
        c = self.cfg
        w0 = self.window_ms
        w1 = w0 + 1000.0 * seconds
        grid = c["trigger_s"] * 1000.0
        self.endpoint.call("POST", "/reset")
        traced = {}  # trigger time (ms) -> traced
        if self.trace_switch is not None:
            # flip the switch just before each trigger of the window fires
            for k, t_ms in enumerate(range(int(w0), int(w1), int(grid))):
                time.sleep(max(0.0, (t_ms - 300.0) / 1000.0 - time.time()))
                traced[t_ms] = k % 2 == 1
                self.trace_switch(traced[t_ms])
        time.sleep(max(0.0, w1 / 1000.0 - time.time()))
        if self.trace_switch is not None:
            self.trace_switch(False)
        self.window = (w0 / 1000.0, w1 / 1000.0)
        ep = self.endpoint.call("GET", "/stats?brief=1")  # the window's counters
        head = self.endpoint.call("POST", "/feed", {"stop": True})["max_pages"]
        expected = head * c["page_size"]
        self._wait_delivered(expected, timeout=c["drain_s"])
        st = self.endpoint.call("GET", "/stats")
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        window = [p for p in progress
                  if w0 <= _progress_ms(p) <= w1 and p["numInputRows"] > 0]
        for p in window:  # pages due at the batch's end but not in it
            p["backlog_pages"] = c["primer_pages"] + (
                (_progress_ms(p) + p["durationMs"]["triggerExecution"] - self.feed_ms)
                // c["page_interval_ms"]) - _end_page(p)
            p["traced"] = traced.get(round(_progress_ms(p) / grid) * grid, False)
        lat = [lat for due, lat in st.pop("sink_first") if w0 <= due <= w1]
        busy = [p["durationMs"]["triggerExecution"] / 1000.0 for p in window]
        invalid = _endpoint_flags(ep)
        backlog = [p["backlog_pages"] for p in window]
        if len(backlog) > 1 and backlog[-1] - backlog[0] > BACKLOG_GROWTH_MAX:
            invalid.append(f"stream backlog grew {backlog[0]} -> {backlog[-1]} pages")
        return {
            "attempted": expected,
            "failed": expected - st["sink_distinct"] + st["sink_mismatches"] + st["errors"],
            "duplicates": st["sink_duplicates"],
            "batches": len(window),
            # processing capacity: a batch's rows per second of its busy
            # time, median over the window's batches
            "rows_per_s": median([p["numInputRows"] / b for p, b in zip(window, busy)]),
            "latency_p50_ms": median(lat),
            "latency_p99_ms": quantile(lat, 0.99),
            "latency_samples": len(lat),
            "busy_ratio": sum(busy) * 1000.0 / (w1 - w0),
            "progress": window,
            "endpoint": ep,
            "receiver": {k: v for k, v in st.items() if k.startswith("sink_")},
            "invalid": invalid,
        }


def _end_page(p: dict) -> int:
    end = p["sources"][0]["endOffset"]
    return int((json.loads(end) if isinstance(end, str) else end)["page"])


def _progress_ms(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0


WORKLOADS = {w.name: w for w in (LookupGet, LookupBatchWide, StreamPipeline, CorpusOps)}


def cleanup_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True)
