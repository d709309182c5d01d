"""Process plumbing shared by the workloads: the endpoint subprocess, the
Spark session, the memory sampler and the order-independent output hash."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path
from typing import Dict, List, Optional, Sequence

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: scratch space for a run (checkpoints, corpus parquet, spans); removed
#: when the run ends
WORK = ROOT / ".perfbench_work"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Endpoint:
    """The benchmark-owned endpoint process (``endpoint.py``)."""

    def __init__(self, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "endpoint.py"), "--seed", str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=str(HERE),
        )
        line = self.proc.stdout.readline().decode()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"endpoint did not start: {line!r}")
        self.port = int(line.split()[1])
        self.base = f"http://127.0.0.1:{self.port}"
        self._conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)

    def call(self, method: str, path: str, body: Optional[dict] = None) -> dict:
        payload = None if body is None else json.dumps(body).encode()
        self._conn.request(method, path, body=payload)
        resp = self._conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"endpoint {method} {path}: {resp.status} {data[:200]!r}")
        return json.loads(data)

    def close(self) -> None:
        self._conn_close()
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()

    def _conn_close(self) -> None:
        conn = getattr(self, "_conn", None)
        if conn is not None:
            conn.close()


def start_spark(app: str, conf: Dict[str, str]):
    """A local session on every CPU this process may use."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus()}]").appName(app)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        # a fixed heap: its growth would otherwise make peak RSS noisy
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'} "
                f"-Dderby.system.home={WORK / 'derby'}")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    standard input closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed resident memory of one process tree (the Spark
    JVM and the Python workers it forks), sampled every ``period`` s."""

    def __init__(self, root_pid: int, period: float = 0.25) -> None:
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def table_digest(df, columns: Optional[Sequence[str]] = None) -> tuple:
    """((rows, xor of row hashes, sum of row hashes mod 2^31), planning
    ms): the digest is equal for two frames holding the same multiset of
    distinct rows, whatever the order or partitioning. Computed inside
    Spark, so the check collects nothing to the Spark driver."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in (columns or df.columns)]
    h = F.xxhash64(*cols)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(2 ** 31))).alias("s"),
    )
    row = agg.collect()[0]
    return (int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)), plan_ms(agg)


def plan_ms(df) -> float:
    """Analysis, optimization and planning time of an executed DataFrame,
    from its query-planning tracker."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases())
    return float(sum(phases[k].durationMs() for k in phases))


def quantile(values: Sequence[float], q: float) -> float:
    """Nearest-rank quantile of ``values`` (``q`` in [0, 1])."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


def median(values: Sequence[float]) -> float:
    import statistics

    return statistics.median(values) if values else 0.0


def process_age() -> float:
    """Seconds since this process started, from the kernel's record of its
    start (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
