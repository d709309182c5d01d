"""Structured Streaming surface: processing-time HTTP enrichment + HTTP sink.

Re-expresses the reference's streaming-only semantics (SURVEY §2.5 T1-T6)
Spark-first:

* **T1 processing-time temporal join** (``JOIN Customers FOR SYSTEM_TIME AS OF
  o.proc_time`` — docs/.../table/http.md:116-119,226-228): a micro-batch
  ``mapInArrow`` lookup *is* processing-time semantics by construction — each
  micro-batch probes the endpoint at execution time, exactly like Flink's
  proctime lookup join. :func:`http_enrich_stream` is the streaming entry; it
  delegates to the same narrow (shuffle-free) operator used in batch.
* **T3 flush triggers** (count / bytes / age — ``HttpSinkBuilder.java:70-80``):
  the micro-batch boundary is the outer flush; within a batch the sink writer
  splits by ``batch_size`` / ``max_batch_bytes`` / ``max_time_in_buffer``.
* **T4 checkpointed buffer** (``sink/HttpSinkWriterStateSerializer.java:33-52``):
  Structured Streaming's checkpoint replays whole micro-batches through
  ``foreachBatch`` — at-least-once, the same user-visible guarantee as the
  reference (which never retries failed sink requests,
  ``HttpSinkWriter.java:129-135``). No custom WAL needed.
* **T6 append-only changelog** (``HttpDynamicSink.java:136-138``): the sink
  runs in append output mode; update/delete changelogs are rejected by Spark
  before reaching us.

Scale note: both operators stay narrow — no shuffle is introduced by
enrichment or sinking, so a 1000-executor stream keeps its source
partitioning end-to-end. Total endpoint concurrency = partitions x pull pool
size; bound it with ``num_partitions`` on the enrich side and
``max_inflight`` on the sink side.
"""

from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..lookup import HttpLookupTable, http_lookup_join
from ..options import HttpSinkOptions
from ..sink import foreach_batch_http_sink

__all__ = [
    "await_drained",
    "http_enrich_stream",
    "start_http_sink_stream",
    "sessionize_stream",
    "stream_state_partitions",
    "windowed_counts_stream",
]


def stream_state_partitions(spark, *input_paths: str):
    """Context manager: size ``spark.sql.shuffle.partitions`` for a
    stateful streaming query from its INPUT BYTES, restoring the session
    value on exit.

    The conf fixes the number of state-store instances the moment a
    stateful query first commits a checkpoint, and AQE never coalesces
    streaming shuffles — so a session default sized for relational
    shuffles becomes a per-micro-batch tax of that many state-store
    commits regardless of data volume. Derive the count from the data
    instead (guide §2: scale-adaptive partitioning, not a constant tuned
    to either local mode or the cluster): one state partition per
    ``SPARK_GRAFT_STREAM_STATE_TARGET_BYTES`` of input (default 32 MB),
    floored at 1, capped at ``SPARK_GRAFT_STREAM_STATE_MAX_PARTITIONS``
    (default 4096) so a 100 TB backlog bounds scheduler and commit
    pressure instead of scaling state stores without limit. The same
    formula yields 1 partition for a 2 MB local file and thousands on a
    real backlog — no branch on core count anywhere.

    Only the streaming micro-batches run under the override: the batch
    plan a caller builds over the drained result is executed after the
    ``with`` block exits, under the session's normal conf + AQE.
    """
    import contextlib
    import math
    import os

    @contextlib.contextmanager
    def _ctx():
        target = int(
            os.environ.get(
                "SPARK_GRAFT_STREAM_STATE_TARGET_BYTES", str(32 << 20)
            )
        )
        cap = int(
            os.environ.get("SPARK_GRAFT_STREAM_STATE_MAX_PARTITIONS", "4096")
        )

        def _sz(path: str) -> int:
            if os.path.isdir(path):
                return sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _dirs, files in os.walk(path)
                    for f in files
                )
            return os.path.getsize(path)

        size = sum(_sz(p) for p in input_paths)
        n = max(1, min(cap, math.ceil(size / max(target, 1))))
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield n
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return _ctx()


def await_drained(query: StreamingQuery, timeout_sec: float = 300.0) -> None:
    """Block until an ``availableNow`` query terminates; raise on timeout.

    ``StreamingQuery.awaitTermination(t)`` returns ``False`` on timeout
    rather than raising, so a caller that proceeds to read the query's
    output/stats directories would silently consume partial results while
    ``foreachBatch`` is still appending. Stop the straggler and fail
    loudly instead — every drain-then-read operator in this package goes
    through here.
    """
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.id} did not drain within "
            f"{timeout_sec:g}s; partial output discarded"
        )


def http_enrich_stream(
    probe_stream: DataFrame,
    table: HttpLookupTable,
    on: Union[Sequence[str], Mapping[str, str]],
    **kwargs,
) -> DataFrame:
    """Processing-time temporal lookup join on a streaming DataFrame (T1).

    Identical semantics and options to :func:`http_lookup_join` — the
    operator is a single ``mapInArrow`` stage, which Structured Streaming
    executes per micro-batch, giving ``FOR SYSTEM_TIME AS OF proc_time``
    behavior (reference ``HttpTableLookupFunction.java:102-197``).
    """
    if not probe_stream.isStreaming:
        raise ValueError(
            "http_enrich_stream expects a streaming DataFrame; "
            "use http_lookup_join for batch inputs"
        )
    return http_lookup_join(probe_stream, table, on, **kwargs)


def sessionize_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "1 hour",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Event-time gap sessionization (T5): ``withWatermark`` +
    ``session_window`` — the streaming analogue of the batch
    ``q_sessionize_events`` lag-window query. Late rows within
    ``watermark_delay`` merge into their session; a session is emitted
    (append mode) once the watermark passes its close.

    Scale note: state is partitioned by ``key_col`` — one shuffle, the
    same key layout as the batch variant; watermark eviction bounds state
    size regardless of stream length.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_counts_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window counts with late-data handling (T5):
    rows later than ``watermark_delay`` are dropped, everything else is
    assigned to its event-time window regardless of arrival order."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
        )
    )


def start_http_sink_stream(
    stream_df: DataFrame,
    url: str,
    *,
    checkpoint_dir: str,
    options: HttpSinkOptions = HttpSinkOptions(),
    columns: Optional[Sequence[str]] = None,
    query_name: str = "http_sink",
    trigger_available_now: bool = False,
    processing_time: Optional[str] = None,
) -> StreamingQuery:
    """Start the streaming HTTP sink (reference S5/S10 under streaming).

    ``writeStream.foreachBatch`` + checkpoint = at-least-once micro-batch
    replay (T4). ``trigger_available_now=True`` drains all available input
    then stops — the bounded-run mode used by tests and backfills.
    """
    writer = (
        stream_df.writeStream
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(foreach_batch_http_sink(url, options, columns=list(columns) if columns else None))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
