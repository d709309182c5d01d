"""Client-side request rate limiting (token bucket, per task).

The reference has no rate limiter — every probe row fires as fast as the
async pools allow (``AsyncHttpTableLookupFunction.java:94-115``) and the
sink as fast as ``sink.requests.max-inflight`` permits
(``HttpSinkBuilder.java:72``). At 100 TB scale that is a liability: 1000
executors × 8-thread pull pools is 8000 concurrent request streams aimed
at one REST endpoint. SURVEY §7 names client-side rate limiting as the
required scale addition; this module provides it for both the lookup
client and the sink writer.

Semantics: a token bucket holding at most ``burst`` permits, refilled at
``rate`` permits/second. :meth:`TokenBucket.acquire` blocks the calling
worker thread until a permit is available, so backpressure propagates
naturally — into the ``mapInArrow`` batch on the lookup side and into
the writer pool on the sink side — instead of queueing unbounded work.

The bound is **per task**: a job running N concurrent tasks against the
same endpoint issues at most ``N × rate`` requests/second, so size
``rate`` as ``endpoint_budget / max_concurrent_tasks`` (e.g. a 10k req/s
endpoint behind 1000 tasks → rate 10). A cluster-global limiter would
need an external coordination service and a network round-trip per
permit — strictly worse than the thing it throttles. Per-task division
is the standard distributed-client design (same stance as the
reference's per-subtask pools and caches).

The clock and sleep are injectable so tests run on a fake clock with
zero wall-time (same pattern as the sink age-flush tests).
"""

from __future__ import annotations

import threading
import time
from typing import Callable

__all__ = ["TokenBucket"]


class TokenBucket:
    """Thread-safe token bucket: ``rate`` permits/second, ``burst`` cap.

    ``burst`` defaults to ``max(1, rate)`` — one second of headroom, so a
    task that was idle (e.g. between micro-batches) can send a short burst
    without exceeding the average rate over any 1-second-plus window.
    """

    def __init__(
        self,
        rate: float,
        burst: float | None = None,
        *,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        if rate <= 0:
            raise ValueError("rate-limit must be positive (omit it to disable)")
        self.rate = float(rate)
        self.capacity = float(burst) if burst is not None else max(1.0, self.rate)
        if self.capacity <= 0:
            raise ValueError("rate-limit burst must be positive")
        self._tokens = self.capacity
        self._last: float | None = None  # lazy: idle init must not pre-fill
        self._lock = threading.Lock()
        self._clock = clock
        self._sleep = sleep

    def acquire(self, permits: float = 1.0) -> float:
        """Block until ``permits`` tokens are available; returns the total
        time slept (0.0 when the bucket had headroom)."""
        slept = 0.0
        while True:
            with self._lock:
                now = self._clock()
                if self._last is None:
                    self._last = now
                self._tokens = min(
                    self.capacity, self._tokens + (now - self._last) * self.rate
                )
                self._last = now
                # epsilon absorbs float rounding in refill arithmetic — a
                # deficit of ~1e-16 tokens must not turn into a sleep too
                # small to advance the clock (livelock under a fake clock,
                # a pointless syscall under the real one)
                if self._tokens >= permits - 1e-9:
                    self._tokens = max(0.0, self._tokens - permits)
                    return slept
                wait = (permits - self._tokens) / self.rate
            # sleep outside the lock so concurrent workers refill/compete
            # fairly; re-check on wake (another thread may have drained it)
            self._sleep(wait)
            slept += wait
