"""HTTP lookup table + lookup-join enrichment operator (the flagship).

Re-expresses the reference's lookup source (SURVEY §2.1 S1-S3, §2.3 J1-J3)
Spark-first: one narrow ``mapInArrow`` stage — no shuffle, exactly like the
reference's lookup join stays shuffle-free — with per-Arrow-batch **distinct
key** extraction (an optimization the reference lacks: it fires one HTTP call
per probe row, cache aside), a thread-pooled client (reference's async pools,
``AsyncHttpTableLookupFunction.java:40-42,94-115``), and a per-executor
LRU+TTL cache (reference ``DefaultLookupCache`` wiring,
``HttpLookupTableSourceFactory.java:241-250``). Each distinct key's result
is coerced once into per-column Arrow arrays, and ``take`` gathers them
into probe order: nested records are shredded to columns once per key,
never per probe row.

Semantics parity (reference ``HttpTableLookupFunction.java:102-197`` and
``docs/.../table/http.md:203-243,701-746``):

- inner-join emptiness: no result rows + no metadata columns requested ⇒
  emit nothing for that probe row; with metadata columns requested ⇒ emit
  one row with null enrichment + populated metadata (``table/http.md:712-714``)
- join-key backfill: result columns that are join keys and came back null
  get the probe-side key value copied in
  (``HttpTableLookupFunction.java:122-169``)
- array results multiply the probe row (result-type=array,
  ``JavaNetHttpPollingClient.java:340-376``)
- projection pushdown: the JSON decode schema is pruned to the requested
  lookup columns before any HTTP work
  (``HttpLookupTableSource.java:109-111,202-204``)
- metadata pushdown: only requested metadata columns are computed
  (``HttpLookupTableSource.java:302-340``)

Works identically on batch DataFrames and on Structured Streaming
micro-batches (processing-time temporal-join semantics by construction —
``table/http.md:116-119``).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeoutError
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Dict, Iterable, Iterator, List, Mapping, Optional, Sequence, Tuple, Union

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .cache import LookupCacheConfig, LruTtlCache, shared_cache
from .client import HttpPollingClient
from .options import HttpLookupOptions
from .types import (
    METADATA_COLUMN_NAMES,
    METADATA_FIELDS,
    HttpCompletionState,
    HttpLookupResult,
    metadata_schema,
)

__all__ = ["HttpLookupTable", "http_lookup_join"]

import logging

logger = logging.getLogger(__name__)

#: distinct keys in one probe batch above which the per-key GET model is
#: known to saturate (BENCH r8: per-key GETs hit an 8x wall at 10x data
#: while 50-key batch POSTs stayed at 2.5x) — one advisory per executor
#: names the scale path instead of letting users discover it in prod
BATCH_LOOKUP_ADVISORY_THRESHOLD = 200
_batch_advisory_emitted = False


def _maybe_advise_batch_lookup(n_distinct: int) -> bool:
    """Log a one-time advisory when a per-key lookup batch is large enough
    that ``http.source.lookup.request.batch.size`` (multi-key POST batch
    lookup) would cut request volume by the batch factor. Returns whether
    the advisory fired (for tests)."""
    global _batch_advisory_emitted
    if _batch_advisory_emitted or n_distinct < BATCH_LOOKUP_ADVISORY_THRESHOLD:
        return False
    _batch_advisory_emitted = True
    logger.warning(
        "http_lookup_join fired %d per-key requests for one probe batch; "
        "at this key volume the per-key GET model saturates the endpoint "
        "(measured 8x at 10x data). If the endpoint supports multi-key "
        "lookup, set http.source.lookup.request.batch.size "
        "(lookup_batch_size) to batch ~50 keys per POST.",
        n_distinct,
    )
    return True


@dataclass(frozen=True)
class HttpLookupTable:
    """Declares a REST endpoint as a lookup table (reference S1:
    ``HttpLookupTableSourceFactory.java:97-133``, connector id ``"http"``).

    ``schema`` is the *declared* physical row type of one decoded result —
    never inferred, mirroring the reference's DDL-driven schema.
    """

    url: str
    schema: T.StructType
    options: HttpLookupOptions = field(default_factory=HttpLookupOptions)

    def fingerprint(self) -> Tuple:
        # callables are fingerprinted by qualified NAME, not repr: a
        # pickled function deserializes at a fresh address per task, and
        # an address-bearing repr would miss the per-executor client cache
        # on every task (one new connection pool per task instead of one
        # per executor)
        import dataclasses

        def _tag(fn) -> str | None:
            if fn is None:
                return None
            return (
                f"{getattr(fn, '__module__', '?')}."
                f"{getattr(fn, '__qualname__', type(fn).__name__)}"
            )

        o = self.options
        base = dataclasses.replace(o, decoder=None, request_callback=None)
        return (
            self.url,
            self.schema.json(),
            repr(base),
            _tag(o.decoder),
            _tag(o.request_callback),
        )


# --- per-executor client singletons (python workers are reused across tasks) -

_CLIENTS: Dict[Tuple, HttpPollingClient] = {}
_CLIENTS_LOCK = threading.Lock()


def _client_for(table: HttpLookupTable) -> HttpPollingClient:
    key = table.fingerprint()
    with _CLIENTS_LOCK:
        client = _CLIENTS.get(key)
        if client is None:
            client = HttpPollingClient(url=table.url, options=table.options)
            _CLIENTS[key] = client
        return client


def _etag_of(result: Optional["HttpLookupResult"]) -> Optional[str]:
    """First ETag header of a cached lookup result (case-insensitive),
    or None when the endpoint published no validator — in which case an
    expired entry refetches normally."""
    if result is None or not result.headers:
        return None
    for name, values in result.headers.items():
        if name.lower() == "etag" and values:
            return values[0]
    return None


# --- JSON value → declared Spark type coercion --------------------------------

def _coerce(value: Any, data_type: T.DataType) -> Any:
    """Coerce a decoded JSON value into the declared schema's Python shape.

    The reference delegates this to the Flink ``json`` format against the
    DDL type (``HttpLookupTableSourceFactory.java:103-105``); here we decode
    against the declared ``StructType`` ourselves.
    """
    if value is None:
        return None
    if isinstance(data_type, T.StructType):
        if not isinstance(value, Mapping):
            return None
        return {
            f.name: _coerce(value.get(f.name), f.dataType) for f in data_type.fields
        }
    if isinstance(data_type, T.ArrayType):
        if not isinstance(value, (list, tuple)):
            return None
        return [_coerce(v, data_type.elementType) for v in value]
    if isinstance(data_type, T.MapType):
        if not isinstance(value, Mapping):
            return None
        return {k: _coerce(v, data_type.valueType) for k, v in value.items()}
    if isinstance(data_type, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(data_type, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(data_type, T.DecimalType):
        return decimal.Decimal(str(value))
    if isinstance(data_type, T.BooleanType):
        if isinstance(value, str):
            return value.lower() == "true"
        return bool(value)
    if isinstance(data_type, T.TimestampType):
        if isinstance(value, str):
            return _dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
        return value
    if isinstance(data_type, T.DateType):
        if isinstance(value, str):
            return _dt.date.fromisoformat(value)
        return value
    if isinstance(data_type, T.StringType):
        return value if isinstance(value, str) else str(value)
    return value


def _fit_decimals(value: Any, data_type: T.DataType) -> Any:
    """Cut every decimal in a coerced value to its declared scale, toward
    zero, as Spark's unsafe pandas-to-Arrow rescale does (``"-1.239"`` →
    ``DECIMAL(10,2)`` ``-1.23``); ``pa.array`` refuses a lossy rescale."""
    if value is None:
        return None
    if isinstance(data_type, T.DecimalType):
        return value.quantize(
            decimal.Decimal(1).scaleb(-data_type.scale),
            rounding=decimal.ROUND_DOWN, context=_DECIMAL_CONTEXT,
        )
    if isinstance(data_type, T.StructType):
        return {f.name: _fit_decimals(value.get(f.name), f.dataType)
                for f in data_type.fields}
    if isinstance(data_type, T.ArrayType):
        return [_fit_decimals(v, data_type.elementType) for v in value]
    if isinstance(data_type, T.MapType):
        return {k: _fit_decimals(v, data_type.valueType) for k, v in value.items()}
    return value


#: wide enough for any DECIMAL(38, s) digit string
_DECIMAL_CONTEXT = decimal.Context(prec=76)


# --- key handling --------------------------------------------------------------

def _normalize_on(
    on: Union[Sequence[str], Mapping[str, str]],
) -> List[Tuple[str, str]]:
    """``on`` → list of (probe_column, lookup_key_name) pairs.

    Accepts a list of shared names or a ``{probe_col: lookup_key}`` mapping;
    dotted paths address nested struct fields on either side (reference
    nested ROW join keys, ``RowTypeLookupSchemaEntry.java:73-87``).
    """
    if isinstance(on, Mapping):
        pairs = list(on.items())
    else:
        pairs = [(name, name) for name in on]
    if not pairs:
        raise ValueError("http_lookup_join requires at least one key column in `on`")
    # request args are keyed by LEAF field name (the reference flattens
    # nested ROW keys the same way); two dotted lookup keys sharing a leaf
    # would silently collide in the request-arg dict, last one winning —
    # the lookup would fire with fewer key args than the join declared
    leaves = [_leaf_name(lk) for _, lk in pairs]
    dupes = sorted({n for n in leaves if leaves.count(n) > 1})
    if dupes:
        raise ValueError(
            "http_lookup_join: lookup keys flatten to duplicate request-arg "
            f"name(s) {dupes} — nested key paths must have distinct leaf "
            "field names (reference flattens ROW keys to leaf name/value "
            "args, RowTypeLookupSchemaEntry.java:73-87)"
        )
    return pairs


def _extract_path(container: Any, path: Sequence[str]) -> Any:
    for part in path:
        if container is None:
            return None
        if isinstance(container, Mapping):
            container = container.get(part)
        else:
            container = getattr(container, part, None)
    return container


def _leaf_name(dotted: str) -> str:
    """Flattened creator arg name = leaf field name (reference flattens
    nested ROW keys into leaf name/value args)."""
    return dotted.split(".")[-1]


def _key_coercer(schema: T.StructType, dotted: str):
    """Coercer for one lookup-key field: navigates the declared schema by
    the dotted key path and closes over that field's ``_coerce``; identity
    when the path is not declared (the match then stays value-exact)."""
    data_type: Optional[T.DataType] = None
    current: T.DataType = schema
    for part in dotted.split("."):
        if not isinstance(current, T.StructType):
            current = None  # type: ignore[assignment]
            break
        match = next((f for f in current.fields if f.name == part), None)
        if match is None:
            current = None  # type: ignore[assignment]
            break
        current = match.dataType
    data_type = current
    if data_type is None:
        return lambda v: v
    return lambda v, dt=data_type: _coerce(v, dt)


# --- nested projection pruning --------------------------------------------------

def _prune_schema(struct: T.StructType, paths: "set[Tuple[str, ...]]") -> T.StructType:
    """Keep only the fields addressed by ``paths`` (dotted-path tuples);
    a path ending at a struct keeps that struct whole."""
    by_head: Dict[str, "set[Tuple[str, ...]]"] = {}
    for p in paths:
        by_head.setdefault(p[0], set()).add(p[1:])
    fields = []
    for f in struct.fields:
        if f.name not in by_head:
            continue
        tails = {t for t in by_head[f.name] if t}
        if tails and isinstance(f.dataType, T.StructType):
            fields.append(
                T.StructField(f.name, _prune_schema(f.dataType, tails), True)
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def _validate_select_paths(schema: T.StructType, select: Sequence[str]) -> None:
    for dotted in select:
        node: T.DataType = schema
        for part in dotted.split("."):
            if not isinstance(node, T.StructType) or part not in node.fieldNames():
                raise ValueError(
                    f"select references unknown lookup column {dotted!r}"
                )
            node = node[part].dataType


# --- the operator ---------------------------------------------------------------


@dataclass(frozen=True)
class _EnrichConfig:
    """Everything the per-batch enrichment needs, picklable, built once on
    the driver. Shared by the ``mapInArrow`` path (:func:`http_lookup_join`)
    and the SQL UDTF surface (``sqlfn.HttpLookupUdtf``), so both run the
    identical vectorized distinct-key/cache/async/batch machinery."""

    table: HttpLookupTable
    pairs: Tuple[Tuple[str, str], ...]
    probe_col_names: Tuple[str, ...]
    output_lookup_fields: Tuple[T.StructField, ...]
    out_col_names: Tuple[str, ...]
    key_lookup_names: Tuple[str, ...]
    meta_names: Tuple[str, ...]
    emit_on_empty: bool


def _noop_add(_n: int) -> None:
    pass


def _run_jobs(jobs: List[Tuple], opts: HttpLookupOptions) -> List[Tuple]:
    """Run lookup jobs — ``(send, publish)`` pairs, see
    :func:`_enrich_pdf` — and concatenate what their publishes return.

    Sync mode (or a single job) runs them inline and in order, the
    reference's synchronous LookupFunction semantics. asyncPolling sends
    on the pull pool and publishes on the publish pool
    (``AsyncHttpTableLookupFunction.java:40-42,94-115``);
    ``async_buffer_capacity`` caps the sends in flight. ``async_timeout``
    is ONE whole-batch deadline, taken before the first submit (the
    reference's table.exec.async-lookup.timeout bounds the complete async
    operation the same way): a send not done when it lapses is published
    once as None and its thread is abandoned, so its late response fires
    no observers and no failure accounting."""
    if not opts.use_async or len(jobs) <= 1:
        return [out for send, publish in jobs for out in publish(send())]
    deadline = (
        None if opts.async_timeout is None
        else time.monotonic() + opts.async_timeout
    )

    def exchange_of(fut):
        try:
            return fut.result(
                timeout=None if deadline is None
                else max(0.0, deadline - time.monotonic())
            )
        except FuturesTimeoutError:
            fut.cancel()
            return None

    pull_pool = ThreadPoolExecutor(max_workers=max(1, min(
        opts.pull_pool_size, opts.async_buffer_capacity, len(jobs),
    )))
    publish_pool = ThreadPoolExecutor(max_workers=max(1, opts.publish_pool_size))
    try:
        sends = [(publish, pull_pool.submit(send)) for send, publish in jobs]
        published = [
            publish_pool.submit(lambda p=publish, f=f: p(exchange_of(f)))
            for publish, f in sends
        ]
        return [out for fut in published for out in fut.result()]
    finally:
        # timed-out results are already materialized — don't let pool
        # teardown block on a hung send (abandoned sockets still die at
        # request_timeout)
        publish_pool.shutdown(wait=False, cancel_futures=True)
        pull_pool.shutdown(wait=False, cancel_futures=True)


def _enrich_pdf(
    cfg: "_EnrichConfig",
    client: HttpPollingClient,
    cache: Optional[LruTtlCache],
    batch: pa.RecordBatch,
    calls_add=_noop_add,
    hits_add=_noop_add,
) -> Optional[pa.RecordBatch]:
    """Enrich ONE probe batch (Arrow ``RecordBatch``) with HTTP lookups:
    distinct-key dedup, cache probe + ETag revalidation, thread-pooled /
    multi-key-batch fetch, then assembly (:func:`_assemble`) with the
    emptiness rule, key backfill, array multiply and metadata columns.
    Returns the enriched batch (column order = ``cfg.out_col_names``), or
    ``None`` for an empty batch. Shared by the ``mapInArrow`` path and
    the SQL UDTF."""
    pairs = list(cfg.pairs)
    if batch.num_rows == 0:
        return None
    # --- distinct-key extraction (batch-level dedup) ------------------
    key_cols: List[List[Any]] = []
    for probe_col, _lk in pairs:
        path = probe_col.split(".")
        root = batch.column(path[0]).to_pylist()
        if len(path) == 1:
            key_cols.append(root)
        else:
            key_cols.append([_extract_path(v, path[1:]) for v in root])
    codes: Dict[Tuple, int] = {}
    row_codes = [codes.setdefault(kt, len(codes)) for kt in zip(*key_cols)]
    distinct: Dict[Tuple, Optional[HttpLookupResult]] = dict.fromkeys(codes)

    # --- cache probe ------------------------------------------------------
    to_fetch: List[Tuple] = []
    # (key, etag, stale result) triples for conditional refresh
    to_revalidate: List[Tuple[Tuple, str, HttpLookupResult]] = []
    opts = cfg.table.options
    batch_size = opts.lookup_batch_size
    revalidating = (
        cache is not None and cache.config.revalidate
        and not batch_size  # conditional GET is a per-key exchange
    )
    for kt in distinct:
        if cache is None:
            to_fetch.append(kt)
            continue
        if revalidating:
            value, state = cache.probe(kt)
            if state == "fresh":
                distinct[kt] = value
                continue
            etag = _etag_of(value) if state == "stale" else None
            if etag:
                to_revalidate.append((kt, etag, value))
            else:
                to_fetch.append(kt)
        else:
            cached = cache.get(kt)
            if cached is not None:
                distinct[kt] = cached
            else:
                to_fetch.append(kt)

    hits_add(
        len(distinct) - len(to_fetch) - len(to_revalidate)
    )

    def key_values_of(kt: Tuple) -> Dict[str, Any]:
        return {_leaf_name(lk): v for (_pc, lk), v in zip(pairs, kt)}

    def timed_out(what: str) -> Tuple:
        return (None, None, (
            f"{what} timed out after {opts.async_timeout}s", None,
        ))

    # --- one job per revalidated key, multi-key chunk or fetched key -----
    # a job is (send, publish): a network thunk returning an exchange, and
    # a function mapping that exchange — None when the send missed the
    # async deadline — to (key, result, store_in_cache) triples

    def publish_revalidation(kt, stale, exchange):
        if exchange is None:
            # serve stale WITHOUT refreshing the TTL — the entry stays
            # expired so the next batch retries the conditional GET
            return [(kt, stale, False)]
        # 304 → same body, fresh TTL
        return [(kt, client.publish_conditional(exchange, stale), True)]

    def publish_chunk(chunk, kvs, exchange):
        results = client.publish_multi(
            exchange or timed_out("async batch lookup"),
            kvs, leaf_names, key_coercers,
        )
        return [(kt, result, True) for kt, result in zip(chunk, results)]

    def publish_key(kt, exchange):
        result = client.publish(exchange or timed_out("async lookup"))
        return [(kt, result, True)]

    jobs = [
        (partial(client.send_conditional, key_values_of(kt), etag),
         partial(publish_revalidation, kt, stale))
        for kt, etag, stale in to_revalidate
    ]
    if batch_size:
        # multi-key batch mode: N distinct keys per request
        leaf_names = [_leaf_name(lk) for _, lk in pairs]
        # canonicalize response/request key values through the
        # DECLARED schema types before matching (the per-key path
        # coerces during decode; without this an endpoint echoing
        # "42" for int key 42 reads as empty for every key)
        key_coercers = [
            _key_coercer(cfg.table.schema, lk) for _, lk in pairs
        ]
        for i in range(0, len(to_fetch), batch_size):
            chunk = to_fetch[i : i + batch_size]
            kvs = [key_values_of(kt) for kt in chunk]
            jobs.append((partial(client.send_multi, kvs),
                         partial(publish_chunk, chunk, kvs)))
    else:
        _maybe_advise_batch_lookup(len(to_fetch))
        jobs += [
            (partial(client.send, key_values_of(kt)), partial(publish_key, kt))
            for kt in to_fetch
        ]

    calls_add(len(jobs))
    for kt, result, store in _run_jobs(jobs, opts):
        distinct[kt] = result
        if (
            store and cache is not None
            and result.completion_state is HttpCompletionState.SUCCESS
            and (result.rows or cache.config.cache_missing_key)
        ):
            cache.put(kt, result)

    return _assemble(cfg, batch, row_codes, distinct)


def _assemble(
    cfg: "_EnrichConfig",
    batch: pa.RecordBatch,
    row_codes: List[int],
    results: Dict[Tuple, HttpLookupResult],
) -> pa.RecordBatch:
    """Join one probe batch to its lookup results. Each distinct key's
    rows are coerced once (key backfill and metadata applied per key)
    into a block of one array per output column; the emptiness rule, the
    ``how="left"`` null row and the array multiply only decide how many
    rows a key's block holds. One ``(probe_idx, result_idx)`` index pair
    then gathers probe and result columns into probe order with ``take``.
    ``row_codes[i]`` is the position in ``results`` of probe row i's key."""
    key_names = list(cfg.key_lookup_names)
    fields = list(cfg.output_lookup_fields)
    fits = ["decimal(" in f.dataType.simpleString() for f in fields]
    meta_fields = [f for name in cfg.meta_names
                   for f in METADATA_FIELDS if f.name == name]
    lookup_values: List[List[Any]] = [[] for _ in fields]
    meta_values: List[List[Any]] = [[] for _ in meta_fields]
    counts = []
    for kt, result in results.items():
        rows = result.rows
        if not rows:
            rows = [None] if cfg.emit_on_empty else []  # one null-enrichment row
        counts.append(len(rows))
        for row in rows:
            for f, fit, values in zip(fields, fits, lookup_values):
                if row is None:
                    values.append(None)
                    continue
                value = _coerce(row.get(f.name), f.dataType)
                # join-key backfill: null result key ← probe value
                if value is None and f.name in key_names:
                    value = kt[key_names.index(f.name)]
                values.append(_fit_decimals(value, f.dataType) if fit else value)
        if meta_fields:
            meta = {
                "error-string": result.error_string,
                "http-status-code": result.status_code,
                "http-headers": dict(result.headers) if result.headers else None,
                "http-completion-state": result.completion_state.value,
            }
            for f, values in zip(meta_fields, meta_values):
                values.extend([meta[f.name]] * len(rows))

    # probe row i repeats once per row of its key's block, in block order
    count = np.asarray(counts, dtype=np.int64)
    start = np.cumsum(count) - count
    code = np.asarray(row_codes, dtype=np.int64)
    repeats = count[code]
    probe_idx = np.repeat(np.arange(len(code)), repeats)
    out_start = np.cumsum(repeats) - repeats
    result_idx = (
        np.repeat(start[code] - out_start, repeats) + np.arange(len(probe_idx))
    )
    probe = batch if (repeats == 1).all() else batch.take(probe_idx)
    columns = [probe.column(name) for name in cfg.probe_col_names]
    columns += [
        pa.array(values, type=to_arrow_type(f.dataType)).take(result_idx)
        for f, values in zip(fields + meta_fields, lookup_values + meta_values)
    ]
    return pa.RecordBatch.from_arrays(columns, names=list(cfg.out_col_names))


def http_lookup_join(
    probe: DataFrame,
    table: HttpLookupTable,
    on: Union[Sequence[str], Mapping[str, str]],
    *,
    how: str = "inner",
    select: Optional[Sequence[str]] = None,
    metadata_columns: Optional[Sequence[str]] = None,
    lookup_prefix: str = "",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Enrich ``probe`` with rows fetched from ``table``'s HTTP endpoint.

    Equivalent of ``JOIN LookupTable FOR SYSTEM_TIME AS OF proc_time ON ...``
    (reference flagship path, SURVEY §3.1). ``select`` prunes the decoded
    lookup columns (projection pushdown); ``metadata_columns`` appends the
    requested virtual columns; ``lookup_prefix`` renames lookup output
    columns to avoid probe collisions. ``num_partitions`` repartitions the
    probe first — total in-flight requests = partitions × pull pool size,
    the knob that matters when the probe arrives in few fat partitions
    (a narrow parquet scan) but the endpoint has headroom.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    pairs = _normalize_on(on)

    # CUSTOM named response formats resolve HERE (driver): the format
    # registry is a driver-process object executors don't have, so the
    # resolved callable ships inside the pickled options. Built-ins
    # (json/csv) resolve anywhere and keep the common path untouched.
    if (
        table.options.decoder is None
        and table.options.response_format not in ("json", "csv")
    ):
        import dataclasses

        from .formats import resolve_decoder

        table = dataclasses.replace(
            table,
            options=dataclasses.replace(
                table.options,
                decoder=resolve_decoder(table.options.response_format),
            ),
        )

    # projection pushdown incl. NESTED fields: prune the decode schema to
    # the requested columns (+ keys, needed for backfill). Dotted ``select``
    # entries (``"address.city"``) prune inside struct columns — parity with
    # the reference's ``supportsNestedProjection -> true``
    # (``HttpLookupTableSource.java:202-204``): unselected nested fields are
    # never decoded or emitted.
    if select is not None:
        _validate_select_paths(table.schema, select)
        paths = {tuple(s.split(".")) for s in select}
        pruned = _prune_schema(table.schema, paths)
        select_heads = {s.split(".")[0] for s in select}
        # decode is driven by these fields' (pruned) dataTypes — unselected
        # nested fields never reach _coerce
        output_lookup_fields = [f for f in pruned.fields if f.name in select_heads]
    else:
        output_lookup_fields = list(table.schema.fields)

    meta_fields = list(metadata_schema(metadata_columns).fields) if metadata_columns else []
    if metadata_columns:
        unknown = set(metadata_columns) - set(METADATA_COLUMN_NAMES)
        if unknown:
            raise ValueError(f"unknown metadata columns {sorted(unknown)}")

    probe_fields = list(probe.schema.fields)
    probe_names = {f.name for f in probe_fields}
    out_fields = list(probe_fields)
    for f in output_lookup_fields:
        name = f"{lookup_prefix}{f.name}"
        if name in probe_names:
            raise ValueError(
                f"lookup column {name!r} collides with a probe column; "
                "pass lookup_prefix= to rename lookup output columns"
            )
        out_fields.append(T.StructField(name, f.dataType, True))
    for f in meta_fields:
        out_fields.append(T.StructField(f"{lookup_prefix}{f.name}", f.dataType, True))
    out_schema = T.StructType(out_fields)

    probe_col_names = [f.name for f in probe_fields]
    lookup_out_names = [f.name for f in output_lookup_fields]
    meta_names = [f.name for f in meta_fields]
    key_lookup_names = [lk for _, lk in pairs]
    emit_on_empty = how == "left" or bool(meta_fields)

    # R13 metrics parity (lookup call counter, HttpTableLookupFunction.java:
    # 95-96): accumulators aggregate across executors; read them via
    # http_lookup_join.last_metrics[...].value AFTER an action has run
    # (the operator itself is lazy).
    sc = probe.sparkSession.sparkContext
    calls_acc = sc.accumulator(0)        # HTTP lookups actually fired
    cache_hits_acc = sc.accumulator(0)   # distinct keys served from cache
    rows_acc = sc.accumulator(0)         # enriched rows emitted

    # plain-data config captured by the closure (all picklable)
    cfg = _EnrichConfig(
        table=table,
        pairs=tuple(pairs),
        probe_col_names=tuple(probe_col_names),
        output_lookup_fields=tuple(output_lookup_fields),
        out_col_names=tuple(f.name for f in out_fields),
        key_lookup_names=tuple(key_lookup_names),
        meta_names=tuple(meta_names),
        emit_on_empty=emit_on_empty,
    )

    def enrich(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = _client_for(cfg.table)
        cache: Optional[LruTtlCache] = None
        if cfg.table.options.cache is not None:
            cache = shared_cache(cfg.table.fingerprint(), cfg.table.options.cache)
        for batch in batches:
            out = _enrich_pdf(
                cfg, client, cache, batch, calls_acc.add, cache_hits_acc.add
            )
            if out is None or out.num_rows == 0:
                continue
            rows_acc.add(out.num_rows)
            yield out


    if num_partitions is not None:
        # hash-partition on the lookup keys: keeps every occurrence of a key
        # in ONE partition, so per-partition distinct-key dedup stays global
        # (round-robin would scatter a key across partitions and multiply
        # the HTTP request volume)
        key_roots = []
        for probe_col, _lk in pairs:
            root = probe_col.split(".")[0]
            if root not in key_roots:
                key_roots.append(root)
        probe = probe.repartition(num_partitions, *key_roots)
    http_lookup_join.last_metrics = {  # type: ignore[attr-defined]
        "numLookupCalls": calls_acc,
        "numCacheHits": cache_hits_acc,
        "numRowsEmitted": rows_acc,
    }
    return probe.mapInArrow(enrich, schema=out_schema)
