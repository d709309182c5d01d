"""Value parity of the lookup join's Arrow output, and the shape of one
enrichment call.

The end-to-end tests pin what ``http_lookup_join`` emits for each declared
type (timestamps under a non-UTC session time zone, dates, maps, arrays of
structs with null elements, string-typed scalars, decimals with extra
scale, all metadata columns, ``lookup_prefix`` and ``how="left"``). The
unit test calls ``lookup._enrich_pdf`` directly on a ``RecordBatch``.
"""

import datetime as dt
from decimal import Decimal

import pyarrow as pa

from pyspark.sql import Row
from pyspark.sql import types as T

from flink_connector_http_spark import (
    HttpLookupOptions,
    HttpLookupTable,
    http_lookup_join,
    lookup,
)
from flink_connector_http_spark.types import HttpLookupResult
from tests.stub_server import json_response

ALL_METADATA = [
    "error-string", "http-status-code", "http-headers", "http-completion-state",
]

TYPED_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ts_naive", T.TimestampType()),
    T.StructField("ts_z", T.TimestampType()),
    T.StructField("d", T.DateType()),
    T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("arr", T.ArrayType(T.StructType([
        T.StructField("x", T.LongType()),
        T.StructField("y", T.StringType()),
    ]))),
    T.StructField("n", T.IntegerType()),
    T.StructField("flag", T.BooleanType()),
])


def _micros(ts: str) -> int:
    return int(dt.datetime.fromisoformat(ts).timestamp() * 1_000_000)


def test_declared_types_metadata_prefix_and_left_join(spark, stub_server):
    def responder(request):
        if request.query["id"][0] != "1":
            return json_response({}, status=404)
        # no "id" in the body: the lookup key column is backfilled
        return json_response({
            "ts_naive": "2024-03-10T01:30:00",
            "ts_z": "2024-03-10T09:30:00Z",
            "d": "2024-02-29",
            "m": {"a": 1, "b": "2"},
            "arr": [{"x": 1, "y": "u"}, None, {"x": "3", "y": 4}],
            "n": "42",
            "flag": "TRUE",
        })

    stub_server.stub("/typed", responder)
    table = HttpLookupTable(
        url=stub_server.url("/typed"), schema=TYPED_SCHEMA,
        options=HttpLookupOptions(continue_on_error=True),
    )
    previous_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        probe = spark.createDataFrame(
            [(1, "a"), (2, "b"), (1, "c")], "k BIGINT, tag STRING")
        out = http_lookup_join(
            probe, table, on={"k": "id"}, how="left", lookup_prefix="l_",
            metadata_columns=ALL_METADATA,
        )
        assert out.columns == [
            "k", "tag", "l_id", "l_ts_naive", "l_ts_z", "l_d", "l_m", "l_arr",
            "l_n", "l_flag", "l_error-string", "l_http-status-code",
            "l_http-headers", "l_http-completion-state",
        ]
        rows = out.selectExpr(
            "*",
            "unix_micros(l_ts_naive) AS naive_us",
            "unix_micros(l_ts_z) AS z_us",
            "cast(l_ts_naive AS STRING) AS naive_local",
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", previous_tz)

    by_tag = {r.tag: r.asDict(recursive=True) for r in rows}
    assert sorted(by_tag) == ["a", "b", "c"]
    for tag in ("a", "c"):
        r = by_tag[tag]
        headers = r.pop("l_http-headers")
        assert headers["Content-Type"] == ["application/json"]
        for key in ("l_ts_naive", "l_ts_z"):  # collect() is host-zone local
            r.pop(key)
        assert r == {
            "k": 1, "tag": tag, "l_id": 1,
            # a naive timestamp string reads as UTC, whatever the session zone
            "naive_us": _micros("2024-03-10T01:30:00+00:00"),
            "z_us": _micros("2024-03-10T09:30:00+00:00"),
            "naive_local": "2024-03-09 17:30:00",
            "l_d": dt.date(2024, 2, 29),
            "l_m": {"a": 1, "b": 2},
            "l_arr": [{"x": 1, "y": "u"}, None, {"x": 3, "y": "4"}],
            "l_n": 42,
            "l_flag": True,
            "l_error-string": None,
            "l_http-status-code": 200,
            "l_http-completion-state": "SUCCESS",
        }
    missing = by_tag["b"]
    assert missing["l_http-headers"]["Content-Type"] == ["application/json"]
    assert {k: v for k, v in missing.items() if k != "l_http-headers"} == {
        "k": 2, "tag": "b", "l_id": None, "l_ts_naive": None, "l_ts_z": None,
        "l_d": None, "l_m": None, "l_arr": None, "l_n": None, "l_flag": None,
        "l_error-string": "HTTP error status 404",
        "l_http-status-code": 404,
        "l_http-completion-state": "HTTP_ERROR_STATUS",
        "naive_us": None, "z_us": None, "naive_local": None,
    }


def test_decimal_with_extra_scale_truncates_toward_zero(spark, stub_server):
    """Extra scale is cut toward zero, as Spark's unsafe pandas-to-Arrow
    conversion cuts it (the conf below has no say on the Arrow path)."""
    amounts = {"1": "1.239", "2": "1.235", "3": "-1.239"}
    stub_server.stub("/amount", lambda r: json_response(
        {"id": int(r.query["id"][0]), "amount": amounts[r.query["id"][0]]}))
    table = HttpLookupTable(
        url=stub_server.url("/amount"),
        schema=T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DecimalType(10, 2)),
        ]),
    )
    safely = "spark.sql.execution.pandas.convertToArrowArraySafely"
    previous = spark.conf.get(safely)
    spark.conf.set(safely, "false")
    try:
        probe = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)])
        out = http_lookup_join(probe, table, on={"k": "id"})
        assert out.schema["amount"].dataType == T.DecimalType(10, 2)
        got = sorted((r.k, r.amount) for r in out.collect())
    finally:
        spark.conf.set(safely, previous)
    assert got == [
        (1, Decimal("1.23")), (2, Decimal("1.23")), (3, Decimal("-1.23")),
    ]


class _FixedClient:
    """Serves every key from a dict, with no network."""

    def __init__(self, results):
        self.results = results

    def send(self, key_values):
        return (key_values["id"],)

    def publish(self, exchange):
        return self.results[exchange[0]]


def test_enrich_batch_coerces_each_distinct_result_once(monkeypatch):
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    cfg = lookup._EnrichConfig(
        table=HttpLookupTable(
            url="http://unused", schema=schema,
            options=HttpLookupOptions(use_async=False),
        ),
        pairs=(("k", "id"),),
        probe_col_names=("k", "v"),
        output_lookup_fields=tuple(schema.fields),
        out_col_names=("k", "v", "id", "name", "score"),
        key_lookup_names=("id",),
        meta_names=(),
        emit_on_empty=False,
    )
    client = _FixedClient({
        k: HttpLookupResult(rows=[{"id": k, "name": f"n{k}", "score": str(k)}])
        for k in range(10)
    })
    calls = []
    real_coerce = lookup._coerce

    def counting_coerce(value, data_type):
        calls.append(1)
        return real_coerce(value, data_type)

    monkeypatch.setattr(lookup, "_coerce", counting_coerce)
    batch = pa.RecordBatch.from_pydict({
        "k": pa.array([i % 10 for i in range(1000)], type=pa.int64()),
        "v": pa.array(range(1000), type=pa.int64()),
    })
    out = lookup._enrich_pdf(cfg, client, None, batch)

    assert isinstance(out, pa.RecordBatch)
    assert tuple(out.schema.names) == cfg.out_col_names
    assert out["v"].tolist() == list(range(1000))
    assert out["name"].tolist() == [f"n{i % 10}" for i in range(1000)]
    assert out["score"].tolist() == [float(i % 10) for i in range(1000)]
    # one call per field of each of the 10 distinct results, not per row
    assert len(calls) == 10 * len(schema.fields)
