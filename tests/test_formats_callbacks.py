"""Pluggable response formats (reference ``lookup-request.format`` SPI,
``HttpLookupConnectorOptions.java:93-94``; custom-format docs
``docs/content/docs/connectors/table/http.md:449-478``) and the R11/R12
content-logger + request/response callback wiring
(``Slf4JHttpLookupPostRequestCallback.java``, ``HttpLogger.java:56-151``).
"""

import json

import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from flink_connector_http_spark import (
    HttpLookupOptions,
    HttpLookupTable,
    HttpSinkOptions,
    HttpSinkRequestEntry,
    HttpSinkWriter,
    http_lookup_join,
    lookup_options_from_map,
    register_format,
    registered_formats,
    sink_options_from_map,
    write_http,
)
from flink_connector_http_spark.client import HttpPollingClient
from tests.stub_server import StubResponse


NATION_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.IntegerType()),
    T.StructField("n_name", T.StringType()),
])


def csv_nation_responder(req):
    key = req.query.get("n_nationkey", [""])[0]
    body = f"n_nationkey,n_name\r\n{key},NATION_{key}\r\n"
    return StubResponse(status=200, body=body.encode(),
                        headers={"Content-Type": "text/csv"})

# picklable decoder from an executor-importable module (options.decoder ships
# through pickle, so it cannot live in this test module)
from flink_connector_http_spark.testing import pipe_decoder  # noqa: E402


class TestResponseFormats:
    def test_csv_lookup_end_to_end(self, spark, stub_server):
        stub_server.stub("/nation-csv", csv_nation_responder)
        probe = spark.createDataFrame(
            [Row(id=i, key=i % 3) for i in range(9)]
        )
        table = HttpLookupTable(
            url=stub_server.url("/nation-csv"),
            schema=NATION_SCHEMA,
            options=HttpLookupOptions(
                method="GET", response_format="csv", result_type="array"
            ),
        )
        out = http_lookup_join(probe, table, on={"key": "n_nationkey"}).collect()
        assert len(out) == 9
        for row in out:
            assert row.n_nationkey == row.key  # coerced from CSV string
            assert row.n_name == f"NATION_{row.key}"

    def test_custom_decoder_callable_end_to_end(self, spark, stub_server):
        def responder(req):
            key = req.query.get("n_nationkey", [""])[0]
            return StubResponse(
                status=200,
                body=f"n_nationkey|n_name\n{key}|P{key}".encode(),
            )

        stub_server.stub("/nation-pipe", responder)
        probe = spark.createDataFrame([Row(key=1), Row(key=2)])
        table = HttpLookupTable(
            url=stub_server.url("/nation-pipe"),
            schema=NATION_SCHEMA,
            options=HttpLookupOptions(
                method="GET", decoder=pipe_decoder, result_type="array"
            ),
        )
        out = {r.key: r.n_name for r in
               http_lookup_join(probe, table, on={"key": "n_nationkey"}).collect()}
        assert out == {1: "P1", 2: "P2"}

    def test_register_format_registry(self, stub_server):
        register_format("pipe-test", pipe_decoder)
        assert "pipe-test" in registered_formats()
        stub_server.stub_json("/x", {"n_nationkey": 7, "n_name": "Z"})
        client = HttpPollingClient(
            url=stub_server.url("/x"),
            options=HttpLookupOptions(method="GET", response_format="json"),
        )
        result = client.pull({"n_nationkey": 7})
        assert result.rows[0]["n_name"] == "Z"

    def test_unknown_format_rejected(self):
        with pytest.raises(ValueError, match="unknown response format"):
            HttpPollingClient(
                url="http://x/", options=HttpLookupOptions(response_format="nope")
            )

    def test_csv_single_value_one_row_ok(self, stub_server):
        stub_server.stub("/one", csv_nation_responder)
        client = HttpPollingClient(
            url=stub_server.url("/one"),
            options=HttpLookupOptions(method="GET", response_format="csv"),
        )
        result = client.pull({"n_nationkey": 4})
        assert [dict(r) for r in result.rows] == [
            {"n_nationkey": "4", "n_name": "NATION_4"}
        ]

    def test_option_map_parses_format_and_proxy_auth(self):
        opts = lookup_options_from_map({
            "format": "csv",
            "http.source.lookup.proxy.host": "proxy.local",
            "http.source.lookup.proxy.port": "3128",
            "http.source.lookup.proxy.username": "u",
            "http.source.lookup.proxy.password": "p",
        })
        assert opts.response_format == "csv"
        assert (opts.proxy_host, opts.proxy_port) == ("proxy.local", 3128)
        assert (opts.proxy_user, opts.proxy_password) == ("u", "p")

        sopts = sink_options_from_map({
            "format": "csv",
            "http.security.cert.server": "/ca.pem",
            "http.security.cert.server.allowSelfSigned": "true",
        })
        assert sopts.payload_format == "csv"
        assert sopts.server_ca == "/ca.pem"
        assert sopts.allow_self_signed is True


class TestSinkPayloadFormat:
    def test_csv_sink_newline_framing(self, spark, stub_server):
        stub_server.stub_json("/csv-sink", {"ok": True})
        df = spark.createDataFrame(
            [Row(id=i, name=f"n{i}") for i in range(4)]
        ).coalesce(1)
        write_http(
            df, stub_server.url("/csv-sink"),
            HttpSinkOptions(payload_format="csv", batch_size=10),
        )
        recorded = stub_server.recorded("/csv-sink")
        assert len(recorded) == 1
        assert recorded[0].headers["Content-Type"] == "text/csv"
        lines = sorted(recorded[0].body.decode().split("\n"))
        assert lines == ["0,n0", "1,n1", "2,n2", "3,n3"]


class TestCallbacks:
    def test_lookup_callback_fires_with_request_and_response(self, stub_server):
        stub_server.stub_json("/cb", {"n_nationkey": 1, "n_name": "A"})
        seen = []
        client = HttpPollingClient(
            url=stub_server.url("/cb"),
            options=HttpLookupOptions(
                method="GET", request_callback=lambda s, r: seen.append((s, r))
            ),
        )
        client.pull({"n_nationkey": 1})
        assert len(seen) == 1
        spec, response = seen[0]
        assert spec.method == "GET" and "/cb" in spec.url
        assert response.status == 200
        assert json.loads(response.body)["n_name"] == "A"

    def test_lookup_callback_fires_on_http_error_status(self, stub_server):
        stub_server.stub_json("/cb404", {"err": "missing"}, status=404)
        seen = []
        client = HttpPollingClient(
            url=stub_server.url("/cb404"),
            options=HttpLookupOptions(
                method="GET",
                continue_on_error=True,
                request_callback=lambda s, r: seen.append(r.status),
            ),
        )
        result = client.pull({"n_nationkey": 1})
        assert result.rows == ()
        assert seen == [404]

    def test_sink_callback_fires_per_request(self, stub_server):
        stub_server.stub_json("/sink-cb", {"ok": True})
        seen = []
        writer = HttpSinkWriter(
            stub_server.url("/sink-cb"),
            HttpSinkOptions(batch_size=2),
            on_response=lambda s, r: seen.append((s.method, r.status)),
        )
        for i in range(4):
            writer.write(HttpSinkRequestEntry("POST", json.dumps({"i": i}).encode()))
        writer.close()
        assert seen == [("POST", 200), ("POST", 200)]


class TestAsyncModes:
    def test_sync_and_async_agree(self, spark, stub_server):
        calls = {"n": 0}

        def responder(req):
            calls["n"] += 1
            key = req.query.get("n_nationkey", [""])[0]
            return StubResponse(
                status=200,
                body=json.dumps(
                    {"n_nationkey": int(key), "n_name": f"N{key}"}
                ).encode(),
            )

        stub_server.stub("/modes", responder)
        probe = spark.createDataFrame([Row(key=i % 5) for i in range(25)])
        results = {}
        for mode in (False, True):
            table = HttpLookupTable(
                url=stub_server.url("/modes"),
                schema=NATION_SCHEMA,
                options=HttpLookupOptions(method="GET", use_async=mode),
            )
            rows = http_lookup_join(probe, table, on={"key": "n_nationkey"}).collect()
            results[mode] = sorted((r.key, r.n_name) for r in rows)
        assert results[False] == results[True]
        assert len(results[True]) == 25


class TestAsyncKnobs:
    """T2 parity: table.exec.async-lookup buffer-capacity + timeout, and
    R13 lookup metrics accumulators."""

    def test_async_timeout_yields_exception_state(self, spark, stub_server):
        import time as _time

        def slow(req):
            _time.sleep(2.0)
            key = req.query.get("n_nationkey", ["0"])[0]
            return StubResponse(
                status=200,
                body=json.dumps({"n_nationkey": int(key), "n_name": "X"}).encode(),
            )

        stub_server.stub("/slow", slow)
        probe = spark.createDataFrame([Row(key=1), Row(key=2)]).coalesce(1)
        table = HttpLookupTable(
            url=stub_server.url("/slow"),
            schema=NATION_SCHEMA,
            options=HttpLookupOptions(
                method="GET", use_async=True, async_timeout=0.2,
                continue_on_error=True,
            ),
        )
        out = http_lookup_join(
            probe, table, on={"key": "n_nationkey"}, how="left",
            metadata_columns=["http-completion-state", "error-string"],
        ).collect()
        assert len(out) == 2
        for row in out:
            assert row.n_name is None
            assert row["http-completion-state"] == "EXCEPTION"
            assert "timed out" in row["error-string"]

    @pytest.mark.parametrize("batch_size", [None, 1], ids=["per_key", "batch"])
    def test_async_buffer_capacity_bounds_inflight(
        self, spark, stub_server, batch_size
    ):
        import threading as _threading

        active = {"now": 0, "max": 0}
        lock = _threading.Lock()

        def responder(req):
            with lock:
                active["now"] += 1
                active["max"] = max(active["max"], active["now"])
            import time as _time
            _time.sleep(0.05)
            with lock:
                active["now"] -= 1
            if req.method == "POST":  # multi-key batch: JSON key array
                rows = [{"n_nationkey": k["n_nationkey"], "n_name": "Y"}
                        for k in req.json()]
                return StubResponse(status=200, body=json.dumps(rows).encode())
            key = req.query.get("n_nationkey", ["0"])[0]
            return StubResponse(
                status=200,
                body=json.dumps({"n_nationkey": int(key), "n_name": "Y"}).encode(),
            )

        stub_server.stub("/bounded", responder)
        probe = spark.createDataFrame([Row(key=i) for i in range(12)]).coalesce(1)
        table = HttpLookupTable(
            url=stub_server.url("/bounded"),
            schema=NATION_SCHEMA,
            options=HttpLookupOptions(
                method="GET", use_async=True,
                pull_pool_size=8, async_buffer_capacity=2,
                lookup_batch_size=batch_size,
            ),
        )
        out = http_lookup_join(probe, table, on={"key": "n_nationkey"}).collect()
        assert len(out) == 12
        assert active["max"] <= 2  # capacity caps in-flight requests

    def test_lookup_metrics_accumulators(self, spark, stub_server):
        from flink_connector_http_spark.lookup import http_lookup_join as hlj

        def responder(req):
            key = req.query.get("n_nationkey", ["0"])[0]
            return StubResponse(
                status=200,
                body=json.dumps({"n_nationkey": int(key), "n_name": "M"}).encode(),
            )

        stub_server.stub("/metrics", responder)
        probe = spark.createDataFrame(
            [Row(key=i % 4) for i in range(20)]
        ).coalesce(1)
        table = HttpLookupTable(
            url=stub_server.url("/metrics"), schema=NATION_SCHEMA,
            options=HttpLookupOptions(method="GET"),
        )
        out = hlj(probe, table, on={"key": "n_nationkey"})
        metrics = hlj.last_metrics
        assert out.count() == 20
        assert metrics["numLookupCalls"].value == 4   # distinct keys only
        assert metrics["numRowsEmitted"].value == 20


class TestNamedCustomFormatExecutorShipping:
    """A format registered by NAME must work on executors even though the
    registry is a driver-process object: resolution happens driver-side
    and the callable ships inside the pickled state. Nested decoders (not
    importable on executors) prove the shipping actually happens."""

    def test_named_decoder_through_lookup_join(self, spark, stub_server):
        def shout_decoder(body: bytes):
            rec = json.loads(body.decode("utf-8"))
            rec["n_name"] = rec["n_name"].upper()
            return rec

        register_format("shout-json", shout_decoder)
        stub_server.stub("/nation-shout", lambda req: StubResponse(
            status=200,
            body=json.dumps({
                "n_nationkey": int(req.query.get("n_nationkey", ["0"])[0]),
                "n_name": "quiet",
            }).encode(),
        ))
        probe = spark.createDataFrame([Row(key=1), Row(key=2)])
        table = HttpLookupTable(
            url=stub_server.url("/nation-shout"),
            schema=NATION_SCHEMA,
            options=HttpLookupOptions(method="GET", response_format="shout-json"),
        )
        out = {r.key: r.n_name for r in
               http_lookup_join(probe, table, on={"key": "n_nationkey"}).collect()}
        assert out == {1: "QUIET", 2: "QUIET"}

    def test_named_decoder_through_datasource_read(self, spark, stub_server):
        """The DataSource runs in its OWN Python worker, where user-code
        register_format calls never happened — the format_module option
        (import-hook SPI) makes the registration reachable there."""
        from flink_connector_http_spark.datasource import register_http_datasource

        register_http_datasource(spark)
        stub_server.stub("/feed-pipe", lambda req: StubResponse(
            status=200,
            body=(b"id|name\n1|a\n2|b"
                  if req.query.get("page", ["0"])[0] == "0" else b"id|name"),
        ))
        df = (
            spark.read.format("http")
            .schema("id INT, name STRING")
            .option("url", stub_server.url("/feed-pipe"))
            .option("format", "pipe2")
            .option("format_module", "tests.fixture_formats")
            .option("pages", 1)
            .load()
        )
        assert sorted((r.id, r.name) for r in df.collect()) == [(1, "a"), (2, "b")]


class TestJsonlFormat:
    def test_jsonl_decode_array_result(self, stub_server):
        body = b'{"n_nationkey": 1, "n_name": "A"}\n\n{"n_nationkey": 2, "n_name": "B"}\n'
        stub_server.stub("/jl", lambda _req: StubResponse(
            200, body, {"Content-Type": "application/x-ndjson"}))
        client = HttpPollingClient(
            url=stub_server.url("/jl"),
            options=HttpLookupOptions(
                method="GET", response_format="jsonl", result_type="array"
            ),
        )
        result = client.pull({"k": 1})
        assert [dict(r) for r in result.rows] == [
            {"n_nationkey": 1, "n_name": "A"},
            {"n_nationkey": 2, "n_name": "B"},
        ]

    def test_jsonl_sink_newline_framing(self, spark, stub_server):
        stub_server.stub_json("/jlsink", {"ok": True})
        from flink_connector_http_spark import HttpSinkOptions, write_http

        df = spark.createDataFrame([(1, "x"), (2, "y")], "id INT, name STRING")
        write_http(
            df.coalesce(1), stub_server.url("/jlsink"),
            HttpSinkOptions(payload_format="jsonl"),
        )
        recorded = stub_server.recorded("/jlsink")
        assert len(recorded) == 1
        assert recorded[0].headers["Content-Type"] == "application/x-ndjson"
        lines = [json.loads(x) for x in recorded[0].body.decode().split("\n")]
        assert sorted(lines, key=lambda d: d["id"]) == [
            {"id": 1, "name": "x"}, {"id": 2, "name": "y"},
        ]


class TestTransparentCompression:
    def test_gzip_response_decoded_and_headers_cleaned(self, stub_server):
        import gzip as _gzip
        import json as _json

        payload = _json.dumps({"n_nationkey": 9, "n_name": "GZ"}).encode()

        def responder(req):
            hdrs = {k.lower(): v for k, v in req.headers.items()}
            assert "gzip" in hdrs.get("accept-encoding", "")
            return StubResponse(
                status=200,
                body=_gzip.compress(payload),
                headers={"Content-Type": "application/json",
                         "Content-Encoding": "gzip"},
            )

        stub_server.stub("/gz", responder)
        client = HttpPollingClient(
            url=stub_server.url("/gz"),
            options=HttpLookupOptions(method="GET", response_format="json"),
        )
        result = client.pull({"n_nationkey": 9})
        assert result.rows[0]["n_name"] == "GZ"
        # decoded body => stale content-encoding/length headers dropped
        assert "content-encoding" not in {
            k.lower() for k in result.headers
        }

    def test_deflate_raw_and_zlib_both_decode(self):
        import zlib as _zlib

        from flink_connector_http_spark.client import _decompress_response

        raw = b'{"ok": 1}'
        for blob in (_zlib.compress(raw),
                     _zlib.compress(raw)[2:-4]):  # raw-deflate variant
            headers, body = _decompress_response(
                [("Content-Encoding", "deflate"), ("X-Keep", "y")], blob)
            assert body == raw
            assert headers == [("X-Keep", "y")]

    def test_unknown_encoding_passes_through(self):
        from flink_connector_http_spark.client import _decompress_response

        headers, body = _decompress_response(
            [("Content-Encoding", "br")], b"\x00\x01")
        assert body == b"\x00\x01"
        assert ("Content-Encoding", "br") in headers

    def test_explicit_accept_encoding_not_overridden(self, stub_server):
        from tests.stub_server import json_response

        seen = {}

        def responder(req):
            seen.update({k.lower(): v for k, v in req.headers.items()})
            return json_response([{"n_nationkey": 1, "n_name": "X"}])

        stub_server.stub("/noenc", responder)
        from flink_connector_http_spark.client import HttpTransport
        from flink_connector_http_spark.request import HttpRequestSpec

        HttpTransport().send(HttpRequestSpec(
            method="GET", url=stub_server.url("/noenc"),
            headers={"Accept-Encoding": "identity"},
        ))
        assert seen.get("accept-encoding") == "identity"

    def test_corrupt_gzip_raises_transport_exception(self):
        import http.client

        import pytest

        from flink_connector_http_spark.client import _decompress_response

        # truncated gzip (EOFError) and garbage-after-magic (BadGzipFile
        # or zlib error) must both surface as HTTPException so the
        # retry/continue-on-error layers classify them as transport
        # failures instead of crashing the Spark task
        import gzip as _gzip

        valid = _gzip.compress(b'{"ok": 1}')
        for blob in (valid[: len(valid) // 2], b"\x1f\x8b\x08\x00garbage"):
            with pytest.raises(http.client.HTTPException):
                _decompress_response([("Content-Encoding", "gzip")], blob)

    def test_corrupt_deflate_raises_transport_exception(self):
        import http.client

        import pytest

        from flink_connector_http_spark.client import _decompress_response

        with pytest.raises(http.client.HTTPException):
            _decompress_response(
                [("Content-Encoding", "deflate")], b"\xff\xfe\x00bad")

    def test_corrupt_gzip_body_classified_not_crash(self, stub_server):
        """E2E: a lying server (Content-Encoding: gzip, garbage body) must
        yield a classified failure result, not an unhandled exception."""
        from flink_connector_http_spark.client import HttpPollingClient
        from flink_connector_http_spark.options import HttpLookupOptions
        from flink_connector_http_spark.types import HttpCompletionState

        def responder(req):
            return StubResponse(
                status=200, body=b"\xff\xfenotgzip",
                headers={"Content-Type": "application/json",
                         "Content-Encoding": "gzip"},
            )

        stub_server.stub("/badgz", responder)
        client = HttpPollingClient(
            url=stub_server.url("/badgz"),
            options=HttpLookupOptions(
                method="GET", response_format="json",
                continue_on_error=True,
            ),
        )
        result = client.pull({"n_nationkey": 9})
        assert result.completion_state is not HttpCompletionState.SUCCESS
        assert not result.rows
        # default policy (continue_on_error=False) raises the CLASSIFIED
        # error — not a bare EOFError/BadGzipFile escaping the retry layer
        import pytest as _pytest

        strict = HttpPollingClient(
            url=stub_server.url("/badgz"),
            options=HttpLookupOptions(method="GET", response_format="json"),
        )
        with _pytest.raises(RuntimeError, match="corrupt gzip"):
            strict.pull({"n_nationkey": 9})
