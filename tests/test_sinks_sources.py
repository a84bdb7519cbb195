"""Sink batching/retry invariants against a local stub HTTP server, source
fetch wrappers with injected transports, and the incremental streaming path
(SURVEY.md §5 strategy: the destination API contract is tested against a
stub asserting batch size / compression / strict)."""

from __future__ import annotations

import gzip
import json
import threading
import time

import pytest

from tests.fixtures import csv_text, mp_engage_page, mp_export_lines


class StubServer:
    """Minimal local HTTP server recording every request."""

    def __init__(self, fail_first: int = 0, status_seq=None):
        from http.server import BaseHTTPRequestHandler, HTTPServer

        stub = self
        self.requests: list[dict] = []
        self.fail_first = fail_first
        self.status_seq = list(status_seq or [])
        self._lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def _handle(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if self.headers.get("Content-Encoding") == "gzip":
                    body = gzip.decompress(body)
                ctype = self.headers.get("Content-Type", "")
                envelope = None
                if "x-www-form-urlencoded" in ctype:  # amplitude /identify
                    import urllib.parse as up

                    form = dict(up.parse_qsl(body.decode()))
                    envelope = {k: v for k, v in form.items() if k != "identification"}
                    records = json.loads(form.get("identification", "[]"))
                elif "ndjson" in ctype:  # woopra bulk
                    records = [json.loads(line) for line in body.splitlines() if line]
                else:
                    parsed = json.loads(body)
                    if isinstance(parsed, dict):  # amplitude v2 envelope
                        records = parsed.get("events", [])
                        envelope = {k: v for k, v in parsed.items() if k != "events"}
                    else:
                        records = parsed
                with stub._lock:
                    stub.requests.append(
                        {
                            "path": self.path,
                            "method": self.command,
                            "auth": self.headers.get("Authorization"),
                            "gzip": self.headers.get("Content-Encoding") == "gzip",
                            "n": len(records),
                            "bytes": n,
                            "records": records,
                            "envelope": envelope,
                            "t": time.monotonic(),
                        }
                    )
                    if stub.status_seq:
                        status = stub.status_seq.pop(0)
                    elif stub.fail_first > 0:
                        stub.fail_first -= 1
                        status = 503
                    else:
                        status = 200
                self.send_response(status)
                payload = json.dumps(
                    {"num_records_imported": len(records)} if status == 200 else {"error": "stub"}
                ).encode()
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_POST(self):
                self._handle()

            def do_PUT(self):
                self._handle()

            def log_message(self, *a):
                pass

        self.httpd = HTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_port
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.port}/import"

    def stop(self):
        self.httpd.shutdown()


class TestBatching:
    def test_count_cap(self):
        from tomixpanel_spark.sinks.batching import pack_batches, serialize_record

        recs = ({"i": i} for i in range(5000))
        batches = list(pack_batches(map(serialize_record, recs), 2000, 10**9))
        assert [len(b) for b in batches] == [2000, 2000, 1000]

    def test_byte_cap_greedy(self):
        from tomixpanel_spark.sinks.batching import pack_batches, serialize_record

        recs = [{"i": i, "pad": "x" * 100} for i in range(100)]
        max_bytes = 1200
        batches = list(pack_batches(map(serialize_record, recs), 10**9, max_bytes))
        assert len(batches) > 1
        for b in batches:
            assert len(b"[" + b",".join(b) + b"]") <= max_bytes
        assert sum(len(b) for b in batches) == 100

    def test_oversize_record_ships_alone(self):
        from tomixpanel_spark.sinks.batching import pack_batches, serialize_record

        recs = [{"i": 0}, {"big": "x" * 5000}, {"i": 2}]
        batches = list(pack_batches(map(serialize_record, recs), 2000, 1000))
        assert [len(b) for b in batches] == [1, 1, 1]


@pytest.fixture
def stub():
    s = StubServer()
    yield s
    s.stop()


def _events_df(spark, n=4500):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("ev"), (F.col("id") % 3).cast("string")).alias("event"),
        F.col("id").cast("string").alias("distinct_id"),
        (F.lit(1_600_000_000_000) + F.col("id")).alias("time_ms"),
        F.md5(F.col("id").cast("string")).alias("insert_id"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("props"),
    )


class TestHttpSink:
    def test_mixpanel_import_sink_service_account_auth(self, spark, stub):
        """mixpanel_import_sink builds the Basic header + project_id +
        strict=1 from credentials (sendEventsToMixpanel.js:164-172)."""
        import base64

        from tomixpanel_spark.sinks.http import mixpanel_import_sink, summarize_receipts

        sink = mixpanel_import_sink("proj42", "sa-user", "sa-secret", url=stub.url)
        summary = summarize_receipts(sink.send(_events_df(spark, 50), concurrency=1))
        assert summary["imported"] == 50
        want = "Basic " + base64.b64encode(b"sa-user:sa-secret").decode()
        for r in stub.requests:
            assert r["auth"] == want
            assert "project_id=proj42" in r["path"]
            assert "strict=1" in r["path"]
        rec = stub.requests[0]["records"][0]
        assert set(rec) == {"event", "properties"}  # /import wire shape

    def test_batch_size_gzip_strict_and_counts(self, spark, stub):
        from tomixpanel_spark.sinks.http import (
            HttpSink,
            HttpSinkConfig,
            mp_event_record,
            summarize_receipts,
        )

        cfg = HttpSinkConfig(url=stub.url, gzip=True, strict=True)
        sink = HttpSink(cfg, mp_event_record)
        receipts = sink.send(_events_df(spark), concurrency=2)
        summary = summarize_receipts(receipts)
        assert summary["imported"] == 4500
        assert summary["failed"] == 0
        assert all(r["gzip"] for r in stub.requests)
        assert all(r["n"] <= 2000 for r in stub.requests)
        assert all("strict=1" in r["path"] for r in stub.requests)
        rec = stub.requests[0]["records"][0]
        assert set(rec) == {"event", "properties"}
        assert "$insert_id" in rec["properties"]

    def test_target_rows_per_task_fills_batches(self, spark, stub):
        """A tiny record set spread over many partitions must NOT fan out
        as one under-filled POST per partition: target_rows_per_task
        counts + coalesces so requests pack to the batch caps."""
        from tomixpanel_spark.sinks.http import (
            HttpSink,
            HttpSinkConfig,
            mp_event_record,
            summarize_receipts,
        )

        df = _events_df(spark, 500).repartition(32)
        cfg = HttpSinkConfig(url=stub.url, gzip=True)
        baseline = HttpSink(cfg, mp_event_record).send(df)
        assert summarize_receipts(baseline)["imported"] == 500
        sprayed = len(stub.requests)
        assert sprayed >= 16  # under-filled fan-out without the knob

        stub.requests.clear()
        packed = HttpSink(cfg, mp_event_record).send(df, target_rows_per_task=250)
        assert summarize_receipts(packed)["imported"] == 500
        assert len(stub.requests) == 2
        sizes = sorted(r["n"] for r in stub.requests)
        assert sum(sizes) == 500 and min(sizes) >= 200  # packed, near-even

    def test_retry_then_success(self, spark):
        from tomixpanel_spark.sinks.http import (
            HttpSink,
            HttpSinkConfig,
            mp_event_record,
            summarize_receipts,
        )

        s = StubServer(fail_first=2)
        try:
            cfg = HttpSinkConfig(url=s.url, backoff_s=0.01)
            receipts = HttpSink(cfg, mp_event_record).send(
                _events_df(spark, 100), concurrency=1
            )
            summary = summarize_receipts(receipts)
            assert summary["imported"] == 100
            assert len(s.requests) == 3  # 2 failures + 1 success
        finally:
            s.stop()

    def test_dead_letter_on_hard_failure(self, spark):
        from tomixpanel_spark.sinks.http import (
            HttpSink,
            HttpSinkConfig,
            dead_letters,
            mp_event_record,
            summarize_receipts,
        )

        s = StubServer(status_seq=[400])
        try:
            cfg = HttpSinkConfig(url=s.url, backoff_s=0.01)
            receipts = HttpSink(cfg, mp_event_record).send(
                _events_df(spark, 50), concurrency=1
            ).cache()
            summary = summarize_receipts(receipts)
            assert summary["failed"] == 50
            dl = dead_letters(receipts).collect()
            assert len(dl) == 1 and dl[0]["status"] == 400
            replay = json.loads(dl[0]["payload"])
            assert len(replay) == 50  # payload preserved for replay
        finally:
            s.stop()


    def test_transport_type_error_is_a_failed_receipt(self, spark):
        """A transport that raises TypeError is a network-level failure
        like any other: retried, then a failed receipt, never a failed
        Spark task (which would re-send the whole partition)."""
        from tomixpanel_spark.sinks.http import HttpSink, HttpSinkConfig, mp_event_record

        def transport(url, body, headers, method):
            raise TypeError("transport bug")

        cfg = HttpSinkConfig(url="http://sink.invalid/import", backoff_s=0.01)
        rows = HttpSink(cfg, mp_event_record, transport).send(
            _events_df(spark, 10), concurrency=1
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["status"], r["attempts"], r["ok"]) == (-1, 4, False)
        assert "TypeError" in r["error"]

    def test_min_interval_is_a_global_rate(self, spark, stub):
        """min_interval_s spaces batches across ALL partitions: two
        partitions each pace at 2 x 0.4 s, so three batches per partition
        span at least 2 x 0.8 s."""
        from tomixpanel_spark.sinks.http import (
            HttpSink,
            HttpSinkConfig,
            mp_event_record,
            summarize_receipts,
        )

        cfg = HttpSinkConfig(url=stub.url, max_records=10, min_interval_s=0.4)
        receipts = HttpSink(cfg, mp_event_record).send(
            _events_df(spark, 60), concurrency=2
        )
        assert summarize_receipts(receipts)["imported"] == 60
        arrivals = sorted(r["t"] for r in stub.requests)
        assert len(arrivals) >= 6
        assert arrivals[-1] - arrivals[0] >= 1.6


    def test_plain_callable_has_no_send(self, spark, stub):
        """A record callable without a Column form still constructs a
        sink, but ``send`` refuses it: the send path is the encoded
        column only."""
        from tomixpanel_spark.sinks.http import HttpSink, HttpSinkConfig

        sink = HttpSink(HttpSinkConfig(url=stub.url), dict)
        with pytest.raises(TypeError, match="to_json"):
            sink.send(_events_df(spark, 5), concurrency=1)
        assert stub.requests == []


class TestSources:
    def test_amplitude_hour_slices_and_fetch(self, spark, tmp_path):
        import io
        import zipfile as zf

        from tomixpanel_spark.sources.amplitude import AmplitudeSource
        from tomixpanel_spark.sources.staging import valid_records

        ndjson = b'{"event_type":"login","amplitude_id":1,"event_time":"2021-06-01 12:00:00.000","event_properties":{},"user_properties":{},"groups":{}}\n'
        calls = []

        def fake_http(url, headers):
            calls.append(url)
            assert "Authorization" in headers
            buf = io.BytesIO()
            with zf.ZipFile(buf, "w") as z:
                z.writestr("chunk_0.json.gz", gzip.compress(ndjson))
            return buf.getvalue()

        src = AmplitudeSource(
            "k", "s", "20210601T00", "20210601T03", str(tmp_path / "stage"), http=fake_http
        )
        assert len(src.hour_slices()) == 4
        paths = src.fetch()
        assert len(calls) == 4 and "start=20210601T00" in calls[0]
        df = valid_records(src.read(spark, paths))
        assert df.count() == 4
        assert df.select("event_type").first()[0] == "login"

    def test_mixpanel_export_pushdown_params(self, tmp_path):
        from tomixpanel_spark.sources.mixpanel import export_query_string

        qs = export_query_string(
            "2021-01-01", "2021-01-31", where='properties["$os"]=="iOS"', events=["a b"]
        )
        assert "from_date=2021-01-01" in qs
        assert "where=" in qs and "%22%24os%22" in qs
        assert "event=" in qs

    def test_mixpanel_engage_pagination(self, spark, tmp_path):
        from tomixpanel_spark.sources.mixpanel import MixpanelEngageSource
        from tomixpanel_spark.transforms.mixpanel import mp_engage_profiles

        pages = [mp_engage_page(0, 10, 10), mp_engage_page(1, 10, 10), mp_engage_page(2, 10, 3)]
        calls = []

        def fake_post(url, form, headers):
            i = len(calls)
            calls.append(dict(form))
            return json.dumps(pages[i])

        src = MixpanelEngageSource("sec", str(tmp_path / "engage"), http_post=fake_post)
        paths = src.fetch_pages()
        assert len(paths) == 3
        assert calls[0] == {} and calls[1] == {"session_id": "sess-1", "page": "1"}
        prof = mp_engage_profiles(src.read(spark, paths), token="t")
        assert prof.count() == 23

    def test_json_sniff_ndjson_vs_array(self, spark, tmp_path):
        from tomixpanel_spark.schemas import MP_EXPORT_SCHEMA
        from tomixpanel_spark.sources.staging import (
            corrupt_records,
            read_json_auto,
            valid_records,
        )

        nd = tmp_path / "a.ndjson"
        nd.write_text(mp_export_lines(5) + "NOT JSON\n")
        df = read_json_auto(spark, str(nd), MP_EXPORT_SCHEMA)
        assert valid_records(df).count() == 5
        assert corrupt_records(df).count() == 1  # V2 salvage, queryable

        arr = tmp_path / "b.json"
        rows = [json.loads(line) for line in mp_export_lines(4).splitlines()]
        arr.write_text(json.dumps(rows))
        df2 = read_json_auto(spark, str(arr), MP_EXPORT_SCHEMA)
        assert valid_records(df2).count() == 4

    def test_file_skip_gate_drops_whole_file(self, spark, tmp_path):
        """V1 whole-file fidelity (gaToMixpanel.js:51-57): one bad line
        discards its FILE under the file-skip gate while row-level salvage
        keeps the file's good lines."""
        from tomixpanel_spark.schemas import MP_EXPORT_SCHEMA
        from tomixpanel_spark.sources.staging import (
            read_json_auto,
            valid_records,
            valid_records_file_skip,
        )

        good = tmp_path / "good.ndjson"
        good.write_text(mp_export_lines(5))
        bad = tmp_path / "bad.ndjson"
        bad.write_text(mp_export_lines(3) + "NOT JSON\n")
        df = read_json_auto(spark, [str(good), str(bad)], MP_EXPORT_SCHEMA)
        assert valid_records(df).count() == 8  # row salvage keeps 3 of 4
        kept = valid_records_file_skip(df)
        assert kept.count() == 5  # whole bad file skipped
        assert "_src_file" not in kept.columns and "_corrupt_record" not in kept.columns
        # threshold generalization: tolerate 1 bad line per file
        assert valid_records_file_skip(df, max_corrupt_per_file=1).count() == 8

    def test_zip_expand_and_gzip_sniff(self, tmp_path):
        import io
        import zipfile as zf

        from tomixpanel_spark.sources.staging import expand_zip

        z = tmp_path / "data.zip"
        with zf.ZipFile(z, "w") as f:
            f.writestr("x/inner.json.gz", gzip.compress(b'{"a":1}\n'))
        paths = expand_zip(str(z), str(tmp_path / "out"))
        # the member stays gzipped (Spark reads .gz natively)
        data = open(paths[0], "rb").read()
        assert len(paths) == 1 and data[:2] == b"\x1f\x8b"
        assert gzip.decompress(data) == b'{"a":1}\n'


class TestIncremental:
    def test_streaming_fused_path(self, spark, tmp_path, stub):
        from tomixpanel_spark.schemas import MP_EXPORT_SCHEMA
        from tomixpanel_spark.sinks.http import HttpSink, HttpSinkConfig, mp_event_record
        from tomixpanel_spark.streaming.incremental import run_incremental
        from tomixpanel_spark.transforms.mixpanel import mp_export_events

        in_dir = tmp_path / "incoming"
        in_dir.mkdir()
        for i in range(3):
            (in_dir / f"f{i}.ndjson").write_text(mp_export_lines(10))

        sink_obj = HttpSink(HttpSinkConfig(url=stub.url, gzip=True), mp_event_record)
        seen = []

        def sink(df, batch_id):
            from tomixpanel_spark.sinks.http import summarize_receipts

            seen.append(summarize_receipts(sink_obj.send(df)))

        q = run_incremental(
            spark,
            str(in_dir),
            MP_EXPORT_SCHEMA,
            mp_export_events,
            sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        assert sum(s["imported"] for s in seen) == 30
        assert len(seen) >= 2  # micro-batched, not one big batch


class TestPipeline:
    def test_csv_end_to_end_via_config(self, spark, tmp_path, stub):
        from tomixpanel_spark import pipeline

        csv_path = tmp_path / "in.csv"
        csv_path.write_text(csv_text())
        config = {
            "source": {
                "name": "csv",
                "options": {
                    "path": str(csv_path),
                    "event_name_col": "action",
                    "distinct_id_col": "guid",
                    "time_col": "time",
                    "insert_id_col": "insert_id",
                    "ignore_cols": ["favoriteColor"],
                    "create_profiles": True,
                },
            },
            "destination": {
                "name": "mixpanel",
                "token": "tok",
                "options": {"import_url": stub.url, "engage_url": stub.url},
            },
        }
        summary = pipeline.run(spark, config)
        assert summary["events"]["imported"] == 20
        assert summary["profiles"]["imported"] == 6
        payload_events = [
            r for req in stub.requests for r in req["records"] if "event" in r
        ]
        assert all("$source" in e["properties"] for e in payload_events)

    def test_amplitude_end_to_end_via_config(self, spark, tmp_path, stub):
        import io
        import zipfile as zf

        from tests.fixtures import amp_event_rows
        from tomixpanel_spark import pipeline

        lines = "\n".join(json.dumps(r) for r in amp_event_rows()) + "\n"

        def fake_http(url, headers):
            buf = io.BytesIO()
            with zf.ZipFile(buf, "w") as z:
                z.writestr("c.json.gz", gzip.compress(lines.encode()))
            return buf.getvalue()

        config = {
            "source": {
                "name": "amplitude",
                "options": {
                    "api_key": "k",
                    "api_secret": "s",
                    "start": "20210601T00",
                    "end": "20210601T00",
                    "staging_dir": str(tmp_path / "amp"),
                    "http": fake_http,
                    "run_time_ms": 42,
                },
            },
            "destination": {
                "name": "mixpanel",
                "token": "tok",
                "options": {"import_url": stub.url, "engage_url": stub.url},
            },
        }
        summary = pipeline.run(spark, config)
        assert summary["events"]["imported"] == 40
        assert summary["profiles"]["imported"] > 0
        assert summary["merges"]["imported"] > 0


def _amp_config(tmp_path, stub, **dopts) -> dict:
    from tests.fixtures import amp_event_rows

    amp = tmp_path / "amp"
    amp.mkdir()
    (amp / "part-0.json").write_text(
        "\n".join(json.dumps(r) for r in amp_event_rows(40)) + "\n"
    )
    return {
        "source": {"name": "amplitude", "options": {"path": str(amp), "run_time_ms": 7}},
        "destination": {
            "name": "mixpanel",
            "token": "tok",
            "options": {"import_url": stub.url, "engage_url": stub.url, **dopts},
        },
    }


class TestConcurrentSends:
    """pipeline.run sends its destinations at once, one thread each."""

    def test_min_interval_is_a_global_rate_across_streams(self, spark, tmp_path, stub):
        """Three pacing streams at once each pace at 3 x min_interval_s, so
        N batches still span at least (N - 3) x min_interval_s."""
        from tomixpanel_spark import pipeline

        config = _amp_config(
            tmp_path, stub, min_interval_s=0.1, recordsPerBatch=8, profilesPerBatch=4
        )
        summary = pipeline.run(spark, config, concurrency=1)
        assert list(summary) == ["events", "profiles", "merges"]
        assert summary["events"]["imported"] == 40
        arrivals = sorted(r["t"] for r in stub.requests)
        assert len(arrivals) == sum(s["batches"] for s in summary.values()) >= 9
        assert arrivals[-1] - arrivals[0] >= (len(arrivals) - 3) * 0.1

    def test_send_jobs_keep_the_callers_job_group(self, spark, tmp_path, stub):
        from tomixpanel_spark import pipeline

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup())
        sc.setJobGroup("load-path-test", "pipeline.run under a caller's job group")
        try:
            summary = pipeline.run(spark, _amp_config(tmp_path, stub), concurrency=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert summary["merges"]["imported"] > 0
        assert set(tracker.getJobIdsForGroup()) - ungrouped == set()
        assert len(tracker.getJobIdsForGroup("load-path-test")) >= len(summary)

    def test_error_in_one_send_reraises(self, spark, tmp_path, stub):
        from tomixpanel_spark import pipeline

        blocker = tmp_path / "not-a-dir"
        blocker.write_text("x")
        config = _amp_config(
            tmp_path, stub, save_local_copy=True, save_dir=str(blocker / "copy")
        )
        with pytest.raises(Exception) as err:
            pipeline.run(spark, config, concurrency=1)
        assert "not-a-dir" in str(err.value)
