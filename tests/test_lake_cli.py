"""Lake writers (partitioned/bucketed layout), salted join, CLI entry."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestLake:
    def test_events_partitioned_by_date_prunes(self, spark, tmp_path):
        from tomixpanel_spark.plans.audit import formatted_plan
        from tomixpanel_spark.sinks.lake import write_events_partitioned

        events = spark.range(200).select(
            F.lit("ev").alias("event"),
            F.col("id").cast("string").alias("distinct_id"),
            (F.lit(1_600_000_000_000) + F.col("id") * 43_200_000).alias("time_ms"),
            F.md5(F.col("id").cast("string")).alias("insert_id"),
        )
        out = str(tmp_path / "lake")
        write_events_partitioned(events, out)
        back = spark.read.parquet(out)
        one_day = back.filter(F.col("event_date") == "2020-09-14")
        assert one_day.count() == 2  # 2 events/day at 12h spacing
        plan = formatted_plan(one_day)
        assert "PartitionFilters" in plan  # pruning, not scan-then-filter

    def test_salted_join_matches_plain_join(self, spark):
        from tomixpanel_spark.functions.skew import salted_join

        big = spark.range(10_000).select(
            (F.col("id") % 5).alias("k"), F.col("id").alias("v")
        )  # 5 hot keys
        small = spark.createDataFrame(
            [(i, f"dim_{i}") for i in range(5)], "k long, name string"
        )
        plain = big.join(small, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        salted = salted_join(big, small, "k", salts=8).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])


class TestCli:
    def _run(self, args):
        return subprocess.run(
            [sys.executable, "-m", "tomixpanel_spark", *args],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=300,
        )

    def test_no_config_prints_example(self):
        r = self._run([])
        assert r.returncode == 2
        assert "example config" in r.stderr
        assert "event_name_col" in r.stderr

    def test_bad_json_config(self, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text("{not json")
        r = self._run([str(p)])
        assert r.returncode == 2
        assert "could not read config" in r.stderr

    def test_dry_run_counts(self, tmp_path):
        from tests.fixtures import csv_text

        csv_path = tmp_path / "in.csv"
        csv_path.write_text(csv_text())
        cfg = tmp_path / "job.json"
        cfg.write_text(
            json.dumps(
                {
                    "source": {
                        "name": "csv",
                        "options": {
                            "path": str(csv_path),
                            "event_name_col": "action",
                            "distinct_id_col": "guid",
                            "time_col": "time",
                            "insert_id_col": "insert_id",
                            "create_profiles": True,
                        },
                    },
                    "destination": {"name": "mixpanel", "token": "t"},
                }
            )
        )
        r = self._run(["--dry-run", str(cfg)])
        assert r.returncode == 0, r.stderr[-2000:]
        out = json.loads(r.stdout.strip().splitlines()[-1])
        assert out == {"dry_run": True, "rows": {"events": 20, "profiles": 6}}


class TestSaveLocalCopy:
    def test_pipeline_saves_copies_and_receipts(self, spark, tmp_path):
        from tests.fixtures import csv_text
        from tests.test_sinks_sources import StubServer
        from tomixpanel_spark import pipeline

        csv_path = tmp_path / "in.csv"
        csv_path.write_text(csv_text())
        s = StubServer()
        try:
            summary = pipeline.run(
                spark,
                {
                    "source": {
                        "name": "csv",
                        "options": {
                            "path": str(csv_path),
                            "event_name_col": "action",
                            "distinct_id_col": "guid",
                            "time_col": "time",
                            "insert_id_col": "insert_id",
                            "create_profiles": True,
                        },
                    },
                    "destination": {
                        "name": "mixpanel",
                        "token": "t",
                        "options": {
                            "import_url": s.url,
                            "engage_url": s.url,
                            "save_local_copy": True,
                            "save_dir": str(tmp_path / "saved"),
                        },
                    },
                },
            )
            assert summary["events"]["imported"] == 20
            saved = spark.read.parquet(str(tmp_path / "saved" / "events"))
            assert saved.count() == 20  # K9 checkpoint of the canonical stream
            logs = spark.read.json(str(tmp_path / "saved" / "events_receipts"))
            assert logs.count() == summary["events"]["batches"]
        finally:
            s.stop()


class TestCsvCorruptGate:
    def test_bad_rows_quarantined_not_dropped(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from tomixpanel_spark.sources.csv import read_csv_all_strings

        p = tmp_path / "mixed.csv"
        p.write_text('a,b\n1,2\n"unclosed,3\n4,5\n')
        df = read_csv_all_strings(spark, str(p), with_corrupt=True).cache()
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert good.count() == 2
        assert bad.count() == 1  # V3: queryable quarantine, not a skipped file


class TestConfigDispatch:
    """Config-driven paths added in r7: the mixpanel people migration
    (connectors/mixpanelETL.js:115-182) and the reverse-ETL destination
    routing (index.js:85-91 -> load/sendOther.js:7-18) — both reachable
    from a plain job config, no library calls."""

    def _mp_source_opts(self, tmp_path, with_people=True):
        import json as _json

        from tests.fixtures import mp_engage_page, mp_export_lines

        export = tmp_path / "export.ndjson"
        export.write_text(mp_export_lines(30))
        opts = {"path": str(export), "staging_dir": str(tmp_path)}
        if with_people:
            pages = [mp_engage_page(0, 10, 10), mp_engage_page(1, 10, 3)]
            opts["doPeople"] = True
            # keyed off the cursor form (not a call counter): the paging
            # loop restarts whenever build() re-runs
            opts["http_post"] = lambda url, form, headers, _p=pages: _json.dumps(
                _p[int(form.get("page", 0))]
            )
        return opts

    def test_mixpanel_people_path_in_build_and_run(self, spark, tmp_path):
        from tests.test_sinks_sources import StubServer
        from tomixpanel_spark import pipeline

        s = StubServer()
        try:
            config = {
                "source": {
                    "name": "mixpanel",
                    "options": self._mp_source_opts(tmp_path),
                },
                "destination": {
                    "name": "mixpanel",
                    "token": "tok",
                    "options": {"import_url": s.url, "engage_url": s.url},
                },
            }
            plan = pipeline.build(spark, config)
            assert plan.profiles is not None  # S8 wired into the plan
            summary = pipeline.run(spark, config)
            assert summary["events"]["imported"] == 30
            assert summary["profiles"]["imported"] == 13  # both engage pages
            prof_req = next(
                c for c in s.requests if c["records"] and "$set" in c["records"][0]
            )
            rec = prof_req["records"][0]
            assert rec["$token"] == "tok" and rec["$ignore_time"] is True
            assert rec["$distinct_id"].startswith("mp_user_")
            assert rec["$set"]["plan"] == "pro"
        finally:
            s.stop()

    def test_reverse_amplitude_dispatch_from_config(self, spark, tmp_path):
        from tests.test_sinks_sources import StubServer
        from tomixpanel_spark import pipeline

        s = StubServer()
        try:
            summary = pipeline.run(
                spark,
                {
                    "source": {
                        "name": "mixpanel",
                        "options": self._mp_source_opts(tmp_path),
                    },
                    "destination": {
                        "name": "amplitude",
                        "api_key": "KEY",
                        "token": "tok",
                        "options": {
                            "httpapi_url": s.url,
                            "identify_url": s.url,
                            "pacing_s": 0.0,
                        },
                    },
                },
                concurrency=1,
            )
            assert summary["events"]["imported"] == 30
            assert summary["users"]["imported"] == 13
            ev_req = next(
                c for c in s.requests if c["records"] and "event_type" in c["records"][0]
            )
            assert ev_req["envelope"] == {"api_key": "KEY"}  # v2 envelope
            assert ev_req["n"] <= 2000  # sendOther.js:209 chunk size
            id_req = next(c for c in s.requests if c["envelope"] and c is not ev_req)
            assert id_req["envelope"].get("api_key") == "KEY"
            assert id_req["n"] <= 1000  # sendOther.js:237 chunk size
            assert id_req["records"][0]["user_id"].startswith("mp_user_")
        finally:
            s.stop()

    def test_reverse_woopra_dispatch_from_config(self, spark, tmp_path):
        from tests.test_sinks_sources import StubServer
        from tomixpanel_spark import pipeline

        s = StubServer()
        try:
            summary = pipeline.run(
                spark,
                {
                    "source": {
                        "name": "mixpanel",
                        "options": self._mp_source_opts(tmp_path),
                    },
                    "destination": {
                        "name": "woopra",
                        "project": "proj",
                        "username": "u",
                        "password": "p",
                        "options": {"url": s.url},
                    },
                },
                concurrency=1,
            )
            assert summary["events"]["imported"] == 30
            assert summary["users"] == {
                "skipped": "woopra users unsupported upstream"
            }  # sendOther.js:73-75
            req = s.requests[0]
            assert req["method"] == "PUT" and "project=proj" in req["path"]
            assert req["n"] <= 10000  # sendOther.js:97 chunk size
        finally:
            s.stop()

    def test_reverse_requires_mixpanel_source(self, spark, tmp_path):
        import pytest as _pytest

        from tests.fixtures import csv_text
        from tomixpanel_spark import pipeline

        csv_path = tmp_path / "in.csv"
        csv_path.write_text(csv_text())
        with _pytest.raises(ValueError, match="reverses the mixpanel source"):
            pipeline.run(
                spark,
                {
                    "source": {"name": "csv", "options": {"path": str(csv_path)}},
                    "destination": {"name": "amplitude", "api_key": "K"},
                },
            )

    def test_reverse_path_honors_save_local_copy(self, spark, tmp_path):
        """K9 applies to the reverse path: the outgoing stream checkpoints
        as parquet and receipts persist as the response log, exactly like
        the forward path (which also validates save_dir)."""
        from tests.test_sinks_sources import StubServer
        from tomixpanel_spark import pipeline

        s = StubServer()
        try:
            summary = pipeline.run(
                spark,
                {
                    "source": {
                        "name": "mixpanel",
                        "options": self._mp_source_opts(tmp_path, with_people=False),
                    },
                    "destination": {
                        "name": "amplitude",
                        "api_key": "KEY",
                        "options": {
                            "httpapi_url": s.url,
                            "pacing_s": 0.0,
                            "save_local_copy": True,
                            "save_dir": str(tmp_path / "saved"),
                        },
                    },
                },
                concurrency=1,
            )
            assert summary["events"]["imported"] == 30
            saved = spark.read.parquet(str(tmp_path / "saved" / "events"))
            assert saved.count() == 30
            logs = spark.read.json(str(tmp_path / "saved" / "events_receipts"))
            assert logs.count() == summary["events"]["batches"]
        finally:
            s.stop()

        import pytest as _pytest

        with _pytest.raises(ValueError, match="requires save_dir"):
            pipeline.run(
                spark,
                {
                    "source": {
                        "name": "mixpanel",
                        "options": self._mp_source_opts(tmp_path, with_people=False),
                    },
                    "destination": {
                        "name": "amplitude",
                        "api_key": "KEY",
                        "options": {"save_local_copy": True},
                    },
                },
            )
