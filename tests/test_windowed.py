"""Event-time windowed aggregation with watermark: late data past the
watermark is dropped; finalized windows emit once (append mode)."""

from __future__ import annotations

import json


class TestWindowedWatermark:
    def test_late_events_dropped_finalized_windows_emit(self, spark, tmp_path):
        from tomixpanel_spark.streaming.windowed import windowed_event_counts

        in_dir = tmp_path / "win_ev"
        in_dir.mkdir()
        base = "2024-01-01T00:{m:02d}:00.000Z"

        def line(minute, etype="click"):
            return json.dumps({"ts": base.format(m=minute), "event_type": etype})

        # b1: events in windows [00:00,00:10) and [00:10,00:20), plus one
        # at 00:55 that will advance the watermark to 00:25
        (in_dir / "b1.ndjson").write_text(
            "\n".join([line(1), line(2), line(11), line(55)])
        )
        # b2: a fresh event — the batch in which the finalized 00:00/00:10
        # windows are emitted and evicted
        (in_dir / "b2.ndjson").write_text(line(56))
        # b3: a LATE event for the long-evicted 00:00 window (must be
        # dropped, never re-emitted) plus a fresh event
        (in_dir / "b3.ndjson").write_text("\n".join([line(3), line(57)]))
        # the file source orders batches by modification time — pin them
        import os
        import time as _time

        now = _time.time()
        for i, f in enumerate(["b1", "b2", "b3"]):
            os.utime(in_dir / f"{f}.ndjson", (now - 120 + i * 60,) * 2)

        stream = (
            spark.readStream.schema("ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = windowed_event_counts(
            stream, window_duration="10 minutes", watermark_delay="30 minutes"
        )
        collected = []
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        w0 = [r for r in collected if str(r["window_start"]) == "2024-01-01 00:00:00"]
        # the 00:00 window emitted EXACTLY ONCE, finalized with 2 events —
        # the late line(3) was dropped, not re-emitted
        assert [(r["event_type"], r["n"]) for r in w0] == [("click", 2)]
        w10 = [r for r in collected if str(r["window_start"]) == "2024-01-01 00:10:00"]
        assert [(r["event_type"], r["n"]) for r in w10] == [("click", 1)]

    def test_batch_mode_same_logical_result(self, spark):
        from pyspark.sql import functions as F

        from tomixpanel_spark.streaming.windowed import windowed_event_counts

        df = spark.createDataFrame(
            [("2024-01-01 00:01:00", "click"), ("2024-01-01 00:02:00", "click"),
             ("2024-01-01 00:11:00", "view")],
            "ts string, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        rows = {(str(r["window_start"]), r["event_type"]): r["n"]
                for r in windowed_event_counts(df).collect()}
        assert rows[("2024-01-01 00:00:00", "click")] == 2
        assert rows[("2024-01-01 00:10:00", "view")] == 1


class TestSentinelFoldedLanding:
    def test_windowed_landing_has_no_separate_sentinel_batch(self, spark, monkeypatch):
        """The watermark sentinel rides IN the final day file (round-10:
        availableNow's no-data finalization batch flushes the last
        windows), so the staged landing must be exactly SLICE_DAYS files
        — a separate sentinel file silently re-adds a ~0.5 s trigger."""
        import os

        from tomixpanel_spark.operators import streaming_parity as SP

        monkeypatch.delenv("TOMIX_CACHE_TABLES", raising=False)
        land = SP._staged_windowed_landing(spark, "/root/testdata/sf0.001")
        files = sorted(f for f in os.listdir(land) if f.endswith(".parquet"))
        assert files == [f"d{d}.parquet" for d in range(SP.SLICE_DAYS)]
        # and the sentinel row IS present, inside the last day file
        last = spark.read.parquet(os.path.join(land, files[-1]))
        n_sentinel = last.filter("event_type = '__sentinel__'").count()
        assert n_sentinel == 1


class TestSessionizeStrategiesAgree:
    """The two stateful sessionization strategies (JVM ``session_window``
    serving path vs ``applyInPandasWithState`` library path) must emit
    row-equal FINAL sessions. The fixture pins the boundary cases: an
    event EXACTLY gap after the last one extends the session
    (strictly-greater rule, the gap+1ms window trick), a gap+1 event
    rolls it, null event times are skipped, and state carries across
    micro-batch files."""

    GAP = 10_000  # ms

    def _landing(self, tmp_path):
        base = 1_600_000_000_000
        g = self.GAP
        b1 = [
            {"user_id": 1, "time_ms": base},
            {"user_id": 1, "time_ms": base + 1000},
            {"user_id": 2, "time_ms": base + 500},
            {"user_id": 3, "time_ms": None},  # both paths must skip
        ]
        b2 = [
            # EXACTLY gap after b1's last user-1 event: extends (boundary)
            {"user_id": 1, "time_ms": base + 1000 + g},
            # gap+1 later: rolls a new session
            {"user_id": 1, "time_ms": base + 1000 + g + g + 1},
            {"user_id": 3, "time_ms": base + 2000},
            # far-future sentinel flushes the JVM path's final sessions
            {"user_id": -1, "time_ms": base + 10 * g},
        ]
        in_dir = tmp_path / "land"
        in_dir.mkdir()
        import os
        import time as _time

        (in_dir / "b1.ndjson").write_text("\n".join(json.dumps(r) for r in b1))
        (in_dir / "b2.ndjson").write_text("\n".join(json.dumps(r) for r in b2))
        now = _time.time()
        os.utime(in_dir / "b1.ndjson", (now - 120,) * 2)
        os.utime(in_dir / "b2.ndjson", (now - 60,) * 2)
        return str(in_dir)

    # final sessions both strategies must produce (session_num by start)
    def _want(self):
        base = 1_600_000_000_000
        g = self.GAP
        return {
            (1, 1, 3, base, base + 1000 + g),
            (1, 2, 1, base + 1000 + 2 * g + 1, base + 1000 + 2 * g + 1),
            (2, 1, 1, base + 500, base + 500),
            (3, 1, 1, base + 2000, base + 2000),
        }

    def _stream(self, spark, land):
        return (
            spark.readStream.schema("user_id long, time_ms long")
            .option("maxFilesPerTrigger", 1)
            .json(land)
        )

    def test_jvm_serving_path(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from tomixpanel_spark.streaming.stateful import sessionize_session_window

        land = self._landing(tmp_path)
        out_dir = str(tmp_path / "out")
        q = (
            sessionize_session_window(self._stream(spark, land), gap_ms=self.GAP)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["session_num"], r["n_events"],
             r["session_start_ms"], r["session_end_ms"])
            for r in spark.read.parquet(out_dir)
            .filter("user_id != -1")
            .withColumn(
                "session_num",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy("session_start_ms")
                ).cast("long"),
            )
            .collect()
        }
        assert got == self._want()

    def test_library_path_agrees(self, spark, tmp_path):
        from pyspark.sql.streaming.state import GroupStateTimeout

        from tomixpanel_spark.streaming.stateful import sessionize_with_state

        land = self._landing(tmp_path)
        snaps = []
        q = (
            sessionize_with_state(
                self._stream(spark, land),
                gap_ms=self.GAP,
                timeout=GroupStateTimeout.NoTimeout,
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: snaps.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        final = {}
        for r in snaps:
            if r["user_id"] == -1:
                continue
            k = (r["user_id"], r["session_num"])
            cur = final.get(k)
            if cur is None or r["n_events"] > cur["n_events"]:
                final[k] = r
        got = {
            (u, s, r["n_events"], r["session_start_ms"], r["session_end_ms"])
            for (u, s), r in final.items()
        }
        assert got == self._want()

    def test_jvm_batch_mode_agrees(self, spark):
        """session_window is a plain grouping expression in batch mode —
        the same function must produce the same sessions on a batch
        DataFrame (no sentinel needed: batch has no watermark gate)."""
        base = 1_600_000_000_000
        g = self.GAP
        from tomixpanel_spark.streaming.stateful import sessionize_session_window

        df = spark.createDataFrame(
            [(1, base), (1, base + 1000), (1, base + 1000 + g),
             (1, base + 1000 + 2 * g + 1), (2, base + 500),
             (3, None), (3, base + 2000)],
            "user_id long, time_ms long",
        )
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        got = {
            (r["user_id"], r["session_num"], r["n_events"],
             r["session_start_ms"], r["session_end_ms"])
            for r in sessionize_session_window(df, gap_ms=self.GAP)
            .withColumn(
                "session_num",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy("session_start_ms")
                ).cast("long"),
            )
            .collect()
        }
        assert got == self._want()
