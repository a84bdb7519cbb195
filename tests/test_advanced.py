"""Reverse-ETL sinks, stateful streaming sessionization, learned-IVF ANN,
and multimodal decoder injection."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from tests.fixtures import mp_export_lines
from tests.test_sinks_sources import StubServer


class TestReverseEtl:
    def _mp_df(self, spark, tmp_path):
        from tomixpanel_spark.schemas import MP_EXPORT_SCHEMA
        from tomixpanel_spark.sources.staging import read_json_auto, valid_records

        p = tmp_path / "export.ndjson"
        p.write_text(mp_export_lines(30))
        return valid_records(read_json_auto(spark, str(p), MP_EXPORT_SCHEMA))

    def test_amplitude_reverse_send(self, spark, tmp_path):
        from tomixpanel_spark.transforms.mixpanel import (
            mp_to_amplitude_events,
            mp_to_amplitude_users,
        )

        raw = self._mp_df(spark, tmp_path)
        events = mp_to_amplitude_events(raw)
        users = mp_to_amplitude_users(
            raw.select(F.col("properties")["distinct_id"].alias("distinct_id"))
            .distinct()
            .withColumn("set", F.create_map(F.lit("plan"), F.lit("pro")))
        )
        from tomixpanel_spark.sinks.reverse import amplitude_events_sink, amplitude_users_sink
        from tomixpanel_spark.sinks.http import summarize_receipts

        s = StubServer()
        try:
            ev_sink = amplitude_events_sink("KEY", url=s.url)
            us_sink = amplitude_users_sink("KEY", url=s.url)
            out = {
                "events": summarize_receipts(ev_sink.send(events, 1)),
                "users": summarize_receipts(us_sink.send(users, 1)),
            }
            assert out["events"]["imported"] == 30
            assert out["users"]["imported"] == 4
            ev_call = next(c for c in s.requests if c["records"][0].get("event_type"))
            assert ev_call["envelope"] == {"api_key": "KEY"}  # v2 envelope
            rec = ev_call["records"][0]
            assert rec["time"] % 1000 == 0  # s -> ms
            assert "distinct_id" not in rec["event_properties"]
            id_call = next(c for c in s.requests if c["envelope"] and "identification" not in c["envelope"] and c is not ev_call)
            assert id_call["envelope"].get("api_key") == "KEY"  # form-encoded
        finally:
            s.stop()

    def test_woopra_shape(self, spark, tmp_path):
        from tomixpanel_spark.sinks.http import summarize_receipts
        from tomixpanel_spark.sinks.reverse import woopra_sink
        from tomixpanel_spark.transforms.mixpanel import mp_to_woopra_events

        raw = self._mp_df(spark, tmp_path)
        s = StubServer()
        try:
            sink = woopra_sink("proj", s.url, username="u", password="p")
            summary = summarize_receipts(sink.send(mp_to_woopra_events(raw, "proj"), 1))
            assert summary["imported"] == 30
            req = s.requests[0]
            assert req["method"] == "PUT" and "project=proj" in req["path"]
            rec = req["records"][0]
            assert rec["visitor"]["id"].startswith("mp_user_")
            assert rec["actions"][0]["name"] in ("app open", "song play")
            assert rec["actions"][0]["timestamp"] % 1000 == 0
        finally:
            s.stop()


def _await_rows(q, out, ready, limit_s=110, grace_s=1.0):
    """Wait until `ready(out)` (or query death), then stop the query.

    applyInPandasWithState with ProcessingTimeTimeout keeps reporting
    isDataAvailable=true for its pending state timers, so an
    availableNow query never self-terminates and a bare
    awaitTermination(120) burns the full timeout (both stateful tests
    sat at exactly 120 s). The rows these tests assert on are produced
    by the DATA batches, so: poll for them, then a short grace window
    so any unexpected extra row still lands before the asserts, then
    stop. Worst case (bug: rows never appear) still bounded by limit_s.
    """
    import time as _time

    deadline = _time.time() + limit_s
    while _time.time() < deadline and q.isActive and not ready(out):
        _time.sleep(0.2)
    _time.sleep(grace_s)
    q.stop()
    q.awaitTermination(30)


class TestStatefulSessionize:
    def test_batch_semantics_match_relational_sessionize(self, spark, tmp_path):
        from tomixpanel_spark.streaming.stateful import sessionize_with_state

        rows = []
        for u in range(3):
            t = 1_600_000_000_000
            for s in range(2):  # two sessions separated by 2h
                for i in range(4):
                    rows.append({"user_id": u, "time_ms": t + i * 60_000})
                t += 2 * 3600 * 1000
        in_dir = tmp_path / "one"
        in_dir.mkdir()
        (in_dir / "all.ndjson").write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema("user_id long, time_ms long").json(str(in_dir))
        out = []
        q = (
            sessionize_with_state(stream)
            .writeStream.foreachBatch(lambda df, bid: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .trigger(availableNow=True)
            .start()
        )
        _await_rows(
            q,
            out,
            lambda o: sum(r["closed"] for r in o) >= 3
            and sum(not r["closed"] for r in o) >= 3,
        )
        closed = [r for r in out if r["closed"]]
        open_ = [r for r in out if not r["closed"]]
        assert len(closed) == 3  # first session of each user closed by gap
        assert len(open_) == 3  # second session still open per user
        for r in closed:
            assert r["n_events"] == 4
            assert r["session_end_ms"] - r["session_start_ms"] == 3 * 60_000
        for r in open_:
            assert r["session_num"] == 2

    def test_streaming_microbatches_carry_state(self, spark, tmp_path):
        """Two micro-batches: events for the same user land in separate
        files; state must bridge them (same session continues)."""
        from tomixpanel_spark.streaming.stateful import sessionize_with_state

        in_dir = tmp_path / "ev"
        in_dir.mkdir()
        base = 1_600_000_000_000
        (in_dir / "a.ndjson").write_text(
            "\n".join(json.dumps({"user_id": 1, "time_ms": base + i * 1000}) for i in range(3))
        )
        (in_dir / "b.ndjson").write_text(
            "\n".join(json.dumps({"user_id": 1, "time_ms": base + 60_000 + i * 1000}) for i in range(3))
        )
        stream = (
            spark.readStream.schema("user_id long, time_ms long")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = sessionize_with_state(stream)
        collected = []
        q = (
            out.writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_rows(
            q,
            collected,
            lambda o: any(r["n_events"] == 6 for r in o),
        )
        # both batches emit a live snapshot of session 1 (never rolled over)
        assert collected, "no stateful output"
        assert all(r["session_num"] == 1 for r in collected)
        assert max(r["n_events"] for r in collected) == 6  # state bridged files


class TestAnnIvf:
    def test_ivf_quality_contract(self, spark):
        """The hard quality signal for the library IVF path (retired
        from the registry in r8 — ann_ivf_q carries the full oracle;
        float centroid training isn't SQL-expressible): (1) a
        CALIBRATED recall floor at the default nprobe=2 (measured 0.66 on
        this corpus; 0.6 leaves noise margin while still failing any
        broken cell assignment), (2) recall is monotone in nprobe, and
        (3) probing EVERY cell reproduces the brute-force top-k EXACTLY —
        same BLAS sims, same tie-break, so full-probe IVF == cosine_topk
        set-for-set, which pins the scoring path against the oracle-
        checked brute force."""
        from tomixpanel_spark.operators.base import table
        from tomixpanel_spark.operators.similarity import (
            ann_ivf,
            ann_ivf_topk,
            cosine_topk,
        )

        sf = "/root/testdata/sf0.001"
        brute = {
            (r["q_id"], r["neighbor_id"]) for r in cosine_topk(spark, sf).collect()
        }
        ivf = {(r["q_id"], r["neighbor_id"]) for r in ann_ivf(spark, sf).collect()}
        recall2 = len(brute & ivf) / len(brute)
        assert recall2 >= 0.6, f"nprobe=2 recall {recall2}"
        ivf2 = {(r["q_id"], r["neighbor_id"]) for r in ann_ivf(spark, sf).collect()}
        assert ivf == ivf2  # deterministic

        emb = table(spark, sf, "embeddings")
        ivf4 = {
            (r["q_id"], r["neighbor_id"])
            for r in ann_ivf_topk(emb, nprobe=4).collect()
        }
        recall4 = len(brute & ivf4) / len(brute)
        assert recall4 >= recall2, f"recall not monotone: {recall4} < {recall2}"

        full = {
            (r["q_id"], r["neighbor_id"])
            for r in ann_ivf_topk(emb, nprobe=16).collect()
        }
        assert full == brute  # full probe == exact brute force


class TestMultimodalDecode:
    def test_decoder_injection_through_mapinpandas(self, spark):
        """Codec-requiring formats still need an injected decoder, and the
        mapInPandas plumbing is real: inject a deterministic fake decoder
        and check it runs inside the Arrow batches."""
        from tomixpanel_spark.operators.multimodal import decode_payload, extract_metadata

        with pytest.raises(NotImplementedError):
            decode_payload(b"\x00\x00\x00\x18ftypmp42", "video/mp4")
        with pytest.raises(ValueError):
            decode_payload(b"\xff\xd8\xff jpegbytes", "image/jpeg")  # no SOF marker
        with pytest.raises(ValueError):
            decode_payload(b"\x89PNG....", "image/png")  # truncated signature

        df = spark.createDataFrame(
            [(1, "image/png", bytearray(b"\x89PNG rest-of-bytes")),
             (2, "audio/wav", bytearray(b"RIFF wav-bytes"))],
            "item_id long, media_type string, payload binary",
        )
        meta = extract_metadata(df).collect()
        by_id = {r["item_id"]: r for r in meta}
        assert by_id[1]["sniffed"] == "image/png"
        assert by_id[2]["sniffed"] == "audio/wav"
        assert by_id[1]["n_bytes"] == len(b"\x89PNG rest-of-bytes")
        import hashlib

        assert by_id[2]["sha256"] == hashlib.sha256(b"RIFF wav-bytes").hexdigest()


class TestMultimodalTransform:
    def test_decode_feature_resize_framesample_plumbing(self, spark):
        from tomixpanel_spark.operators.multimodal import (
            fake_image_decoder,
            transform_media,
        )

        df = spark.createDataFrame(
            [
                (1, "image/png", bytearray(b"\x89PNG imagebytes")),
                (2, "video/mp4", bytearray(b"\x00\x00ftyp videobytes")),
                (3, "image/png", None),  # null payload skipped, not crashed
            ],
            "item_id long, media_type string, payload binary",
        )
        out = transform_media(
            df, decoder=fake_image_decoder, resize_to=(224, 224), frame_sample_every=2
        ).collect()
        by_id = {r["item_id"]: r for r in out}
        assert set(by_id) == {1, 2}
        assert (by_id[1]["width"], by_id[1]["height"]) == (224, 224)
        assert len(by_id[1]["features"]) == 8
        assert by_id[1]["n_frames"] == 1  # images keep one frame
        assert by_id[2]["n_frames"] >= 1  # video frames sampled /2
        # deterministic across runs
        out2 = transform_media(
            df, decoder=fake_image_decoder, resize_to=(224, 224), frame_sample_every=2
        ).collect()
        assert sorted(map(str, out)) == sorted(map(str, out2))

    def test_default_decoder_parses_real_png_and_wav_headers(self, spark):
        """PNG/WAV decode is REAL (stdlib struct over IHDR / RIFF chunks):
        transform_media with the DEFAULT decoder, no injection."""
        import struct

        from tomixpanel_spark.operators.multimodal import transform_media

        png = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", 640, 480)
            + bytes([8, 6, 0, 0, 0])
            + b"\x00\x00\x00\x00"  # CRC not validated by the header parser
        )
        wav = (
            b"RIFF"
            + struct.pack("<I", 36 + 16)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
            + b"data"
            + struct.pack("<I", 16)
            + b"\x00" * 16
        )
        df = spark.createDataFrame(
            [(1, "image/png", bytearray(png)), (2, "audio/wav", bytearray(wav))],
            "item_id long, media_type string, payload binary",
        )
        by_id = {r["item_id"]: r for r in transform_media(df).collect()}
        assert (by_id[1]["width"], by_id[1]["height"]) == (640, 480)
        assert by_id[1]["n_frames"] == 1
        assert by_id[1]["features"] == [640.0, 480.0, 8.0]
        assert by_id[2]["width"] is None and by_id[2]["height"] is None
        assert by_id[2]["n_frames"] == 4  # 16 data bytes / block_align 4
        assert by_id[2]["features"] == [44100.0, 2.0, 16.0]

    def test_default_decoder_parses_real_jpeg_and_mp3_headers(self, spark):
        """JPEG SOF-marker walk and MP3 frame-header scan are REAL stdlib
        parsing: transform_media with the DEFAULT decoder, no injection."""
        import struct

        from tomixpanel_spark.operators.multimodal import transform_media

        jpeg = (
            b"\xff\xd8"  # SOI
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
            + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65  # DQT
            + b"\xff\xc4" + struct.pack(">H", 12) + b"\x00" * 10  # DHT (not a SOF!)
            + b"\xff\xc0" + struct.pack(">H", 17)  # SOF0: baseline
            + bytes([8]) + struct.pack(">HH", 480, 640) + bytes([3])
            + b"\x00" * 9
            + b"\xff\xda" + struct.pack(">H", 8) + b"\x00" * 6  # SOS
        )
        # ID3v2 tag (syncsafe size 0x80 -> 128 pad bytes) then an MPEG1
        # Layer III frame header: 44.1 kHz, joint-stereo.
        mp3 = (
            b"ID3\x03\x00\x00" + bytes([0, 0, 0x01, 0x00]) + b"\x00" * 128
            + bytes([0xFF, 0xFB, 0x90, 0x40]) + b"\x00" * 32
        )
        df = spark.createDataFrame(
            [(1, "image/jpeg", bytearray(jpeg)), (2, "audio/mp3", bytearray(mp3))],
            "item_id long, media_type string, payload binary",
        )
        by_id = {r["item_id"]: r for r in transform_media(df).collect()}
        assert (by_id[1]["width"], by_id[1]["height"]) == (640, 480)
        assert by_id[1]["features"] == [640.0, 480.0, 8.0]
        assert by_id[2]["width"] is None
        assert by_id[2]["features"][0] == 44100.0
        assert by_id[2]["features"][1] == 2.0

    def test_default_decoder_still_raises_for_codec_formats(self, spark):
        import pytest as _pytest

        from tomixpanel_spark.operators.multimodal import transform_media

        df = spark.createDataFrame(
            [(1, "video/mp4", bytearray(b"\x00\x00\x00\x18ftypmp42"))],
            "item_id long, media_type string, payload binary",
        )
        with _pytest.raises(Exception) as ei:
            transform_media(df).collect()
        assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


class TestAsofJoin:
    def test_semantics_ties_and_no_match(self, spark):
        """Inclusive at-or-before: a right row AT the left time matches;
        earlier rights are superseded; keys with no prior right get nulls."""
        from tomixpanel_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (3, 50, "d")],
            "k long, t long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 10, 100), (1, 15, 150), (2, 6, 60)],
            "k long, rt long, v long",
        )
        out = {
            (r["k"], r["t"]): r["v"]
            for r in asof_join(left, right, on="k", left_time="t", right_time="rt").collect()
        }
        assert out[(1, 10)] == 100  # tie at t=10 is inclusive
        assert out[(1, 20)] == 150  # latest at-or-before, not first
        assert out[(2, 5)] is None  # right row is AFTER the left time
        assert out[(3, 50)] is None  # key never seen on the right

    def test_column_collision_rejected(self, spark):
        from tomixpanel_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 1, 1)], "k long, t long, v long")
        right = spark.createDataFrame([(1, 1, 2)], "k long, rt long, v long")
        with pytest.raises(ValueError):
            asof_join(left, right, on="k", left_time="t", right_time="rt")

    def test_strategy_keyword_rejected(self, spark):
        """The union+window carry is the only shape: there is no
        ``strategy`` parameter to pick another one."""
        from tomixpanel_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 1)], "k long, t long")
        right = spark.createDataFrame([(1, 1, 2)], "k long, rt long, v long")
        with pytest.raises(TypeError):
            asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                strategy="window",
            )

    def test_hand_computed_rows_both_directions(self, spark):
        """Every row of both directions against hand-computed matches on
        a fixture with missing matches, an exact-time tie (the max
        tiebreak wins in both directions), a left-only key and a
        right-only key (which emits nothing)."""
        from tomixpanel_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [
                (1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"),
                (2, 7, "l3"),
                (3, 9, "l4"),   # key with no right rows at all
                (1, 15, "l5"),
            ],
            "k long, t long, tag string",
        )
        right = spark.createDataFrame(
            [
                (1, 10, 100, 7.5), (1, 10, 101, 8.5),  # exact-time tie
                (1, 12, 102, 9.5),
                (2, 8, 103, 1.0),   # after left's t=7 (backward miss)
                (4, 1, 104, 2.0),   # right-only key
            ],
            "k long, rt long, rid long, val double",
        )
        want = {
            "backward": {
                "l0": (1, 5, None, None),
                "l1": (1, 10, 101, 8.5),  # inclusive tie, max rid wins
                "l5": (1, 15, 102, 9.5),
                "l2": (1, 20, 102, 9.5),
                "l3": (2, 7, None, None),
                "l4": (3, 9, None, None),  # left-only key
            },
            "forward": {
                "l0": (1, 5, 101, 8.5),
                "l1": (1, 10, 101, 8.5),
                "l5": (1, 15, None, None),
                "l2": (1, 20, None, None),
                "l3": (2, 7, 103, 1.0),
                "l4": (3, 9, None, None),
            },
        }
        for direction, rows in want.items():
            out = asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                right_tiebreak=("rid",), direction=direction,
            ).collect()
            assert len(out) == len(rows)
            got = {r["tag"]: (r["k"], r["t"], r["rid"], r["val"]) for r in out}
            assert got == rows, direction

    def test_timestamp_time_columns(self, spark):
        """Timestamp time columns: the left timestamps come back
        unchanged and each row carries the latest earlier right value."""
        import datetime as dt

        from tomixpanel_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b")],
            "k long, t string, tag string",
        ).selectExpr("k", "CAST(t AS TIMESTAMP) AS t", "tag")
        right = spark.createDataFrame(
            [(1, "2024-01-01 09:00:00", 7), (1, "2024-01-01 11:00:00", 9)],
            "k long, rt string, val long",
        ).selectExpr("k", "CAST(rt AS TIMESTAMP) AS rt", "val")
        out = asof_join(left, right, on="k", left_time="t", right_time="rt")
        assert dict(out.dtypes)["t"] == "timestamp"
        rows = out.collect()
        assert {r["tag"]: r["val"] for r in rows} == {"a": 7, "b": 9}
        assert {r["tag"]: r["t"] for r in rows} == {
            "a": dt.datetime(2024, 1, 1, 10),
            "b": dt.datetime(2024, 1, 1, 12),
        }

    @pytest.mark.parametrize(
        "name", ["asof_latest_order", "asof_next_order", "attribution_last_touch"]
    )
    def test_plan_is_single_exchange_no_join(self, spark, name):
        """Every registered as-of query runs the union+window carry: a
        Window node, no Python merge stage (MapInPandas /
        FlatMapCoGroupsInPandas) and no join operator (a range-condition
        join would be a per-key cross product Spark can only
        post-filter). Read from the executed plan after a collect, so
        AQE's final plan is what is checked."""
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.plans.audit import join_strategies

        df = registry()[name].fn(spark, SF_ORACLE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        assert "MapInPandas" not in plan
        assert "FlatMapCoGroupsInPandas" not in plan
        assert join_strategies(df) == []


class TestCountMinSketch:
    def test_estimates_never_undercount(self, spark):
        """CMS can only over-count (collisions add, min over rows bounds
        the noise) — every estimate must be >= the exact frequency."""
        from tests.conftest import SF_SMALL
        from tomixpanel_spark.functions.text import tokens as tok
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.operators.base import table

        exact = {
            r["token"]: r["n"]
            for r in table(spark, SF_SMALL, "documents")
            .select(F.explode(tok("text")).alias("token"))
            .groupBy("token")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        est = {
            r["token"]: r["est_n"]
            for r in registry()["cms_heavy_hitters"].fn(spark, SF_SMALL).collect()
        }
        assert set(est) == set(exact)
        assert all(est[t] >= exact[t] for t in exact)


class TestRangeJoin:
    def test_containment_inclusive_and_bin_crossing(self, spark):
        """Boundary times match (inclusive both ends) and an interval
        spanning multiple bins still meets its points exactly once."""
        from tomixpanel_spark.operators.ranges import range_join

        points = spark.createDataFrame(
            [(1, "2024-01-02 00:00:00", 10), (1, "2024-01-05 12:00:00", 11),
             (1, "2024-01-08 00:00:00", 12), (2, "2024-01-02 00:00:00", 20)],
            "k long, ts string, pid long",
        ).withColumn("ts", F.to_timestamp("ts"))
        intervals = spark.createDataFrame(
            # 6-day interval crosses many 1-day bins
            [(1, "2024-01-02 00:00:00", "2024-01-08 00:00:00", 100),
             (2, "2024-01-03 00:00:00", "2024-01-04 00:00:00", 200)],
            "k long, s string, e string, iid long",
        ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))
        got = sorted(
            (r["pid"], r["iid"])
            for r in range_join(
                points, intervals, on="k", point_time="ts", start="s", end="e"
            ).collect()
        )
        # both boundary points match once each; key-2 point precedes its window
        assert got == [(10, 100), (11, 100), (12, 100)]

    def test_plan_is_hash_join_not_nested_loop(self, spark):
        """The binning must buy a hash equi-join — an inequality-only join
        gives BroadcastNestedLoopJoin, the per-key cross product."""
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.plans.audit import join_strategies

        df = registry()["range_join_active_windows"].fn(spark, SF_ORACLE)
        joins = join_strategies(df)
        assert joins and all("NestedLoop" not in j for j in joins)


@pytest.fixture
def distributed_tier(monkeypatch):
    """The text family's driver folds off: ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``
    at 0 sends the shingle and SimHash verbs to their Spark plans."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")


class TestDedupPipeline:
    # the one candidate pass of each tier: the driver shingle fold under
    # the gate (the SF_SMALL corpus is), the Spark SQL chain above it
    candidate_pass = "_shingle_fold"

    def test_one_candidate_pass_serves_both_outputs(self, spark, monkeypatch):
        """dedup_pipeline must generate+verify pairs ONCE (persisted) and
        agree with the self-contained registered queries."""
        from tests.conftest import SF_SMALL
        from tomixpanel_spark.operators import dedup as dd
        from tomixpanel_spark.operators.base import table

        calls = {"n": 0}
        real = getattr(dd, self.candidate_pass)

        def counting(*a, **kw):
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(dd, self.candidate_pass, counting)
        docs = table(spark, SF_SMALL, "documents")
        out = dd.dedup_pipeline(docs)
        try:
            keep = {r["doc_id"] for r in out["keep_list"].collect()}
            comps = {
                (r["keep_doc_id"], r["cluster_size"])
                for r in out["components"].collect()
            }
            assert calls["n"] == 1  # one candidate-generation pass, two outputs
            assert out["pairs"].storageLevel.useMemory  # materialized, not re-derived
            want_keep = {
                r["doc_id"] for r in dd.dedup_keep_list(spark, SF_SMALL).collect()
            }
            want_comps = {
                (r["keep_doc_id"], r["cluster_size"])
                for r in dd.neardup_components(spark, SF_SMALL).collect()
            }
            assert keep == want_keep
            assert comps == want_comps
        finally:
            out["pairs"].unpersist()

    def test_lsh_candidate_source_verified_subset(self, spark):
        """The LSH pipeline path must emit a SUBSET of the exact pairs
        (band agreement is probabilistic recall) and every surviving pair
        must carry the TRUE Jaccard score — banding may lose pairs, never
        misscore one."""
        from tests.conftest import SF_SMALL
        from tomixpanel_spark.operators import dedup as dd
        from tomixpanel_spark.operators.base import table

        docs = table(spark, SF_SMALL, "documents")
        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.near_dup_pairs(docs).collect()
        }
        out = dd.dedup_pipeline(docs, candidate_source="lsh")
        try:
            got = {
                (r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in out["pairs"].collect()
            }
            assert set(got).issubset(set(exact))
            for k, v in got.items():
                assert v == exact[k]
            # the fixture's near-dups are heavy overlaps — banding should
            # recover a solid fraction, and the outputs stay consistent
            assert exact and len(got) >= len(exact) * 0.5
            keep = {r["doc_id"] for r in out["keep_list"].collect()}
            dropped = {b for (_, b) in got}
            assert keep == {r["doc_id"] for r in docs.select("doc_id").collect()} - dropped
        finally:
            out["pairs"].unpersist()

    def test_pipeline_rejects_unknown_candidate_source(self, spark):
        from tests.conftest import SF_SMALL
        from tomixpanel_spark.operators import dedup as dd
        from tomixpanel_spark.operators.base import table

        with pytest.raises(ValueError):
            dd.dedup_pipeline(
                table(spark, SF_SMALL, "documents"), candidate_source="nope"
            )


@pytest.mark.usefixtures("distributed_tier")
class TestDedupPipelineDistributed(TestDedupPipeline):
    candidate_pass = "_jaccard_pairs_from_shingles"


class TestSimilarityEdgeIds:
    """Regression tests for id-space assumptions in the similarity APIs
    (round-3 VERDICT #1/#2): negative ids must not drop pairs, sparse ids
    must not crash centroid init."""

    def _emb_df(self, spark, ids):
        import math

        rows = [
            (int(i), [math.sin(0.1 * i + j) for j in range(8)]) for i in ids
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_neardup_pairs_with_negative_ids(self, spark):
        """pmod block assignment: pairs involving negative ids must match
        the unblocked (n_blocks=1) ground truth exactly."""
        from tomixpanel_spark.operators.similarity import embedding_neardup_pairs

        df = self._emb_df(spark, range(-12, 12))
        want = {
            (r["vec_a"], r["vec_b"], r["sim_e6"])
            for r in embedding_neardup_pairs(df, threshold_e6=500_000, n_blocks=1).collect()
        }
        got = {
            (r["vec_a"], r["vec_b"], r["sim_e6"])
            for r in embedding_neardup_pairs(df, threshold_e6=500_000, n_blocks=4).collect()
        }
        assert want, "fixture produced no near-dup pairs — threshold too high"
        assert any(a < 0 for a, _, _ in want), "fixture has no negative-id pairs"
        assert got == want

    def test_ann_ivf_sparse_id_space(self, spark):
        """Sparse/non-dense ids under-fill the pmod training sample; the
        clamped init must fall back and still return sane top-k rows
        (pre-fix this raised IndexError in the Lloyd loop)."""
        from tomixpanel_spark.operators.similarity import ann_ivf_topk

        # two query ids (<10) plus 10 odd far-flung corpus ids: with
        # step=2 the pmod==0 filter matches zero rows -> fallback path
        ids = [3, 7] + [1001 + 2000 * i for i in range(10)]
        out = ann_ivf_topk(self._emb_df(spark, ids)).collect()
        assert out, "no rows from ann_ivf_topk on sparse ids"
        assert {r["q_id"] for r in out} == {3, 7}
        assert all(r["neighbor_id"] != r["q_id"] for r in out)

    @pytest.mark.parametrize(
        "verb, score",
        [
            ("ann_ivf_topk", "sim_e6"),
            ("ann_ivf_quantized", "score"),
            ("ann_pq_quantized", "dist"),
        ],
    )
    def test_ann_verbs_without_query_ids(self, spark, verb, score):
        """No vector has vec_id < N_QUERIES: there is nothing to search
        for, so each verb returns zero rows in its own schema, like
        cosine_topk and ann_lsh (these crashed on an empty query
        matrix: a failed task or a driver IndexError)."""
        from tomixpanel_spark.operators import similarity

        ids = [1001 + 3 * i for i in range(40)]
        out = getattr(similarity, verb)(self._emb_df(spark, ids))
        assert out.columns == ["q_id", "neighbor_id", "rank", score]
        assert out.collect() == []


class TestKmvSketch:
    def test_estimate_close_to_exact(self, spark):
        """KMV with k=64 on ~150 distinct ids per group: the estimate is
        approximate by design but must land within the sketch's standard
        error envelope (~1/sqrt(k-1) ~ 13%; allow 3 sigma)."""
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.operators.base import table

        exact = {
            r["event_type"]: r["n"]
            for r in table(spark, SF_ORACLE, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        est = {
            r["event_type"]: r["est_distinct"]
            for r in registry()["kmv_distinct"].fn(spark, SF_ORACLE).collect()
        }
        assert set(est) == set(exact)
        for t, n in exact.items():
            rel = abs(est[t] - n) / n
            assert rel < 0.40, f"{t}: est {est[t]:.1f} vs exact {n} ({rel:.0%})"


class TestGopherQuality:
    def test_keep_flag_discriminates(self, spark):
        """The gates must actually split the corpus (a filter that keeps
        or drops everything verifies nothing)."""
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry

        rows = registry()["gopher_quality"].fn(spark, SF_ORACLE).collect()
        kept = sum(1 for r in rows if r["keep"])
        assert 0 < kept < len(rows)

    def test_features_bounded(self, spark):
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry

        for r in registry()["gopher_quality"].fn(spark, SF_ORACLE).collect():
            assert 0.0 <= r["dup_word_frac"] <= 1.0
            assert 0.0 <= r["top_bigram_frac"] <= 1.0


class TestPiiRedact:
    def test_redaction_removes_every_match(self, spark):
        """Post-redaction text must contain zero residual PII matches and
        the placeholder tokens must appear exactly count-many times."""
        import re

        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.functions.text import PII_PASSES
        from tomixpanel_spark.operators import registry

        rows = registry()["pii_redact"].fn(spark, SF_ORACLE).collect()
        assert any(r["n_emails"] > 0 for r in rows)
        assert any(r["n_ips"] > 0 for r in rows)
        assert any(r["n_phones"] > 0 for r in rows)
        pats = [re.compile(p) for p, _ in PII_PASSES]
        for r in rows:
            for pat in pats:
                assert not pat.search(r["redacted"]), (r["doc_id"], pat.pattern)
            assert r["redacted"].count("<EMAIL>") == r["n_emails"]
            assert r["redacted"].count("<IP>") == r["n_ips"]
            assert r["redacted"].count("<PHONE>") == r["n_phones"]


class TestAnnLsh:
    def test_recall_vs_brute_force(self, spark):
        """The L=4-table union must recover a usable fraction of the true
        top-5 (random-hyperplane collision prob for these sims makes
        perfect recall impossible by design; the floor guards against a
        broken bucket join returning junk)."""
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry

        reg = registry()
        brute = {
            (r["q_id"], r["neighbor_id"])
            for r in reg["cosine_topk"].fn(spark, SF_ORACLE).collect()
        }
        lsh = {
            (r["q_id"], r["neighbor_id"])
            for r in reg["ann_lsh"].fn(spark, SF_ORACLE).collect()
        }
        assert lsh, "LSH returned no candidates at all"
        recall = len(brute & lsh) / len(brute)
        assert recall >= 0.25, f"recall@5 collapsed: {recall:.2f}"

    def test_every_query_gets_rows(self, spark):
        from tests.conftest import SF_ORACLE
        from tomixpanel_spark.operators import registry

        rows = registry()["ann_lsh"].fn(spark, SF_ORACLE).collect()
        assert len({r["q_id"] for r in rows}) >= 8  # of N_QUERIES=10


class TestSequencePacking:
    def test_ffd_capacity_and_coverage(self, spark):
        """No bin exceeds capacity (except a single oversize doc's own
        bin); every doc packed exactly once; bin_fill is consistent."""
        import random

        from tomixpanel_spark.operators.packing import pack_sequences

        rng = random.Random(11)
        rows = [(i, rng.randrange(1, 900)) for i in range(500)] + [(9999, 5000)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = pack_sequences(df, capacity=1024, partitions=4).collect()
        assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)
        fills = {}
        for r in out:
            fills.setdefault(r["bin_id"], 0)
            fills[r["bin_id"]] += r["n_tokens"]
        for r in out:
            assert fills[r["bin_id"]] == r["bin_fill"]  # reported == actual
            if r["n_tokens"] <= 1024:
                assert fills[r["bin_id"]] <= 1024
        # the oversize doc sits alone in its bin
        big = next(r for r in out if r["doc_id"] == 9999)
        assert fills[big["bin_id"]] == 5000

    def test_deterministic_and_partition_local(self, spark):
        from tomixpanel_spark.operators.packing import pack_sequences

        rows = [(i, 10 + (i * 37) % 200) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        a = sorted(map(tuple, pack_sequences(df, 256, partitions=4).collect()))
        b = sorted(map(tuple, pack_sequences(df, 256, partitions=4).collect()))
        assert a == b
        # bin ids are partition-namespaced: distinct million-blocks
        blocks = {t[2] // 1_000_000 for t in a}
        assert len(blocks) > 1  # multiple partitions actually packed

    def test_balanced_shards_balance(self, spark):
        """The hard invariant: within every size bucket, per-shard doc
        counts differ by at most 1 (round-robin), so each shard gets the
        same mix of size classes. Token-total spread is the statistical
        consequence — ~O(1/sqrt(docs_per_shard)) — so at sf0.01's ~60
        docs/shard we only bound it loosely; it tightens with corpus
        size."""
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.operators.packing import SIZE_BUCKET_WIDTH

        out = registry()["balanced_shards"].fn(spark, "/root/testdata/sf0.01").collect()
        per_bucket: dict = {}
        totals: dict = {}
        for r in out:
            b = r["n_tokens"] // SIZE_BUCKET_WIDTH
            per_bucket.setdefault(b, {}).setdefault(r["shard"], 0)
            per_bucket[b][r["shard"]] += 1
            totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
        for b, counts in per_bucket.items():
            assert max(counts.values()) - min(counts.values()) <= 1, (b, counts)
        assert len(totals) > 1
        lo, hi = min(totals.values()), max(totals.values())
        assert (hi - lo) / hi < 0.12, totals


class TestLshSignatureTablePath:
    def test_signature_join_candidates_match_fused_path(self, spark):
        """The bucketed-signature-table path (corpus-x-corpus regime) and
        the fused closure-match path (query-lookup regime) must agree on
        the candidate set: equi-join on (t, bucket) == any-table bucket
        match in the UDF."""
        from pyspark.sql import functions as F

        from tomixpanel_spark.operators.base import table
        from tomixpanel_spark.operators.similarity import (
            LSH_TABLES,
            N_QUERIES,
            _lsh_signatures,
            ann_lsh,
        )

        sf = "/root/testdata/sf0.001"
        sig = _lsh_signatures(table(spark, sf, "embeddings"))
        q_sig = sig.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), "t", "bucket"
        )
        join_pairs = {
            (r["q_id"], r["vec_id"])
            for r in q_sig.join(sig, ["t", "bucket"])
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id")
            .distinct()
            .collect()
        }
        fused = ann_lsh(spark, sf)
        # ann_lsh emits top-k of the candidates; every emitted pair must
        # be a join-path candidate, and for queries with < k candidates
        # the sets coincide exactly
        fused_pairs = {(r["q_id"], r["neighbor_id"]) for r in fused.collect()}
        assert fused_pairs <= join_pairs
        assert sig.count() == table(spark, sf, "embeddings").count() * LSH_TABLES


class TestLptShards:
    def test_balance_coverage_determinism(self, spark):
        import random

        from tomixpanel_spark.operators.packing import lpt_shards

        rng = random.Random(5)
        rows = [(i, rng.randrange(1, 400)) for i in range(600)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        out = lpt_shards(df, n_shards=8, partitions=4).collect()
        assert sorted(r["doc_id"] for r in out) == [i for i, _ in rows]
        totals = {}
        for r in out:
            totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
        assert set(totals) == set(range(8))
        lo, hi = min(totals.values()), max(totals.values())
        # LPT from 4 partitions: spread bounded by ~partitions x max item,
        # far tighter than oblivious round-robin on this distribution
        assert hi - lo <= 4 * 400, totals
        assert (hi - lo) / hi < 0.12, totals
        out2 = lpt_shards(df, n_shards=8, partitions=4).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


class TestSimhashPairs:
    def test_equals_brute_force_all_pairs(self, spark):
        """Pigeonhole makes 4x8-bit banding LOSSLESS for hamming <= 3:
        the banded candidate path must equal the full quadratic scan, not
        merely contain it."""
        from tomixpanel_spark.operators.dedup import (
            SIMHASH_HAM_MAX,
            simhash,
            simhash_pairs,
        )

        sf = "/root/testdata/sf0.001"
        sigs = {r["doc_id"]: r["simhash"] for r in simhash(spark, sf).collect()}
        ids = sorted(sigs)
        want = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH_HAM_MAX
        }
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs(spark, sf).collect()
        }
        assert got == want and len(want) > 0

    def test_band_cap_bounds_hot_buckets(self, spark):
        """band_cap bounds the DISTINCT-signature postings (inter-cluster
        candidates); identical-signature clusters expand directly and are
        never subject to it (collapsing them IS the degenerate-case
        guard)."""
        from pyspark.sql import functions as F

        from tomixpanel_spark.operators.dedup import simhash_pairs

        sf = "/root/testdata/sf0.001"
        capped = simhash_pairs(spark, sf, band_cap=1)
        assert capped.filter(F.col("hamming") > 0).count() == 0
        uncapped = simhash_pairs(spark, sf)
        assert (
            capped.filter(F.col("hamming") == 0).count()
            == uncapped.filter(F.col("hamming") == 0).count()
        )


@pytest.mark.usefixtures("distributed_tier")
class TestSimhashPairsDistributed(TestSimhashPairs):
    """The SimHash checks on the distributed signature and band plans."""


class TestSegmentDedup:
    def test_first_occurrence_wins_within_and_across_docs(self, spark):
        """Crafted corpus: a boilerplate segment shared by three docs (and
        repeated twice inside one of them) survives exactly once, in the
        lowest (doc_id, seg_idx); unique segments all survive."""
        from tomixpanel_spark.operators.textops import segment_dedup_for

        W = 4
        boiler = "terms of service apply"
        uniq = [f"unique w{i}a w{i}b w{i}c" for i in range(4)]
        docs = spark.createDataFrame(
            [
                # doc 0: boiler twice (idx 0 and 2) around a unique segment
                (0, f"{boiler} {uniq[0]} {boiler}"),
                # doc 1: boiler again (cross-doc dup) + unique
                (1, f"{boiler} {uniq[1]}"),
                # doc 2: entirely unique
                (2, f"{uniq[2]} {uniq[3]}"),
                # doc 3: empty -> zero segments, absent from output
                (3, ""),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r for r in segment_dedup_for(docs, seg_tokens=W).collect()
        }
        assert set(rows) == {0, 1, 2}
        # doc 0: 3 segments, boiler@2 dropped (first occurrence is @0)
        assert rows[0]["n_segs"] == 3 and rows[0]["kept_segs"] == 2
        assert rows[0]["n_tokens"] == 12 and rows[0]["kept_tokens"] == 8
        # doc 1: boiler@0 dropped (doc 0 owns it), unique kept
        assert rows[1]["n_segs"] == 2 and rows[1]["kept_segs"] == 1
        # doc 2: nothing duplicated
        assert rows[2]["n_segs"] == 2 and rows[2]["kept_segs"] == 2

    def test_short_tail_segment_counted(self, spark):
        """A doc shorter than one window still yields one (short) segment,
        and tail segments of unequal length never collide with full ones."""
        from tomixpanel_spark.operators.textops import segment_dedup_for

        docs = spark.createDataFrame(
            [(0, "alpha beta"), (1, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r for r in segment_dedup_for(docs, seg_tokens=4).collect()
        }
        assert rows[0]["n_segs"] == 1 and rows[0]["kept_tokens"] == 2
        # doc 1's tail segment ("epsilon") is distinct from doc 0's
        # 2-token doc even though both are short
        assert rows[1]["n_segs"] == 2 and rows[1]["kept_segs"] == 2


class TestAnnIvfQuantized:
    def test_full_probe_equals_brute_force_mips(self, spark):
        """nprobe >= #cells probes every cell, so the result must EQUAL
        the brute-force integer max-inner-product top-k (computed here
        with plain numpy over the quantized corpus)."""
        import numpy as np

        from tomixpanel_spark.operators.base import table
        from tomixpanel_spark.operators.similarity import (
            IVFQ_CELLS,
            N_QUERIES,
            TOP_K,
            _quant,
            ann_ivf_quantized,
        )

        sf = "/root/testdata/sf0.001"
        emb = table(spark, sf, "embeddings")
        pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        m = _quant(np.array(list(pdf["embedding"]), dtype="float64"))
        q_mask = ids < N_QUERIES
        want = set()
        for qi in np.nonzero(q_mask)[0]:
            scores = m @ m[qi]
            order = np.lexsort((ids, -scores))
            order = order[ids[order] != ids[qi]][:TOP_K]
            for rank, j in enumerate(order, start=1):
                want.add((int(ids[qi]), int(ids[j]), rank, int(scores[j])))
        got = {
            (r["q_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in ann_ivf_quantized(emb, nprobe=IVFQ_CELLS).collect()
        }
        assert got == want and len(want) > 0

    def test_partial_probe_recall(self, spark):
        """nprobe=2 must recover a healthy fraction of the full-probe
        top-k (the standard IVF recall contract)."""
        from tomixpanel_spark.operators.base import table
        from tomixpanel_spark.operators.similarity import (
            IVFQ_CELLS,
            ann_ivf_quantized,
        )

        sf = "/root/testdata/sf0.001"
        emb = table(spark, sf, "embeddings")
        full = {
            (r["q_id"], r["neighbor_id"])
            for r in ann_ivf_quantized(emb, nprobe=IVFQ_CELLS).collect()
        }
        part = {
            (r["q_id"], r["neighbor_id"])
            for r in ann_ivf_quantized(emb, nprobe=2).collect()
        }
        assert len(part & full) / len(full) >= 0.5


class TestAnnPq:
    def test_pq_quality_contract(self, spark):
        """PQ is a LOSSY index — the oracle proves bit-exactness of the
        pipeline, this proves the index is USEFUL against ITS OWN metric
        (exact int64 L2 top-k on the same quantized vectors — ADC is a
        subspace decomposition of that distance, so this is the ground
        truth PQ approximates): (1) a calibrated recall floor (measured
        0.9+ at 8 subspaces x 16 cells on this corpus; 0.6 fails any
        broken codebook/LUT indexing while leaving noise margin),
        (2) determinism across runs, (3) ADC distances are nonnegative."""
        import numpy as np

        from tomixpanel_spark.operators.base import table
        from tomixpanel_spark.operators.similarity import (
            N_QUERIES,
            TOP_K,
            _quant,
            ann_pq_q,
        )

        sf = "/root/testdata/sf0.001"
        pdf = (
            table(spark, sf, "embeddings")
            .select("vec_id", "embedding")
            .toPandas()
            .sort_values("vec_id")
        )
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        m = _quant(np.array(list(pdf["embedding"]), dtype="float64"))
        brute = set()
        for qi in np.nonzero(ids < N_QUERIES)[0]:
            d = ((m - m[qi]) ** 2).sum(axis=1)
            mask = ids != ids[qi]
            order = np.lexsort((ids[mask], d[mask]))
            for j in np.nonzero(mask)[0][order[:TOP_K]]:
                brute.add((int(ids[qi]), int(ids[j])))
        rows = ann_pq_q(spark, sf).collect()
        pq = {(r["q_id"], r["neighbor_id"]) for r in rows}
        recall = len(brute & pq) / len(brute)
        assert recall >= 0.6, f"PQ recall {recall}"
        assert all(r["dist"] >= 0 for r in rows)
        rows2 = ann_pq_q(spark, sf).collect()
        assert {tuple(r) for r in rows} == {tuple(r) for r in rows2}


class TestBm25Edges:
    def test_query_doc_excluded_and_scores_positive(self, spark):
        """Every result row excludes the query doc itself; scores are
        positive (all BM25 terms are positive rationals); each query
        returns exactly BM25_TOPK rows on a corpus with enough overlap."""
        from tomixpanel_spark.operators.textops import BM25_QUERIES, BM25_TOPK, bm25_topk

        rows = bm25_topk(spark, "/root/testdata/sf0.001").collect()
        assert all(r["q_id"] != r["doc_id"] for r in rows)
        assert all(r["score_e6"] > 0 for r in rows)
        per_q = {}
        for r in rows:
            per_q.setdefault(r["q_id"], []).append(r["rank"])
        assert set(per_q) == set(range(BM25_QUERIES))
        for ranks in per_q.values():
            assert sorted(ranks) == list(range(1, BM25_TOPK + 1))

    def test_fold_empty_corpus(self, spark):
        """The driver fold returns an empty typed frame on an empty
        corpus instead of crashing on the degenerate aggregate."""
        import pandas as pd

        from tomixpanel_spark.operators.textops import _bm25_driver_fold

        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"), "text": []})
        out = _bm25_driver_fold(spark, empty)
        assert out.count() == 0
        assert out.columns == ["q_id", "doc_id", "rank", "score_e6"]


class TestSubstringDupShortDocs:
    def test_short_docs_yield_zero_windows_not_error(self, spark, tmp_path):
        """Docs under SUBSTR_WIN tokens must produce zero windows:
        unguarded sequence(1, 0) is DESCENDING [1, 0] in Spark and
        slice(w, 0, n) throws INVALID_PARAMETER_VALUE.START."""
        from tomixpanel_spark.operators.dedup import substring_dup_stats

        spark.createDataFrame(
            [
                (1, "tiny doc"),
                (2, " ".join(f"w{i}" for i in range(9))),  # 9 < SUBSTR_WIN
                (3, " ".join(f"w{i % 4}" for i in range(20))),
                (4, " ".join(f"w{i % 4}" for i in range(20))),  # dup of 3
            ],
            "doc_id long, text string",
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in substring_dup_stats(spark, str(tmp_path)).collect()
        }
        assert out[1] == (0, 0) and out[2] == (0, 0)
        assert out[3][0] == 11 and out[3][1] == 11  # fully duplicated vs 4
        assert out[4] == out[3]


class TestSelfCogroupPruning:
    def test_count_over_self_cogroup_matches_collect(self, spark):
        """Self-cogroup (both sides from one parent plan) under a
        no-output consumer: Spark 4.1's DeduplicateRelations leaves the
        cogroup function args pointing at the LEFT side's attribute ids,
        and column pruning (count() needs no UDF output) then strips the
        right child to key-only frames — KeyError inside the UDF. The
        fresh_attrs alias barrier must keep count() == len(collect())."""
        import math

        from tomixpanel_spark.operators.similarity import embedding_neardup_pairs

        rows = [
            (int(i), [math.sin(0.1 * i + j) for j in range(8)]) for i in range(32)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = embedding_neardup_pairs(df, threshold_e6=500_000, n_blocks=4)
        n = out.count()  # would raise KeyError without fresh_attrs
        assert n == len(out.collect()) and n > 0


class TestHistogramSketch:
    def test_partial_histograms_merge_to_union(self, spark):
        """The mergeability contract (why this is the 100 TB quantile
        path): histograms of disjoint halves, cell-wise summed, equal the
        histogram of the union — GIVEN the same bounds. Bounds are the
        sketch's broadcast parameters; production pins them per column
        (or takes the cheap global min/max pass hist_quantiles runs)."""
        from pyspark.sql import functions as F

        from tomixpanel_spark.operators.analytics import histogram_sketch

        full = spark.range(10_000).select(
            F.col("id").alias("k"),
            ((F.col("id") * 37 % 9973) / 100.0 + 0.01).alias("value"),
        )
        whole = {
            r["bin"]: r["cnt"] for r in histogram_sketch(full).collect()
        }
        # same bounds on both halves: bin on the UNION's lo/hi by
        # reusing the library's binning against a fixed frame
        halves = [full.filter(F.pmod("k", F.lit(2)) == i) for i in (0, 1)]
        [b] = full.agg(
            F.min(F.floor(F.col("value") * 100).cast("long")).alias("lo"),
            F.max(F.floor(F.col("value") * 100).cast("long")).alias("hi"),
        ).collect()
        merged: dict = {}
        for h in halves:
            part = (
                h.select(F.floor(F.col("value") * 100).cast("long").alias("c"))
                .select(
                    F.expr(
                        f"(c - {b['lo']}) * 128 div ({b['hi']} - {b['lo']} + 1)"
                    ).alias("bin")
                )
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            for r in part.collect():
                merged[r["bin"]] = merged.get(r["bin"], 0) + r["cnt"]
        assert merged == whole

    def test_single_value_and_null_handling(self, spark, tmp_path):
        """Degenerate widths: one distinct value -> every quantile is
        that value; NULLs are skipped like percentile()."""
        import duckdb

        from tomixpanel_spark.operators import registry

        con = duckdb.connect()
        d = str(tmp_path)
        for t in ("region nation customer supplier part orders lineitem "
                  "documents embeddings").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet') LIMIT 0) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(
            f"COPY (SELECT event_id, ts, user_id, event_type, "
            f"CASE WHEN event_id % 2 = 0 THEN 42.17 END AS value, props "
            f"FROM read_parquet('/root/testdata/sf0.001/events.parquet')) "
            f"TO '{d}/events.parquet' (FORMAT PARQUET)"
        )
        rows = {
            (r["q"], r["est_cents"])
            for r in registry()["hist_quantiles"].fn(spark, d).collect()
        }
        want_cents = int(__import__("math").floor(42.17 * 100))
        assert rows == {(50, want_cents), (90, want_cents), (99, want_cents)}


class TestSeededShuffle:
    def test_permutation_and_determinism(self, spark):
        """(shard, pos) is a partition of 1..n_shard per shard (contiguous
        ranks, no gaps/dupes), every doc appears exactly once, and the
        assignment is bit-stable across runs (seeded md5, no engine RNG)."""
        from tomixpanel_spark.operators import registry

        fn = registry()["seeded_shuffle"].fn
        a = sorted(map(tuple, fn(spark, "/root/testdata/sf0.01").collect()))
        b = sorted(map(tuple, fn(spark, "/root/testdata/sf0.01").collect()))
        assert a == b
        docs = [t[0] for t in a]
        assert len(docs) == len(set(docs))
        per_shard: dict = {}
        for _, shard, pos in a:
            per_shard.setdefault(shard, []).append(pos)
        for shard, ranks in per_shard.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), shard

    def test_in_shard_order_is_hash_order(self, spark):
        """pos must sort each shard by the seeded md5 (the training-order
        contract): recompute the hash independently in Python and check
        the rank order matches."""
        import hashlib

        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.operators.packing import SHUFFLE_SEED

        out = registry()["seeded_shuffle"].fn(spark, "/root/testdata/sf0.001").collect()
        per_shard: dict = {}
        for r in out:
            h = hashlib.md5(f"{SHUFFLE_SEED}:{r['doc_id']}".encode()).hexdigest()
            per_shard.setdefault(r["shard"], []).append((r["pos"], h, r["doc_id"]))
        for shard, rows in per_shard.items():
            by_pos = [(h, d) for _, h, d in sorted(rows)]
            assert by_pos == sorted(by_pos), f"shard {shard} not in hash order"


class TestBigramLmScore:
    def test_matches_independent_python_model(self, spark):
        """Hand-rolled bigram model over the same parquet (pure Python
        tokenize/count — an implementation independent of BOTH engines)
        reproduces every doc's n_bigrams and lm_score_e6."""
        import duckdb

        from tomixpanel_spark.operators import registry

        sf = "/root/testdata/sf0.001"
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
        ).fetchall()

        def toks(text: str) -> list[str]:
            for ws in "\t\n\r\x0b\x0c":
                text = text.replace(ws, " ")
            return [t for t in text.split(" ") if t]

        model: dict = {}
        ctx: dict = {}
        vocab: set = set()
        doc_bigrams: dict = {}
        for doc_id, text in rows:
            ws = toks(text)
            vocab.update(ws)
            bgs = list(zip(ws, ws[1:]))
            doc_bigrams[doc_id] = bgs
            for bg in bgs:
                model[bg] = model.get(bg, 0) + 1
                ctx[bg[0]] = ctx.get(bg[0], 0) + 1
        v = len(vocab)
        expected = {
            doc_id: (
                len(bgs),
                sum((1_000_000 * (model[bg] + 1)) // (ctx[bg[0]] + v) for bg in bgs),
            )
            for doc_id, bgs in doc_bigrams.items()
        }

        got = registry()["bigram_lm_score"].fn(spark, sf).collect()
        assert len(got) == len(rows)  # every doc scored, including <2-token
        for r in got:
            assert (r["n_bigrams"], r["lm_score_e6"]) == expected[r["doc_id"]], r


class TestBpeMerges:
    def test_matches_hand_computed_merges(self, spark, tmp_path, monkeypatch):
        """Toy corpus with hand-derived BPE merges (Sennrich by hand):
        'low low low lower newest newest' — freq(low)=3, lower=1,
        newest=2. Step 1: (l,o)=4 ties (o,w)=4, lexicographic pick
        (l,o). Step 2: (lo,w)=4. Step 3 ties at 2 -> (e,s). Step 4:
        'e' < 'es' so (e,w) beats (es,t). Step 5: (es,t). Step 6:
        (ew,est). Both the fold and the distributed path must reproduce
        the chain exactly."""
        import duckdb

        docs_dir = tmp_path / "sf"
        docs_dir.mkdir()
        duckdb.sql(
            "COPY (SELECT 1 AS doc_id, 'low low low lower newest newest' AS text,"
            " 'en' AS lang, 's' AS source, 31 AS n_chars)"
            f" TO '{docs_dir}/documents.parquet' (FORMAT PARQUET)"
        )
        from tomixpanel_spark.operators import registry
        from tomixpanel_spark.operators import textops

        expected = [
            (1, "l", "o", "lo", 4),
            (2, "lo", "w", "low", 4),
            (3, "e", "s", "es", 2),
            (4, "e", "w", "ew", 2),
            (5, "es", "t", "est", 2),
            (6, "ew", "est", "ewest", 2),
        ]
        fn = registry()["bpe_merges"].fn
        fold = sorted(map(tuple, fn(spark, str(docs_dir)).collect()))
        assert fold == expected, fold
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
        dist = sorted(map(tuple, fn(spark, str(docs_dir)).collect()))
        assert dist == expected, dist

    def test_overlap_merge_is_left_to_right(self, spark, tmp_path, monkeypatch):
        """'aaaa' x1: step 1 counts (a,a)=3 (overlaps counted, Sennrich
        get_stats) but merges LEFT-TO-RIGHT non-overlapping -> [aa, aa];
        step 2 then counts (aa,aa)=1. A naive overlap-merging rewrite
        would produce a different chain."""
        import duckdb

        docs_dir = tmp_path / "sf"
        docs_dir.mkdir()
        duckdb.sql(
            "COPY (SELECT 1 AS doc_id, 'aaaa' AS text, 'en' AS lang,"
            " 's' AS source, 4 AS n_chars)"
            f" TO '{docs_dir}/documents.parquet' (FORMAT PARQUET)"
        )
        from tomixpanel_spark.operators import registry

        expected = [
            (1, "a", "a", "aa", 3),
            (2, "aa", "aa", "aaaa", 1),
        ]
        fn = registry()["bpe_merges"].fn
        fold = sorted(map(tuple, fn(spark, str(docs_dir)).collect()))
        assert fold == expected, fold
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
        dist = sorted(map(tuple, fn(spark, str(docs_dir)).collect()))
        assert dist == expected, dist
