"""Each wire record has two forms: the Python spec (calling the
``WireRecord`` on a row dict) and the JVM Column (``to_json(df)``) that
``HttpSink.send`` ships. These tests pin that the Column bytes, after
``finish_json``, equal ``serialize_record(spec(row))`` for all six sink
profiles, on the pipeline's own fixture frames and on generated rows
with hostile strings, null values and colliding property keys.

The spec sees each row as Arrow delivers it (``toArrow().to_pylist()``:
maps as ordered key/value pairs), the way a send task used to."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.fixtures import amp_event_rows, mp_engage_page, mp_export_lines
from tomixpanel_spark.sinks.batching import finish_json, serialize_record
from tomixpanel_spark.sinks.http import mp_event_record, mp_merge_record, mp_profile_record
from tomixpanel_spark.sinks.reverse import (
    amplitude_event_record,
    amplitude_user_record,
    woopra_record,
)


def assert_same_bytes(df, encoder) -> int:
    rows = df.select(encoder.to_json(df).alias("__wire"), "*").toArrow().to_pylist()
    for rec in rows:
        jvm = finish_json(rec.pop("__wire").encode("utf-8"))
        assert jvm == serialize_record(encoder(rec)), rec
    return len(rows)


# ------------------------------------------------------------ fixtures
@pytest.fixture(scope="module")
def forward_plan(spark, tmp_path_factory):
    from tomixpanel_spark import pipeline

    amp = tmp_path_factory.mktemp("amp")
    (amp / "part-0.json").write_text(
        "\n".join(json.dumps(r) for r in amp_event_rows(40)) + "\n"
    )
    config = {
        "source": {"name": "amplitude", "options": {"path": str(amp), "run_time_ms": 7}},
        "destination": {"name": "mixpanel", "token": "tok"},
    }
    return pipeline.build(spark, config)


@pytest.fixture(scope="module")
def export_raw(spark, tmp_path_factory):
    from tomixpanel_spark.schemas import MP_EXPORT_SCHEMA
    from tomixpanel_spark.sources.staging import read_json_auto, valid_records

    p = tmp_path_factory.mktemp("export") / "export.ndjson"
    p.write_text(mp_export_lines(30))
    return valid_records(read_json_auto(spark, str(p), MP_EXPORT_SCHEMA))


def test_forward_fixture_frames(forward_plan):
    assert assert_same_bytes(forward_plan.events, mp_event_record) == 40
    assert assert_same_bytes(forward_plan.profiles, mp_profile_record) > 0
    assert assert_same_bytes(forward_plan.merges, mp_merge_record) > 0


def test_engage_profiles_with_ignore_time(spark, tmp_path):
    from tomixpanel_spark.sources.mixpanel import MixpanelEngageSource
    from tomixpanel_spark.transforms.mixpanel import mp_engage_profiles

    page = tmp_path / "page-0.json"
    page.write_text(json.dumps(mp_engage_page(0, 10, 4)))
    pages = MixpanelEngageSource("", str(tmp_path)).read(spark, [str(page)])
    profiles = mp_engage_profiles(pages, "tok")
    assert "ignore_time" in profiles.columns
    assert assert_same_bytes(profiles, mp_profile_record) == 4


def test_reverse_fixture_frames(export_raw):
    from pyspark.sql import functions as F

    from tomixpanel_spark.transforms.mixpanel import (
        mp_to_amplitude_events,
        mp_to_amplitude_users,
        mp_to_woopra_events,
    )

    users = mp_to_amplitude_users(
        export_raw.select(F.col("properties")["distinct_id"].alias("distinct_id"))
        .distinct()
        .withColumn("set", F.create_map(F.lit("plan"), F.lit("pro")))
    )
    assert assert_same_bytes(mp_to_amplitude_events(export_raw), amplitude_event_record) == 30
    assert assert_same_bytes(users, amplitude_user_record) > 0
    assert assert_same_bytes(mp_to_woopra_events(export_raw, "proj"), woopra_record) == 30


# ------------------------------------------------------------ generated rows
HOSTILE = [
    "\x1f", "\x0b", "\x00", "\\u001F", "\\", "\\\\", '"', '\\"', " ", "\U0001F600",
    "", "\x7f", "\n\t\r\b\f", ',"time":"5"', "{}",
]
strings = st.one_of(st.none(), st.sampled_from(HOSTILE), st.text(max_size=10))
keys = st.one_of(
    st.sampled_from(["distinct_id", "time", "$insert_id", "plan", "\x1f", ""]),
    st.text(max_size=6),
)
maps = st.one_of(st.none(), st.dictionaries(keys, strings, max_size=5))
times = st.one_of(st.none(), st.integers(-(2**62), 2**62))

MAP = "map<string,string>"
CASES = {
    "mp_event_record": (
        mp_event_record,
        f"event string, distinct_id string, time_ms bigint, insert_id string, props {MAP}",
        st.tuples(strings, strings, times, strings, maps),
    ),
    "mp_profile_record": (
        mp_profile_record,
        f"token string, distinct_id string, ip string, set {MAP}, ignore_time boolean",
        st.tuples(strings, strings, strings, maps, st.one_of(st.none(), st.booleans())),
    ),
    "mp_merge_record": (
        mp_merge_record,
        "id_a string, id_b string, insert_id string, time_ms bigint",
        st.tuples(strings, strings, strings, times),
    ),
    "amplitude_event_record": (
        amplitude_event_record,
        "user_id string, device_id string, event_type string, time bigint, "
        f"insert_id string, ip string, event_properties {MAP}",
        st.tuples(strings, strings, strings, times, strings, strings, maps),
    ),
    "amplitude_user_record": (
        amplitude_user_record,
        f"user_id string, user_properties {MAP}",
        st.tuples(strings, maps),
    ),
    "woopra_record": (
        woopra_record,
        "project string, visitor struct<id:string>, actions "
        f"array<struct<name:string,timestamp:bigint,properties:{MAP}>>",
        st.tuples(
            strings,
            st.one_of(st.none(), st.tuples(strings)),
            st.one_of(st.none(), st.lists(st.tuples(strings, times, maps), max_size=3)),
        ),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_generated_rows(spark, name):
    encoder, schema, row = CASES[name]

    @given(st.lists(row, min_size=1, max_size=25))
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(rows):
        assert assert_same_bytes(spark.createDataFrame(rows, schema), encoder) == len(rows)

    check()


def test_profile_without_ignore_time_column(spark):
    df = spark.createDataFrame(
        [("tok", "d1", None, {"a": "\x0b"})], f"token string, distinct_id string, ip string, set {MAP}"
    )
    assert assert_same_bytes(df, mp_profile_record) == 1
