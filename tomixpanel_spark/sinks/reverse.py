"""Reverse-ETL sinks: Mixpanel -> Amplitude / Woopra (SURVEY.md §2.2 K7/K8).

Reference behaviors (load/sendOther.js):
  * Amplitude HTTP API v2: 2,000-event / 1,000-user chunks (:209,237),
    2 s sleep between batches as the vendor rate-limit workaround
    (:110,223,261-264 — "HACK!"). The engine keeps that 2 s as a GLOBAL
    interval (``min_interval_s``): with N partitions each one paces at
    N * 2 s, so the vendor sees the reference's rate at any concurrency,
    and keeps retries + receipts.
  * Woopra: NDJSON body, 10,000-record chunks (:97).

These are thin profiles over sinks.http.HttpSink — same receipts, retries,
dead-letters; only the wire shape, chunk sizes, and pacing differ.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from tomixpanel_spark.schemas import MAP_SS
from tomixpanel_spark.sinks.http import (
    HttpSink,
    HttpSinkConfig,
    Transport,
    basic_auth,
    json_map,
    json_text,
    wire_record,
)

AMPLITUDE_HTTP_API = "https://api2.amplitude.com/2/httpapi"
AMPLITUDE_IDENTIFY_API = "https://api2.amplitude.com/identify"
WOOPRA_IMPORT_URL = "https://www.woopra.com/rest/3.0/logs/import"
AMP_EVENTS_PER_BATCH = 2000
AMP_USERS_PER_BATCH = 1000
WOOPRA_PER_BATCH = 10000
VENDOR_PACING_S = 2.0


def _amplitude_event_json(col) -> Column:
    return json_text(
        F.struct(
            col("user_id"),
            col("device_id"),
            col("event_type"),
            col("time", "bigint"),
            col("insert_id"),
            col("ip"),
            json_map(col("event_properties", MAP_SS)).alias("event_properties"),
        )
    )


@wire_record(_amplitude_event_json)
def amplitude_event_record(rec: dict) -> dict:
    """Row from transforms.mixpanel.mp_to_amplitude_events -> wire dict."""
    return {
        "user_id": rec.get("user_id"),
        "device_id": rec.get("device_id"),
        "event_type": rec.get("event_type"),
        "time": rec.get("time"),
        "insert_id": rec.get("insert_id"),
        "ip": rec.get("ip"),
        "event_properties": dict(rec.get("event_properties") or {}),
    }


def _amplitude_user_json(col) -> Column:
    return json_text(
        F.struct(
            col("user_id"),
            json_map(col("user_properties", MAP_SS)).alias("user_properties"),
        )
    )


@wire_record(_amplitude_user_json)
def amplitude_user_record(rec: dict) -> dict:
    return {
        "user_id": rec.get("user_id"),
        "user_properties": dict(rec.get("user_properties") or {}),
    }


def _woopra_json(col) -> Column:
    action = "struct<name:string,timestamp:bigint,properties:map<string,string>>"
    actions = F.transform(
        F.coalesce(col("actions", f"array<{action}>"), F.array()),
        lambda a: F.struct(
            a["name"].alias("name"),
            a["timestamp"].alias("timestamp"),
            json_map(a["properties"]).alias("properties"),
        ),
    )

    def record(visitor: Column) -> Column:
        return json_text(
            F.struct(col("project"), visitor.alias("visitor"), actions.alias("actions"))
        )

    # the visitor is a struct, so a null one renders as {} in its own branch
    visitor = col("visitor", "struct<id:string>")
    return F.when(visitor.isNull(), record(json_map(F.lit(None)))).otherwise(
        record(visitor)
    )


@wire_record(_woopra_json)
def woopra_record(rec: dict) -> dict:
    return {
        "project": rec.get("project"),
        "visitor": dict(rec.get("visitor") or {}),
        "actions": [
            {
                "name": a.get("name"),
                "timestamp": a.get("timestamp"),
                "properties": dict(a.get("properties") or {}),
            }
            for a in (rec.get("actions") or [])
        ],
    }


def amplitude_events_sink(
    api_key: str,
    url: str = AMPLITUDE_HTTP_API,
    transport: Optional[Transport] = None,
    pacing_s: float = VENDOR_PACING_S,
) -> HttpSink:
    """Amplitude HTTP API v2 requires the {"api_key", "events": [...]}
    envelope (reference load/sendOther.js sets options.data.api_key and
    data.events = chunk) — built per batch by the envelope hook."""

    def envelope(batch: list) -> bytes:
        return (
            b'{"api_key":"' + api_key.encode() + b'","events":['
            + b",".join(batch)
            + b"]}"
        )

    cfg = HttpSinkConfig(
        url=url,
        envelope=envelope,
        max_records=AMP_EVENTS_PER_BATCH,
        gzip=False,  # Amplitude HTTP API v2 takes plain JSON
        strict=False,
        min_interval_s=pacing_s,
    )
    return HttpSink(cfg, amplitude_event_record, transport)


def amplitude_users_sink(
    api_key: str,
    url: str = AMPLITUDE_IDENTIFY_API,
    transport: Optional[Transport] = None,
    pacing_s: float = VENDOR_PACING_S,
) -> HttpSink:
    """Amplitude /identify takes form-encoded api_key + identification
    (a JSON array) — reference load/sendOther.js /identify call shape."""

    def envelope(batch: list) -> bytes:
        import urllib.parse

        ident = b"[" + b",".join(batch) + b"]"
        return urllib.parse.urlencode(
            {"api_key": api_key, "identification": ident.decode("utf-8")}
        ).encode("utf-8")

    cfg = HttpSinkConfig(
        url=url,
        envelope=envelope,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
        max_records=AMP_USERS_PER_BATCH,
        gzip=False,
        strict=False,
        min_interval_s=pacing_s,
    )
    return HttpSink(cfg, amplitude_user_record, transport)


def woopra_sink(
    project: str,
    url: str = WOOPRA_IMPORT_URL,
    transport: Optional[Transport] = None,
    username: str = "",
    password: str = "",
) -> HttpSink:
    """Woopra bulk import: NDJSON body over authenticated PUT with the
    project in the query string (reference load/sendOther.js woopraFlush:
    chunk.map(JSON.stringify).join('\n'), method PUT, basic auth)."""
    import urllib.parse

    q = urllib.parse.urlencode({"project": project})
    full_url = f"{url}{'&' if '?' in url else '?'}{q}"
    headers = {"Content-Type": "application/x-ndjson"}
    if username or password:
        headers.update(basic_auth(username, password))
    cfg = HttpSinkConfig(
        url=full_url,
        method="PUT",
        envelope=b"\n".join,
        headers=headers,
        max_records=WOOPRA_PER_BATCH,
        gzip=False,
        strict=False,
    )
    return HttpSink(cfg, woopra_record, transport)

