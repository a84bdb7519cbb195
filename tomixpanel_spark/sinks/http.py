"""HTTP sink: partition-parallel batched POSTs with retries, rate limiting,
and a dead-letter receipt stream (SURVEY.md §2.2 K4/K5/K7/K10, §4).

Design (the 100 TB stance):
  * The sink is a TRANSFORM, not a terminal action: ``send(df)`` returns a
    receipt DataFrame (one row per batch: status, counts, error, and the
    failed payload for dead-lettering). Callers aggregate receipts for
    totals, persist failures for replay, and the whole thing stays lazy /
    restartable. This deliberately improves on the reference, which
    swallows send errors per batch with no retry (K10,
    load/sendEventsToMixpanel.js:100-115; README.md:9 "no way to resume").
  * Wire JSON is built on the JVM: each wire record shape is a
    ``WireRecord`` whose ``to_json(df)`` Column renders the record, so a
    send task only packs the encoded bytes into count/byte-capped batches,
    gzips (zlib level 6) and POSTs. Calling the ``WireRecord`` on a row
    dict is the Python spec of the same record; the two agree byte for
    byte through ``serialize_record``.
  * Idempotency: payloads carry deterministic $insert_id (T8), so Spark
    task retries re-sending a batch cannot double-import.
  * Concurrency = partition count: ``df.repartition(n)`` is the
    reference's 5-process fan-out (ampReplicator.js:27) done properly.
    ``pipeline.run`` sends its destinations concurrently, one thread each.
  * Rate limiting: ``min_interval_s`` is a global interval between
    batches; each of N partitions paces at N times it, and when k pacing
    sends run at once ``pipeline.run`` scales each to k times that (the
    reference sleeps 2 s between vendor batches, load/sendOther.js:110,223).
  * Transport is injectable — tests run against a local stub server or an
    in-process fake; production uses urllib. No external deps.
"""

from __future__ import annotations

import base64
import functools
import gzip
import time
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tomixpanel_spark.schemas import MAP_SS
from tomixpanel_spark.sinks.batching import (
    BYTES_PER_BATCH,
    EVENTS_PER_BATCH,
    GZIP_LEVEL,
    finish_json,
    json_array,
    pack_batches,
)

# transport(url, body, headers, method) -> (status_code, response_text)
Transport = Callable[[str, bytes, dict, str], tuple[int, str]]

RECEIPT_SCHEMA = (
    "partition_id int, batch_index int, n_records int, n_bytes int, "
    "status int, ok boolean, attempts int, error string, payload string"
)
RECEIPT_COLUMNS = [c.split()[0] for c in RECEIPT_SCHEMA.split(", ")]
MAX_ATTEMPTS = 4
RETRY_STATUSES = (429, 500, 502, 503, 504)  # and -1, a network-level failure


class WireRecord:
    """One wire record shape in two forms. Calling it maps a row (as a
    dict) to the wire dict: the Python spec, rendered by
    ``serialize_record``. ``to_json(df)`` is the same record as a JSON
    string Column built on the JVM, which ``HttpSink.send`` ships; after
    ``finish_json`` its bytes equal ``serialize_record(spec(row))``."""

    def __init__(self, spec: Callable[[dict], dict], column: Callable[[Callable], Column]):
        functools.update_wrapper(self, spec)
        self.spec = spec
        self.column = column

    def __call__(self, rec: dict) -> dict:
        return self.spec(rec)

    def to_json(self, df: DataFrame) -> Column:
        def col(name: str, dtype="string") -> Column:
            # a missing column reads as null, like ``rec.get`` in the spec
            c = F.col(f"`{name}`") if name in df.columns else F.lit(None).cast(dtype)
            return c.alias(name)

        return self.column(col)


def wire_record(column: Callable[[Callable], Column]):
    """Decorator: pair a Python wire spec with its Column form. ``column``
    takes ``col(name, dtype)`` (the named column, or a typed null when
    the frame lacks it) and returns the record's JSON Column."""
    return lambda spec: WireRecord(spec, column)


def json_text(record: Column) -> Column:
    """A struct/map Column as JSON text with nulls kept, as
    ``json.dumps`` keeps ``None`` values."""
    return F.to_json(record, {"ignoreNullFields": "false"})


def json_map(m: Column) -> Column:
    """``dict(m or {})``: a null map renders as ``{}``."""
    return F.coalesce(m, F.create_map().cast(MAP_SS))


def basic_auth(user: str, secret: str) -> dict:
    """HTTP Basic ``Authorization`` header, as every vendor API here takes
    it (reference: ``'Basic ' + btoa(user:secret)``)."""
    tok = base64.b64encode(f"{user}:{secret}".encode()).decode()
    return {"Authorization": f"Basic {tok}"}


def urllib_transport(
    url: str, body: bytes, headers: dict, method: str = "POST"
) -> tuple[int, str]:
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read().decode("utf-8", "replace")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8", "replace")


@dataclass
class HttpSinkConfig:
    url: str
    method: str = "POST"
    # envelope(batch: list[bytes]) -> request body. Vendor APIs wrap
    # batches differently (Amplitude {api_key, events}, identify
    # form-encoding, Woopra NDJSON) — see sinks/reverse.py.
    envelope: Callable[[list], bytes] = json_array
    headers: dict = field(default_factory=dict)
    max_records: int = EVENTS_PER_BATCH
    gzip: bool = True
    strict: bool = True  # Mixpanel /import strict=1 (K4, :166)
    backoff_s: float = 0.5  # exponential: 0.5, 1, 2, ...
    # minimum interval between batches across ALL partitions: each of N
    # partitions paces at N * min_interval_s
    min_interval_s: float = 0.0


class HttpSink:
    """Batched, retrying, receipt-emitting HTTP sink over any record
    DataFrame. ``to_record`` is the ``WireRecord`` that encodes each row;
    ``send`` needs its Column form."""

    def __init__(
        self,
        cfg: HttpSinkConfig,
        to_record: WireRecord,
        transport: Optional[Transport] = None,
    ):
        self.cfg = cfg
        self.to_record = to_record
        self.transport = transport or urllib_transport

    def send(
        self,
        df: DataFrame,
        concurrency: Optional[int] = None,
        target_rows_per_task: Optional[int] = None,
    ) -> DataFrame:
        """Returns the receipt DataFrame (lazy — an action on it drives the
        send). One POST task stream per partition.

        Partition count IS the request concurrency, and each partition
        packs its own batches — a tiny record set spread over many
        partitions fans out as under-filled POSTs (one per partition
        instead of one per ``max_records``). ``target_rows_per_task``
        opts into the bulk-load fix: persist + count the records (the
        sink drives an action, giving up laziness for sizing) and
        coalesce to ``ceil(n / target)`` partitions so batches fill.
        Sensible target: ``cfg.max_records`` (each task sends ~one full
        batch) or a small multiple of it for fewer, longer request
        streams."""
        from tomixpanel_spark.session import ensure_semantics, python_stage

        if not callable(getattr(self.to_record, "to_json", None)):
            raise TypeError(
                f"HttpSink.send needs a WireRecord with a to_json Column form, "
                f"got {self.to_record!r}"
            )
        # LAST_WIN: the event encoder's map_concat overrides props keys
        ensure_semantics(df.sparkSession)
        if concurrency:
            df = df.repartition(concurrency)
        elif target_rows_per_task:
            df = df.persist()
            n = df.count()
            want = max(1, -(-n // target_rows_per_task))  # ceil div
            if want < df.rdd.getNumPartitions():
                df = df.coalesce(want)
        # encoded in the send tasks, after the shuffle, as bytes for Arrow
        df = df.select(self.to_record.to_json(df).cast("binary").alias("json"))
        cfg, transport = self.cfg, self.transport
        url = cfg.url
        if cfg.strict:
            url += ("&" if "?" in url else "?") + "strict=1"
        headers = dict(cfg.headers)
        headers.setdefault("Content-Type", "application/json")
        if cfg.gzip:
            headers["Content-Encoding"] = "gzip"
        interval = 0.0
        if cfg.min_interval_s > 0:
            interval = cfg.min_interval_s * (concurrency or df.rdd.getNumPartitions())

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else -1

            def records() -> Iterator[bytes]:
                for pdf in batches:
                    yield from map(finish_json, pdf["json"])

            out = []
            last_send = 0.0
            for bi, batch in enumerate(
                pack_batches(records(), cfg.max_records, BYTES_PER_BATCH)
            ):
                body = cfg.envelope(batch)
                if cfg.gzip:
                    body = gzip.compress(body, GZIP_LEVEL)
                wait = interval - (time.monotonic() - last_send)
                if wait > 0:
                    time.sleep(wait)
                for attempts in range(1, MAX_ATTEMPTS + 1):
                    try:
                        status, text = transport(url, body, headers, cfg.method)
                    except Exception as e:  # network-level failure
                        status, text = -1, repr(e)
                    if status == 200 or (status != -1 and status not in RETRY_STATUSES):
                        break
                    if attempts < MAX_ATTEMPTS:  # no sleep after last try
                        time.sleep(cfg.backoff_s * 2 ** (attempts - 1))
                last_send = time.monotonic()
                ok = status == 200
                out.append(
                    {
                        "partition_id": pid,
                        "batch_index": bi,
                        "n_records": len(batch),
                        "n_bytes": len(body),
                        "status": status,
                        "ok": ok,
                        "attempts": attempts,
                        "error": None if ok else text[:2000],
                        "payload": None if ok else json_array(batch).decode("utf-8"),
                    }
                )
            yield pd.DataFrame(out, columns=RECEIPT_COLUMNS)

        return python_stage(df, run, RECEIPT_SCHEMA)


def summarize_receipts(receipts: DataFrame) -> dict:
    """Aggregate receipt rows into the reference's summary counters
    (connectors/amplitudeETL.js:67-71 success/failed accounting)."""
    row = receipts.agg(
        F.count(F.lit(1)).alias("batches"),
        F.sum(F.when(F.col("ok"), F.col("n_records")).otherwise(0)).alias("imported"),
        F.sum(F.when(~F.col("ok"), F.col("n_records")).otherwise(0)).alias("failed"),
        F.sum("n_bytes").alias("bytes_sent"),
    ).collect()[0]
    return {k: (0 if row[k] is None else int(row[k])) for k in row.asDict()}


def dead_letters(receipts: DataFrame) -> DataFrame:
    """Failed batches with payloads — persist and replay (improves on K10
    error swallowing)."""
    return receipts.filter(~F.col("ok"))


MIXPANEL_IMPORT_URL_US = "https://api.mixpanel.com/import"
MIXPANEL_IMPORT_URL_EU = "https://api-eu.mixpanel.com/import"


def mixpanel_import_sink(
    project_id: str,
    username: str,
    secret: str,
    url: Optional[str] = None,
    eu: bool = False,
    transport: Optional[Transport] = None,
    **cfg_overrides,
) -> "HttpSink":
    """Service-account /import sink: builds the Basic Authorization header
    and project_id+strict=1 query params from credentials, the way the
    reference bakes them into the event loader
    (load/sendEventsToMixpanel.js:164-172: ``'Basic ' +
    btoa(username:password)``, ``?project_id=...&strict=1``).

    ``url`` overrides the endpoint for tests; otherwise the US/EU ingestion
    endpoint (sendEventsToMixpanel.js:13-14) is used. Extra keyword args
    pass through to :class:`HttpSinkConfig` (batching, pacing, retries).
    """
    from urllib.parse import urlencode

    base = url or (MIXPANEL_IMPORT_URL_EU if eu else MIXPANEL_IMPORT_URL_US)
    sep = "&" if "?" in base else "?"
    full_url = f"{base}{sep}{urlencode({'project_id': project_id})}"
    headers = {**cfg_overrides.pop("headers", {}), **basic_auth(username, secret)}
    cfg = HttpSinkConfig(url=full_url, headers=headers, **cfg_overrides)
    return HttpSink(cfg, mp_event_record, transport=transport)


def _mp_event_json(col) -> Column:
    # map_concat under LAST_WIN keeps dict.update's order: a props key
    # that collides keeps its slot and takes the new value. The map is
    # string-valued, so ``time`` is unquoted back to an integer after.
    props = F.map_concat(
        json_map(col("props", MAP_SS)),
        F.create_map(
            F.lit("distinct_id"), col("distinct_id"),
            F.lit("time"), col("time_ms", "bigint").cast("string"),
            F.lit("$insert_id"), col("insert_id"),
        ),
    )
    text = json_text(F.struct(col("event"), props.alias("properties")))
    return F.regexp_replace(text, r'([{,])"time":"(-?[0-9]+)"', '$1"time":$2')


@wire_record(_mp_event_json)
def mp_event_record(rec: dict) -> dict:
    """Canonical typed event row -> Mixpanel /import wire shape."""
    props = dict(rec.get("props") or {})
    props.update(
        {
            "distinct_id": rec.get("distinct_id"),
            "time": rec.get("time_ms"),
            "$insert_id": rec.get("insert_id"),
        }
    )
    return {"event": rec.get("event"), "properties": props}


def _mp_profile_json(col) -> Column:
    fields = [
        col("token").alias("$token"),
        col("distinct_id").alias("$distinct_id"),
        col("ip").alias("$ip"),
        json_map(col("set", MAP_SS)).alias("$set"),
    ]
    return F.when(
        F.coalesce(col("ignore_time", "boolean"), F.lit(False)),
        json_text(F.struct(*fields, F.lit(True).alias("$ignore_time"))),
    ).otherwise(json_text(F.struct(*fields)))


@wire_record(_mp_profile_json)
def mp_profile_record(rec: dict) -> dict:
    """Canonical profile row -> /engage $set wire shape (K5; token rides in
    each record, endpoint unauthenticated — sendProfilesToMixpanel.js:48-99)."""
    out = {
        "$token": rec.get("token"),
        "$distinct_id": rec.get("distinct_id"),
        "$ip": rec.get("ip"),
        "$set": dict(rec.get("set") or {}),
    }
    if rec.get("ignore_time"):
        out["$ignore_time"] = True
    return out


def _mp_merge_json(col) -> Column:
    return json_text(
        F.struct(
            F.lit("$merge").alias("event"),
            F.struct(
                F.array(col("id_a"), col("id_b")).alias("$distinct_ids"),
                col("insert_id").alias("$insert_id"),
                col("time_ms", "bigint").alias("time"),
            ).alias("properties"),
        )
    )


@wire_record(_mp_merge_json)
def mp_merge_record(rec: dict) -> dict:
    """Merge edge row -> $merge event wire shape (M5)."""
    return {
        "event": "$merge",
        "properties": {
            "$distinct_ids": [rec.get("id_a"), rec.get("id_b")],
            "$insert_id": rec.get("insert_id"),
            "time": rec.get("time_ms"),
        },
    }
