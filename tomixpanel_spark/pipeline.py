"""Config-driven pipeline API mirroring the reference CLI dispatch
(index.js:69-91 switch on config.source.name; examples/configExample-*.json).

A job config is the same shape a reference user writes:

    {
      "source": {"name": "csv" | "amplitude" | "ga" | "mixpanel",
                  "options": {...}},
      "destination": {"name": "mixpanel", "token": "...", "options": {...}}
    }

``/import`` auth rides ``destination.options.headers`` (e.g. an
``Authorization`` header from ``sinks.http.basic_auth``); library callers
can build the service-account sink with ``sinks.http.mixpanel_import_sink``.

``build(spark, config)`` returns the PipelinePlan — the lazy canonical
DataFrames (events / profiles / merges) — which is the engine's IR: no
staged files between stages (SURVEY.md §1.3), just lineage. ``run`` wires
the plan into the HTTP sinks and returns receipt summaries; sinks and
source fetchers take injected transports, so nothing here touches the
network implicitly.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from tomixpanel_spark.session import ensure_semantics
from tomixpanel_spark.sinks.batching import EVENTS_PER_BATCH, PROFILES_PER_BATCH
from tomixpanel_spark.sinks.http import (
    RECEIPT_SCHEMA,
    HttpSink,
    HttpSinkConfig,
    mp_event_record,
    mp_merge_record,
    mp_profile_record,
    summarize_receipts,
)

MIXPANEL_IMPORT_URL = "https://api.mixpanel.com/import"
MIXPANEL_ENGAGE_URL = "https://api.mixpanel.com/engage"


@dataclass
class PipelinePlan:
    events: Optional[DataFrame] = None
    profiles: Optional[DataFrame] = None
    merges: Optional[DataFrame] = None


def build(spark: SparkSession, config: dict) -> PipelinePlan:
    """Source config -> lazy canonical plan (the transform stage)."""
    ensure_semantics(spark)
    src = config["source"]
    name = src["name"]
    opts = src.get("options", {})
    token = config.get("destination", {}).get("token")

    if name == "csv":
        from tomixpanel_spark.sources.csv import read_csv_all_strings
        from tomixpanel_spark.sources.staging import valid_records
        from tomixpanel_spark.transforms.csv import CsvMapping, csv_events, csv_profiles

        # V3 gate at row granularity: malformed rows are quarantined out of
        # the transform input (the reference skips whole files on any error)
        df = valid_records(read_csv_all_strings(spark, opts["path"], with_corrupt=True))
        m = CsvMapping(
            event_name_col=opts["event_name_col"],
            distinct_id_col=opts["distinct_id_col"],
            time_col=opts["time_col"],
            insert_id_col=opts.get("insert_id_col"),
            ignore_cols=opts.get("ignore_cols", []),
            import_tag=opts.get("import_tag"),
            token=token,
        )
        plan = PipelinePlan(events=csv_events(df, m))
        if opts.get("create_profiles"):
            plan.profiles = csv_profiles(df, m)
        return plan

    if name == "amplitude":
        from tomixpanel_spark.sources.amplitude import AmplitudeSource
        from tomixpanel_spark.sources.staging import valid_records
        from tomixpanel_spark.transforms.amplitude import amplitude_to_mixpanel

        source = AmplitudeSource(
            api_key=opts.get("api_key", ""),
            api_secret=opts.get("api_secret", ""),
            start=opts.get("start", ""),
            end=opts.get("end", ""),
            staging_dir=opts.get("staging_dir", opts.get("path", "")),
            http=opts.get("http"),
        )
        paths = opts.get("path") or source.fetch()
        raw = valid_records(source.read(spark, paths))
        out = amplitude_to_mixpanel(
            raw, token=token, run_time_ms=opts.get("run_time_ms", 0)
        )
        return PipelinePlan(out.events, out.profiles, out.merges)

    if name in ("ga", "ga360", "googleAnalytics"):
        from tomixpanel_spark.sources.gcs import GcsGaSource
        from tomixpanel_spark.sources.staging import valid_records
        from tomixpanel_spark.transforms.ga import ga_events, ga_profiles

        source = GcsGaSource(
            bucket=opts.get("bucket", ""),
            staging_dir=opts.get("staging_dir", opts.get("path_to_data", "")),
            list_objects=opts.get("list_objects"),
            download=opts.get("download"),
        )
        paths = opts.get("path_to_data") or source.fetch()
        read = source.read(spark, paths)
        # V1 semantic half (reference transform/gaToMixpanel.js:51-57):
        # config.source.options.constraints = a draft-04-subset dict ->
        # whole-file skip on enum/required/pattern violations, compiled
        # to one Catalyst predicate (functions/schema_constraints.py).
        # Omitted -> the typed-shape gate alone, row-granular salvage.
        if opts.get("constraints"):
            from tomixpanel_spark.functions.schema_constraints import (
                constraint_file_skip,
            )

            raw = constraint_file_skip(read, opts["constraints"])
        else:
            raw = valid_records(read)
        return PipelinePlan(
            events=ga_events(
                raw,
                move_to_present=bool(opts.get("move_data_to_present")),
                anchor_now_ms=opts.get("anchor_now_ms"),
            ),
            profiles=ga_profiles(raw, token=token),
        )

    if name == "mixpanel":
        from tomixpanel_spark.transforms.mixpanel import (
            mp_engage_profiles,
            mp_export_events,
        )

        raw = _mixpanel_export_raw(spark, opts)
        plan = PipelinePlan(events=mp_export_events(raw))
        # People migration (S8): config.source.options.doPeople pages
        # /engage and re-imports profiles (connectors/mixpanelETL.js:
        # 115-182). The profiles stream then rides run()'s /engage sink
        # (mixpanel destination) or the /identify reverse sink.
        if opts.get("doPeople") or opts.get("people"):
            plan.profiles = mp_engage_profiles(
                _mixpanel_engage_pages(spark, opts), token
            )
        return plan

    raise ValueError(f"unknown source: {name!r}")


def _mixpanel_export_raw(spark: SparkSession, opts: dict) -> DataFrame:
    """/export fetch+read -> validated raw {event, properties} rows.
    Shared by the forward (mixpanel->mixpanel) build and the reverse-ETL
    path, which reshapes the RAW export rows (load/sendOther.js)."""
    from tomixpanel_spark.sources.mixpanel import MixpanelExportSource
    from tomixpanel_spark.sources.staging import valid_records

    source = MixpanelExportSource(
        api_secret=opts.get("api_secret", ""),
        from_date=opts.get("from_date", ""),
        to_date=opts.get("to_date", ""),
        staging_dir=opts.get("staging_dir", opts.get("path", "")),
        where=opts.get("where"),
        events=opts.get("events"),
        http=opts.get("http"),
    )
    path = opts.get("path") or source.fetch()
    return valid_records(source.read(spark, path))


def _mixpanel_engage_pages(spark: SparkSession, opts: dict) -> DataFrame:
    """/engage cursor-paged fetch+read (connectors/mixpanelETL.js:140-182).
    ``engage_path`` skips the fetch (pre-staged pages); ``http_post`` is
    the injected transport."""
    import os

    from tomixpanel_spark.sources.mixpanel import MixpanelEngageSource

    # staging base: staging_dir if given; otherwise derive from `path` —
    # which may be the staged export FILE (the export source treats
    # path-as-file), so fall back to its parent directory rather than
    # trying to mkdir under a file
    base = opts.get("staging_dir")
    if not base:
        p = opts.get("path", "")
        base = p if (not p or os.path.isdir(p)) else (os.path.dirname(p) or ".")
    staging = opts.get("engage_staging_dir") or os.path.join(base or ".", "engage")
    source = MixpanelEngageSource(
        api_secret=opts.get("api_secret", ""),
        staging_dir=staging,
        http_post=opts.get("http_post"),
    )
    paths = opts.get("engage_path") or source.fetch_pages()
    return source.read(spark, paths)


def run(
    spark: SparkSession,
    config: dict,
    transport=None,
    concurrency: Optional[int] = None,
) -> dict:
    """build + load: send the plan through the Mixpanel sinks. The three
    streams go out concurrently (``_send_all``); the summaries keep the
    reference's order (events, then profiles, then merges —
    connectors/amplitudeETL.js:63-65). Returns per-stream receipt summaries.

    ``destination.options.save_local_copy`` (K9): checkpoint each canonical
    stream as parquet under ``save_dir`` before sending, and persist the
    batch receipts as the response log (reference writes eventLogs.json
    etc., connectors/amplitudeETL.js:74-78) — failed receipts double as
    the replayable dead-letter store.

    ``destination.name: "amplitude" | "woopra"`` routes the reverse-ETL
    path instead (index.js:85-91 -> load/sendOther.js:7-18), matching the
    reference: only the mixpanel source reverses out.
    """
    dest = config.get("destination", {})
    dopts = dest.get("options", {})
    save_dir = dopts.get("save_dir") if dopts.get("save_local_copy") else None
    if dopts.get("save_local_copy") and not save_dir:
        raise ValueError("destination.options.save_local_copy requires save_dir")
    dest_name = str(dest.get("name", "mixpanel")).lower()
    if dest_name in ("amplitude", "woopra"):
        return _run_reverse(spark, config, dest_name, transport, concurrency, save_dir)
    plan = build(spark, config)
    import_url = dopts.get("import_url", MIXPANEL_IMPORT_URL)
    import_batch = dopts.get("recordsPerBatch", EVENTS_PER_BATCH)
    import_strict = dopts.get("strict", True)
    destinations = (
        # (name, df, url, max_records, strict, to_record); /engage has no
        # strict param (K5)
        ("events", plan.events, import_url, import_batch, import_strict, mp_event_record),
        ("profiles", plan.profiles, dopts.get("engage_url", MIXPANEL_ENGAGE_URL),
         dopts.get("profilesPerBatch", PROFILES_PER_BATCH), False, mp_profile_record),
        ("merges", plan.merges, import_url, import_batch, import_strict, mp_merge_record),
    )
    sends = []
    for name, df, url, max_records, strict, to_record in destinations:
        if df is None:
            continue
        cfg = HttpSinkConfig(
            url=url,
            headers=dopts.get("headers", {}),
            max_records=max_records,
            gzip=dopts.get("gzip", True),
            strict=strict,
            min_interval_s=dopts.get("min_interval_s", 0.0),
        )
        sends.append((name, df, HttpSink(cfg, to_record, transport)))
    return _send_all(sends, save_dir, concurrency, partition_events=True)


def _send_all(
    sends: list,
    save_dir: Optional[str],
    concurrency: Optional[int],
    partition_events: bool = False,
) -> dict:
    """Send every ``(name, df, sink)`` at once, one ``InheritableThread``
    each, so a cached source is read once and one stream's retry backoff
    and job start-up overlap the others. Threads inherit the caller's
    local properties (job group). Once every send has finished, an error
    from any of them re-raises here; the summary keeps the order of
    ``sends``.

    ``min_interval_s`` stays a global rate: with k pacing sinks running
    at once, each paces at k times its interval."""
    from pyspark import InheritableThread

    pacing = sum(sink.cfg.min_interval_s > 0 for _, _, sink in sends)
    done: dict = {}

    def send(name: str, df: DataFrame, sink: HttpSink) -> None:
        try:
            if pacing > 1:
                cfg = replace(sink.cfg, min_interval_s=sink.cfg.min_interval_s * pacing)
                sink = HttpSink(cfg, sink.to_record, sink.transport)
            done[name] = _checkpointed_send(
                name, df, sink, save_dir, concurrency,
                partition_events=partition_events and name == "events",
            )
        except BaseException as e:  # re-raised on the calling thread
            done[name] = e

    threads = [InheritableThread(target=send, args=s) for s in sends]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for name, _, _ in sends:
        if isinstance(done[name], BaseException):
            raise done[name]
    return {name: done[name] for name, _, _ in sends}


def _checkpointed_send(
    name: str,
    df: DataFrame,
    sink: HttpSink,
    save_dir: Optional[str],
    concurrency: Optional[int],
    partition_events: bool = False,
) -> dict:
    """K9 send wrapper shared by the forward and reverse load paths: with
    a ``save_dir`` (None means no copy), checkpoint the outgoing stream as
    parquet and persist the batch receipts as the response log /
    dead-letter store.

    Checkpoint first, then SEND FROM THE CHECKPOINT: one computation of
    the transform lineage, and the saved copy is byte-identical to what
    was sent. ``partition_events`` gives the stream the date-partitioned
    lake layout so replays prune."""
    if save_dir:
        from tomixpanel_spark.sinks.lake import write_events_partitioned

        if partition_events:
            write_events_partitioned(df, f"{save_dir}/{name}")
        else:
            df.write.mode("overwrite").parquet(f"{save_dir}/{name}")
        df = df.sparkSession.read.parquet(f"{save_dir}/{name}")
    receipts = sink.send(df, concurrency)
    if save_dir:
        # drive the send EXACTLY ONCE: persist receipts to disk, then
        # summarize from the re-read — a second action on the live
        # receipt stream could re-POST batches on cache eviction
        receipts.write.mode("overwrite").json(f"{save_dir}/{name}_receipts")
        # explicit schema: empty receipt dirs can't infer, and the JSON
        # writer omits null columns on all-success runs
        receipts = df.sparkSession.read.schema(RECEIPT_SCHEMA).json(
            f"{save_dir}/{name}_receipts"
        )
    return summarize_receipts(receipts)


def _run_reverse(
    spark: SparkSession,
    config: dict,
    dest_name: str,
    transport,
    concurrency: Optional[int],
    save_dir: Optional[str],
) -> dict:
    """Reverse-ETL: mixpanel /export (+ optional /engage people) to
    Amplitude or Woopra, mirroring load/sendOther.js.

      * amplitude: events -> HTTP API v2 (2,000/batch), users ->
        /identify (1,000/batch) when source.options.doPeople
        (sendOther.js:166-258).
      * woopra: events -> bulk NDJSON PUT (10,000/batch); users are
        unsupported upstream and recorded as skipped (sendOther.js:73-75).

    The reverse transforms reshape the RAW export rows (event +
    properties map), so this path reads the source directly rather than
    going through the canonical event plan."""
    # build() pins UTC + LAST_WIN map semantics for the forward path;
    # the reverse path short-circuits before build() and reshapes the
    # same property maps, so it must pin the identical session semantics
    ensure_semantics(spark)
    src = config["source"]
    if src["name"] != "mixpanel":
        raise ValueError(
            f"destination {dest_name!r} only reverses the mixpanel source "
            "(index.js:85-91)"
        )
    opts = src.get("options", {})
    dest = config.get("destination", {})
    dopts = dest.get("options", {})
    from tomixpanel_spark.transforms.mixpanel import (
        mp_engage_profiles,
        mp_to_amplitude_events,
        mp_to_amplitude_users,
        mp_to_woopra_events,
    )

    # K9 applies to the reverse path too (the reference stages the export
    # file and keeps it under save_local_copy)
    raw = _mixpanel_export_raw(spark, opts)
    do_people = bool(opts.get("doPeople") or opts.get("people"))
    if dest_name == "amplitude":
        from tomixpanel_spark.sinks.reverse import (
            AMPLITUDE_HTTP_API,
            AMPLITUDE_IDENTIFY_API,
            VENDOR_PACING_S,
            amplitude_events_sink,
            amplitude_users_sink,
        )

        api_key = dest.get("api_key") or dest.get("token") or ""
        pacing_s = dopts.get("pacing_s", VENDOR_PACING_S)
        ev_sink = amplitude_events_sink(
            api_key,
            url=dopts.get("httpapi_url", AMPLITUDE_HTTP_API),
            transport=transport,
            pacing_s=pacing_s,
        )
        sends = [("events", mp_to_amplitude_events(raw), ev_sink)]
        if do_people:
            profiles = mp_engage_profiles(
                _mixpanel_engage_pages(spark, opts), dest.get("token")
            )
            us_sink = amplitude_users_sink(
                api_key,
                url=dopts.get("identify_url", AMPLITUDE_IDENTIFY_API),
                transport=transport,
                pacing_s=pacing_s,
            )
            sends.append(("users", mp_to_amplitude_users(profiles), us_sink))
        return _send_all(sends, save_dir, concurrency)

    from tomixpanel_spark.sinks.reverse import WOOPRA_IMPORT_URL, woopra_sink

    project = dest.get("project") or dest.get("domain") or ""
    sink = woopra_sink(
        project,
        url=dopts.get("url", WOOPRA_IMPORT_URL),
        transport=transport,
        username=dest.get("username", dest.get("service_account_user", "")),
        password=dest.get("password", dest.get("service_account_pass", "")),
    )
    summary = _send_all(
        [("events", mp_to_woopra_events(raw, project), sink)], save_dir, concurrency
    )
    if do_people:
        summary["users"] = {"skipped": "woopra users unsupported upstream"}
    return summary
