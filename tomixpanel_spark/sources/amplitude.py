"""Amplitude /export source (SURVEY.md §2.1 S1/S2).

The reference fetches one zip per date range with basic auth
(extract/amplitude.js:42-67), then unzip/gunzips via child processes
(:72-134); its parallelism story is ampReplicator.js generating one config
per DATE-HOUR and running 5 shell processes.

Engine shape: the date-hour slicing IS the partitioning. ``hour_slices``
enumerates the export partitions; fetching is a driver-side loop (or
thread pool) per slice through an injectable ``http`` callable into a
staging dir; Spark then reads the whole staging tree in one parallel
``read.schema(...).json`` (gzip members decompress natively; zip expanded
driver-side). Source-side predicate pushdown = the date-hour range in the
URL (S1), then Catalyst prunes further on read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from tomixpanel_spark.schemas import AMP_EVENT_SCHEMA
from tomixpanel_spark.sinks.http import basic_auth
from tomixpanel_spark.sources.staging import expand_zip, read_json_auto

EXPORT_URL = "https://amplitude.com/api/2/export"
FETCH_PARALLELISM = 5  # reference ampReplicator.js:27

# http(url, headers) -> bytes (zip archive)
HttpGet = Callable[[str, dict], bytes]


@dataclass
class AmplitudeSource:
    api_key: str
    api_secret: str
    start: str  # ISO date or YYYYMMDDTHH
    end: str
    staging_dir: str
    http: Optional[HttpGet] = None

    def hour_slices(self) -> list[tuple[str, str]]:
        """Date-hour partitions in Amplitude's YYYYMMDDTHH format
        (connectors/amplitudeETL.js:24-27; ampReplicator.js:44-55)."""

        def parse(s: str) -> datetime:
            for fmt in ("%Y%m%dT%H", "%Y-%m-%d"):
                try:
                    return datetime.strptime(s, fmt)
                except ValueError:
                    continue
            raise ValueError(f"unparseable date: {s}")

        t0, t1 = parse(self.start), parse(self.end)
        out = []
        t = t0
        while t <= t1:
            nxt = t + timedelta(hours=1)
            out.append((t.strftime("%Y%m%dT%H"), t.strftime("%Y%m%dT%H")))
            t = nxt
        return out

    def fetch(self) -> list[str]:
        """Fetch every hour slice into the staging dir; returns NDJSON(.gz)
        paths. Requires an injected ``http`` (no vendor calls from tests)."""
        if self.http is None:
            raise RuntimeError(
                "AmplitudeSource.fetch needs an http callable "
                "(network access is injected, never implicit)"
            )
        os.makedirs(self.staging_dir, exist_ok=True)
        headers = basic_auth(self.api_key, self.api_secret)

        def fetch_one(slice_: tuple[str, str]) -> list[str]:
            start, end = slice_
            url = f"{EXPORT_URL}?start={start}&end={end}"
            blob = self.http(url, headers)
            zip_path = os.path.join(self.staging_dir, f"export_{start}.zip")
            with open(zip_path, "wb") as f:
                f.write(blob)
            return expand_zip(zip_path, os.path.join(self.staging_dir, start))

        # driver-side parallel fetch across date-hour slices — the engine's
        # ampReplicator (reference ampReplicator.js:27 runs 5 shell procs)
        from concurrent.futures import ThreadPoolExecutor

        paths: list[str] = []
        with ThreadPoolExecutor(max_workers=FETCH_PARALLELISM) as pool:
            for got in pool.map(fetch_one, self.hour_slices()):
                paths.extend(got)
        return paths

    def read(self, spark: SparkSession, paths: Optional[list[str]] = None) -> DataFrame:
        """Read staged export files as typed Amplitude events. ``paths``
        may point at a pre-staged dir (source.options.path skip,
        connectors/amplitudeETL.js:30-36)."""
        return read_json_auto(spark, paths or self.staging_dir, AMP_EVENT_SCHEMA)
