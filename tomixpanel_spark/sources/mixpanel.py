"""Mixpanel /export and /engage sources (SURVEY.md §2.1 S6/S7/S8).

/export: the reference shells out to curl with from/to dates plus optional
``where`` segmentation expression and ``event`` list in the query string
(connectors/mixpanelETL.js:70-99) — source-side predicate pushdown (S7).
Engine: same pushdown parameters, injectable http, NDJSON staging, typed
read.

/engage: paged POST loop while results.length >= page_size
(connectors/mixpanelETL.js:115-182). API pagination is inherently
sequential (session_id + page cursor), so the driver loops; each page
lands as rows immediately and the union is lazy.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from tomixpanel_spark.schemas import MP_ENGAGE_PAGE_SCHEMA, MP_EXPORT_SCHEMA
from tomixpanel_spark.sinks.http import basic_auth
from tomixpanel_spark.sources.staging import read_json_auto

EXPORT_URL = "https://data.mixpanel.com/api/2.0/export"
ENGAGE_URL = "https://mixpanel.com/api/2.0/engage"

# http(url, headers) -> response text
HttpGet = Callable[[str, dict], str]
# http_post(url, form_data, headers) -> response text
HttpPost = Callable[[str, dict, dict], str]


def export_query_string(
    from_date: str,
    to_date: str,
    where: Optional[str] = None,
    events: Optional[list[str]] = None,
) -> str:
    """S7 pushdown: date range + segmentation expression + event list all
    go to the source API (connectors/mixpanelETL.js:74-85)."""
    params: list[tuple[str, str]] = [("from_date", from_date), ("to_date", to_date)]
    if where:
        params.append(("where", where))
    if events:
        params.append(("event", json.dumps(events)))
    return urllib.parse.urlencode(params)


@dataclass
class MixpanelExportSource:
    api_secret: str
    from_date: str
    to_date: str
    staging_dir: str
    where: Optional[str] = None
    events: Optional[list[str]] = None
    http: Optional[HttpGet] = None

    def fetch(self) -> str:
        if self.http is None:
            raise RuntimeError("MixpanelExportSource.fetch needs an http callable")
        os.makedirs(self.staging_dir, exist_ok=True)
        url = f"{EXPORT_URL}?{export_query_string(self.from_date, self.to_date, self.where, self.events)}"
        text = self.http(url, basic_auth(self.api_secret, ""))
        path = os.path.join(self.staging_dir, "export.ndjson")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        return path

    def read(self, spark: SparkSession, path: Optional[str] = None) -> DataFrame:
        return read_json_auto(spark, path or self.staging_dir, MP_EXPORT_SCHEMA)


@dataclass
class MixpanelEngageSource:
    api_secret: str
    staging_dir: str
    http_post: Optional[HttpPost] = None

    def fetch_pages(self) -> list[str]:
        """Cursor loop: POST /engage, then session_id+page while pages come
        back full (connectors/mixpanelETL.js:140-182)."""
        if self.http_post is None:
            raise RuntimeError("MixpanelEngageSource.fetch_pages needs http_post")
        os.makedirs(self.staging_dir, exist_ok=True)
        headers = basic_auth(self.api_secret, "")
        paths: list[str] = []
        page = 0
        session_id = None
        while True:
            form = {} if session_id is None else {"session_id": session_id, "page": str(page)}
            text = self.http_post(ENGAGE_URL, form, headers)
            data = json.loads(text)
            path = os.path.join(self.staging_dir, f"engage_{page}.json")
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            paths.append(path)
            results = data.get("results", [])
            page_size = data.get("page_size", len(results) or 1)
            session_id = data.get("session_id")
            if len(results) < page_size:
                break
            page += 1
        return paths

    def read(self, spark: SparkSession, paths: Optional[list[str]] = None) -> DataFrame:
        return read_json_auto(
            spark, paths or self.staging_dir, MP_ENGAGE_PAGE_SCHEMA
        )
