"""Wire-format pin for every sink profile `pipeline.run` drives.

Six profiles: Mixpanel `/import` events, `/engage` profiles and `$merge`
events (forward path), Amplitude HTTP API v2 events, Amplitude
`/identify` users and Woopra bulk import (reverse path). An in-process
transport records each request's URL, method, headers and body (gunzipped
when the request says `Content-Encoding: gzip`, since gzip headers carry a
timestamp) and the whole set is compared with `wire_format_golden.json`.

The golden file was captured before the load path was consolidated; it
must not be regenerated to make a sink change pass. A mismatch means the
bytes a vendor API receives changed.
"""

from __future__ import annotations

import gzip
import json
import os

from tests.fixtures import amp_event_rows, mp_engage_page, mp_export_lines

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "wire_format_golden.json")
BASE = "http://sink.invalid"


def _recorder(out_dir: str):
    """4-arg transport that writes one JSON file per request (it runs in
    the Python workers, so files are how requests get back to the test)."""

    def transport(url, body, headers, method="POST"):
        import uuid

        gz = headers.get("Content-Encoding") == "gzip"
        rec = {
            "url": url,
            "method": method,
            "headers": dict(headers),
            "gzip_magic": body[:2] == b"\x1f\x8b",
            "body": (gzip.decompress(body) if gz else body).decode("utf-8"),
        }
        with open(os.path.join(out_dir, uuid.uuid4().hex + ".json"), "w") as f:
            json.dump(rec, f)
        return 200, "{}"

    return transport


def _profile(req: dict) -> str:
    url, body = req["url"], req["body"]
    if url.startswith(f"{BASE}/import"):
        return "mixpanel_merges" if '"event":"$merge"' in body else "mixpanel_events"
    if url.startswith(f"{BASE}/engage"):
        return "mixpanel_profiles"
    if url.startswith(f"{BASE}/httpapi"):
        return "amplitude_events"
    if url.startswith(f"{BASE}/identify"):
        return "amplitude_identify"
    if url.startswith(f"{BASE}/woopra"):
        return "woopra"
    raise AssertionError(f"request to an unexpected URL: {url}")


def capture(spark, tmp_path) -> dict:
    """Run the forward and both reverse pipelines into the recorder;
    returns {profile: [request, ...]} with requests in a stable order."""
    from tomixpanel_spark import pipeline

    amp_dir = tmp_path / "amp"
    amp_dir.mkdir()
    (amp_dir / "part-0.json").write_text(
        "\n".join(json.dumps(r) for r in amp_event_rows(4)) + "\n"
    )
    export = tmp_path / "export.ndjson"
    export.write_text(mp_export_lines(3))
    pages = [mp_engage_page(0, 10, 2)]
    mp_opts = {
        "path": str(export),
        "staging_dir": str(tmp_path),
        "doPeople": True,
        "http_post": lambda url, form, headers, _p=pages: json.dumps(_p[0]),
    }
    out_dir = tmp_path / "wire"
    out_dir.mkdir()
    transport = _recorder(str(out_dir))
    configs = [
        {
            "source": {
                "name": "amplitude",
                "options": {"path": str(amp_dir), "run_time_ms": 1_700_000_000_000},
            },
            "destination": {
                "name": "mixpanel",
                "token": "tok",
                "options": {
                    "import_url": f"{BASE}/import",
                    "engage_url": f"{BASE}/engage",
                    "headers": {"Authorization": "Basic c2E6c2VjcmV0"},
                },
            },
        },
        {
            "source": {"name": "mixpanel", "options": mp_opts},
            "destination": {
                "name": "amplitude",
                "api_key": "KEY",
                "token": "tok",
                "options": {
                    "httpapi_url": f"{BASE}/httpapi",
                    "identify_url": f"{BASE}/identify",
                    "pacing_s": 0.0,
                },
            },
        },
        {
            "source": {"name": "mixpanel", "options": dict(mp_opts, doPeople=False)},
            "destination": {
                "name": "woopra",
                "project": "proj",
                "username": "u",
                "password": "p",
                "options": {"url": f"{BASE}/woopra"},
            },
        },
    ]
    for config in configs:
        pipeline.run(spark, config, transport=transport, concurrency=1)
    got: dict = {}
    for name in sorted(os.listdir(out_dir)):
        with open(out_dir / name) as f:
            req = json.load(f)
        got.setdefault(_profile(req), []).append(req)
    for reqs in got.values():
        reqs.sort(key=lambda r: (r["url"], r["body"]))
    return got


def test_wire_format_matches_golden(spark, tmp_path):
    got = capture(spark, tmp_path)
    with open(GOLDEN) as f:
        want = json.load(f)
    assert sorted(got) == sorted(want) == [
        "amplitude_events",
        "amplitude_identify",
        "mixpanel_events",
        "mixpanel_merges",
        "mixpanel_profiles",
        "woopra",
    ]
    for profile in want:
        assert got[profile] == want[profile], profile
