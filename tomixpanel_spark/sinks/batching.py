"""Batching policy for HTTP sinks (SURVEY.md §2.2 K1/K2/K3).

Reference constants (load/sendEventsToMixpanel.js:15-16,
load/sendProfilesToMixpanel.js:12): 2,000 records per batch, 2 MB payload
cap pre-gzip. The reference's byte cap is a halve-once split (a knowingly
rough heuristic, comment :143); the engine packs greedily instead — every
batch satisfies BOTH caps by construction, single pass, no re-serialization.
Bodies gzip at zlib's default level 6, as the reference's node zlib does.
"""

from __future__ import annotations

import gzip as _gzip
import json
from collections.abc import Iterable, Iterator

EVENTS_PER_BATCH = 2000
BYTES_PER_BATCH = 2 * 1024 * 1024
PROFILES_PER_BATCH = 2000
GZIP_LEVEL = 6


def _clean(v):
    """Arrow->pandas null handling turns nullable int columns into float64
    with NaN; json.dumps would emit invalid `NaN` literals and float-ify
    epoch values. Sanitize at the wire boundary: NaN/inf -> null, integral
    floats back to ints (exact below 2^53)."""
    import math

    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    return v


def serialize_record(rec: dict) -> bytes:
    return json.dumps(
        _clean(rec), separators=(",", ":"), ensure_ascii=False, allow_nan=False
    ).encode("utf-8")


def finish_json(b: bytes) -> bytes:
    """JVM-built record JSON -> ``serialize_record``'s exact bytes. Spark
    writes control characters as uppercase ``\\u001F`` where Python writes
    ``\\u001f``; only records holding a ``\\u00`` escape are re-dumped."""
    return serialize_record(json.loads(b)) if b"\\u00" in b else b


def pack_batches(
    encoded: Iterable[bytes],
    max_records: int = EVENTS_PER_BATCH,
    max_bytes: int = BYTES_PER_BATCH,
) -> Iterator[list[bytes]]:
    """Greedy byte-and-count packing of serialized records: flush when
    adding the next record would break either cap. A single record larger
    than max_bytes ships alone (the API rejects it; the sink dead-letters
    it)."""
    batch: list[bytes] = []
    size = 2  # '[' + ']'
    for b in encoded:
        extra = len(b) + (1 if batch else 0)  # comma
        if batch and (len(batch) >= max_records or size + extra > max_bytes):
            yield batch
            batch, size = [], 2
            extra = len(b)
        batch.append(b)
        size += extra
    if batch:
        yield batch


def json_array(batch: list[bytes]) -> bytes:
    """The default request body: the batch's records as one JSON array."""
    return b"[" + b",".join(batch) + b"]"


def batch_payload(batch: list[bytes], gzip: bool = True) -> bytes:
    """JSON-array body, optionally gzipped (reference gzips every /import
    batch, load/sendEventsToMixpanel.js:157-162)."""
    body = json_array(batch)
    return _gzip.compress(body, GZIP_LEVEL) if gzip else body
