"""Seeded, single-process input generators for the benchmark.

Run as its own process; the program under test only ever sees the files
written here:

    python3 perfbench/gen.py amplitude --seed 7 --out DIR --files 8 --rows 30000 --fault-hits 1
    python3 perfbench/gen.py tables    --seed 7 --out DIR

``amplitude`` writes gzipped Amplitude export NDJSON, ``tables`` the ten
parquet tables the registered queries read, at the sf0.01 row counts. The same seed gives byte-identical files. The last
stdout line is a JSON summary: row counts and the record-size
distribution.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import random
import statistics

# Marker the stub server keys its injected faults on: a batch whose body
# contains it fails its first attempt (see stub.py).
FAULT_MARKER = "faultprobe"

AMP_EVENTS = (
    "login", "logout", "checkout", "page view", "add to cart", "search",
    "play song", "pause", "share", "signup", "purchase", "rate",
)
PLANS = ("free", "pro", "team", "enterprise")
CITIES = (("sf", "ca", "us"), ("nyc", "ny", "us"), ("berlin", "be", "de"),
          ("paris", "idf", "fr"), ("tokyo", "13", "jp"))
OSES = (("ios", "apple", "iphone"), ("android", "samsung", "galaxy"),
        ("mac os x", "apple", "macbook"), ("windows", "dell", "xps"))


def _dist(values: list[int]) -> dict:
    q = statistics.quantiles(values, n=100)
    return {
        "n": len(values), "min": min(values), "p50": q[49], "p90": q[89],
        "p99": q[98], "max": max(values), "mean": round(statistics.fmean(values), 1),
    }


def _write_ndjson(rows_by_file: list[list[dict]], out: str, stem: str) -> list[int]:
    """One gzipped NDJSON file per list; returns each line's byte size."""
    os.makedirs(out, exist_ok=True)
    sizes = []
    for i, rows in enumerate(rows_by_file):
        lines = [json.dumps(r, separators=(",", ":")) for r in rows]
        sizes.extend(len(s) + 1 for s in lines)
        # mtime=0: identical seeds give byte-identical files
        with open(os.path.join(out, f"{stem}-{i:03d}.json.gz"), "wb") as f:
            f.write(gzip.compress(("\n".join(lines) + "\n").encode(), mtime=0))
    return sizes


def _split(rows: list[dict], files: int) -> list[list[dict]]:
    return [rows[i::files] for i in range(files)]


def amplitude(seed: int, out: str, files: int, n: int, fault_hits: int) -> dict:
    """Narrow Amplitude export rows with property maps and seeded nulls:
    ~30% have no user_id and ~10% no device_id (distinct-id coalesce),
    half lack $insert_id (md5 fallback), ~40% carry user_properties
    (profiles) and every user/device pair is a merge edge. ``fault_hits``
    events carry the fault marker in their event properties."""
    rng = random.Random(seed)
    marked = set(rng.sample(range(n), fault_hits))
    users = max(1, n // 12)
    rows = []
    t0 = 1_622_505_600  # 2021-06-01 UTC
    for i in range(n):
        u = rng.randrange(users)
        city, region, country = CITIES[u % len(CITIES)]
        os_name, brand, model = OSES[u % len(OSES)]
        blank = rng.random() < 0.2
        ts = t0 + rng.randrange(30 * 86400)
        ms = rng.randrange(1000)
        props = {"plan": PLANS[u % 4], "step": str(rng.randrange(20))}
        for k in range(rng.randrange(4)):
            props[f"attr_{k}"] = f"v{rng.randrange(1000)}"
        if i in marked:
            props["label"] = f"{FAULT_MARKER}-{i}"
        rows.append({
            "event_type": AMP_EVENTS[rng.randrange(len(AMP_EVENTS))],
            "user_id": None if rng.random() < 0.3 else f"user_{u}",
            "device_id": None if rng.random() < 0.1 else f"dev_{u}_{rng.randrange(2)}",
            "amplitude_id": 10_000_000 + i,
            "event_time": _amp_time(ts, ms),
            "$insert_id": f"src-{seed}-{i}" if rng.random() < 0.5 else None,
            "ip_address": None if blank else f"10.{u % 256}.{rng.randrange(256)}.{rng.randrange(256)}",
            "city": None if blank else city,
            "region": None if blank else region,
            "country": None if blank else country,
            "language": "en",
            "app_version": None if rng.random() < 0.3 else f"2.{u % 9}.{rng.randrange(10)}",
            "os_name": None if blank else os_name,
            "os_version": f"{rng.randrange(9, 17)}.{rng.randrange(5)}",
            "device_brand": brand,
            "device_manufacturer": brand,
            "device_model": model,
            "event_properties": props,
            "user_properties": {} if rng.random() < 0.6 else {
                "tier": ["gold", "silver", "bronze"][u % 3], "plan": PLANS[u % 4],
                "signup_day": str(u % 28 + 1),
            },
            "groups": {} if rng.random() < 0.85 else {"org": f"org_{u % 40}"},
        })
    sizes = _write_ndjson(_split(rows, files), out, "amplitude")
    return {"kind": "amplitude", "rows": n, "files": files, "fault_hits": fault_hits,
            "record_bytes": _dist(sizes)}


def _amp_time(ts: int, ms: int) -> str:
    import time

    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)) + f".{ms:03d}"


WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def tables(seed: int, out: str) -> dict:
    """The ten tables of the query registry at the sf0.01 row counts,
    with its value domains (150 event users over January 2024, 25
    nations in 5 regions, ~5% near-duplicate documents, unit-norm 64-d
    embeddings in 10 labelled clusters)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    counts = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
        counts[name] = t.num_rows

    def day(base: str, n: int, span_days: int):
        start = np.datetime64(base, "D")
        return (start + rng.integers(0, span_days, n)).astype("datetime64[us]")

    i32, i64 = pa.int32(), pa.int64()
    put("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc, ns, npart, no, nl = 1500, 100, 2000, 15000, 60000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "big"])
    noun = np.array(["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "nut"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    put("part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": day("1995-01-01", no, 2404),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    okey = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": day("1995-01-02", nl, 2498),
    })
    ne = 10000
    jan = np.datetime64("2024-01-01T00:00:00", "us")
    put("events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.sort(jan + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = 500
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]))
    put("documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv, dim = 500, 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, nv)
    vec = centers[label] * 0.15 + rng.normal(0, 1, (nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return {"kind": "tables", "rows": counts}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=("amplitude", "tables"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--fault-hits", type=int, default=0)
    a = ap.parse_args()
    if a.kind == "amplitude":
        summary = amplitude(a.seed, a.out, a.files, a.rows, a.fault_hits)
    else:
        summary = tables(a.seed, a.out)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
