"""Property-based tests (hypothesis) for the pure-Python engine pieces:
batching invariants and canonical scalar semantics. These run WITHOUT a
SparkSession — they pin the driver-side contracts that the distributed
paths rely on."""

from __future__ import annotations

import pytest

from base64 import b64decode as _b64decode

import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from tomixpanel_spark.sinks.batching import batch_payload, iter_batches, serialize_record

records = st.lists(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.one_of(st.integers(), st.text(max_size=50), st.none(), st.booleans()),
        max_size=6,
    ),
    max_size=200,
)


class TestBatchingProperties:
    @given(records, st.integers(1, 50), st.integers(64, 4096))
    @settings(max_examples=150, deadline=None)
    def test_caps_hold_and_nothing_lost_or_reordered(self, recs, max_records, max_bytes):
        batches = list(iter_batches(iter(recs), max_records, max_bytes))
        # completeness + order: concatenation reproduces the input stream
        flat = [b for batch in batches for b in batch]
        assert flat == [serialize_record(r) for r in recs]
        for batch in batches:
            assert len(batch) <= max_records
            body = b"[" + b",".join(batch) + b"]"
            # byte cap holds unless a single record alone exceeds it
            assert len(body) <= max_bytes or len(batch) == 1
        # no empty batches ever
        assert all(batch for batch in batches)

    @given(records)
    @settings(max_examples=50, deadline=None)
    def test_payload_roundtrip(self, recs):
        if not recs:
            return
        batch = [serialize_record(r) for r in recs]
        gz = batch_payload(batch, gzip=True)
        plain = batch_payload(batch, gzip=False)
        import gzip as g

        assert json.loads(g.decompress(gz)) == json.loads(plain) == recs


class TestGreedyPackingOptimality:
    @given(st.lists(st.integers(1, 500), min_size=1, max_size=100))
    @settings(max_examples=100, deadline=None)
    def test_no_adjacent_merge_possible(self, sizes):
        """Greedy packing is locally optimal: no two ADJACENT batches could
        be merged without breaking a cap (else the sink wastes requests)."""
        recs = [{"p": "x" * n} for n in sizes]
        max_bytes = 600
        batches = list(iter_batches(iter(recs), 1000, max_bytes))
        for a, b in zip(batches, batches[1:]):
            merged = b"[" + b",".join(a + b) + b"]"
            assert len(merged) > max_bytes


class TestMediaHeaderParsers:
    """decode_payload runs inside executor Python workers over untrusted
    bytes — it must classify or raise cleanly (ValueError /
    NotImplementedError), never crash with an index/struct error."""

    @given(st.binary(max_size=64))
    @settings(max_examples=300, deadline=None)
    def test_arbitrary_bytes_never_crash_unexpectedly(self, payload):
        from tomixpanel_spark.operators.multimodal import decode_payload

        try:
            meta = decode_payload(payload, "")
            assert isinstance(meta, dict) and "n_frames" in meta
        except (ValueError, NotImplementedError):
            pass

    @given(
        st.integers(1, 2**31 - 1),
        st.integers(1, 2**31 - 1),
        st.sampled_from([1, 2, 4, 8, 16]),
    )
    @settings(max_examples=100, deadline=None)
    def test_png_header_roundtrip(self, w, h, depth):
        import struct

        from tomixpanel_spark.operators.multimodal import decode_payload

        png = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
            + bytes([depth, 0, 0, 0, 0])
            + b"\x00" * 4
        )
        meta = decode_payload(png, "image/png")
        assert (meta["width"], meta["height"], meta["bit_depth"]) == (w, h, depth)

    @given(
        st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        st.integers(1, 8),
        st.sampled_from([8, 16, 24, 32]),
        st.integers(0, 2000),
    )
    @settings(max_examples=100, deadline=None)
    def test_wav_header_roundtrip(self, rate, channels, bits, frames):
        import struct

        from tomixpanel_spark.operators.multimodal import decode_payload

        block = channels * (bits // 8)
        data = b"\x00" * (frames * block)
        wav = (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        meta = decode_payload(wav, "audio/wav")
        assert meta["sample_rate"] == rate
        assert meta["channels"] == channels
        assert meta["n_frames"] == frames

    @given(
        st.integers(1, 65535),
        st.integers(1, 65535),
        st.sampled_from([0xC0, 0xC1, 0xC2]),  # baseline / ext-seq / progressive
        st.integers(0, 60),
    )
    @settings(max_examples=100, deadline=None)
    def test_jpeg_sof_roundtrip(self, w, h, sof_marker, pad_segments):
        import struct

        from tomixpanel_spark.operators.multimodal import decode_payload

        # arbitrary-length marker walk before the SOF: APPn segments of
        # varying size, plus a DHT that must NOT be mistaken for a SOF
        body = b"\xff\xd8"
        for i in range(pad_segments % 4):
            seg = b"\x00" * (i * 7)
            body += bytes([0xFF, 0xE0 + i]) + struct.pack(">H", 2 + len(seg)) + seg
        body += b"\xff\xc4" + struct.pack(">H", 5) + b"\x00\x00\x00"
        body += (
            bytes([0xFF, sof_marker])
            + struct.pack(">H", 11)
            + bytes([8])
            + struct.pack(">HH", h, w)
            + bytes([1])
            + b"\x00" * 5
        )
        meta = decode_payload(body, "image/jpeg")
        assert (meta["width"], meta["height"]) == (w, h)

    @given(
        st.sampled_from([(3, 0, 44100), (3, 1, 48000), (2, 0, 22050), (0, 2, 8000)]),
        st.sampled_from([0, 1, 2, 3]),  # channel mode
        st.integers(0, 200),  # ID3v2 tag size
    )
    @settings(max_examples=100, deadline=None)
    def test_mp3_frame_header_roundtrip(self, vr, mode, id3_size):
        from tomixpanel_spark.operators.multimodal import decode_payload

        version, sr_idx, want_rate = vr
        payload = b""
        if id3_size:
            payload += b"ID3\x03\x00\x00" + bytes(
                [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
                 (id3_size >> 7) & 0x7F, id3_size & 0x7F]
            ) + b"\x00" * id3_size
        b1 = 0xE0 | (version << 3) | (1 << 1)  # sync tail + version + Layer III
        b2 = 0x90 | (sr_idx << 2)
        b3 = mode << 6
        payload += bytes([0xFF, b1, b2, b3]) + b"\x00" * 8
        meta = decode_payload(payload, "audio/mp3")
        assert meta["sample_rate"] == want_rate
        assert meta["channels"] == (1 if mode == 3 else 2)


class TestRewriteEquivalence:
    """Property checks that the round-4 performance rewrites compute the
    SAME function as their naive forms on randomized inputs (the oracle
    fixtures alone can miss edge regions)."""

    def test_simhash_lane_packing_equals_naive_votes(self, spark):
        import random

        from pyspark.sql import functions as F
        from tomixpanel_spark.operators.dedup import SIMHASH_BITS

        rng = random.Random(11)
        words = [f"w{i}" for i in range(40)]
        rows = [
            (i, " ".join(rng.choices(words, k=rng.randrange(1, 30))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        toks = docs.select(
            "doc_id",
            F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("token"),
        ).withColumn(
            "h", F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        )
        naive = toks.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                ).alias(f"s{j}")
                for j in range(SIMHASH_BITS)
            ]
        )
        sim = None
        for j in range(SIMHASH_BITS):
            term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
            sim = term if sim is None else sim + term
        want = {
            r["doc_id"]: r["simhash"]
            for r in naive.select("doc_id", sim.cast("bigint").alias("simhash")).collect()
        }

        import tomixpanel_spark.operators.dedup as dd

        lanes_df = toks.select("doc_id", *dd._simhash_columns()[0])
        n_groups = SIMHASH_BITS // dd._SIMHASH_LANES
        votes = lanes_df.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"k{g}").alias(f"p{g}") for g in range(n_groups)],
        )
        got = {
            r["doc_id"]: r["simhash"]
            for r in votes.select("doc_id", dd._simhash_columns()[1]).collect()
        }
        assert got == want

    def test_blocked_neardup_equals_unblocked_random(self, spark):
        import math
        import random

        from tomixpanel_spark.operators.similarity import embedding_neardup_pairs

        rng = random.Random(5)
        rows = [
            (rng.randrange(-10**6, 10**6), [rng.gauss(0, 1) for _ in range(6)])
            for _ in range(80)
        ]
        # unique ids (duplicate ids would make pair identity ambiguous)
        rows = list({r[0]: r for r in rows}.values())
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        want = {
            (r["vec_a"], r["vec_b"], r["sim_e6"])
            for r in embedding_neardup_pairs(df, threshold_e6=100_000, n_blocks=1).collect()
        }
        for nb in (3, 7):
            got = {
                (r["vec_a"], r["vec_b"], r["sim_e6"])
                for r in embedding_neardup_pairs(df, threshold_e6=100_000, n_blocks=nb).collect()
            }
            assert got == want, f"n_blocks={nb} diverged"
        assert want, "threshold too high for the random fixture"

    def test_lsh_band_cap_bounds_degenerate_hot_band(self, spark):
        """A boilerplate corpus drops hundreds of identical-signature docs
        into ONE band; uncapped that's a quadratic pair blowup at corpus
        scale. The postings-list path with band_cap must (a) bound emitted
        pairs and (b) equal the uncapped/self-join semantics on the
        non-degenerate part of the corpus."""
        from pyspark.sql import functions as F

        from tomixpanel_spark.operators.dedup import N_MINHASH, lsh_pairs_from_signatures

        hot = 120  # identical signatures -> every band collides
        rows = [(i, *[f"aa{j}" for j in range(N_MINHASH)]) for i in range(hot)]
        # distinct docs: unique signatures, two of them sharing one band half
        rows += [(1000, *[f"b{j}" for j in range(N_MINHASH)])]
        rows += [(1001, *([f"b{j}" for j in range(N_MINHASH // 2)] + [f"c{j}" for j in range(N_MINHASH // 2)]))]
        rows += [(1002, *[f"d{j}" for j in range(N_MINHASH)])]
        schema = "doc_id long, " + ", ".join(f"mh{j} string" for j in range(N_MINHASH))
        sig = spark.createDataFrame(rows, schema)

        uncapped = lsh_pairs_from_signatures(sig)
        assert uncapped.count() == hot * (hot - 1) // 2 + 1  # quadratic + (1000,1001)

        capped = lsh_pairs_from_signatures(sig, band_cap=10)
        got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
        # degenerate band dropped entirely; healthy band pair survives
        assert got == {(1000, 1001)}
        # ordering contract: doc_a < doc_b always
        bad = capped.filter(F.col("doc_a") >= F.col("doc_b")).count()
        assert bad == 0


@pytest.mark.slow
class TestJoinOperatorsVsBruteForce:
    """asof_join and range_join re-express semantics engines ship natively;
    beyond the DuckDB oracle (one dataset), these pin them against a
    literal Python brute force on randomized inputs."""

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=12, deadline=None)
    def test_asof_join_matches_brute_force(self, spark, seed):
        import random

        from tomixpanel_spark.operators.asof import asof_join

        rng = random.Random(seed)
        left_rows = [
            (i, f"k{rng.randrange(4)}", rng.randrange(0, 50)) for i in range(30)
        ]
        right_rows = [
            (f"k{rng.randrange(4)}", rng.randrange(0, 50), rng.randrange(1000))
            for _ in range(25)
        ]
        left = spark.createDataFrame(left_rows, "lid long, k string, t long")
        right = spark.createDataFrame(right_rows, "k string, rt long, val long")
        got = {
            (r["lid"], r["val"])
            for r in asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                right_tiebreak=("val",),
            ).collect()
        }
        want = set()
        for lid, k, t in left_rows:
            cand = [(rt, val) for (rk, rt, val) in right_rows if rk == k and rt <= t]
            if cand:
                rt_max = max(rt for rt, _ in cand)
                val = max(v for rt, v in cand if rt == rt_max)  # tiebreak: last
                want.add((lid, val))
            else:
                want.add((lid, None))
        assert got == want

        got_fwd = {
            (r["lid"], r["val"])
            for r in asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                right_tiebreak=("val",), direction="forward",
            ).collect()
        }
        want_fwd = set()
        for lid, k, t in left_rows:
            cand = [(rt, val) for (rk, rt, val) in right_rows if rk == k and rt >= t]
            if cand:
                rt_min = min(rt for rt, _ in cand)
                val = max(v for rt, v in cand if rt == rt_min)
                want_fwd.add((lid, val))
            else:
                want_fwd.add((lid, None))
        assert got_fwd == want_fwd

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=10, deadline=None)
    def test_asof_carries_matched_row_atomically_with_nulls(self, spark, seed):
        """Right value columns with NULLs: the output must be exactly the
        matched right row — a NULL field stays NULL, never back-filled
        from an older/losing right row (the per-column last() bug)."""
        import random

        from tomixpanel_spark.operators.asof import asof_join

        rng = random.Random(seed)
        left_rows = [(i, f"k{rng.randrange(3)}", rng.randrange(0, 40)) for i in range(20)]
        # tiebreak values are globally UNIQUE (row index): asof_join's own
        # contract says the match is ill-defined without a fully
        # disambiguating tiebreak, and a duplicate (k, rt, tb) triple
        # would make Spark's sort tie and the Python max() disagree
        # nondeterministically
        right_rows = [
            (
                f"k{rng.randrange(3)}",
                rng.randrange(0, 40),
                j,
                None if rng.random() < 0.5 else rng.randrange(100),
            )
            for j in range(20)
        ]
        left = spark.createDataFrame(left_rows, "lid long, k string, t long")
        right = spark.createDataFrame(right_rows, "k string, rt long, tb long, v long")
        got = {
            (r["lid"], r["tb"], r["v"])
            for r in asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                right_tiebreak=("tb",),
            ).collect()
        }
        want = set()
        for lid, k, t in left_rows:
            cand = [(rt, tb, v) for (rk, rt, tb, v) in right_rows if rk == k and rt <= t]
            if cand:
                rt_max = max(rt for rt, _, _ in cand)
                # the winning row: max tiebreak among max-time rows
                winner = max(
                    ((tb, v) for rt, tb, v in cand if rt == rt_max),
                    key=lambda p: p[0],
                )
                want.add((lid, winner[0], winner[1]))
            else:
                want.add((lid, None, None))
        assert got == want

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=8, deadline=None)
    def test_range_join_matches_brute_force(self, spark, seed):
        import random

        from pyspark.sql import functions as F
        from tomixpanel_spark.operators.ranges import range_join

        rng = random.Random(seed)
        day = 86_400
        base = 1_700_000_000
        pts = [
            (i, f"k{rng.randrange(3)}", base + rng.randrange(0, 10 * day))
            for i in range(25)
        ]
        ivs = []
        for j in range(20):
            s = base + rng.randrange(0, 10 * day)
            ivs.append((j, f"k{rng.randrange(3)}", s, s + rng.randrange(0, 3 * day)))
        points = spark.createDataFrame(pts, "pid long, k string, pt long").select(
            "pid", "k", F.timestamp_seconds("pt").alias("pt")
        )
        intervals = spark.createDataFrame(
            ivs, "iid long, k string, s long, e long"
        ).select(
            "iid", "k",
            F.timestamp_seconds("s").alias("s"), F.timestamp_seconds("e").alias("e"),
        )
        got = {
            (r["pid"], r["iid"])
            for r in range_join(
                points, intervals, on="k", point_time="pt", start="s", end="e",
                bin_width_s=day,
            ).collect()
        }
        want = {
            (pid, iid)
            for (pid, pk, pt) in pts
            for (iid, ik, s, e) in ivs
            if pk == ik and s <= pt <= e
        }
        assert got == want


class TestLocalTopk:
    @given(st.data())
    @settings(max_examples=300, deadline=None)
    def test_matches_brute_force_sort(self, data):
        """``similarity._local_topk`` against a per-query Python sort:
        integer scores with many ties, random masks, repeated query
        columns (ann_ivf's probe rows), k above and below the candidate
        count, and empty row or query sets."""
        import numpy as np

        from tomixpanel_spark.operators.similarity import _local_topk

        n_rows = data.draw(st.integers(0, 12))
        n_base = data.draw(st.integers(1, 4))
        cols = data.draw(st.lists(st.integers(0, n_base - 1), max_size=6))
        k = data.draw(st.integers(1, 14))
        base = data.draw(
            st.lists(
                st.integers(-3, 3), min_size=n_rows * n_base, max_size=n_rows * n_base
            )
        )
        scores = np.array(base, dtype=np.int64).reshape(n_rows, n_base)[:, cols]
        n_q = len(cols)
        flags = data.draw(
            st.lists(st.booleans(), min_size=n_rows * n_q, max_size=n_rows * n_q)
        )
        mask = np.array(flags, dtype=bool).reshape(n_rows, n_q)
        n_ids = np.array(
            data.draw(
                st.lists(
                    st.integers(-50, 50), min_size=n_rows, max_size=n_rows, unique=True
                )
            ),
            dtype=np.int64,
        )

        want = []
        for q in range(n_q):
            cand = sorted(
                (r for r in range(n_rows) if mask[r, q]),
                key=lambda r: (-scores[r, q], n_ids[r]),
            )
            want += [(r, q) for r in cand[:k]]
        ri, qi = _local_topk(scores, mask, n_ids, k)
        assert [(int(r), int(q)) for r, q in zip(ri, qi)] == want


class TestTokenizeSpec:
    def test_tokens_match_oracle_split_on_messy_whitespace(self, spark):
        """tokens() and the oracles' translate+string_split pipeline
        implement ONE declared spec: ASCII whitespace folded to ' ', then
        literal-space split with empties filtered. Pin the agreement on
        inputs the synthetic corpus never exercises — tabs, newlines, CR,
        VT, FF, and leading/trailing/repeated separators (round-7 advice:
        multi-line corpora must tokenize correctly, not just match a
        single-space oracle)."""
        import duckdb

        from tomixpanel_spark.functions.text import tokens

        texts = [
            "a  b",
            "  lead",
            "trail  ",
            "a b  c   d",
            "",
            "   ",
            "a\tb",
            "line1\nline2\r\nline3",
            "mix \t\n of\x0ball\x0ckinds",
            "\t\n",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [r[0] for r in df.select(tokens("text")).collect()]
        con = duckdb.connect()
        want = [
            con.execute(
                "SELECT list_filter(string_split(translate(?, "
                "chr(9)||chr(10)||chr(13)||chr(11)||chr(12), '     '), ' '), "
                "t -> t <> '')",
                [t],
            ).fetchone()[0]
            for t in texts
        ]
        assert got == want
        # and the real-world consequence: multi-line text tokenizes by words
        assert got[7] == ["line1", "line2", "line3"]

    def test_tokenizer_implementations_agree(self, spark):
        """The driver tokenizer ``driver_tokens`` yields, per document and
        in order, exactly the JVM ``tokens()`` list, and the pyarrow batch
        kernel ``_pa_tokenize_tf`` counts exactly those tokens — messy
        whitespace and NULL text included."""
        from collections import Counter

        import pandas as pd

        from tomixpanel_spark.operators.textops import _pa_tokenize_tf

        texts = [
            "a  b a", "  lead", "trail  ", "a b  c   d b", "", "   ",
            "a\tb\ta", "line1\nline2\r\nline1", "mix \t\n of\x0ball\x0ckinds",
            None,
        ]
        ids = list(range(len(texts)))
        drv = _driver_lists(texts)
        df = spark.createDataFrame(
            list(zip(ids, texts)), "doc_id long, text string"
        )
        assert drv == _jvm_lists(df, len(texts))
        tbl = _pa_tokenize_tf(pd.Series(ids), pd.Series(texts)).to_pandas()
        arrow_counts = {
            i: dict(zip(g["token"], g["tf"])) for i, g in tbl.groupby("doc_id")
        }
        assert arrow_counts == {i: dict(Counter(ts)) for i, ts in enumerate(drv) if ts}

    def test_substring_fold_tokenizer_keeps_exotic_whitespace(self, spark):
        """The driver tokenizer behind the substring / bpe / LM folds
        follows the SAME pinned spec: NBSP / \\x1c-\\x1f / \\x85 /
        thin-space are NOT separators (argless str.split() would split on
        them and silently diverge from tokens() and the DuckDB oracle —
        round-9 advice)."""
        texts = [
            "a\xa0b c",            # NBSP inside a token
            "x\x1cy\x1dz",          # file/group separators
            "p\x85q",               # NEL
            "u\u2009v w\u3000t",  # thin space, ideographic space
            "a\tb\xa0c\nd",         # mix of real and fake separators
            None,
            "",
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        drv = _driver_lists(texts)
        assert drv == _jvm_lists(df, len(texts))
        # the concrete hazard: NBSP-joined text stays ONE token
        assert drv[0] == ["a\xa0b", "c"]

    @given(
        st.lists(
            st.one_of(
                st.none(),
                st.just(""),
                st.text(
                    alphabet=list(
                        "\t\n\r\x0b\x0c \xa0\x1c\x85\u2009\u3000\U0001f600ab"
                    ),
                    max_size=24,
                ),
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_three_engines_agree_on_any_whitespace(self, spark, texts):
        """One spec, three engines: for any mix of the five folded
        chars, the space, non-separator whitespace look-alikes (NBSP,
        \\x1c, NEL, thin and ideographic space), emoji, empty and NULL
        text, ``driver_tokens``, JVM ``tokens()`` and DuckDB
        ``SQL_WORDS`` give the same ordered per-document token lists."""
        import duckdb
        import pyarrow as pa

        from tomixpanel_spark.functions.text import SQL_WORDS

        drv = _driver_lists(texts)
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        assert drv == _jvm_lists(df, len(texts))
        con = duckdb.connect()
        con.register(
            "d",
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                }
            ),
        )
        sql = con.execute(
            f"SELECT {SQL_WORDS} FROM d ORDER BY doc_id"
        ).fetchall()
        assert drv == [r[0] or [] for r in sql]


def _driver_lists(texts):
    """Per-document ordered token lists from ``driver_tokens``."""
    from tomixpanel_spark.functions.text import driver_tokens

    flat, doc = driver_tokens(texts)
    out = [[] for _ in texts]
    for t, d in zip(flat.to_pylist(), doc.tolist()):
        out[d].append(t)
    return out


def _jvm_lists(df, n):
    """Per-document ordered token lists from JVM ``tokens()``; NULL text
    (SQL NULL array) is the same zero-token stream as []."""
    from tomixpanel_spark.functions.text import tokens

    got = {
        r["doc_id"]: r["t"] or []
        for r in df.select("doc_id", tokens("text").alias("t")).collect()
    }
    return [got[i] for i in range(n)]


class TestPngCodec:
    @given(st.integers(1, 16), st.integers(1, 16), st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_encode_decode_roundtrip_lossless(self, w, h, seed):
        """media_neardup's oracle parity PROVES the roundtrip on the 8x8
        corpus; this pins it for arbitrary small shapes and pixel
        content."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_png_gray,
            encode_png_gray,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        out = decode_png_gray(encode_png_gray(px))
        assert out.shape == (h, w)
        assert (out == px).all()

    @given(st.integers(0, 2**32 - 1), st.sampled_from([1, 2, 3, 4]))
    @settings(max_examples=40, deadline=None)
    def test_decoder_unfilters_all_filter_types(self, seed, ftype):
        """Our encoder emits filter 0, but real-world PNGs use Sub/Up/
        Average/Paeth — craft each filter's raw scanlines directly and
        assert the decoder reconstructs the intended pixels."""
        import struct
        import zlib

        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            _png_chunk,
            decode_png_gray,
        )

        rng = np.random.default_rng(seed)
        h = w = 6
        px = rng.integers(0, 256, size=(h, w), dtype=np.int64)

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        raw = b""
        for r in range(h):
            raw += bytes([ftype])
            left = 0
            for c in range(w):
                up = int(px[r - 1, c]) if r else 0
                ul = int(px[r - 1, c - 1]) if (r and c) else 0
                if ftype == 1:
                    pred = left
                elif ftype == 2:
                    pred = up
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    pred = paeth(left, up, ul)
                raw += bytes([(int(px[r, c]) - pred) & 0xFF])
                left = int(px[r, c])
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        out = decode_png_gray(payload)
        assert (out == px.astype(np.uint8)).all()

    def test_dhash_matches_oracle_bit_layout(self):
        """dhash_bits' bit order must equal the SQL's CASE-term layout:
        bit r*7+c <=> px[r*8+c] > px[r*8+c+1]."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import dhash_bits

        px = np.zeros((8, 8), dtype=np.uint8)
        px[3, 2] = 200  # sets exactly bit 3*7+2 (px[3,2] > px[3,3])...
        # ...and clears bit 3*7+1 (px[3,1] < px[3,2] means NOT >)
        got = dhash_bits(px)
        assert got == 1 << (3 * 7 + 2)


class TestWavPcmCodec:
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=256),
        st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=60, deadline=None)
    def test_pcm_roundtrip_and_header_agreement(self, samples, rate):
        """Byte-exact PCM roundtrip for arbitrary int16 waveforms, and the
        independently-written header parser (decode_payload) agrees with
        the data decoder on rate/frame count."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_payload,
            decode_wav_pcm16,
            encode_wav_pcm16,
        )

        payload = encode_wav_pcm16(np.array(samples, dtype="<i2"), rate)
        pcm, got_rate = decode_wav_pcm16(payload)
        assert got_rate == rate
        assert pcm.tolist() == samples
        meta = decode_payload(payload, "audio/wav")
        assert meta["sample_rate"] == rate
        assert meta["channels"] == 1
        assert meta["n_frames"] == len(samples)


class TestVideoContainer:
    @given(
        st.integers(0, 2**32 - 1),
        st.lists(st.tuples(st.integers(1, 12), st.integers(1, 12)), min_size=1, max_size=8),
    )
    @settings(max_examples=40, deadline=None)
    def test_container_roundtrip(self, seed, shapes):
        """encode_video / decode_video_frames roundtrip: every frame comes
        back at its index with its exact PNG bytes, for arbitrary frame
        counts and (mixed) frame dimensions."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_video_frames,
            encode_png_gray,
            encode_video,
        )

        rng = np.random.default_rng(seed)
        frames = [
            encode_png_gray(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
            for h, w in shapes
        ]
        out = list(decode_video_frames(encode_video(frames)))
        assert [i for i, _ in out] == list(range(len(frames)))
        assert [bytes(b) for _, b in out] == [bytes(f) for f in frames]

    def test_bad_magic_rejected(self):
        import pytest as _pytest

        from tomixpanel_spark.operators.multimodal import decode_video_frames

        with _pytest.raises(ValueError):
            list(decode_video_frames(b"NOPE" + b"\x00" * 16))


class TestResizeGeometry:
    @given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_nearest_matches_index_formula(self, w, h, seed):
        """resize_nearest must implement out[r][c] = px[r*h//4][c*w//4]
        exactly — the formula the SQL oracle re-derives; any off-by-one
        here silently breaks media_image_resize's hash parity."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import RESIZE_DIM, resize_nearest

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        small = resize_nearest(px, RESIZE_DIM, RESIZE_DIM)
        for r in range(RESIZE_DIM):
            for c in range(RESIZE_DIM):
                assert small[r][c] == px[r * h // RESIZE_DIM][c * w // RESIZE_DIM]

    def test_identity_when_same_size(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import resize_nearest

        px = np.arange(16, dtype=np.uint8).reshape(4, 4)
        assert (resize_nearest(px, 4, 4) == px).all()


class TestSubstringFamilyProperties:
    def test_spans_match_python_reference_random_corpora(self, spark, tmp_path):
        """Random small-alphabet corpora (dense duplicate windows):
        substring_dup_spans' driver fold must equal a direct Python
        reference (exact window content comparison, island merge) — the
        hash-keyed pipelines may never diverge from first principles."""
        import random

        from tomixpanel_spark.operators.dedup import SUBSTR_WIN, substring_dup_spans

        rng = random.Random(11)
        for trial in range(3):
            docs = []
            shared = [f"s{rng.randrange(3)}" for _ in range(SUBSTR_WIN + 5)]
            for d in range(8):
                toks = [f"w{rng.randrange(4)}" for _ in range(rng.randrange(0, 40))]
                if rng.random() < 0.7 and len(toks) > 3:
                    at = rng.randrange(len(toks))
                    toks = toks[:at] + shared + toks[at:]
                docs.append((d, " ".join(toks)))
            # python reference: cross-doc duplicated windows -> islands
            tok_lists = {d: t.split() for d, t in docs}
            wins = {}
            for d, ts in tok_lists.items():
                for i in range(len(ts) - SUBSTR_WIN + 1):
                    wins.setdefault(tuple(ts[i : i + SUBSTR_WIN]), set()).add((d, i))
            dup_pos = {}
            for w, occs in wins.items():
                if len({d for d, _ in occs}) >= 2:
                    for d, i in occs:
                        dup_pos.setdefault(d, set()).add(i)
            want = set()
            for d, ps in dup_pos.items():
                ps = sorted(ps)
                start = prev = ps[0]
                for p in ps[1:]:
                    if p - prev > SUBSTR_WIN:
                        want.add((d, start + 1, prev + SUBSTR_WIN, prev + SUBSTR_WIN - start))
                        start = p
                    prev = p
                want.add((d, start + 1, prev + SUBSTR_WIN, prev + SUBSTR_WIN - start))
            sf = tmp_path / f"t{trial}"
            sf.mkdir()
            spark.createDataFrame(docs, "doc_id long, text string").write.mode(
                "overwrite"
            ).parquet(str(sf / "documents.parquet"))
            got = {
                (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
                for r in substring_dup_spans(spark, str(sf)).collect()
            }
            assert got == want, (trial, sorted(got - want)[:3], sorted(want - got)[:3])


class TestBandedFoldProperties:
    def test_fold_equals_brute_force_random_signatures(self, spark):
        """_banded_pairs_fold vs a brute-force reference on random
        signatures INCLUDING negatives (arithmetic-shift band values must
        match the distributed shiftright semantics) and duplicate-
        signature clusters."""
        import random

        import pandas as pd

        from tomixpanel_spark.operators.dedup import _banded_pairs_fold, _popcount64

        rng = random.Random(23)
        n_bands, band_bits, ham_max = 4, 8, 3
        sigs = []
        base = [rng.getrandbits(32) - (1 << 31) for _ in range(30)]
        for i in range(120):
            s = rng.choice(base)
            if rng.random() < 0.5:
                s ^= 1 << rng.randrange(32)
            sigs.append((i, s))
        pdf = pd.DataFrame(sigs, columns=["doc_id", "simhash"])
        got = {
            tuple(r)
            for r in _banded_pairs_fold(pdf, n_bands, band_bits, ham_max).itertuples(
                index=False
            )
        }
        # brute force with the SAME band-recall semantics (pigeonhole makes
        # banding lossless for ham <= n_bands - 1, so plain all-pairs works)
        import numpy as np

        want = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                a, sa = sigs[i]
                b, sb = sigs[j]
                h = int(_popcount64(np.array([sa ^ sb], dtype=np.int64))[0])
                if h <= ham_max:
                    want.add((min(a, b), max(a, b), h))
        assert got == want and len(want) > 0


class TestPngGoldenVector:
    # Sphinx's `plus.png` doc icon (11x11 8-bit grayscale, 90 bytes) —
    # produced by an EXTERNAL PNG tool-chain (libpng-family encoder), not
    # by encode_png_gray, so the codec is checked against foreign zlib
    # streams/CRC layout, not only against itself (round-9 advice).
    PLUS_PNG_B64 = (
        "iVBORw0KGgoAAAANSUhEUgAAAAsAAAALCAAAAACMxyj6AAAAIUlEQVR4AWM4g"
        "wAMZz5AwTsoW5MQWxMCiFX/DgpAbAQAAC0hYZTz8EAEAAAAAElFTkSuQmCC"
    )

    def test_external_grayscale_png_decodes_to_known_pixels(self):
        """Golden vector: the decoded matrix must be the known 'plus'
        glyph (cross of 41s on a 240 field inside a 204 border, 238
        right/bottom inner edge) — independently reconstructed with
        stdlib zlib + the PNG spec's unfilter rules."""
        import base64

        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_png_gray

        got = decode_png_gray(base64.b64decode(self.PLUS_PNG_B64))
        want = np.full((11, 11), 240, dtype=np.uint8)
        want[5, 2:9] = 41   # horizontal bar
        want[2:9, 5] = 41   # vertical bar
        want[1:10, 9] = 238  # inner right edge
        want[9, 1:10] = 238  # inner bottom edge
        want[0, :] = want[10, :] = 204
        want[:, 0] = want[:, 10] = 204
        assert got.shape == (11, 11)
        assert (got == want).all(), got

    def test_external_png_header_meta(self):
        import base64

        from tomixpanel_spark.operators.multimodal import decode_payload

        meta = decode_payload(base64.b64decode(self.PLUS_PNG_B64), "image/png")
        assert (meta["width"], meta["height"], meta["bit_depth"]) == (11, 11, 8)


class TestJpegCodec:
    """Baseline grayscale JPEG codec (multimodal.encode_jpeg_gray /
    decode_jpeg_gray): spec-derived golden vectors assembled directly
    from ITU-T T.81 (Annex K tables, canonical C.2 code assignment) with
    pixels computed by the DIRECT 2-D IDCT formula — an independent path
    through the standard, so the decoder is checked against the spec,
    not only against its own encoder (the PNG golden-vector rule)."""

    # Both streams: flat DQT (all 16s), 8x8 SOF0 single component, the
    # Annex-K luminance DC/AC Huffman tables, one entropy block.
    # A: DC category 3 code '100' + bits '110' (diff 6) + EOB '1010',
    #    padded with 1s => bytes 9A BF. Dequantized DC 96 -> IDCT is the
    #    constant 96/8 = 12, +128 => every pixel 140.
    # B: DC category 0 ('00'), AC run 0/size 2 ('01') + bits '00'
    #    (EXTEND => -3), EOB '1010', padded => 12 BF. Coefficient -48 at
    #    (v=0,u=1); direct IDCT per T.81 A.3.3 gives identical rows
    #    [120,121,123,126,130,133,135,136].
    GOLDEN_A = _b64decode(
        "/9j/2wBDABAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQ"
        "EBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAALCAAIAAgBAREA/8QA0gAAAQUBAQEB"
        "AQEAAAAAAAAAAAECAwQFBgcICQoLEAACAQMDAgQDBQUEBAAAAX0BAgMABBEFEiEx"
        "QQYTUWEHInEUMoGRoQgjQrHBFVLR8CQzYnKCCQoWFxgZGiUmJygpKjQ1Njc4OTpD"
        "REVGR0hJSlNUVVZXWFlaY2RlZmdoaWpzdHV2d3h5eoOEhYaHiImKkpOUlZaXmJma"
        "oqOkpaanqKmqsrO0tba3uLm6wsPExcbHyMnK0tPU1dbX2Nna4eLj5OXm5+jp6vHy"
        "8/T19vf4+fr/2gAIAQEAAD8Amr//2Q=="
    )
    GOLDEN_B = _b64decode(
        "/9j/2wBDABAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQ"
        "EBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAALCAAIAAgBAREA/8QA0gAAAQUBAQEB"
        "AQEAAAAAAAAAAAECAwQFBgcICQoLEAACAQMDAgQDBQUEBAAAAX0BAgMABBEFEiEx"
        "QQYTUWEHInEUMoGRoQgjQrHBFVLR8CQzYnKCCQoWFxgZGiUmJygpKjQ1Njc4OTpD"
        "REVGR0hJSlNUVVZXWFlaY2RlZmdoaWpzdHV2d3h5eoOEhYaHiImKkpOUlZaXmJma"
        "oqOkpaanqKmqsrO0tba3uLm6wsPExcbHyMnK0tPU1dbX2Nna4eLj5OXm5+jp6vHy"
        "8/T19vf4+fr/2gAIAQEAAD8AEr//2Q=="
    )

    def test_spec_golden_dc_only_block(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        got = decode_jpeg_gray(self.GOLDEN_A)
        assert got.shape == (8, 8)
        assert (got == 140).all(), got

    def test_spec_golden_single_ac_coefficient(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        got = decode_jpeg_gray(self.GOLDEN_B)
        want_row = [120, 121, 123, 126, 130, 133, 135, 136]
        assert got.shape == (8, 8)
        assert (got == np.array(want_row, dtype=np.uint8)).all(), got

    def test_constant_images_roundtrip_exactly_at_any_quality(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        for q in (10, 50, 90, 100):
            for v in (0, 128, 255):
                img = np.full((16, 24), v, dtype=np.uint8)
                assert (decode_jpeg_gray(encode_jpeg_gray(img, q)) == img).all()

    def test_smooth_gradient_high_quality_near_lossless(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.add.outer(np.arange(24) * 3, np.arange(40) * 2).astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(img, 95))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    def test_noise_roundtrip_bounded_and_nonmultiple_dims(self):
        """17x23 forces edge-replication padding + crop; q90 noise error
        stays bounded (JPEG is lossy — the bound documents how lossy)."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            _decode_jpeg_header,
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (17, 23), dtype=np.uint8)
        payload = encode_jpeg_gray(img, 90)
        out = decode_jpeg_gray(payload)
        assert out.shape == (17, 23)
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.max() <= 32 and err.mean() <= 6
        meta = _decode_jpeg_header(payload)
        assert (meta["width"], meta["height"]) == (23, 17)

    def test_entropy_byte_stuffing_roundtrips(self):
        """Images chosen to produce 0xFF entropy bytes exercise the
        stuff/unstuff path: any mismatch desyncs the whole scan."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        rng = np.random.default_rng(11)
        for seed in range(20):
            img = rng.integers(0, 256, (8, 16), dtype=np.uint8)
            payload = encode_jpeg_gray(img, 85)
            out = decode_jpeg_gray(payload)  # desync would raise/garble
            assert out.shape == img.shape

    # ---- spec-assembly helpers for the COLOR golden vectors (test-local,
    # independent of the module's encoder — the bitstreams below are
    # hand-derived from T.81 Annex K / F.1) ----------------------------------

    @staticmethod
    def _seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    @classmethod
    def _dqt_flat16(cls) -> bytes:
        return cls._seg(0xDB, bytes([0x00]) + bytes([16] * 64))

    @classmethod
    def _dht_annexk(cls) -> bytes:
        from tomixpanel_spark.operators.multimodal import (
            _JPEG_AC_BITS,
            _JPEG_AC_VALS,
            _JPEG_DC_BITS,
            _JPEG_DC_VALS,
        )

        return cls._seg(
            0xC4,
            bytes([0x00] + _JPEG_DC_BITS + _JPEG_DC_VALS)
            + bytes([0x10] + _JPEG_AC_BITS + _JPEG_AC_VALS),
        )

    @classmethod
    def _sof0_ycbcr(cls, h: int, w: int, y_hv: int) -> bytes:
        body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        body += bytes([3, 1, y_hv, 0, 2, 0x11, 0, 3, 0x11, 0])
        return cls._seg(0xC0, body)

    @classmethod
    def _sos_3comp(cls) -> bytes:
        return cls._seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))

    @staticmethod
    def _entropy(bits: str) -> bytes:
        bits = bits + "1" * (-len(bits) % 8)
        raw = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
        return raw.replace(b"\xff", b"\xff\x00")  # byte stuffing

    def test_color_444_luma_golden(self):
        """Hand-assembled 4:4:4 YCbCr stream: Y block DC diff +6 (code
        '100'+'110', dequant 96 -> constant 140), Cb/Cr DC 0 + EOB. The
        decoder must return the LUMA plane only — chroma advances the
        bitstream but contributes no pixels."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        bits = "100" "110" "1010" + "00" "1010" + "00" "1010"
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 8, 0x11)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 8)
        assert (got == 140).all(), got

    def test_color_420_luma_golden_and_dc_prediction(self):
        """Hand-assembled 4:2:0 stream (Y 2x2, Cb/Cr 1x1 — one 16x16
        MCU): four Y blocks with DC diffs +6,+2,-2,-6 pin the
        PER-COMPONENT DC prediction chain across the luma blocks of one
        MCU; quadrant constants 140/144/140/128 follow from cumulative
        DC 6,8,6,0 x flat-16 quant."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        bits = (
            "100" "110" "1010"      # Y TL: diff +6 -> dc 6 -> 140
            "011" "10" "1010"       # Y TR: diff +2 -> dc 8 -> 144
            "011" "01" "1010"       # Y BL: diff -2 -> dc 6 -> 140
            "100" "001" "1010"      # Y BR: diff -6 -> dc 0 -> 128
            "00" "1010"             # Cb: dc 0, EOB
            "00" "1010"             # Cr: dc 0, EOB
        )
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(16, 16, 0x22)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (16, 16)
        expected = np.zeros((16, 16), dtype=np.uint8)
        expected[:8, :8] = 140
        expected[:8, 8:] = 144
        expected[8:, :8] = 140
        expected[8:, 8:] = 128
        assert (got == expected).all(), got

    def test_color_422_luma_golden(self):
        """4:2:2 (Y 2x1, Cb/Cr 1x1 — one 16-wide MCU): exercises the
        horizontal-only sampling loop; halves 140 / 144."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        bits = (
            "100" "110" "1010"   # Y left: dc 6 -> 140
            "011" "10" "1010"    # Y right: dc 8 -> 144
            "00" "1010" "00" "1010"
        )
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 16, 0x21)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 16)
        assert (got[:, :8] == 140).all() and (got[:, 8:] == 144).all()

    def test_color_chroma_ac_keeps_bitstream_sync(self):
        """Chroma blocks carrying real AC coefficients must be entropy-
        decoded (skipped-IDCT) without desyncing the luma that follows:
        two 4:4:4 MCUs where MCU1's Cb codes an AC coefficient and
        MCU2's Y must still decode to its spec value."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        bits = (
            # MCU 1 (left 8x8): Y dc 6 -> 140
            "100" "110" "1010"
            + "00" "01" "00" "1010"   # Cb: dc 0, AC run0/size2 raw00 (-3), EOB
            + "00" "1010"             # Cr: dc 0
            # MCU 2 (right 8x8): Y diff +2 -> dc 8 -> 144
            + "011" "10" "1010"
            + "00" "1010" + "00" "1010"
        )
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 16, 0x11)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 16)
        assert (got[:, :8] == 140).all() and (got[:, 8:] == 144).all()

    def test_color_420_odd_dims_crop(self):
        """4:2:0 with 12x12 SOF dims: the MCU still codes 16x16 of luma;
        the decoder must crop to the declared image size."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        bits = (
            "100" "110" "1010" "011" "10" "1010"
            "011" "01" "1010" "100" "001" "1010"
            "00" "1010" "00" "1010"
        )
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(12, 12, 0x22)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (12, 12)
        assert (got[:8, :8] == 140).all()
        assert (got[:8, 8:] == 144).all()
        assert (got[8:, :8] == 140).all()
        assert (got[8:, 8:] == 128).all()

    def test_color_dhash_through_perceptual_pipeline(self):
        """A color 4:4:4 payload flows through decode_image_gray +
        dhash_bits exactly like its grayscale twin: both decode to the
        same luma, so the dHashes are EQUAL."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_image_gray,
            dhash_bits,
            encode_jpeg_gray,
        )

        bits = "100" "110" "1010" + "00" "1010" + "00" "1010"
        color = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 8, 0x11)
            + self._dht_annexk() + self._sos_3comp()
            + self._entropy(bits) + b"\xff\xd9"
        )
        gray = encode_jpeg_gray(np.full((8, 8), 140, dtype=np.uint8), 100)
        luma_c = decode_image_gray(color)
        luma_g = decode_image_gray(gray)
        assert (luma_c == luma_g).all()
        assert dhash_bits(luma_c) == dhash_bits(luma_g)

    # ---- progressive (SOF2) golden vectors ---------------------------------

    @classmethod
    def _sof2_gray(cls, h: int, w: int) -> bytes:
        body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        body += bytes([1, 1, 0x11, 0])
        return cls._seg(0xC2, body)

    @classmethod
    def _sof2_ycbcr(cls, h: int, w: int, y_hv: int) -> bytes:
        body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        body += bytes([3, 1, y_hv, 0, 2, 0x11, 0, 3, 0x11, 0])
        return cls._seg(0xC2, body)

    @classmethod
    def _sos_prog(cls, comp_specs, ss, se, ah, al) -> bytes:
        body = bytes([len(comp_specs)])
        for cs, tdta in comp_specs:
            body += bytes([cs, tdta])
        body += bytes([ss, se, (ah << 4) | al])
        return cls._seg(0xDA, body)

    @staticmethod
    def _direct_idct(coefmat):
        """T.81 A.3.3 direct IDCT — the spec's own formula, independent
        of the decoder's matrix implementation."""
        import numpy as np

        out = np.zeros((8, 8))
        for yy in range(8):
            for xx in range(8):
                s = 0.0
                for v in range(8):
                    for u in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * coefmat[v, u]
                            * np.cos((2 * xx + 1) * u * np.pi / 16)
                            * np.cos((2 * yy + 1) * v * np.pi / 16)
                        )
                out[yy, xx] = s / 4 + 128
        return np.clip(np.rint(out), 0, 255).astype("uint8")

    def test_progressive_dc_first_refine_then_ac(self):
        """Grayscale SOF2, three scans: DC-first at Al=1 (diff +3 ->
        DC 6), DC-refinement appending bit 1 (DC 7), AC-first all-EOB.
        Successive approximation must assemble DC=7 -> dequant 112 ->
        constant 142."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 8)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 1)
            + self._entropy("011" "11")           # DC cat2 +3, shifted <<1
            + self._sos_prog([(1, 0x00)], 0, 0, 1, 0)
            + self._entropy("1")                   # refinement bit -> |=1
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010")                # AC: EOB
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 8)
        assert (got == 142).all(), got

    def test_progressive_ac_first_and_refinement(self):
        """AC successive approximation: first pass codes +1 at k=1 under
        Al=1 (coefficient 2), the refinement pass's EOB-run correction
        bit promotes it to 3 (G.1.2.3). Expected pixels from the spec's
        direct IDCT with coefficient 48 at (v=0, u=1)."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 8)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
            + self._entropy("00")                  # DC 0
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 1)
            + self._entropy("00" "1" "1010")       # AC 0/1 +1 (<<1 = 2), EOB
            + self._sos_prog([(1, 0x00)], 1, 63, 1, 0)
            + self._entropy("1010" "1")            # EOB run 1 + correction bit
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        coef = np.zeros((8, 8))
        coef[0, 1] = 3 * 16  # refined coefficient x flat quant
        assert (got == self._direct_idct(coef)).all(), got

    def test_progressive_spectral_bands(self):
        """Band-split AC scans (Ss..Se partitions): k=1 coded in band
        1..5, k=6 in band 6..63; the assembled spectrum must match the
        direct IDCT of both coefficients together."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            _ZIGZAG,
            decode_jpeg_gray,
        )

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 8)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
            + self._entropy("00")                  # DC 0
            + self._sos_prog([(1, 0x00)], 1, 5, 0, 0)
            + self._entropy("00" "1" "1010")       # k=1: +1, EOB(band)
            + self._sos_prog([(1, 0x00)], 6, 63, 0, 0)
            + self._entropy("00" "1" "1010")       # k=6: +1, EOB(band)
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        coef = np.zeros(64)
        coef[1] = 16
        coef[6] = 16
        mat = np.zeros((8, 8))
        mat.flat[_ZIGZAG] = coef  # dezigzag: position k lands at _ZIGZAG[k]
        assert (got == self._direct_idct(mat)).all(), got

    def test_progressive_color_interleaved_dc(self):
        """3-component progressive: interleaved DC-first scan (Y diff +6,
        chroma 0) + three per-component all-EOB AC scans. Luma must
        decode to constant 140; chroma scans only advance the walk."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_ycbcr(8, 8, 0x11)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 0, 0)
            + self._entropy("100" "110" + "00" + "00")
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010")
            + self._sos_prog([(2, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010")
            + self._sos_prog([(3, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010")
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 8)
        assert (got == 140).all(), got

    def test_progressive_eob_run_spans_blocks(self):
        """A 16x8 (two-block) image where one AC-first EOB run covers
        BOTH blocks: EOBn symbols (RS=0x10 here) don't exist in the
        Annex-K baseline table, so the scan ships its own DHT — also
        pinning that tables may be REDEFINED between scans."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        # custom AC table (class 1, id 0): single symbol 0x10 = EOB1,
        # canonical code '0' (BITS=[1,0,...])
        eob1_dht = self._seg(
            0xC4, bytes([0x10, 1] + [0] * 15 + [0x10])
        )
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 16)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
            + self._entropy("100" "110" + "011" "10")  # DC 6 then +2 -> 8
            + eob1_dht
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 0)
            # code '0' = EOB1 -> run 2^1 + appended bit 0 = 2 blocks
            + self._entropy("0" "0")
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 16)
        assert (got[:, :8] == 140).all() and (got[:, 8:] == 144).all()

    def test_progressive_restart_markers_and_dri_redefinition(self):
        """Progressive DC scan under DRI=1: an RST0 between the two
        blocks must byte-realign and reset the DC predictor (block 2
        codes +8 ABSOLUTE, not a +2 delta). A second DRI=0 segment then
        disables restarts for the AC scan — DRI is redefinable between
        scans."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        # block 1: cat3 '100'+'110' (+6), pad '11' -> 0x9B; RST0;
        # block 2 (pred reset): cat4 '101'+'1000' (+8), pad '1' -> 0xB1
        ent_dc = bytes([0b10011011]) + b"\xff\xd0" + bytes([0b10110001])
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 16)
            + self._dht_annexk()
            + self._seg(0xDD, (1).to_bytes(2, "big"))
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0) + ent_dc
            + self._seg(0xDD, (0).to_bytes(2, "big"))
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010" "1010")  # EOB, EOB — no restart now
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 16)
        assert (got[:, :8] == 140).all() and (got[:, 8:] == 144).all()

    def test_progressive_luma_plane_respects_pixel_cap(self, monkeypatch):
        """Review regression: a small SOF2 payload declaring dims past
        TOMIX_IMG_MAX_PIXELS must raise BEFORE allocating — the old
        coefficient-only bound (4x max_px) let a 1-component stream's
        luma plane exceed the cap the baseline path enforces."""
        import pytest

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        monkeypatch.setenv("TOMIX_IMG_MAX_PIXELS", "65536")
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(512, 512)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
            + self._entropy("00")
            + b"\xff\xd9"
        )
        with pytest.raises(ValueError, match="TOMIX_IMG_MAX_PIXELS"):
            decode_jpeg_gray(payload)

    def test_rejects_progressive_and_cmyk(self):
        import numpy as np
        import pytest

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.full((8, 8), 100, dtype=np.uint8)
        payload = bytearray(encode_jpeg_gray(img, 90))
        sof = payload.find(b"\xff\xc0")
        lossless = bytes(payload[:sof + 1]) + b"\xc3" + bytes(payload[sof + 2:])
        with pytest.raises(ValueError, match="baseline"):
            decode_jpeg_gray(lossless)
        # a baseline stream relabeled SOF2 carries a full-band SOS, which
        # a progressive DC scan must reject (Se must be 0)
        relabeled = bytes(payload[:sof + 1]) + b"\xc2" + bytes(payload[sof + 2:])
        with pytest.raises(ValueError, match="Se=0"):
            decode_jpeg_gray(relabeled)
        # a correctly-sized 4-component (CMYK-style) SOF must raise the
        # honest-contract error, not a truncation artifact
        body = bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        body += bytes([4]) + bytes(
            b for i in range(4) for b in (i + 1, 0x11, 0)
        )
        cmyk = (
            b"\xff\xd8" + self._dqt_flat16()
            + self._seg(0xC0, body) + self._dht_annexk()
        )
        with pytest.raises(ValueError, match="CMYK|3-component|1-component"):
            decode_jpeg_gray(cmyk)

    def test_restart_interval_roundtrip(self):
        """DRI/RSTn streams (T.81 E.2.4): the restart-interval encoding
        of an image must decode to EXACTLY the pixels of the plain
        encoding — byte realignment, DC-prediction reset, and RST cycle
        all exercised (>8 intervals so the marker index wraps)."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        rng = np.random.default_rng(17)
        for ri in (1, 2, 3, 5):
            img = rng.integers(0, 256, (24, 40), dtype=np.uint8)  # 15 MCUs
            plain = decode_jpeg_gray(encode_jpeg_gray(img, 85))
            rst = decode_jpeg_gray(
                encode_jpeg_gray(img, 85, restart_interval=ri)
            )
            assert (plain == rst).all()

    def test_restart_markers_out_of_sequence_raise(self):
        import numpy as np
        import pytest

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.random.default_rng(19).integers(
            0, 256, (8, 32), dtype=np.uint8
        )
        payload = bytearray(encode_jpeg_gray(img, 85, restart_interval=1))
        i = payload.find(b"\xff\xd0")  # first RST0 -> RST5 (wrong cycle)
        assert i > 0
        payload[i + 1] = 0xD5
        with pytest.raises(ValueError, match="out of sequence"):
            decode_jpeg_gray(bytes(payload))

    def test_fill_bytes_before_markers_accepted(self):
        """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        marker; standard decoders accept them, so must ours."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.random.default_rng(23).integers(
            0, 256, (16, 16), dtype=np.uint8
        )
        payload = encode_jpeg_gray(img, 90)
        want = decode_jpeg_gray(payload)
        padded = payload[:2] + b"\xff\xff\xff" + payload[2:]
        assert (decode_jpeg_gray(padded) == want).all()

    def test_oversized_sof_dims_raise_not_oom(self):
        """SOF dimensions are untrusted: a small payload claiming a
        huge frame must raise ValueError BEFORE allocating the output
        (the worker-OOM guard), via both the entropy-floor bound and
        the TOMIX_IMG_MAX_PIXELS cap."""
        import struct

        import numpy as np
        import pytest

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.full((8, 8), 77, dtype=np.uint8)
        payload = bytearray(encode_jpeg_gray(img, 90))
        sof = payload.find(b"\xff\xc0")
        payload[sof + 5 : sof + 9] = struct.pack(">HH", 0xFFF8, 0xFFF8)
        with pytest.raises(ValueError, match="entropy data could code"):
            decode_jpeg_gray(bytes(payload))
        # cap path: dims the entropy floor would allow, pixels > cap
        big = np.zeros((1024, 1024), dtype=np.uint8)
        cap_payload = encode_jpeg_gray(big, 90)
        old = os.environ.get("TOMIX_IMG_MAX_PIXELS")
        os.environ["TOMIX_IMG_MAX_PIXELS"] = str(512 * 512)
        try:
            with pytest.raises(ValueError, match="TOMIX_IMG_MAX_PIXELS"):
                decode_jpeg_gray(cap_payload)
        finally:
            if old is None:
                del os.environ["TOMIX_IMG_MAX_PIXELS"]
            else:
                os.environ["TOMIX_IMG_MAX_PIXELS"] = old

    def test_dhash_stable_across_png_and_jpeg(self):
        """The SAME pixels encoded as PNG (lossless) and JPEG (q98)
        must yield dHashes within the banded-Hamming match radius —
        the property that makes mixed-format near-dup detection work."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            MEDIA_HAM_MAX,
            decode_jpeg_gray,
            decode_png_gray,
            dhash_bits,
            encode_jpeg_gray,
            encode_png_gray,
        )

        rng = np.random.default_rng(3)
        for _ in range(30):
            px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
            h_png = dhash_bits(decode_png_gray(encode_png_gray(px)))
            h_jpg = dhash_bits(decode_jpeg_gray(encode_jpeg_gray(px, 98)))
            ham = bin(h_png ^ h_jpg).count("1")
            assert ham <= MEDIA_HAM_MAX, ham

    def test_mixed_format_neardup_end_to_end(self, spark):
        """A payload table mixing PNG and JPEG encodings of the same
        underlying images, through the REAL pipeline (signature-
        dispatched pixel decode -> dHash -> banded_hamming_pairs): every
        (png twin, jpeg twin) pair must be recovered."""
        import numpy as np

        from tomixpanel_spark.operators.dedup import banded_hamming_pairs
        from tomixpanel_spark.operators.multimodal import (
            DHASH_BITS,
            MEDIA_BANDS,
            MEDIA_HAM_MAX,
            encode_jpeg_gray,
            encode_png_gray,
            perceptual_hash,
        )

        rng = np.random.default_rng(5)
        rows = []
        n = 12
        for i in range(n):
            px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
            rows.append((i, "image/png", bytearray(encode_png_gray(px))))
            rows.append((100 + i, "image/jpeg",
                         bytearray(encode_jpeg_gray(px, 98))))
        media = spark.createDataFrame(
            rows, "item_id long, media_type string, payload binary"
        )
        hashes = perceptual_hash(media)
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in banded_hamming_pairs(
                hashes, "dhash", MEDIA_BANDS, 8, MEDIA_HAM_MAX
            ).collect()
        }
        for i in range(n):
            assert (i, 100 + i) in pairs, f"twin pair for image {i} missing"

    def test_noninterleaved_baseline_three_scans(self):
        """Non-interleaved baseline (T.81 A.2.2, round-11 advice's rare
        case): a 4:4:4 YCbCr file coded as THREE single-component scans
        must decode its luma identically to the interleaved twin. The
        chroma scans are self-contained and skipped wholesale."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        def sos1(cid):
            return self._seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 8, 0x11)
            + self._dht_annexk()
            + sos1(1) + self._entropy("100" "110" "1010")  # Y: dc 6 -> 140
            + sos1(2) + self._entropy("00" "1010")          # Cb
            + sos1(3) + self._entropy("00" "1010")          # Cr
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 8)
        assert (got == 140).all(), got

    def test_noninterleaved_dc_prediction_across_blocks(self):
        """Two luma blocks in one non-interleaved scan: block raster
        order with DC prediction (+6 then +2 -> 140 / 144), chroma scans
        carrying arbitrary self-contained entropy the decoder never
        reads."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        def sos1(cid):
            return self._seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 16, 0x11)
            + self._dht_annexk()
            + sos1(1) + self._entropy("100" "110" "1010" + "011" "10" "1010")
            + sos1(2) + b"\x5a\x5a"  # garbage chroma entropy: never decoded
            + sos1(3) + b"\x5a\x5a"
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 16)
        assert (got[:, :8] == 140).all() and (got[:, 8:] == 144).all()

    def test_partial_interleave_scan_subset_raises(self):
        """A scan covering 2 of 3 SOF components (partial interleave) is
        the remaining unsupported layout — honest ValueError, not a
        silent misdecode."""
        import pytest

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof0_ycbcr(8, 8, 0x11)
            + self._dht_annexk()
            + self._seg(0xDA, bytes([2, 1, 0x00, 2, 0x00, 0, 63, 0]))
            + self._entropy("100" "110" "1010" "00" "1010")
            + b"\xff\xd9"
        )
        with pytest.raises(ValueError, match="partial-interleave"):
            decode_jpeg_gray(payload)

    def test_progressive_dqt_snapshot_at_first_scan(self):
        """libjpeg latches each component's quant table at its FIRST
        coefficient-bearing scan: a DQT redefinition AFTER luma's first
        scan must NOT change luma dequantization (last-definition-wins
        decoded 152 here; the snapshot semantics give 140)."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        dqt_flat32 = self._seg(0xDB, bytes([0x00]) + bytes([32] * 64))
        payload = (
            b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(8, 8)
            + self._dht_annexk()
            + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
            + self._entropy("100" "110")           # DC 6 (x16 -> 140)
            + dqt_flat32                            # redefined AFTER scan 1
            + self._sos_prog([(1, 0x00)], 1, 63, 0, 0)
            + self._entropy("1010")                 # AC: EOB
            + b"\xff\xd9"
        )
        got = decode_jpeg_gray(payload)
        assert got.shape == (8, 8)
        assert (got == 140).all(), got

    def test_progressive_alloc_bound_is_payload_proportional(self):
        """DoS amplification bound: a few-hundred-byte progressive
        payload whose SOF geometry passes the pixel/byte caps but claims
        >max(16 MB, 1024 x payload) of coefficient buffers must raise
        BEFORE np.zeros (EOB runs make block-count-vs-entropy floors
        inapplicable in progressive mode, so the allocation is bounded
        against the payload size instead). Round-12 verdict #7 tightened
        the floor 64 MB -> 16 MB and re-denominated the geometry bound
        in bytes: both the 8192x8192 (537 MB of buffers) and a
        2048x2048 (34 MB — under the OLD floor, over the new one)
        crafted payload must raise."""
        import pytest

        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        for dim in (8192, 2048):
            payload = (
                b"\xff\xd8" + self._dqt_flat16() + self._sof2_gray(dim, dim)
                + self._dht_annexk()
                + self._sos_prog([(1, 0x00)], 0, 0, 0, 0)
                + self._entropy("00")
                + b"\xff\xd9"
            )
            assert len(payload) < 1024  # the amplification premise
            with pytest.raises(ValueError, match="allocation bound"):
                decode_jpeg_gray(payload)

    def test_progressive_color_payload_through_spark_pipeline(self, spark):
        """A hand-assembled PROGRESSIVE interleaved-color payload runs
        through the real Spark perceptual_hash stage (mapInPandas,
        executor-side decode) and hashes identically to its baseline
        grayscale twin — the three format classes (baseline gray,
        baseline color, progressive color) are ONE pipeline."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            encode_jpeg_gray,
            perceptual_hash,
        )

        T = TestJpegCodec
        progressive_color = (
            b"\xff\xd8" + T._dqt_flat16() + T._sof2_ycbcr(8, 8, 0x11)
            + T._dht_annexk()
            + T._sos_prog([(1, 0x00), (2, 0x00), (3, 0x00)], 0, 0, 0, 0)
            + T._entropy("100" "110" + "00" + "00")
            + T._sos_prog([(1, 0x00)], 1, 63, 0, 0) + T._entropy("1010")
            + T._sos_prog([(2, 0x00)], 1, 63, 0, 0) + T._entropy("1010")
            + T._sos_prog([(3, 0x00)], 1, 63, 0, 0) + T._entropy("1010")
            + b"\xff\xd9"
        )
        gray_twin = encode_jpeg_gray(np.full((8, 8), 140, dtype=np.uint8), 100)
        baseline_color = (
            b"\xff\xd8" + T._dqt_flat16() + T._sof0_ycbcr(8, 8, 0x11)
            + T._dht_annexk() + T._sos_3comp()
            + T._entropy("100" "110" "1010" + "00" "1010" + "00" "1010")
            + b"\xff\xd9"
        )
        media = spark.createDataFrame(
            [
                (1, bytearray(gray_twin)),
                (2, bytearray(baseline_color)),
                (3, bytearray(progressive_color)),
            ],
            "item_id long, payload binary",
        )
        got = {r["doc_id"]: r["dhash"] for r in perceptual_hash(media).collect()}
        assert got[1] == got[2] == got[3], got


class TestExifOrientation:
    """EXIF orientation (APP1 tag 0x0112) parse + normalization
    (round-11 verdict #5): a rotated re-save of the same image must
    dHash into the same Hamming bucket."""

    @staticmethod
    def _exif_app1(orientation: int, endian: str = "<") -> bytes:
        import struct

        tiff = (b"II" if endian == "<" else b"MM")
        tiff += struct.pack(endian + "H", 42) + struct.pack(endian + "I", 8)
        tiff += struct.pack(endian + "H", 1)  # one IFD0 entry
        tiff += (
            struct.pack(endian + "HHI", 0x0112, 3, 1)
            + struct.pack(endian + "H", orientation)
            + b"\x00\x00"
        )
        tiff += struct.pack(endian + "I", 0)  # no next IFD
        body = b"Exif\x00\x00" + tiff
        return bytes([0xFF, 0xE1]) + (len(body) + 2).to_bytes(2, "big") + body

    @staticmethod
    def _display_img():
        import numpy as np

        # strong distinct steps (multiples of 32, horizontally adjacent
        # values never equal) so dHash gradient signs survive JPEG loss
        r, c = np.mgrid[0:8, 0:8]
        return (((r * 37 + c * 11) % 8) * 32).astype(np.uint8)

    def test_orientation_parse_both_endians_and_absence(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            _jpeg_exif_orientation,
            encode_jpeg_gray,
        )

        base = encode_jpeg_gray(self._display_img(), 100)
        assert _jpeg_exif_orientation(base) == 1
        for endian in ("<", ">"):
            for ori in (3, 6, 8):
                tagged = base[:2] + self._exif_app1(ori, endian) + base[2:]
                assert _jpeg_exif_orientation(tagged) == ori, (endian, ori)
        # malformed EXIF degrades to 1, never raises
        broken = base[:2] + self._exif_app1(6)[:12] + base[2:]
        assert _jpeg_exif_orientation(base[:2] + b"\xff\xe1\x00\x04xx" + base[2:]) == 1
        assert _jpeg_exif_orientation(b"\xff\xd8") == 1

    def test_exif_transpose_roundtrips_all_orientations(self):
        """For every orientation, storing transform(display) and
        normalizing must recover display exactly (pure-numpy check of
        the transform table, no JPEG loss)."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import exif_transpose

        display = self._display_img().astype(np.int64)
        stored_of = {
            1: display,
            2: np.fliplr(display),
            3: display[::-1, ::-1],
            4: np.flipud(display),
            5: display.T,
            6: np.rot90(display, 1),   # inverse of rotate-90-CW
            7: display[::-1, ::-1].T,
            8: np.rot90(display, -1),  # inverse of rotate-90-CCW
        }
        for ori, stored in stored_of.items():
            got = exif_transpose(stored, ori)
            assert (np.asarray(got) == display).all(), ori

    def test_decode_image_gray_normalizes_orientation6(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_image_gray,
            dhash_bits,
            encode_jpeg_gray,
        )

        display = self._display_img()
        plain = encode_jpeg_gray(display, 100)
        stored = np.ascontiguousarray(np.rot90(display, 1))
        rotated = encode_jpeg_gray(stored, 100)
        exif6 = rotated[:2] + self._exif_app1(6) + rotated[2:]
        # without the tag, the rotated payload hashes differently…
        assert dhash_bits(decode_image_gray(rotated)) != dhash_bits(
            decode_image_gray(plain)
        )
        # …with it, normalization makes the twins hash-identical
        assert dhash_bits(decode_image_gray(exif6)) == dhash_bits(
            decode_image_gray(plain)
        )

    def test_orientation6_twin_lands_in_same_hamming_bucket(self, spark):
        """End to end through the REAL pipeline stages: perceptual_hash
        (executor-side decode + EXIF normalize) then banded_hamming_pairs
        must pair the orientation-6 re-save with its upright twin."""
        import numpy as np

        from tomixpanel_spark.operators.dedup import banded_hamming_pairs
        from tomixpanel_spark.operators.multimodal import (
            MEDIA_BANDS,
            MEDIA_HAM_MAX,
            encode_jpeg_gray,
            perceptual_hash,
        )

        display = self._display_img()
        plain = encode_jpeg_gray(display, 100)
        stored = np.ascontiguousarray(np.rot90(display, 1))
        rotated = encode_jpeg_gray(stored, 100)
        exif6 = rotated[:2] + self._exif_app1(6) + rotated[2:]
        media = spark.createDataFrame(
            [(0, bytearray(plain)), (1, bytearray(exif6))],
            "item_id long, payload binary",
        )
        sig = perceptual_hash(media)
        pairs = banded_hamming_pairs(
            sig, "dhash", MEDIA_BANDS, 8, MEDIA_HAM_MAX
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [
            (0, 1, 0)
        ]


class TestImageDecoderExceptionHygiene:
    """Corrupt/truncated payloads must raise ValueError — never leak
    IndexError / struct.error / zlib.error to a mapInPandas batch over
    thousands of payloads (one odd exception type aborts the stage with
    a misleading trace)."""

    def _fuzz(self, valid, decode, prefix):
        import random

        rng = random.Random(11)
        cases = [valid[:cut] for cut in range(2, len(valid), 3)]
        cases += [
            prefix + bytes(rng.randrange(256) for _ in range(rng.randrange(4, 160)))
            for _ in range(300)
        ]
        for _ in range(300):
            ba = bytearray(valid)
            i = rng.randrange(len(prefix), len(ba) - 2)
            ba[i] ^= 1 << rng.randrange(8)
            cases.append(bytes(ba))
        for payload in cases:
            try:
                decode(payload)
            except ValueError:
                pass  # the contract

    def test_jpeg_fuzz_only_valueerror(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        self._fuzz(encode_jpeg_gray(img, 90), decode_jpeg_gray, b"\xff\xd8")

    def test_progressive_jpeg_fuzz_only_valueerror(self):
        """Bit-flip/truncation/garbage fuzz over a valid PROGRESSIVE
        stream: the multi-scan path must uphold the same
        only-ValueError exception contract as baseline."""
        from tomixpanel_spark.operators.multimodal import decode_jpeg_gray

        valid = (
            b"\xff\xd8" + TestJpegCodec._dqt_flat16()
            + TestJpegCodec._sof2_gray(8, 16)
            + TestJpegCodec._dht_annexk()
            + TestJpegCodec._sos_prog([(1, 0x00)], 0, 0, 0, 1)
            + TestJpegCodec._entropy("011" "11" + "011" "10")
            + TestJpegCodec._sos_prog([(1, 0x00)], 0, 0, 1, 0)
            + TestJpegCodec._entropy("1" "0")
            + TestJpegCodec._sos_prog([(1, 0x00)], 1, 63, 0, 1)
            + TestJpegCodec._entropy("00" "1" "1010" + "1010")
            + TestJpegCodec._sos_prog([(1, 0x00)], 1, 63, 1, 0)
            + TestJpegCodec._entropy("1010" "1" + "1010")
            + b"\xff\xd9"
        )
        decode_jpeg_gray(valid)  # the seed stream itself must decode
        self._fuzz(valid, decode_jpeg_gray, b"\xff\xd8")

    def test_png_fuzz_only_valueerror(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_png_gray,
            encode_png_gray,
        )

        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        self._fuzz(encode_png_gray(img), decode_png_gray, b"\x89PNG\r\n\x1a\n")
