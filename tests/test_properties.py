"""Property-based tests (hypothesis) for the pure-Python engine pieces:
batching invariants and canonical scalar semantics. These run WITHOUT a
SparkSession — they pin the driver-side contracts that the distributed
paths rely on."""

from __future__ import annotations

import pytest

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from tomixpanel_spark.sinks.batching import batch_payload, pack_batches, serialize_record

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
        batches = list(pack_batches(map(serialize_record, recs), max_records, max_bytes))
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
        batches = list(pack_batches(map(serialize_record, recs), 1000, max_bytes))
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


# corpora for the shingle fold: a small vocabulary so documents overlap,
# separators the tokenizer folds (space, tab, LF) and Unicode spaces it
# keeps inside a token (NBSP, em space, ideographic space)
_WORDS = st.sampled_from(["a", "b", "c", "the", "cat", "sat", "é", "日本", "x\u00a0y"])
_SEPS = st.sampled_from([" ", " ", "  ", "\t", "\n", "\u00a0", "\u2003", "\u3000"])
_TEXTS = st.one_of(
    st.none(),
    st.just(""),
    st.lists(_WORDS, min_size=1, max_size=2).map(" ".join),
    st.lists(st.tuples(_WORDS, _SEPS), min_size=3, max_size=14).map(
        lambda ws: "".join(w + sep for w, sep in ws)
    ),
)


@pytest.mark.slow
class TestShingleFoldEqualsChain:
    """The driver shingle fold must compute the Spark SQL chain's rows on
    any corpus: null, empty and 1-2-token texts, exact duplicate texts,
    Unicode whitespace, unsorted and negative ids, and every ``df_cap``
    shape (2, 5, None). A repeated id sends the corpus to the chain on
    both sides."""

    @given(
        st.lists(_TEXTS, max_size=18),
        st.lists(st.integers(0, 17), max_size=6),
        st.sampled_from([2, 5, None]),
        st.sampled_from([0.3, 0.8]),
        st.booleans(),
        st.randoms(use_true_random=False),
    )
    @settings(max_examples=20, deadline=None)
    def test_fold_equals_chain(self, spark, texts, dups, df_cap, threshold, repeat_id, rnd):
        import os
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from tomixpanel_spark.operators import dedup as dd
        from tomixpanel_spark.operators.base import table

        texts = texts + [texts[i] for i in dups if i < len(texts)]
        ids = rnd.sample(range(-40, 200), len(texts))
        if repeat_id and len(ids) > 1:
            ids[-1] = ids[0]
        sf = tempfile.mkdtemp(prefix="tomix_fold_prop_")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
            os.path.join(sf, "documents.parquet"),
        )
        docs = table(spark, sf, "documents")

        def rows():
            out = {
                "jaccard": dd.near_dup_pairs(docs, threshold=threshold, df_cap=df_cap),
                "containment": dd.containment_pairs(spark, sf, df_cap=df_cap),
            }
            if df_cap is None:
                out["carry"] = dd.near_dup_pairs(docs, threshold=threshold, carry_ntoks=True)
            return {k: sorted(map(tuple, v.collect())) for k, v in out.items()}

        old = os.environ.pop("TOMIX_TFIDF_DRIVER_FOLD_DOCS", None)
        try:
            fold = rows()
            os.environ["TOMIX_TFIDF_DRIVER_FOLD_DOCS"] = "0"
            chain = rows()
        finally:
            os.environ.pop("TOMIX_TFIDF_DRIVER_FOLD_DOCS", None)
            if old is not None:
                os.environ["TOMIX_TFIDF_DRIVER_FOLD_DOCS"] = old
            shutil.rmtree(sf, ignore_errors=True)
        assert fold == chain


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

    @staticmethod
    def _png(raw: bytes, w: int, h: int) -> bytes:
        import struct
        import zlib

        from tomixpanel_spark.operators.multimodal import _png_chunk

        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    def test_sub_rows_decode_as_one_running_sum(self):
        """Sub on every row of a 1000x1000 image decodes bit-identically
        to its filter-0 twin in under 0.1 s (best of three): the row is a
        running sum, not a per-pixel loop, which took about 0.6 s."""
        import time

        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_png_gray,
            encode_png_gray,
        )

        h = w = 1000
        px = np.random.default_rng(7).integers(0, 256, size=(h, w), dtype=np.int64)
        sub = (px - np.pad(px, ((0, 0), (1, 0)))[:, :-1]) & 0xFF
        raw = b"".join(b"\x01" + sub[r].astype(np.uint8).tobytes() for r in range(h))
        payload = self._png(raw, w, h)
        twin = decode_png_gray(encode_png_gray(px.astype(np.uint8)))
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            out = decode_png_gray(payload)
            best = min(best, time.perf_counter() - t)
        assert out.dtype == twin.dtype and (out == twin).all()
        assert (twin == px).all()
        assert best < 0.1, f"Sub decode took {best:.3f} s"

    def test_paeth_over_the_scan_budget_raises(self):
        """Average and Paeth unfilter pixel by pixel, so an image with
        more such pixels than ``PNG_SCAN_BUDGET`` raises ValueError
        before any row is unfiltered; one row less still decodes."""
        from tomixpanel_spark.operators.multimodal import (
            PNG_SCAN_BUDGET,
            decode_png_gray,
        )

        w = 1000
        h = PNG_SCAN_BUDGET // w + 1
        with pytest.raises(ValueError, match="budget"):
            decode_png_gray(self._png((b"\x04" + bytes(w)) * h, w, h))
        out = decode_png_gray(self._png((b"\x03" + bytes(w)) * (h - 1), w, h - 1))
        assert out.shape == (h - 1, w) and not out.any()

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

    def test_png_fuzz_only_valueerror(self):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import (
            decode_png_gray,
            encode_png_gray,
        )

        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        self._fuzz(encode_png_gray(img), decode_png_gray, b"\x89PNG\r\n\x1a\n")


def _png_gray(width, height, idat):
    """An 8-bit grayscale PNG with the given IHDR size and raw IDAT body."""
    import struct

    from tomixpanel_spark.operators.multimodal import _png_chunk

    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


class TestPngDecodeBounds:
    """IHDR dimensions and the IDAT stream are untrusted input: the
    decoder must neither inflate past the declared image nor start on an
    image above ``TOMIX_IMG_MAX_PIXELS``."""

    def test_zlib_bomb_raises_without_inflating(self):
        """A ~62 KB PNG declaring 1x1 whose IDAT inflates to 64 MB raises
        ValueError with a small allocation peak: the inflate stops one
        byte past the 2 bytes the IHDR allows."""
        import tracemalloc
        import zlib

        from tomixpanel_spark.operators.multimodal import decode_png_gray

        deflate = zlib.compressobj(9)
        zero_mb = bytes(1 << 20)
        bomb = b"".join(deflate.compress(zero_mb) for _ in range(64)) + deflate.flush()
        payload = _png_gray(1, 1, bomb)
        assert len(payload) < 100_000
        tracemalloc.start()
        try:
            with pytest.raises(ValueError, match="wrong length"):
                decode_png_gray(payload)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, peak

    def test_stream_without_checksum_still_raises(self):
        """Bounding the inflate must not accept a stream that stops
        right after the pixel data: without its adler32 trailer the
        stream is truncated, as ``zlib.decompress`` also says."""
        import zlib

        from tomixpanel_spark.operators.multimodal import decode_png_gray

        raw = b"\x00" + bytes(range(8))
        assert decode_png_gray(_png_gray(8, 1, zlib.compress(raw))).tolist() == [
            list(range(8))
        ]
        with pytest.raises(ValueError, match="truncated"):
            decode_png_gray(_png_gray(8, 1, zlib.compress(raw)[:-4]))

    def test_pixel_cap_boundary(self, monkeypatch):
        """At TOMIX_IMG_MAX_PIXELS pixels the image decodes; one pixel
        more raises from the IHDR, before the IDAT is inflated: an IDAT
        that is not zlib at all still gets the cap's message."""
        import numpy as np

        from tomixpanel_spark.operators.multimodal import decode_png_gray, encode_png_gray

        monkeypatch.setenv("TOMIX_IMG_MAX_PIXELS", "64")
        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        assert (decode_png_gray(encode_png_gray(img)) == img).all()
        over = np.zeros((5, 13), dtype=np.uint8)  # 65 pixels
        with pytest.raises(ValueError, match="TOMIX_IMG_MAX_PIXELS=64"):
            decode_png_gray(encode_png_gray(over))
        not_zlib = _png_gray(13, 5, b"not a zlib stream")
        with pytest.raises(ValueError, match="TOMIX_IMG_MAX_PIXELS=64"):
            decode_png_gray(not_zlib)
        monkeypatch.delenv("TOMIX_IMG_MAX_PIXELS")
        with pytest.raises(ValueError, match="truncated or corrupt"):
            decode_png_gray(not_zlib)


class TestImagePixelDecodeIsPngOnly:
    """JPEG is header-only: ``decode_payload`` still reads its size, and
    the pixel entry points reject it with a message that says so."""

    # SOI, SOF0 (8-bit, 480x640, 1 component), SOS, EOI
    JPEG = (
        b"\xff\xd8"
        + b"\xff\xc0\x00\x0b\x08\x01\xe0\x02\x80\x01\x01\x11\x00"
        + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
        + b"\xff\xd9"
    )

    def test_decode_image_gray_rejects_jpeg(self):
        from tomixpanel_spark.operators.multimodal import (
            decode_image_gray,
            decode_payload,
            sniff_format,
        )

        assert sniff_format(self.JPEG) == "image/jpeg"
        meta = decode_payload(self.JPEG, "image/jpeg")
        assert (meta["width"], meta["height"], meta["bit_depth"]) == (640, 480, 8)
        with pytest.raises(ValueError, match="PNG only: JPEG pixel decode is not supported"):
            decode_image_gray(self.JPEG)
        with pytest.raises(ValueError, match="PNG only"):
            decode_image_gray(b"GIF89a")

    def test_perceptual_hash_fails_on_a_jpeg_row(self, spark):
        import numpy as np

        from tomixpanel_spark.operators.multimodal import encode_png_gray, perceptual_hash

        png = encode_png_gray(np.arange(64, dtype=np.uint8).reshape(8, 8))
        ok = spark.createDataFrame([(0, bytearray(png))], "item_id long, payload binary")
        assert [r["doc_id"] for r in perceptual_hash(ok).collect()] == [0]
        mixed = spark.createDataFrame(
            [(0, bytearray(png)), (1, bytearray(self.JPEG))],
            "item_id long, payload binary",
        )
        with pytest.raises(Exception, match="JPEG pixel decode is not supported"):
            perceptual_hash(mixed).collect()
