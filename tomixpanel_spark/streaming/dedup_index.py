"""Persistent cross-run exact-duplicate index (incremental crawl dedup).

A training-data pipeline rarely sees its corpus once: every crawl/refresh
lands a new batch that must be checked against EVERYTHING already
ingested. Re-running corpus-wide dedup per batch is O(corpus) every time;
this module maintains a persisted index of content hashes so each new
batch costs O(batch + touched index partitions):

  * the index stores one row per distinct content hash (60-bit md5
    prefix, a fixed-width long — the join/shuffle key is 8 bytes, never
    the text) plus the first-seen doc id and batch;
  * rows are partitioned by hash prefix (``b = h mod n_buckets``): a
    batch reads and rewrites ONLY the bucket partitions its hashes land
    in, so per-batch IO is proportional to the batch, not the index —
    the generation protocol shared with ``streaming/cagg.py`` via
    ``streaming/genstore.py`` (fresh ``gen/<seq>/b=<k>/`` dirs, one
    atomic ``os.replace`` manifest swap, replayed batches short-circuit,
    superseded generations gc with a grace window);
  * ``register`` is ``foreachBatch``-shaped (df, batch_id) so a
    Structured Streaming ingest maintains the index exactly-once.
    Batch ids are namespaced by ``run``: each crawl stream (each
    streaming checkpoint) gets its own monotonic id sequence, so a NEW
    crawl restarting at batch 0 against an existing index registers
    instead of being silently mistaken for a replay — construct with
    ``run="crawl-2026-08"`` per ingest lineage;
  * ``probe`` answers "seen before?" per incoming document via a join
    against only the touched buckets; ``drop_seen`` is the filter verb.

The manifest additionally pins ``n_buckets``: the store's physical
layout is store-authoritative, so reopening an existing index adopts the
recorded bucket count and a constructor mismatch cannot silently
mis-route probes.

Size-adaptive merge (the cagg/tfidf gate pattern): the batch side always
hashes and de-duplicates Spark-side (scales with the batch), but the
result is one row per DISTINCT batch hash. Under
``TOMIX_DEDUP_INDEX_DRIVER_CAP`` (default 65536 hashes; 0 disables) the
store merge runs driver-side with pyarrow reads/writes — replacing the
per-batch Spark job train whose fixed floors dominate small-batch cost.
Above the cap the merge stays fully distributed; the batch hash table is
persisted across the gate probe so the overflow path never re-aggregates
the raw batch.

At 100 TB: ``n_buckets`` sizes the unit of rewrite IO (buckets ~ index
size / target partition size); the hot path is a long-keyed hash join
between a batch and its touched buckets, map-side-combinable and
skew-free because md5 prefixes are uniform.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.operators.base import Gate, Lru, local_rows_df
from tomixpanel_spark.streaming.genstore import (
    atomic_json_swap,
    cas_check,
    gc_superseded,
    load_json_manifest,
    mint_store_id,
    read_partitions,
    store_nonce,
    writer_lock,
)

# A batch (register) or store (rebucket) with at most this many distinct
# hashes merges on the driver: 64k hashes is a few MB of pandas, while the
# distributed merge pays several Spark job floors per batch.
DEDUP_INDEX_DRIVER_CAP = Gate("TOMIX_DEDUP_INDEX_DRIVER_CAP", 65_536)

# probe_driver per-bucket frame cache (LRU): keyed (store path, bucket,
# owning generation) — generation dirs are immutable, so a hit can never
# be stale; a register()/rebucket that rewrites a bucket commits a NEW
# generation and misses by construction. Serving probes re-read the
# manifest every call (the freshness check) but skip re-opening unchanged
# bucket parquet files, which dominates interactive probe latency
# (~2-3 ms/file open x touched buckets).
_BUCKET_FRAME_CACHE = Lru(512)
# per-frame row cap: a production-sized index bucket (manifest sizing
# targets hundreds of MB) must NOT pin driver memory through the cache —
# oversized frames are served but never cached
_BUCKET_CACHE_MAX_ROWS = 2_000_000


class DedupIndex:
    """Content-hash index: ``register`` merges a batch's new hashes,
    ``probe`` flags already-seen documents. ``path`` must be
    driver-accessible (same contract as ``ContinuousAggregate``)."""

    SCHEMA = "h long, first_doc_id long, first_batch long"
    _RESERVED = (
        "seen_before",
        "first_doc_id",
        "__didx_h",
        # internal merge-side names in probe_driver: an input frame
        # carrying either would make pandas suffix both sides of the
        # merge and break the out["__didx_ih"] read
        "__didx_ih",
        "__didx_keeper",
    )

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
        gc: bool = True,
        gc_keep: int = 2,
        run: str = "default",
    ) -> None:
        self.path = path
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col
        self.gc = gc
        self.gc_keep = gc_keep
        self.run = run

    # -- hashing ----------------------------------------------------------
    def _hash_col(self):
        """60-bit md5 prefix as a long — the same canonical content hash
        as the dedup family (dedup.py), identical in any engine that can
        md5 UTF-8 text, so index behavior stays oracle-checkable."""
        return F.conv(
            F.substring(F.md5(F.col(self.text_col)), 1, 15), 16, 10
        ).cast("long")

    def _batch_hashes(self, df: DataFrame, n_buckets: int) -> DataFrame:
        """One row per distinct batch hash with its keep-first doc id
        (min over the batch — deterministic) and bucket."""
        return (
            df.select(F.col(self.id_col).alias("doc_id"), self._hash_col().alias("h"))
            .filter(F.col("h").isNotNull())
            .groupBy("h")
            .agg(F.min("doc_id").alias("first_doc_id"))
            .withColumn("b", F.pmod("h", F.lit(n_buckets)).cast("int"))
        )

    # -- manifest ---------------------------------------------------------
    # v2 schema: {"runs": {run: last_batch}, "gen_seq": int,
    #             "buckets": {bucket: gen}, "n_buckets": int}
    # Generations are named by the GLOBAL gen_seq counter (not batch id):
    # ids restart per run, and two runs must never collide on a dir.
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_dedup_index_manifest.json")

    def _load_manifest(self) -> dict:
        raw = load_json_manifest(self._manifest_path(), "dedup-index")
        if raw is None:
            return {
                "runs": {},
                "gen_seq": -1,
                "buckets": {},
                "n_buckets": None,
                "store_id": None,
            }
        try:
            if "batch_id" in raw:  # v1 (single implicit run, gen = batch id)
                gens = [int(g) for g in raw["buckets"].values()]
                return {
                    "runs": {"default": raw["batch_id"]},
                    "gen_seq": max(gens, default=raw["batch_id"]),
                    "buckets": dict(raw["buckets"]),
                    "n_buckets": raw.get("n_buckets"),
                    "store_id": raw.get("store_id"),
                }
            return {
                "runs": dict(raw["runs"]),
                "gen_seq": raw["gen_seq"],
                "buckets": dict(raw["buckets"]),
                "n_buckets": raw.get("n_buckets"),
                "store_id": raw.get("store_id"),
            }
        except (KeyError, TypeError, ValueError) as exc:
            raise RuntimeError(
                f"corrupt dedup-index manifest at {self._manifest_path()}: "
                f"{exc}; recover from the gen/<n>/b=* directories — the "
                "data files are intact, do NOT delete the store"
            ) from exc

    def _effective_buckets(self, man: dict) -> int:
        """The store owns its physical layout: an existing index's
        recorded bucket count wins over the constructor argument, so a
        mismatched reopen cannot silently mis-route hashes."""
        return man["n_buckets"] if man["n_buckets"] else self.n_buckets

    def _gen_dir(self, gen) -> str:
        return os.path.join(self.path, "gen", str(gen))

    def _read_buckets(self, spark: SparkSession, man: dict, buckets) -> DataFrame | None:
        return read_partitions(spark, self._gen_dir, "b", man["buckets"], buckets)

    # -- write path -------------------------------------------------------
    def register(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one batch's distinct content hashes into the index
        (first-writer-wins: a hash already present keeps its original
        first_doc_id/first_batch). ``foreachBatch``-shaped and replay-
        idempotent via the per-``run`` batch_id record.

        Writer exclusion is MECHANICAL, not documented-only: the whole
        read->merge->write->swap window runs under ``writer_lock``, so a
        concurrent register/rebucket waits and then applies on top of
        this commit; the gen_seq ``cas_check`` at the commit point
        additionally fails loudly if a non-cooperating writer (flock-less
        mount, old code) committed inside the window."""
        with writer_lock(self._manifest_path()):
            man = self._load_manifest()
            if batch_id <= man["runs"].get(self.run, -1):
                return  # replayed batch of THIS run: already committed
            nb = self._effective_buckets(man)
            seq = man["gen_seq"] + 1
            spark = batch_df.sparkSession
            # persist ONCE across the gate probe and whichever merge path
            # runs — without the pin the overflow path re-aggregates the
            # raw batch a second time
            hashes = self._batch_hashes(batch_df, nb).persist()
            try:
                pdf = DEDUP_INDEX_DRIVER_CAP.collect_or_none(hashes)
                if pdf is not None:
                    buckets = self._merge_driver_write(pdf, man, batch_id, seq)
                else:
                    buckets = self._merge_spark_write(
                        spark, hashes, man, batch_id, seq
                    )
            finally:
                hashes.unpersist()
            new_man = {
                "runs": {**man["runs"], self.run: batch_id},
                "gen_seq": seq,
                "buckets": {**man["buckets"], **{str(b): seq for b in buckets}},
                "n_buckets": nb,
                "store_id": mint_store_id(man),
            }
            cas_check(
                "dedup-index", self.path, man["gen_seq"],
                self._load_manifest()["gen_seq"],
            )
            atomic_json_swap(self._manifest_path(), new_man)  # THE commit point
        if self.gc:
            gc_superseded(self.path, new_man["buckets"].values(), self.gc_keep)

    def _merge_spark_write(
        self,
        spark: SparkSession,
        hashes: DataFrame,
        man: dict,
        batch_id: int,
        seq: int,
    ) -> list:
        """Distributed merge (the scale path): union existing touched
        buckets with the batch rows, keep the FIRST writer per hash.
        Precedence is a came-from-store flag, NOT the batch id: batch
        ids restart at 0 per ``run`` namespace, so a later run's small
        id must never displace the original keeper — an already-indexed
        hash unconditionally keeps its row. Writes fresh bucket
        partitions under this generation. ``hashes`` arrives persisted
        (pinned by the caller for the bucket-discovery collect AND the
        write)."""
        buckets = sorted(r["b"] for r in hashes.select("b").distinct().collect())
        batch_rows = hashes.select(
            "h",
            "first_doc_id",
            F.lit(batch_id).cast("long").alias("first_batch"),
            "b",
            F.lit(1).alias("prec"),
        )
        existing = self._read_buckets(spark, man, buckets)
        merged = batch_rows.drop("prec")
        if existing is not None:
            merged = (
                existing.withColumn("b", F.col("b").cast("int"))
                .withColumn("prec", F.lit(0))
                .unionByName(batch_rows)
                .groupBy("h")
                .agg(
                    F.min(
                        F.struct("prec", "first_batch", "first_doc_id", "b")
                    ).alias("w")
                )
                .select(
                    "h",
                    F.col("w.first_doc_id").alias("first_doc_id"),
                    F.col("w.first_batch").alias("first_batch"),
                    F.col("w.b").alias("b"),
                )
            )
        # a replayed half-committed batch overwrites its own orphan dir
        # (seq derives from the unchanged manifest, so the replay lands
        # on the same generation directory)
        merged.coalesce(1).write.mode("overwrite").partitionBy("b").parquet(
            self._gen_dir(seq)
        )
        return buckets

    def _merge_driver_write(self, pdf, man: dict, batch_id: int, seq: int) -> list:
        """Driver-side merge for batches under the gate: set-difference
        on int64 hash arrays + direct parquet writes, same layout as the
        Spark writer."""
        import glob

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        gen = self._gen_dir(seq)
        shutil.rmtree(gen, ignore_errors=True)  # replayed orphan overwrite
        if not len(pdf):
            return []
        buckets = sorted(int(b) for b in pdf["b"].unique())
        for b in buckets:
            sub = pdf[pdf["b"] == b][["h", "first_doc_id"]].copy()
            sub["first_batch"] = batch_id
            sub["prec"] = 1
            frames = [sub]
            g = man["buckets"].get(str(b))
            if g is not None:
                bdir = os.path.join(self._gen_dir(g), f"b={b}")
                for f in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                    stored = pq.read_table(f).to_pandas()[
                        ["h", "first_doc_id", "first_batch"]
                    ]
                    stored["prec"] = 0
                    frames.append(stored)
            allb = pd.concat(frames, ignore_index=True)
            # first-writer-wins: store rows (prec 0) unconditionally beat
            # the incoming batch (prec 1) — batch ids restart per run, so
            # ordering by batch id would let a new run steal the keeper;
            # mirrors the Spark min-struct precedence
            allb = (
                allb.sort_values(["prec", "first_batch", "first_doc_id"], kind="stable")
                .drop_duplicates("h", keep="first")
                .sort_values("h")
            )
            tbl = pa.Table.from_arrays(
                [
                    pa.array(allb["h"].astype("int64"), type=pa.int64()),
                    pa.array(allb["first_doc_id"].astype("int64"), type=pa.int64()),
                    pa.array(allb["first_batch"].astype("int64"), type=pa.int64()),
                ],
                names=["h", "first_doc_id", "first_batch"],
            )
            bdir = os.path.join(gen, f"b={b}")
            os.makedirs(bdir, exist_ok=True)
            pq.write_table(tbl, os.path.join(bdir, "part-00000.parquet"))
        return buckets

    def rebucket(self, spark: SparkSession, n_buckets: int) -> None:
        """Migrate the store to a NEW bucket count in one full rewrite,
        preserving every entry bit-for-bit (keeper identity included —
        rows move between buckets; nothing is re-decided).

        When to run: the manifest pins ``n_buckets`` at creation, so a
        store that has grown far beyond its sizing reads/rewrites
        oversized bucket partitions on every batch (per-batch IO ~
        touched_buckets x bucket_size). When index_size / n_buckets
        exceeds the target partition size (hundreds of MB), rebucket to
        ~2-4x the bucket count during a quiet window. Cost is one
        O(index) sequential pass; crash-safe exactly like ``register``:
        the fresh generation directory is invisible until the single
        atomic manifest swap, and a retry after a crash overwrites the
        same orphan generation (seq derives from the unchanged
        manifest). Writer exclusion is MECHANICAL: the whole
        read->rewrite->swap window holds ``writer_lock``, so a register
        arriving mid-rebucket waits and then merges into the REBUCKETED
        store (never silently superseded, exercised by
        tests/test_dedup_index.py); the gen_seq ``cas_check`` at the
        commit point fails loudly against non-cooperating writers."""
        if n_buckets <= 0:
            raise ValueError(f"n_buckets must be positive, got {n_buckets}")
        with writer_lock(self._manifest_path()):
            man = self._load_manifest()
            if not man["buckets"]:
                # empty store: just pin the new layout for future batches
                if man["n_buckets"] != n_buckets:
                    atomic_json_swap(
                        self._manifest_path(), {**man, "n_buckets": n_buckets}
                    )
                self.n_buckets = n_buckets
                return
            if self._effective_buckets(man) == n_buckets:
                self.n_buckets = n_buckets
                return
            seq = man["gen_seq"] + 1
            df = self.entries(spark)
            pdf = DEDUP_INDEX_DRIVER_CAP.collect_or_none(df)
            if pdf is not None:
                buckets = self._rebucket_driver_write(pdf, n_buckets, seq)
            else:
                gen = self._gen_dir(seq)
                out = df.withColumn(
                    "b", F.pmod("h", F.lit(n_buckets)).cast("int")
                )
                out.write.mode("overwrite").partitionBy("b").parquet(gen)
                # enumerate the buckets from what was WRITTEN, not a second
                # evaluation of the plan — one pass, and the manifest can
                # never disagree with the files on disk
                buckets = sorted(
                    int(d.split("=", 1)[1])
                    for d in os.listdir(gen)
                    if d.startswith("b=")
                )
            new_man = {
                "runs": man["runs"],
                "gen_seq": seq,
                "buckets": {str(b): seq for b in buckets},
                "n_buckets": n_buckets,
                "store_id": mint_store_id(man),
            }
            cas_check(
                "dedup-index", self.path, man["gen_seq"],
                self._load_manifest()["gen_seq"],
            )
            atomic_json_swap(self._manifest_path(), new_man)  # THE commit point
        self.n_buckets = n_buckets
        if self.gc:
            gc_superseded(self.path, new_man["buckets"].values(), self.gc_keep)

    def _rebucket_driver_write(self, pdf, n_buckets: int, seq: int) -> list:
        """Driver-side rebucket for gate-bounded stores: one pyarrow pass
        over the collected entries, same per-bucket layout as the merge
        writers."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        gen = self._gen_dir(seq)
        shutil.rmtree(gen, ignore_errors=True)  # crashed-retry orphan
        pdf = pdf.copy()
        pdf["b"] = pdf["h"] % n_buckets  # h is a 60-bit non-negative long
        buckets = sorted(int(b) for b in pdf["b"].unique())
        for b in buckets:
            sub = pdf[pdf["b"] == b].sort_values("h")
            tbl = pa.Table.from_arrays(
                [
                    pa.array(sub["h"].astype("int64"), type=pa.int64()),
                    pa.array(sub["first_doc_id"].astype("int64"), type=pa.int64()),
                    pa.array(sub["first_batch"].astype("int64"), type=pa.int64()),
                ],
                names=["h", "first_doc_id", "first_batch"],
            )
            bdir = os.path.join(gen, f"b={b}")
            os.makedirs(bdir, exist_ok=True)
            pq.write_table(tbl, os.path.join(bdir, "part-00000.parquet"))
        return buckets

    # -- read paths -------------------------------------------------------
    def entries(self, spark: SparkSession) -> DataFrame:
        """Every indexed hash with its first-seen doc/batch."""
        man = self._load_manifest()
        df = self._read_buckets(spark, man, sorted(man["buckets"], key=int))
        if df is None:
            return local_rows_df(spark, [], self.SCHEMA)
        return df.select("h", "first_doc_id", "first_batch")

    def drop_seen(self, df: DataFrame) -> DataFrame:
        """The filter verb pipelines actually want: input rows whose
        content hash is NOT yet indexed (probe + filter; original
        columns only). Register the survivors afterwards to claim them."""
        flagged = self.probe(df)
        return flagged.filter(~F.col("seen_before")).drop(
            "seen_before", "first_doc_id"
        )

    def probe_driver(self, pdf) -> "object":
        """Driver-side probe for GATE-BOUNDED batches (caller asserts the
        fit, e.g. via the tfidf fold gate): hash in-process with the
        same 60-bit md5-prefix spec, pyarrow-read ONLY the touched
        bucket files, one pandas merge. Returns the input pandas frame +
        ``seen_before``/``first_doc_id`` — identical semantics to
        ``probe`` (paths-agree tested), minus three Spark job floors,
        which dominate small-batch serving latency."""
        import glob
        import hashlib

        import pandas as pd
        import pyarrow.parquet as pq

        clash = [c for c in self._RESERVED if c in pdf.columns]
        if clash:
            raise ValueError(
                f"probe input must not carry reserved columns {clash}; "
                "rename them before probing"
            )
        man = self._load_manifest()
        nb = self._effective_buckets(man)
        out = pdf.copy()
        # nullable Int64, NOT a python-object column: an object column of
        # ints+None makes the merge against the bucket files' int64 'h'
        # raise, where the distributed probe() hashes null text to NULL
        # and reports unseen — the two paths must agree (null -> unseen).
        out["__didx_h"] = pd.array(
            [
                None
                if t is None
                else int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                for t in out[self.text_col]
            ],
            dtype="Int64",
        )
        frames = []
        # store-instance nonce in the key: without it, a store deleted
        # and recreated at the same path restarts gen_seq at 0 and a hit
        # could serve frames from the DEAD store (round-10 advice)
        store_key = (
            os.path.abspath(self.path),
            store_nonce(self._manifest_path(), man.get("store_id")),
        )
        for b in sorted({int(h) % nb for h in out["__didx_h"].dropna()}):
            g = man["buckets"].get(str(b))
            if g is None:
                continue
            ck = (store_key, b, str(g))
            cached = _BUCKET_FRAME_CACHE.get(ck)
            if cached is None:
                bdir = os.path.join(self._gen_dir(g), f"b={b}")
                parts = [
                    pq.read_table(f).to_pandas()[["h", "first_doc_id"]]
                    for f in sorted(glob.glob(os.path.join(bdir, "*.parquet")))
                ]
                cached = (
                    pd.concat(parts, ignore_index=True)
                    if parts
                    else pd.DataFrame({"h": pd.array([], dtype="int64"),
                                       "first_doc_id": pd.array([], dtype="int64")})
                )
                if len(cached) <= _BUCKET_CACHE_MAX_ROWS:
                    _BUCKET_FRAME_CACHE.put(ck, cached)
            frames.append(cached)
        if frames:
            # internal column names for the index side: an input frame
            # carrying its own 'h' / 'first_doc_id'-adjacent columns must
            # not collide with the merge (probe() keeps input 'h' too)
            idx = pd.concat(frames, ignore_index=True).rename(
                columns={"h": "__didx_ih", "first_doc_id": "__didx_keeper"}
            )
            out = out.merge(idx, left_on="__didx_h", right_on="__didx_ih", how="left")
            out["seen_before"] = out["__didx_ih"].notna()
            out["first_doc_id"] = (
                out["__didx_keeper"].astype(object).where(out["__didx_keeper"].notna(), None)
            )
            out = out.drop(columns=["__didx_ih", "__didx_keeper"])
        else:
            out["seen_before"] = False
            out["first_doc_id"] = None
        return out.drop(columns=["__didx_h"])

    def probe(self, df: DataFrame) -> DataFrame:
        """Input rows + ``seen_before`` (hash present in the index) and
        ``first_doc_id`` (the keeper it duplicates, null when unseen).
        Reads ONLY the bucket partitions the probe's hashes touch; the
        hashed probe frame materializes once (stage checkpoint) so the
        bucket-discovery collect and the join see one consistent
        evaluation — a non-deterministic input cannot hash into buckets
        outside the collected set."""
        clash = [c for c in self._RESERVED if c in df.columns]
        if clash:
            raise ValueError(
                f"probe input must not carry reserved columns {clash}; "
                "rename them before probing"
            )
        from tomixpanel_spark.operators.base import stage_checkpoint

        spark = df.sparkSession
        man = self._load_manifest()
        nb = self._effective_buckets(man)
        probes = stage_checkpoint(
            df.withColumn("__didx_h", self._hash_col()), eager=False
        )
        touched = sorted(
            r["b"]
            for r in probes.select(
                F.pmod("__didx_h", F.lit(nb)).cast("int").alias("b")
            )
            .distinct()
            .collect()
            if r["b"] is not None
        )
        idx = self._read_buckets(spark, man, touched)
        if idx is None:
            return probes.select(
                *[F.col(c) for c in df.columns],
                F.lit(False).alias("seen_before"),
                F.lit(None).cast("long").alias("first_doc_id"),
            )
        idx = idx.select("h", "first_doc_id")
        joined = probes.join(idx, probes["__didx_h"] == idx["h"], "left")
        return joined.select(
            *[probes[c] for c in df.columns],
            idx["h"].isNotNull().alias("seen_before"),
            idx["first_doc_id"].alias("first_doc_id"),
        )
